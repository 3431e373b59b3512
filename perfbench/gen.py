"""Seeded input generator. The same seed gives byte-identical files.

Each workload gets its own directory under the output root:

  dag/  the OLTP source of the daily DAG: `backfill_orders.parquet` and
        `backfill_customer.parquet`, then per day `day_NNN_orders.parquet`
        (new orders, keys past the previous day's) and
        `day_NNN_customer.parquet` (the ~1 % of customers new that day).
  cdc/  `batch_NNNN.tsv` micro-batches of loan-application change events
        (`partition <TAB> offset <TAB> json`), the payload `schema.ddl` and
        the Derby `derby.sql` for the sink and quarantine tables.
  bi/   TPC-H-like `orders`, `customer`, `lineitem`, `nation` and `events`
        tables, and `tile_order.txt`: one line per refresh giving the order
        in which the dashboard issues its tiles.
"""
import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# dag_daily: an sf0.1-sized order history, ~70 % of it in the backfill.
DAG_CUSTOMERS = 15_000
DAG_BACKFILL_ORDERS = 105_000
DAG_DAY_ORDERS = 1_500
DAG_DAY_NEW_CUSTOMERS = DAG_CUSTOMERS // 100
DAG_FIRST_DAY = dt.date(1998, 8, 3)

# cdc_upsert: 2,000-event batches, ~30 % updates, 0.5 % malformed.
CDC_BATCH = 2_000
CDC_MALFORMED = 10
CDC_UPDATE_SHARE = 0.30
CDC_RECENT_KEYS = 3_000  # scale of the (exponential) reach of an update back into recent keys
CDC_PARTITIONS = 4
CDC_SCHEMA = ("id BIGINT, `Loan-Amount` DOUBLE, `Term Months` INT, Status STRING, "
              "Applicant STRUCT<`Annual.Income`: DOUBLE, `Credit-Score`: INT>")
CDC_DERBY = """CREATE TABLE loan_events (
  raw_data VARCHAR(1024), id BIGINT, loan_amount DOUBLE, term_months INT,
  status VARCHAR(32), applicant_annual_income DOUBLE, applicant_credit_score INT,
  kafka_primary_key VARCHAR(64) PRIMARY KEY, kafka_topic VARCHAR(128),
  processed_at TIMESTAMP);
CREATE TABLE loan_events_quarantine (
  kafka_primary_key VARCHAR(64) PRIMARY KEY, raw_data VARCHAR(1024),
  kafka_topic VARCHAR(128), error VARCHAR(600), failed_at TIMESTAMP);
"""

# bi_refresh: a quarter of the sf0.1 table sizes.
BI_ORDERS, BI_CUSTOMERS, BI_LINEITEMS, BI_EVENTS = 37_500, 3_750, 150_000, 25_000
BI_TILES = ["a1_kpi_global", "a6_sum_avg_by_seg", "a8_topk_by_measure", "a9_count_by_group",
            "a10_year_slice", "a12_cube_slicer", "a16_pivot", "j1_dim_fact_join",
            "j2_star3_rollup", "j3_date_dim_join"]
BI_ORDER_LINES = 1_000

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
STATUSES = np.array(["F", "O", "P"])
EPOCH = dt.date(1970, 1, 1)
HISTORY = (dt.date(1992, 1, 1), dt.date(1998, 8, 2))


def _days(d):
    return (d - EPOCH).days


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _timestamps(days):
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _orders(rng, keys, custkeys, days):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(custkeys, pa.int64()),
        "o_orderstatus": pa.array(rng.choice(STATUSES, n)),
        "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500_000.0, n), 2)),
        "o_orderdate": _timestamps(days),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def _customers(rng, keys):
    n = len(keys)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9_999.99, n), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    })


def _jitter(rng, n, share):
    return int(round(n * (1.0 + rng.uniform(-share, share))))


def gen_dag(rng, out, days):
    os.makedirs(out)
    lo, hi = _days(HISTORY[0]), _days(HISTORY[1])
    n = _jitter(rng, DAG_BACKFILL_ORDERS, 0.02)
    ncust = DAG_CUSTOMERS
    _write(_customers(rng, np.arange(ncust)), f"{out}/backfill_customer.parquet")
    _write(_orders(rng, np.arange(n), rng.integers(0, ncust, n), rng.integers(lo, hi + 1, n)),
           f"{out}/backfill_orders.parquet")
    key = n
    for d in range(days):
        new = np.arange(ncust, ncust + _jitter(rng, DAG_DAY_NEW_CUSTOMERS, 0.2))
        _write(_customers(rng, new), f"{out}/day_{d:03d}_customer.parquet")
        ncust += len(new)
        m = _jitter(rng, DAG_DAY_ORDERS, 0.1)
        # orders placed that day; a few arrive late from the two days before
        today = _days(DAG_FIRST_DAY) + d
        when = today - (rng.random(m) < 0.05) * rng.integers(1, 3, m)
        # most orders come from existing customers, some from the day's new ones
        cust = np.where(rng.random(m) < 0.1, rng.choice(new, m), rng.integers(0, new[0], m))
        _write(_orders(rng, np.arange(key, key + m), cust, when), f"{out}/day_{d:03d}_orders.parquet")
        key += m


def gen_cdc(rng, out, batches):
    os.makedirs(out)
    with open(f"{out}/schema.ddl", "w") as f:
        f.write(CDC_SCHEMA + "\n")
    with open(f"{out}/derby.sql", "w") as f:
        f.write(CDC_DERBY)
    n = CDC_BATCH
    terms = np.array([12, 24, 36, 48, 60])
    states = np.array(["SUBMITTED", "REVIEW", "APPROVED", "REJECTED", "FUNDED"])
    next_key, offsets, versions = 0, np.zeros(CDC_PARTITIONS, "int64"), {}
    for b in range(batches):
        bad = np.zeros(n, bool)
        bad[rng.choice(n, CDC_MALFORMED, replace=False)] = True
        update = ~bad & (rng.random(n) < CDC_UPDATE_SHARE)
        if next_key == 0:
            update[np.argmax(~bad)] = False  # the first event has nothing to update
        new = ~bad & ~update
        # keys minted before each event; an update reaches back into recent keys
        minted = next_key + np.cumsum(new) - new
        back = rng.exponential(CDC_RECENT_KEYS, n).astype("int64") % np.maximum(minted, 1)
        keys = np.where(new, minted, minted - 1 - back)
        next_key += int(np.count_nonzero(new))
        amount = np.round(rng.uniform(1_000, 250_000, n), 2)
        term = rng.choice(terms, n)
        state = rng.choice(states, n)
        income = np.round(rng.uniform(12_000, 400_000, n), 2)
        score = rng.integers(300, 851, n)
        nonce = rng.integers(1 << 62, size=n)
        # keyed topic: a key always lands on the same partition
        part = np.where(bad, np.arange(n), keys) % CDC_PARTITIONS
        lines = []
        for i in range(n):
            p = int(part[i])
            if bad[i]:
                payload = f"not json {{{{ batch={b} event={i} nonce={nonce[i]}"
            else:
                k = int(keys[i])
                v = versions[k] = versions.get(k, -1) + 1
                payload = (f'{{"id":{k},"Loan-Amount":{amount[i]!r},"Term Months":{term[i]},'
                           f'"Status":"{state[i]}","Applicant":{{"Annual.Income":{income[i]!r},'
                           f'"Credit-Score":{score[i]}}},"version":{v}}}')
            lines.append(f"{p}\t{offsets[p]}\t{payload}\n")
            offsets[p] += 1
        with open(f"{out}/batch_{b:04d}.tsv", "w") as f:
            f.writelines(lines)


def gen_bi(rng, out):
    os.makedirs(out)
    lo, hi = _days(HISTORY[0]), _days(HISTORY[1])
    _write(_orders(rng, np.arange(BI_ORDERS), rng.integers(0, BI_CUSTOMERS, BI_ORDERS),
                   rng.integers(lo, hi + 1, BI_ORDERS)), f"{out}/orders.parquet")
    _write(_customers(rng, np.arange(BI_CUSTOMERS)), f"{out}/customer.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), f"{out}/nation.parquet")
    n = BI_LINEITEMS
    qty = rng.integers(1, 51, n).astype("float64")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, BI_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2_000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n)),
        "l_shipdate": _timestamps(rng.integers(lo, hi + 120, n)),
    }), f"{out}/lineitem.parquet")
    n = BI_EVENTS
    start = _days(dt.date(2024, 1, 1)) * 86_400_000_000
    _write(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + np.sort(rng.integers(0, 90 * 86_400_000_000, n)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 5_000, n), pa.int64()),
        "event_type": pa.array(rng.choice(np.array(["view", "click", "purchase", "signup", "error"]), n)),
        "value": pa.array(np.round(rng.uniform(0.0, 500.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }), f"{out}/events.parquet")
    with open(f"{out}/tile_order.txt", "w") as f:
        for _ in range(BI_ORDER_LINES):
            f.write(",".join(rng.permutation(BI_TILES)) + "\n")


def generate(workload, seed, out, dag_days=0, cdc_batches=0):
    """Writes the inputs of `workload` for `seed` under `out`/<dir>."""
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    if workload == "dag_daily":
        gen_dag(rng, f"{out}/dag", dag_days)
    elif workload == "cdc_upsert":
        gen_cdc(rng, f"{out}/cdc", cdc_batches)
    elif workload == "bi_refresh":
        gen_bi(rng, f"{out}/bi")
    else:
        raise ValueError(f"unknown workload {workload}")

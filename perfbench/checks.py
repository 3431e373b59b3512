"""Correctness checks, run after the JVM has exited (outside any timed
region). Each returns a list of failure messages; empty means correct."""
import glob
import json
import math
import os

import duckdb


def _con():
    return duckdb.connect(config={"threads": 2})


def _quote(path):
    return "'" + path.replace("'", "''") + "'"


# ---------------------------------------------------------------- dag_daily

def dag_expected(dag_dir, days):
    """Per-op source row counts and the final per-`load_year` amount sums
    (exact decimals) of the backfill plus `days` day files."""
    files = [f"{dag_dir}/backfill_orders.parquet"] + [f"{dag_dir}/{d}_orders.parquet" for d in days]
    con = _con()
    counts = [con.execute(f"SELECT count(*) FROM read_parquet({_quote(f)})").fetchone()[0] for f in files]
    src = f"read_parquet([{', '.join(_quote(f) for f in files)}])"
    sums = dict(con.execute(
        f"SELECT year(o_orderdate), sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM {src} GROUP BY 1").fetchall())
    dates = con.execute(f"SELECT count(DISTINCT CAST(o_orderdate AS DATE)) FROM {src}").fetchone()[0]
    return {"counts": counts, "year_sums": {int(k): str(v) for k, v in sums.items()}, "dates": dates}


def check_dag(ops, expected, warehouse):
    bad = []
    total = 0
    for op, n in zip(ops, expected["counts"]):
        d = op.get("detail", {})
        total += n
        if not op["ok"]:
            bad.append(f"op {op['id']} failed: {op['error'][:300]}")
            continue
        if not d.get("qc_passed"):
            bad.append(f"op {op['id']} ({d.get('day')}): qcPassed is false")
        if d.get("extracted") != n:
            bad.append(f"op {op['id']} ({d.get('day')}): extracted {d.get('extracted')} != source {n}")
        if d.get("loaded") != total:
            bad.append(f"op {op['id']} ({d.get('day')}): loaded {d.get('loaded')} != source total {total}")
    if len(ops) != len(expected["counts"]):
        bad.append(f"{len(ops)} ops for {len(expected['counts'])} source files")
    con = _con()
    fact = f"read_parquet({_quote(warehouse + '/loan_fact/**/*.parquet')}, hive_partitioning = true)"
    n, lo, hi, distinct = con.execute(
        f"SELECT count(*), min(fact_id), max(fact_id), count(DISTINCT fact_id) FROM {fact}").fetchone()
    if not (n == total and distinct == n and lo == 1 and hi == n):
        bad.append(f"fact_id not dense 1..{total}: rows={n} min={lo} max={hi} distinct={distinct}")
    sums = {int(k): str(v) for k, v in con.execute(
        f"SELECT load_year, sum(CAST(amount AS DECIMAL(18,2))) FROM {fact} GROUP BY 1").fetchall()}
    if sums != expected["year_sums"]:
        bad.append(f"sum(amount) per load_year {sums} != source {expected['year_sums']}")
    dim = f"read_parquet({_quote(warehouse + '/date_dim/*.parquet')})"
    rows, ids = con.execute(f"SELECT count(*), count(DISTINCT date_id) FROM {dim}").fetchone()
    if not (rows == ids == expected["dates"]):
        bad.append(f"date_dim rows={rows} distinct ids={ids}, source dates={expected['dates']}")
    return bad


# --------------------------------------------------------------- cdc_upsert

def cdc_expected(cdc_dir, batches):
    """Last-write-wins state (pk -> raw json) and the malformed payloads of
    the first `batches` batch files. Offsets grow within a partition and a
    key lives in one partition, so the last line for a key wins."""
    state, malformed = {}, set()
    for f in sorted(glob.glob(f"{cdc_dir}/batch_*.tsv"))[:batches]:
        with open(f) as fh:
            for line in fh:
                _, _, payload = line.rstrip("\n").split("\t", 2)
                try:
                    state[str(json.loads(payload)["id"])] = payload
                except ValueError:
                    malformed.add(payload)
    return {"state": state, "malformed": malformed}


def read_tsv(path):
    with open(path) as fh:
        return [line.rstrip("\n").split("\t") for line in fh]


def check_cdc(ops, expected, table_rows, quarantine_rows):
    bad = [f"op {o['id']} failed: {o['error'][:300]}" for o in ops if not o["ok"]]
    got = {r[0]: r[1] for r in table_rows}
    want = expected["state"]
    if got != want:
        missing = len(want.keys() - got.keys())
        extra = len(got.keys() - want.keys())
        wrong = sum(1 for k in want.keys() & got.keys() if got[k] != want[k])
        bad.append(f"sink table != last-write-wins state: {missing} missing, {extra} extra, {wrong} stale")
    quarantined = {r[1] for r in quarantine_rows}
    if len(quarantine_rows) != len(expected["malformed"]) or quarantined != expected["malformed"]:
        bad.append(f"quarantine holds {len(quarantine_rows)} rows, {len(expected['malformed'])} planted")
    if any(r[2] != "parse_error" for r in quarantine_rows):
        bad.append("quarantine rows with a reason other than parse_error")
    return bad


# --------------------------------------------------------------- bi_refresh

def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)):
        f = float(v)
        return f if math.isfinite(f) else repr(f)
    return str(v)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b))
    return a == b


def compare_rows(got, want):
    """Row-by-row, column-by-column equality; None when equal, else why."""
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        g, w = [_norm(x) for x in g], [_norm(x) for x in w]
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {i}: {g} != oracle {w}"
    return None


def check_bi(ops, rows_dir, bi_dir, tiles):
    bad = [f"op {o['id']} failed: {o['error'][:300]}" for o in ops if not o["ok"]]
    con = _con()
    for t in ("orders", "customer", "lineitem", "nation", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({_quote(f'{bi_dir}/{t}.parquet')})")
    for tile in tiles:
        path = f"{rows_dir}/{tile}.json"
        if not os.path.exists(path):
            bad.append(f"{tile}: no rows kept from the first timed refresh")
            continue
        with open(path) as fh:
            doc = json.load(fh)
        res = con.execute(doc["oracle"])
        want = [[x.isoformat() if hasattr(x, "isoformat") else x for x in r] for r in res.fetchall()]
        cols = [d[0] for d in res.description]
        if cols != doc["columns"]:
            bad.append(f"{tile}: columns {doc['columns']} != oracle {cols}")
            continue
        why = compare_rows(doc["rows"], want)
        if why:
            bad.append(f"{tile}: {why}")
    return bad

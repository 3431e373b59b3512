"""Tests of the benchmark's own logic (no Spark needed).

  python3 -m unittest discover -s perfbench/tests -p "test_*.py"
"""
import glob
import hashlib
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from stats import percentile, self_ms, tail_percentile, union_ms  # noqa: E402

SMALL = {"dag_daily": {"dag_days": 3}, "cdc_upsert": {"cdc_batches": 3}, "bi_refresh": {}}


def digest(root):
    h = hashlib.sha256()
    for p in sorted(glob.glob(f"{root}/**/*", recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def generate(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d, **SMALL[workload])
            return digest(d)

    def test_same_seed_gives_identical_bytes(self):
        for w in SMALL:
            with self.subTest(w):
                self.assertEqual(self.generate(w, 7), self.generate(w, 7))

    def test_other_seed_gives_other_inputs(self):
        for w in SMALL:
            with self.subTest(w):
                self.assertNotEqual(self.generate(w, 7), self.generate(w, 8))

    def test_cdc_mix(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("cdc_upsert", 3, d, cdc_batches=4)
            exp = checks.cdc_expected(f"{d}/cdc", 4)
            events = 4 * gen.CDC_BATCH
            self.assertEqual(len(exp["malformed"]), 4 * gen.CDC_MALFORMED)
            # ~30 % of the well-formed events update a key seen before
            updates = events - len(exp["malformed"]) - len(exp["state"])
            self.assertAlmostEqual(updates / events, gen.CDC_UPDATE_SHARE, delta=0.03)
            with open(f"{d}/cdc/batch_0001.tsv") as fh:
                offsets = {}
                for line in fh:
                    p, o, _ = line.split("\t", 2)
                    self.assertGreater(int(o), offsets.get(p, -1))
                    offsets[p] = int(o)


class StatsTest(unittest.TestCase):
    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(tail_percentile(100), 90)
        self.assertEqual(tail_percentile(1000), 99)
        self.assertEqual(tail_percentile(20), 50)
        self.assertIsNone(tail_percentile(19))
        for n in range(20, 3000, 7):
            p = tail_percentile(n)
            rank = -(-p * n // 100)
            self.assertGreaterEqual(n - rank, 10, n)
            if p < 99:
                self.assertLess(n - -(-(p + 1) * n // 100), 10, n)

    def test_percentile_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 90), 90)
        self.assertEqual(percentile(xs, 50), 50)
        self.assertEqual(percentile([5.0], 90), 5.0)

    def test_self_time_with_overlapping_children(self):
        span = {"start": 0.0, "end": 100.0}
        kids = [{"start": 10.0, "end": 40.0}, {"start": 30.0, "end": 60.0},
                {"start": 90.0, "end": 120.0}]
        # covered: [10, 60] and [90, 100] -> 60; a plain sum would say 90
        self.assertEqual(self_ms(span, kids), 40.0)
        self.assertEqual(union_ms([(0, 1), (1, 2), (5, 6)]), 3)
        self.assertEqual(self_ms(span, []), 100.0)


class DagStepTest(unittest.TestCase):
    def test_attribution(self):
        cases = {
            "customer_dim": {"path": "file:/w/wh/customer_dim", "cols": []},
            "date_dim": {"path": "file:/w/wh/.date_dim_staging", "cols": []},
            "fact": {"path": "file:/w/wh/loan_fact", "cols": []},
            "watermark": {"path": "", "cols": ["hwm", "fhwm"]},
            "qc": {"path": "", "cols": ["cust_orphans", "date_orphans"]},
            "extract": {"path": "", "cols": ["count"], "func": "count"},
        }
        for step, attrs in cases.items():
            self.assertEqual(layers.dag_step(attrs), step)
        self.assertEqual(layers.dag_step({"path": "", "cols": ["loaded", "distinct_keys", "null_keys"]}), "qc")


class CorrectnessNegativeControls(unittest.TestCase):
    """Each check passes on the true state and fails on a corrupted one."""

    def test_cdc(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("cdc_upsert", 5, d, cdc_batches=2)
            exp = checks.cdc_expected(f"{d}/cdc", 2)
            table = [[k, v] for k, v in exp["state"].items()]
            quarantine = [["pk%d" % i, raw, "parse_error"] for i, raw in enumerate(sorted(exp["malformed"]))]
            ops = [{"id": 0, "ok": True, "error": ""}]
            self.assertEqual(checks.check_cdc(ops, exp, table, quarantine), [])
            stale = dict(exp["state"])
            k = next(iter(stale))
            stale[k] = stale[k].replace('"version"', '"version_"')
            self.assertTrue(checks.check_cdc(ops, dict(exp, state=stale), table, quarantine))
            self.assertTrue(checks.check_cdc(ops, exp, table, quarantine[1:]))
            self.assertTrue(checks.check_cdc(ops, exp, table[1:], quarantine))

    def test_bi_rows(self):
        rows = [["A", 3, 1.5], ["B", 4, 2.25]]
        self.assertIsNone(checks.compare_rows(rows, [["A", 3, 1.5], ["B", 4, 2.25]]))
        self.assertTrue(checks.compare_rows(rows, [["A", 3, 1.5], ["B", 4, 2.26]]))
        self.assertTrue(checks.compare_rows(rows, [["A", 3, 1.5]]))
        self.assertTrue(checks.compare_rows(rows, [["A", 3, 1.5], ["C", 4, 2.25]]))

    def test_dag(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("dag_daily", 9, d, dag_days=1)
            src = f"{d}/dag"
            orders = pq.read_table(f"{src}/backfill_orders.parquet").to_pylist() + \
                pq.read_table(f"{src}/day_000_orders.parquet").to_pylist()
            wh = f"{d}/wh"
            by_year = {}
            for i, o in enumerate(orders):
                by_year.setdefault(o["o_orderdate"].year, []).append(
                    {"fact_id": i + 1, "amount": o["o_totalprice"]})
            for y, rows in by_year.items():
                os.makedirs(f"{wh}/loan_fact/load_year={y}")
                pq.write_table(pa.Table.from_pylist(rows), f"{wh}/loan_fact/load_year={y}/part-0.parquet")
            dates = sorted({o["o_orderdate"].date() for o in orders})
            os.makedirs(f"{wh}/date_dim")
            pq.write_table(pa.table({"date_id": [int(x.strftime("%Y%m%d")) for x in dates]}),
                           f"{wh}/date_dim/part-0.parquet")
            nb = pq.read_metadata(f"{src}/backfill_orders.parquet").num_rows
            ops = [{"id": 0, "ok": True, "error": "",
                    "detail": {"day": "backfill", "qc_passed": True, "extracted": nb, "loaded": nb}},
                   {"id": 1, "ok": True, "error": "",
                    "detail": {"day": "day_000", "qc_passed": True, "extracted": len(orders) - nb,
                               "loaded": len(orders)}}]
            exp = checks.dag_expected(src, ["day_000"])
            self.assertEqual(checks.check_dag(ops, exp, wh), [])
            y = next(iter(exp["year_sums"]))
            off = dict(exp, year_sums={**exp["year_sums"], y: "0.00"})
            self.assertTrue(checks.check_dag(ops, off, wh))
            self.assertTrue(checks.check_dag(ops, dict(exp, dates=exp["dates"] + 1), wh))
            self.assertTrue(checks.check_dag(ops, dict(exp, counts=[nb, len(orders) - nb + 1]), wh))
            failed_qc = [ops[0], dict(ops[1], detail=dict(ops[1]["detail"], qc_passed=False))]
            self.assertTrue(checks.check_dag(failed_qc, exp, wh))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_what_run_reports(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, layers.PER_LAYER)


if __name__ == "__main__":
    unittest.main()

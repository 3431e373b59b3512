"""Per-layer metrics of the traced run, computed from its spans.

Every metric is reported on every workload; a layer a workload does not
run reports 0 there. `dag.day.*` and the `cdc.*` and `bi.*` figures are
medians over the traced ops (days, batches, refreshes)."""
import glob
import os

from gen import BI_TILES
from stats import median, self_ms, union_ms

DAG_STEPS = ("watermark", "extract", "customer_dim", "date_dim", "fact", "qc")
DAG_ENGINE = {"plan_ms": "ms", "jobs": "count", "tasks": "count", "cpu_ms": "ms", "gc_ms": "ms",
              "shuffle_bytes": "bytes", "spill_bytes": "bytes", "input_bytes": "bytes",
              "output_bytes": "bytes", "files_written": "count"}
CDC_PHASES = {"trigger_ms": "triggerExecution", "latest_offset_ms": "latestOffset",
              "get_batch_ms": "getBatch", "query_planning_ms": "queryPlanning",
              "add_batch_ms": "addBatch", "wal_commit_ms": "walCommit",
              "commit_offsets_ms": "commitOffsets"}
# the op kind whose latency is a workload's op_p50_s
PRIMARY_OP = {"dag_daily": "day", "cdc_upsert": "batch", "bi_refresh": "refresh"}
ENGINE_KEYS = ("jobs", "tasks", "cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes",
               "input_bytes", "output_bytes", "records_read")


def _catalogue():
    m = {}
    for ph in ("backfill", "day"):
        for s in DAG_STEPS + ("driver",):
            m[f"dag.{ph}.{s}_ms"] = "ms"
        for k, u in DAG_ENGINE.items():
            m[f"dag.{ph}.{k}"] = u
    m.update({"dag.qc.rows_read_per_row_loaded": "ratio", "dag.extract.input_bytes_per_row": "bytes",
              "dag.fact_files_total": "count"})
    for k in CDC_PHASES:
        m[f"cdc.{k}"] = "ms"
    m.update({"cdc.transform_dedup_ms": "ms", "cdc.sink_merge_ms": "ms", "cdc.quarantine_merge_ms": "ms",
              "cdc.sink_calls_per_batch": "count", "cdc.rows_in": "count", "cdc.rows_merged": "count",
              "cdc.rows_quarantined": "count", "cdc.merge_yield": "ratio", "cdc.table_rows": "count",
              "cdc.jobs": "count", "cdc.tasks": "count", "cdc.cpu_ms": "ms", "cdc.gc_ms": "ms",
              "cdc.shuffle_bytes": "bytes"})
    for t in BI_TILES:
        m[f"bi.{t}.plan_ms"] = "ms"
        m[f"bi.{t}.exec_ms"] = "ms"
    m.update({"bi.queue_wait_ms": "ms", "bi.jobs": "count", "bi.tasks": "count", "bi.cpu_ms": "ms",
              "bi.gc_ms": "ms", "bi.shuffle_bytes": "bytes", "bi.input_bytes": "bytes",
              "bi.rows_read_per_row_returned": "ratio"})
    # the workloads' own user-facing figures, from the traced run
    m.update({"dag_backfill_s": "s", "dag_day_p50_s": "s", "cdc_batch_p50_s": "s",
              "cdc_events_per_s": "events/s", "bi_refresh_p50_s": "s", "bi_tile_p90_s": "s",
              "op_fail_ratio": "ratio", "trace_overhead_ratio": "ratio"})
    return m


# name -> unit, printed with --trace 1 on every workload
PER_LAYER = _catalogue()


def dag_step(attrs):
    """The `PipelineRunner.run` step a Spark execution belongs to: writes by
    output path, reads by output columns; the count over the cached
    increment is the extract."""
    path = attrs.get("path") or ""
    cols = set(attrs.get("cols") or ())
    if path:
        tail = path.rstrip("/").rsplit("/", 1)[-1]
        return {"customer_dim": "customer_dim", ".date_dim_staging": "date_dim",
                "loan_fact": "fact"}.get(tail, "other")
    if cols & {"hwm", "fhwm"}:
        return "watermark"
    if cols & {"loaded", "distinct_keys", "cust_orphans", "date_orphans"}:
        return "qc"
    if attrs.get("func") == "count" or cols == {"count"}:
        return "extract"
    return "other"


def _children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s.get("parent"), []).append(s)
    return kids


def _engine(spans):
    """Sums of the engine counters over execution and job spans."""
    tot = dict.fromkeys(ENGINE_KEYS, 0.0)
    tot["plan_ms"] = tot["files_written"] = 0.0
    for s in spans:
        a = s.get("attrs") or {}
        for k in list(tot):
            tot[k] += a.get(k) or 0
    return tot


def _dag_op(op_span, engine):
    """Per-step busy time, driver time and engine totals of one DAG run."""
    execs = [s for s in engine if s["name"] == "execution"]
    by_step = {}
    for s in execs:
        by_step.setdefault(dag_step(s["attrs"]), []).append(s)
    out = {f"{st}_ms": union_ms([(s["start"], s["end"]) for s in by_step.get(st, [])])
           for st in DAG_STEPS}
    out["driver_ms"] = self_ms(op_span, execs)
    out["other_ms"] = union_ms([(s["start"], s["end"]) for s in by_step.get("other", [])])
    out.update(_engine(engine))
    out["_steps"] = {st: _engine(ss) for st, ss in by_step.items()}
    return out


def per_layer(workload, raw, mine):
    """(metrics, notes): every per-layer metric, and for dag_daily how each
    traced run's wall time splits into step and driver time."""
    notes = {}
    spans = raw["spans"]
    kids = _children(spans)
    ops = {o["id"]: o for o in raw["ops"]}
    traced = [s for s in spans if s.get("parent") is None and ops[s["op"]]["ok"]]
    m = dict.fromkeys(PER_LAYER, 0.0)
    for k in ("dag_backfill_s", "dag_day_p50_s", "cdc_batch_p50_s", "bi_refresh_p50_s",
              "cdc_events_per_s", "op_fail_ratio"):
        if k in mine:
            m[k] = mine[k]["p50"]
    if "bi_tile_p90_s" in mine:
        m["bi_tile_p90_s"] = mine["bi_tile_p90_s"]["p90"]

    def desc(span):
        out, todo = [], list(kids.get(span["id"], []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    wall = lambda o: o["end_ms"] - o["start_ms"]  # noqa: E731
    primary = PRIMARY_OP[workload]
    on = [wall(o) for o in raw["ops"] if o["ok"] and o["kind"] == primary and o["traced"]]
    off = [wall(o) for o in raw["ops"] if o["ok"] and o["kind"] == primary and not o["traced"]]
    m["trace_overhead_ratio"] = median(on) / median(off) if on and off else 0.0

    if workload == "dag_daily":
        per = {"backfill": [], "day": []}
        for s in traced:
            per[s["name"]].append((ops[s["op"]], _dag_op(s, desc(s))))
        for ph, rows in per.items():
            for k in [f"{st}_ms" for st in DAG_STEPS + ("driver",)] + list(DAG_ENGINE):
                m[f"dag.{ph}.{k}"] = median([r[k] for _, r in rows])
        # the steps' union plus driver time is the run's wall time; "other"
        # would be an execution no step claims
        notes["dag_accounting"] = [
            {"op": o["id"], "wall_ms": wall(o), "driver_ms": r["driver_ms"], "unclaimed_ms": r["other_ms"],
             "steps_union_ms": wall(o) - r["driver_ms"]} for ph in per.values() for o, r in ph]
        days = per["day"]
        m["dag.qc.rows_read_per_row_loaded"] = median(
            [r["_steps"].get("qc", {}).get("records_read", 0) / max(1, o["detail"]["extracted"]) for o, r in days])
        m["dag.extract.input_bytes_per_row"] = median(
            [r["_steps"].get("extract", {}).get("input_bytes", 0) / max(1, o["detail"]["extracted"]) for o, r in days])
        m["dag.fact_files_total"] = float(len(glob.glob(
            os.path.join(raw["extra"]["warehouse"], "loan_fact", "*", "*.parquet"))))
    elif workload == "cdc_upsert":
        prog = {p["batch_id"]: p for p in raw["progress"] if p["rows"] > 0}
        calls = raw["extra"].get("sink_calls", [])
        rows = []
        for s in traced:
            o = ops[s["op"]]
            d = o["detail"]
            p = prog.get(d["batch_id"], {}).get("duration_ms", {})
            mine_calls = [c for c in calls if c["op"] == o["id"]]
            sink = sum(c["ms"] for c in mine_calls if c["sink"] == "sink")
            quar = sum(c["ms"] for c in mine_calls if c["sink"] == "quarantine")
            r = {k: float(p.get(v, 0)) for k, v in CDC_PHASES.items()}
            r.update(sink_merge_ms=sink, quarantine_merge_ms=quar, sink_calls_per_batch=len(mine_calls),
                     transform_dedup_ms=float(p.get("addBatch", 0)) - sink - quar,
                     rows_in=d["events"], rows_merged=d["rows_merged"],
                     rows_quarantined=d["rows_quarantined"],
                     merge_yield=d["rows_merged"] / max(1, d["events"]))
            r.update(_engine(desc(s)))
            rows.append(r)
        for k in list(CDC_PHASES) + ["transform_dedup_ms", "sink_merge_ms", "quarantine_merge_ms",
                                     "sink_calls_per_batch", "rows_in", "rows_merged", "rows_quarantined",
                                     "merge_yield", "jobs", "tasks", "cpu_ms", "gc_ms", "shuffle_bytes"]:
            m[f"cdc.{k}"] = median([r[k] for r in rows])
        m["cdc.table_rows"] = float(raw["extra"].get("table_rows_after_first_op", 0))
    else:
        tiles, refreshes, waits = {}, [], []
        for s in traced:
            tile_spans = [t for t in kids.get(s["id"], []) if t["name"].startswith("tile:")]
            returned = 0
            for t in tile_spans:
                name = t["name"][5:]
                wall_ms = t["end"] - t["start"]
                plan = t["attrs"]["plan_ms"]
                tiles.setdefault(name, []).append((plan, wall_ms - plan))
                returned += t["attrs"]["rows"]
                first = [x["attrs"]["first_task_ms"] for x in desc(t)
                         if (x.get("attrs") or {}).get("first_task_ms") is not None]
                if first:
                    waits.append(min(first) - t["submit"])
            e = _engine(desc(s))
            e["rows_read_per_row_returned"] = e["records_read"] / max(1, returned)
            refreshes.append(e)
        for name, xs in tiles.items():
            m[f"bi.{name}.plan_ms"] = median([x[0] for x in xs])
            m[f"bi.{name}.exec_ms"] = median([x[1] for x in xs])
        m["bi.queue_wait_ms"] = median(waits)
        for k in ("jobs", "tasks", "cpu_ms", "gc_ms", "shuffle_bytes", "input_bytes",
                  "rows_read_per_row_returned"):
            m[f"bi.{k}"] = median([r[k] for r in refreshes])
    return {k: float(v) for k, v in m.items()}, notes




#!/usr/bin/env python3
"""Per-layer diff of traced benchmark results.

  python3 perfbench/diff.py BASE.json [BASE.json ...] -- NEW.json [NEW.json ...]

Each argument is a result file that run.py wrote under `.bench_out/` for a
`--trace 1` run; give one or more per side (same workload). For every
per-layer metric it prints the median of each side, the ratio new/base,
and a `*` when the medians differ by more than the runs' own spread (the
larger of the two sides' quartile distances; with one file per side the
spread is unknown and nothing is flagged). It ends with each side's
`trace_overhead_ratio`, the traced over the untraced op latency.
"""
import json
import statistics
import sys


def load(paths):
    runs = []
    for p in paths:
        with open(p) as fh:
            r = json.load(fh)
        if not r["meta"]["trace"]:
            raise SystemExit(f"{p} is not a traced (--trace 1) result")
        runs.append(r)
    if len({r["meta"]["workload"] for r in runs}) != 1:
        raise SystemExit("mixed workloads on one side")
    return runs


def spread(xs):
    if len(xs) < 2:
        return None
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def rows(base, new):
    """(metric, base median, new median, ratio, flagged) for every metric."""
    out = []
    for k in sorted(base[0]["per_layer"]):
        a = [r["per_layer"][k] for r in base]
        b = [r["per_layer"][k] for r in new if k in r["per_layer"]]
        ma, mb = statistics.median(a), statistics.median(b) if b else float("nan")
        ratio = mb / ma if ma else (1.0 if mb == ma else float("inf"))
        sp = [s for s in (spread(a), spread(b)) if s is not None]
        flagged = bool(sp) and abs(mb - ma) > max(sp)
        out.append((k, ma, mb, ratio, flagged))
    return out


def main(argv):
    if "--" not in argv:
        raise SystemExit(__doc__)
    i = argv.index("--")
    base, new = load(argv[:i]), load(argv[i + 1:])
    if not base or not new:
        raise SystemExit(__doc__)
    if base[0]["meta"]["workload"] != new[0]["meta"]["workload"]:
        raise SystemExit("the two sides ran different workloads")
    print(f"workload {base[0]['meta']['workload']}: {len(base)} base run(s), {len(new)} new run(s)")
    print(f"{'metric':48} {'base':>14} {'new':>14} {'new/base':>9}")
    for k, ma, mb, ratio, flagged in rows(base, new):
        print(f"{k:48} {ma:14.4g} {mb:14.4g} {ratio:9.3f} {'*' if flagged else ''}")
    for name, side in (("base", base), ("new", new)):
        vals = [r["per_layer"].get("trace_overhead_ratio", float("nan")) for r in side]
        print(f"trace_overhead_ratio {name}: {statistics.median(vals):.3f} "
              f"(traced / untraced op latency, {len(vals)} run(s))")


if __name__ == "__main__":
    main(sys.argv[1:])

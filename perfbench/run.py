#!/usr/bin/env python3
"""Benchmark of the graft pipeline's three user-facing workloads.

  python3 perfbench/run.py --workload dag_daily --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program and the harness from
source with sbt when they changed, generates the workload's inputs from
the seed, drives the program from a JVM (perfbench.Harness) for
`--seconds`, checks the outputs against independent recomputations
(DuckDB), writes a result file with run metadata under `.bench_out/`, and
prints one JSON line: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. Exits non-zero when a correctness
check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from stats import median, percentile, summary  # noqa: E402

ROOT = os.getcwd()
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "source.sha256")
# The classes in one jar: a class-data-sharing archive takes classes from
# jars only.
JAR = os.path.join(HERE, "target", "harness.jar")
CDS_DIR = os.path.join(HERE, "target", "cds")
WORKLOADS = tuple(layers.PRIMARY_OP)
# A run must finish in 180 s; the JVM is stopped this long after set-up began.
JVM_DEADLINE_S = 165
BUILD_DEADLINE_S = 850

# name -> unit, printed with --trace 0 on every workload (see README.md).
# Op cost is CPU time, not wall time: on a shared host the time the host
# steals from this machine's CPUs moves wall-clock medians by more than any
# bound, and the kernel leaves stolen time out of a thread's CPU time.
END_TO_END = {"setup_s": "s", "op_cpu_p50_s": "s", "work_per_cpu_s": "1/s", "peak_rss_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compiles program + harness into one jar unless it matches the sources."""
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building the program and the harness with sbt")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=BUILD_DEADLINE_S, start_new_session=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    with zipfile.ZipFile(JAR + ".tmp", "w") as jar:
        for d, _, fs in sorted(os.walk(CLASSES)):
            for f in sorted(fs):
                jar.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), CLASSES))
    os.replace(JAR + ".tmp", JAR)
    # archives of the previous jar no longer match it
    shutil.rmtree(CDS_DIR, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def nproc():
    return len(os.sched_getaffinity(0))


# The program's run options (build.sbt `javaOptions`), mirrored for a plain
# `java` launch: module opens for Spark on JDK 17, UTC, no UI, the code
# cache size, and the heap from SPARK_DRIVER_MEM.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
DEFAULT_HEAP = "1g"


def cds_archive(workload, digest):
    """The workload's class-data-sharing archive: the classes its JVM loaded,
    dumped at the exit of the workload's first run in this checkout and
    mapped by every later run, so that set-up does not parse and verify
    the same Spark, Derby and program classes again each run."""
    return os.path.join(CDS_DIR, f"{workload}-{digest[:16]}.jsa")


def jvm_command(work, archive, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    heap = os.environ.get("SPARK_DRIVER_MEM", DEFAULT_HEAP)
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             # a fixed-size heap, so the peak resident size does not hang on
             # when G1 happens to grow the heap
             f"-Xmx{heap}", f"-Xms{heap}",
             "-XX:ReservedCodeCacheSize=2g", "-XX:-UsePerfData",
             # everything the run writes stays inside its work directory
             f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.stream.error.file={work}/derby.log",
             f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    if os.path.exists(archive):
        opts.append(f"-XX:SharedArchiveFile={archive}")
    else:
        os.makedirs(CDS_DIR, exist_ok=True)
        opts.append(f"-XX:ArchiveClassesAtExit={archive}.{os.getpid()}")
    cp = f"{JAR}{os.pathsep}{spark_jars()}/*"
    return [java] + opts + ["-cp", cp, "perfbench.Harness"] + args


def run_jvm(cmd, work, timeout):
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    with open(f"{work}/jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def inputs_needed(workload, seconds):
    """Enough days / batches that the window never runs dry."""
    if workload == "dag_daily":
        return {"dag_days": int(seconds) + 10}
    if workload == "cdc_upsert":
        return {"cdc_batches": int(seconds * 6) + 24}
    return {}


def user_metrics(workload, raw):
    """The workload's own wall-clock numbers, each timing with its sample
    count; the CPU time of each primary op; and work per CPU second, for
    dag_daily that of the backfill alone: how many days fit in the window
    depends on the wall clock, and a day costs far more per order."""
    ops = raw["ops"]
    ok = [o for o in ops if o["ok"]]
    wall = lambda o: (o["end_ms"] - o["start_ms"]) / 1000.0  # noqa: E731
    prim = [wall(o) for o in ok if o["kind"] == layers.PRIMARY_OP[workload]]
    prim_cpu = [o["cpu_ms"] / 1000.0 for o in ok if o["kind"] == layers.PRIMARY_OP[workload]]
    busy = sum(wall(o) for o in ok)
    cpu = sum(o["cpu_ms"] / 1000.0 for o in ok)
    m = {}
    if workload == "dag_daily":
        back = [o for o in ok if o["kind"] == "backfill"]
        m["dag_backfill_s"] = summary([wall(o) for o in back])
        m["dag_day_p50_s"] = summary(prim)
        work = sum(o["detail"]["extracted"] for o in back)
        cpu = sum(o["cpu_ms"] / 1000.0 for o in back)
    elif workload == "cdc_upsert":
        m["cdc_batch_p50_s"] = summary(prim)
        work = sum(o["detail"]["events"] for o in ok)
        m["cdc_events_per_s"] = {"p50": work / busy if busy > 0 else 0.0, "n": len(ok)}
    else:
        tiles = [(t["end"] - t["start"]) / 1000.0 for o in ok for t in o["detail"]["tiles"]]
        m["bi_refresh_p50_s"] = summary(prim)
        m["bi_tile_p90_s"] = dict(summary(tiles), p90=percentile(tiles, 90))
        work = len(tiles)
    return m, prim_cpu, work / cpu if cpu > 0 else 0.0


def check(workload, raw, work):
    ops = raw["ops"]
    if workload == "dag_daily":
        days = [o["detail"].get("day") for o in ops[1:]]
        return checks.check_dag(ops, checks.dag_expected(f"{work}/input/dag", days),
                                raw["extra"]["warehouse"])
    if workload == "cdc_upsert":
        return checks.check_cdc(
            ops, checks.cdc_expected(f"{work}/input/cdc", raw["extra"]["batches_appended"]),
            checks.read_tsv(f"{work}/cdc_table.tsv"), checks.read_tsv(f"{work}/cdc_quarantine.tsv"))
    return checks.check_bi(ops, f"{work}/bi_rows", f"{work}/input/bi", gen.BI_TILES)


def cpu_probe():
    """Seconds for a fixed loop run on every core at once: with the load
    averages, shows in the result file whether the machine was slow or
    shared with other work when the run started and ended."""
    loop = "s = 0\nfor i in range(1_000_000): s += i * i"
    t = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", loop]) for _ in range(nproc())]
    for p in procs:
        p.wait()
    return time.perf_counter() - t


def steal_ticks():
    """(stolen, total) clock ticks of all CPUs since boot: the time the
    host ran something else while this machine's CPUs had work."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:]]
    return t[7], sum(t[:8])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    began = time.time()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit(f"program sources not found under {PROGRAM_SRC}: run from the repository root")
    load_start, probe_start = os.getloadavg(), cpu_probe()
    digest = source_digest()
    build(digest)

    t0 = time.time()  # set-up starts here; a build is not set-up
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    gen.generate(a.workload, a.seed, f"{work}/input", **inputs_needed(a.workload, a.seconds))
    t_inputs = time.time()
    cores = nproc()
    raw_path = f"{work}/raw.json"
    archive = cds_archive(a.workload, digest)
    cds = "mapped" if os.path.exists(archive) else "dumped"
    steal0 = steal_ticks()
    rc = run_jvm(jvm_command(work, archive, [
        "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(cores), "--input", f"{work}/input", "--work", work, "--out", raw_path]),
        work, JVM_DEADLINE_S - (time.time() - t0))
    steal1 = steal_ticks()
    dumped = f"{archive}.{os.getpid()}"
    if os.path.exists(dumped):
        if rc == 0:
            os.replace(dumped, archive)
        else:
            os.remove(dumped)
    if rc != 0 or not os.path.exists(raw_path):
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"harness {'timed out' if rc is None else f'exited with {rc}'}; see {work}")
    with open(raw_path) as fh:
        raw = json.load(fh)

    ops = raw["ops"]
    try:
        problems = check(a.workload, raw, work)
    except Exception as e:  # a check that cannot run is a failed check
        problems = [f"check raised {e!r}"]
    correct = not problems
    for p in problems:
        log(f"CHECK FAILED: {p}")

    mine, prim_cpu, rate = user_metrics(a.workload, raw)
    # a failed check fails every op of the run
    failed = len(ops) if not correct else sum(1 for o in ops if not o["ok"])
    mine["op_fail_ratio"] = {"p50": failed / max(1, len(ops)), "n": len(ops)}
    e2e = {"setup_s": raw["first_op_ms"] / 1000.0 - t0, "op_cpu_p50_s": median(prim_cpu),
           "work_per_cpu_s": rate, "peak_rss_mb": raw["peak_rss_kb"] / 1024.0}
    per_layer, notes = layers.per_layer(a.workload, raw, mine) if a.trace else ({}, {})
    if a.trace:
        metrics = {k: {"value": v, "unit": layers.PER_LAYER[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    line = {"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    result = {
        "meta": {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "git_commit": git_commit(), "source_sha256": digest, "nproc": cores,
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "cpu_probe_s_start": probe_start, "cpu_probe_s_end": cpu_probe(),
            "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "jvm_args": raw["jvm_args"], "class_data_sharing": cds,
            "spark_version": raw["spark_version"], "spark_conf_set": raw["spark_conf"],
            "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(began)),
        },
        "setup_split_s": {"inputs": t_inputs - t0,
                          "jvm_and_session": raw["session_ready_ms"] / 1000.0 - t_inputs,
                          "warm_up": (raw["first_op_ms"] - raw["session_ready_ms"]) / 1000.0},
        "op_walls_s": [[o["kind"], (o["end_ms"] - o["start_ms"]) / 1000.0] for o in ops],
        "op_cpu_s": [o["cpu_ms"] / 1000.0 for o in ops],
        "end_to_end": e2e, "workload_metrics": mine, "per_layer": per_layer,
        "checks": problems, "result": line, **notes,
    }
    path = os.path.join(out_dir, f"{run_id}-{int(began)}.json")
    with open(path, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    log(f"result file {os.path.relpath(path, ROOT)}")
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    else:
        log(f"inputs and outputs kept in {work}")
    print(json.dumps(line))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload etl_roundtrip --seed 1 --seconds 12 --trace 0

Starts one Spark session on local[4] with an explicit driver heap,
generates the input tables, sets the workload up (repeating its set-up
step), warms it up untimed, then runs it closed-loop: one run after
another, each a fixed sequence of operations drawn from ``--seed``,
for ``--seconds`` (at least one run; see ``measure``). Every operation's
output is checked outside the timed region; a failed check counts as a
failed operation.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` forces each
operation's physical plan as its own phase, writes the span tree to
``perfbench/out/`` and prints the per-layer metrics. The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is the full report (percentiles, sample counts, provenance).

All scratch (inputs, Derby, parquet sink, index copies, Spark local
dirs) lives in a per-invocation directory under ``perfbench/.tmp`` that
is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import datagen
from tracing import LAYERS, Recorder, union_length

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
HEAP = "2g"
SF = 0.1
DATA_SEED = 20240601  # inputs are fixed; --seed picks slices and batch splits
SETUP_REPEATS = 3

CALL_PREFIX = {
    "read_sql": "read_sql", "write_sql": "write_sql",
    "ingest_to_parquet": "ingest_to_parquet", "matchmerge": "matchmerge",
    "extend_dedup_index": "extend",
}
JOB_SUMS = ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes")
END_TO_END = {"setup_s": "s", "run_s": "s", "op_s": "s", "cpu_s": "s",
              "rows_per_s": "1/s", "peak_rss_mb": "MB"}
# End-to-end metrics printed on the report line only. Executor CPU time
# of the small incremental_index tasks grows with host contention more
# than wall time does: its spread between seeds reached 0.27 on a
# contended host, past the widest bound a result-line metric can take.
REPORT_ONLY = {"cpu_s"}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cpus."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def summarize(values: list[float]) -> dict:
    """Median, the highest of p99/p95/p90/p75 with at least ten samples
    beyond it, and the sample count."""
    out = {"median": statistics.median(values), "n": len(values)}
    for p in (99, 95, 90, 75):
        if len(values) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(values, n=100)[p - 1]
            break
    return out


def op_layers(spans: list[dict], op: dict) -> dict:
    """Per-layer figures of one operation from its phase spans and jobs."""
    span, jobs = op["span"], op["jobs"]
    phases = [s for s in spans if s["parent"] == span["id"] and s["kind"] == "phase"]
    by_phase = {p["id"]: [j for j in jobs if j["phase"] == p["id"]] for p in phases}
    d = {"op_s": span["end"] - span["start"], "jobs": len(jobs)}
    for layer in LAYERS:
        mine = [p for p in phases if p["layer"] == layer]
        d[f"{layer}_s"] = sum(p["end"] - p["start"] for p in mine)
        d[f"{layer}_jobs"] = sum(len(by_phase[p["id"]]) for p in mine)
        d[f"{layer}_self_s"] = sum(
            p["end"] - p["start"] - union_length(
                [(j["start"], j["end"]) for j in by_phase[p["id"]]],
                p["start"], p["end"])
            for p in mine)
    for call, prefix in CALL_PREFIX.items():
        mine = [p for p in phases if p["name"] == call]
        d[f"{prefix}_s"] = sum(p["end"] - p["start"] for p in mine)
        d[f"{prefix}_jobs"] = sum(len(by_phase[p["id"]]) for p in mine)
    for key in JOB_SUMS:
        d[key] = sum(j[key] for j in jobs)
    d["driver_gap_s"] = d["op_s"] - union_length(
        [(j["start"], j["end"]) for j in jobs], span["start"], span["end"])
    # every scan of an operation that calls read_sql is a JDBC scan
    d["read_sql_rows"] = (sum(j["input_records"] for j in jobs)
                          if any(p["name"] == "read_sql" for p in phases) else 0)
    d["write_sql_rows"] = sum(
        j["output_records"] for p in phases if p["name"] == "write_sql"
        for j in by_phase[p["id"]])
    d["parquet_bytes_written"] = op.get("parquet_bytes_written", 0)
    d["index_bytes_per_doc"] = op.get("index_bytes_per_doc", 0)
    return d


PER_LAYER = (
    "construct_s", "construct_jobs", "construct_self_s", "plan_s",
    "plan_self_s", "exec_s", "exec_self_s", "jobs", *JOB_SUMS,
    "driver_gap_s", "read_sql_s", "read_sql_rows", "write_sql_s",
    "write_sql_rows", "ingest_to_parquet_s", "parquet_bytes_written",
    "matchmerge_s", "matchmerge_jobs", "extend_s", "extend_jobs",
    "index_bytes_per_doc",
)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_per_doc"):
        return "B/doc"
    return "B" if "bytes" in name else "count"


def provenance(args, spark) -> dict:
    try:
        head = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        head = None  # the benchmark may run from a plain source tree
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "etlutils_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(fh.read())
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpu_count": os.cpu_count(),
        "cpu_affinity": len(os.sched_getaffinity(0)),
        "git_head": head, "source_sha256": digest.hexdigest(),
        "spark": spark.version, "python": platform.python_version(),
        "master": spark.sparkContext.master, "driver_heap": HEAP,
        "jit": "C1 (TieredStopAtLevel=1)",
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "sf": SF, "data_seed": DATA_SEED, "setup_repeats": SETUP_REPEATS,
    }


def driver_memory_mb(spark, retained_mb: float) -> dict:
    """The driver JVM's peak resident memory (``VmHWM``), its committed
    heap, and ``retained_mb``, the most heap any measured operation left
    live. The heap is fixed and touched at start, so ``VmHWM`` is the
    whole heap plus native memory whatever the program does;
    ``peak_rss_mb`` counts the retained heap in place of the committed
    one, so heap the program holds on to moves it."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    heap = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mb = {"vmhwm_mb": kb / 1024,
          "heap_committed_mb": heap.getHeapMemoryUsage().getCommitted() / 2**20,
          "heap_retained_mb": retained_mb}
    mb["peak_rss_mb"] = mb["vmhwm_mb"] - mb["heap_committed_mb"] + retained_mb
    return mb


def stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def measure(args, work: str) -> tuple[dict, dict]:
    load_before, steal_before = loadavg(), steal_s()
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    conf = {
        "spark.driver.memory": HEAP,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed heap (-Xms = the -Xmx Spark sets from spark.driver.memory)
        # keeps G1's heap resizing out of the timings. Touching it at start
        # keeps the regions G1 happens to touch out of VmHWM, which moved
        # it by over 20% between seeds on a contended host; peak_rss_mb
        # counts the used heap instead (driver_memory_mb). The JIT stops
        # at C1: C2 compiled on the same 4 vCPUs as the measured
        # operations (a third of an invocation's CPU time), and cut
        # incremental_index operations by a fifth some 30 s into the
        # measuring, so a run's figure depended on where the compiler
        # happened to be. Derby's durability "test" skips fsync
        # on commit: the database is the benchmark's scratch peer, and
        # shared-disk fsync latency is not the program's.
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={work} "
            f"-Dderby.system.home={work}/derby-home -Dderby.system.durability=test"),
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    from etlutils_spark.session import get_session

    spark = get_session("perfbench", **conf)
    session_s = time.perf_counter() - t0
    try:
        from workloads import WORKLOADS

        t0 = time.perf_counter()
        data_dir = os.path.join(work, "data")
        datagen.generate(data_dir, DATA_SEED, SF)
        gen_s = time.perf_counter() - t0

        rec = Recorder(spark)
        wl = WORKLOADS[args.workload](spark, rec, data_dir, work, args.seed)
        prepare = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare(i)
            prepare.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm_ok = wl.warm_up()["ok"]
        warm_s = time.perf_counter() - t0

        def one_run(traced: bool) -> dict:
            span = rec.span("run", None, kind="run", traced=traced)
            ops = wl.run(span, traced)
            rec.close(span)
            for op in ops:
                op["jobs"] = rec.jobs(op["span"]) if "span" in op else []
            wall = span["end"] - span["start"] - sum(o["untimed_s"] for o in ops)
            return {"span": span, "ops": ops, "traced": traced, "run_s": wall}

        # traced invocations put a traced run between two untraced ones:
        # the process is still warming, and in this order a linear warming
        # trend cancels out of the tracing overhead
        modes = (False, True, False) if args.trace else (False,)
        runs = []
        deadline = time.perf_counter() + args.seconds
        passes = []  # wall of each pass, output checks included
        while True:
            t0 = time.perf_counter()
            runs.extend(one_run(m) for m in modes)
            passes.append(time.perf_counter() - t0)
            # start another pass only if it should end by the deadline,
            # give or take half a pass
            if time.perf_counter() + statistics.median(passes) / 2 >= deadline:
                break
        memory = driver_memory_mb(spark, max(
            (o["retained_heap_mb"] for r in runs if r["traced"] == bool(args.trace)
             for o in r["ops"] if "retained_heap_mb" in o), default=0.0))
        prov = provenance(args, spark)
    finally:
        stop(spark)
    prov["loadavg_before"], prov["loadavg_after"] = load_before, loadavg()
    prov["cpu_steal_s"] = steal_s() - steal_before

    ops = [o for r in runs for o in r["ops"]]
    good = [o for o in ops if o["ok"]]
    failed = len(ops) - len(good)
    measured = [r for r in runs if r["traced"] == bool(args.trace)]
    op_walls = [o["span"]["end"] - o["span"]["start"] for r in measured
                for o in r["ops"] if "span" in o]
    e2e = {
        "setup_s": session_s + gen_s + statistics.median(prepare) + warm_s,
        "run_s": statistics.median(r["run_s"] for r in measured),
        "op_s": statistics.median(op_walls),
        "cpu_s": statistics.median(
            sum(j["executor_cpu_s"] for o in r["ops"] for j in o["jobs"])
            for r in measured),
        "rows_per_s": sum(o["units"] for o in good)
        / sum(o["span"]["end"] - o["span"]["start"] for o in good) if good else 0.0,
        "peak_rss_mb": memory["peak_rss_mb"],
    }
    report = {
        "workload": args.workload,
        "end_to_end": {
            **{k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
            "op_s": {**summarize(op_walls), "unit": "s"},
            "run_s": {**summarize([r["run_s"] for r in measured]), "unit": "s"},
            # 0 on a correct build, so it has no relative bound and is
            # not on the result line; attempted and failed are
            "failed_frac": {"value": failed / len(ops), "unit": "ratio"},
        },
        "samples": {"op_s": op_walls, "run_s": [r["run_s"] for r in measured]},
        "setup": {"session_s": session_s, "inputs_s": gen_s,
                  "prepare_s": prepare, "warm_up_s": warm_s},
        "driver_memory": memory,
        "errors": sorted({o["error"] for o in ops if o["error"]}),
        "provenance": prov,
    }
    if args.trace:
        traced_ops = [o for r in measured for o in r["ops"] if "span" in o]
        per_op = [op_layers(rec.spans, o) for o in traced_ops]
        layers = {k: statistics.median(p[k] for p in per_op) for k in PER_LAYER}
        # bytes per stored doc once the whole run has been folded in
        layers["index_bytes_per_doc"] = per_op[-1]["index_bytes_per_doc"]
        layers["trace_overhead_s"] = e2e["run_s"] - statistics.median(
            r["run_s"] for r in runs if not r["traced"])
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        report["per_layer"] = metrics
        report["per_op"] = per_op
        write_trace(args, rec, runs, per_op, prov)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()
                   if k not in REPORT_ONLY}
    result = {"correct": failed == 0 and warm_ok, "attempted": len(ops),
              "failed": failed, "metrics": metrics}
    return report, result


def write_trace(args, rec, runs, per_op, prov) -> None:
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    jobs = {o["span"]["id"]: o["jobs"] for r in runs for o in r["ops"] if "span" in o}
    path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"provenance": prov, "spans": rec.spans, "jobs": jobs,
                   "per_op": per_op}, fh, default=str)


def main(argv: list[str] | None = None) -> int:
    sys.path[:0] = [ROOT, HERE]
    # read by the package's session defaults at import: local[4] and a
    # matching shuffle partition count
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # run the cleanup below (stop the JVM, remove scratch) on SIGTERM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    tmp_root = os.path.join(HERE, ".tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    try:
        report, result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Spans and Spark job records for the benchmark, taken from outside the
program.

Every operation runs under its own Spark job group. The recorder times
the benchmark's own calls into the package (one span per call, tagged
with its layer), and afterwards reads the jobs of that group, and the
stages of those jobs, from the driver's status store. Nothing here
reads global application state: job ids come only from
``statusTracker().getJobIdsForGroup(group)``.

Spans are plain dicts kept in memory; ``Recorder.spans`` is written out
by the caller when the run ends.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager

# Layers a phase span can belong to. ``construct`` covers calls that
# return a DataFrame (including the eager jobs they run), ``plan`` the
# forced physical planning of the result, ``exec`` the calls that run
# actions.
LAYERS = ("construct", "plan", "exec")

STAGE_FIELDS = {
    # StageData getter -> (record key, scale to SI)
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "inputRecords": ("input_records", 1),
    "outputRecords": ("output_records", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "numTasks": ("tasks", 1),
}


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Recorder:
    """Job-group scoping, phase spans and status-store reads for one
    SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.spans: list[dict] = []

    def span(self, name: str, parent: dict | None, **attrs) -> dict:
        s = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(s)
        return s

    @staticmethod
    def close(span: dict) -> dict:
        span["end"] = time.time()
        return span

    @contextmanager
    def operation(self, name: str, parent: dict | None):
        """One operation: a span plus a fresh job group for every Spark
        job its calls start."""
        # unique within the SparkContext, also across Recorders
        group = f"perfbench-{uuid.uuid4().hex}-{name}"
        op = self.span(name, parent, kind="op", group=group)
        self.sc.setJobGroup(group, name)
        try:
            yield op
        finally:
            self.close(op)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def phase(self, op: dict, layer: str, call: str):
        """A timed call into the package, attributed to ``layer``."""
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        s = self.span(call, op, kind="phase", layer=layer)
        try:
            yield s
        finally:
            self.close(s)

    def retained_heap_mb(self) -> float:
        """Heap in use after a full collection: what the program keeps
        live."""
        jvm = self.sc._jvm
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return heap.getHeapMemoryUsage().getUsed() / 2**20

    def jobs(self, op: dict) -> list[dict]:
        """Job records (with their executed stages' metrics) of ``op``'s
        group, each parented to the phase span it was submitted in. Adds
        one child span per job."""
        self._bus.waitUntilEmpty(60_000)
        phases = [s for s in self.spans if s["parent"] == op["id"]]
        seen_stages: set[int] = set()
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(op["group"])):
            jd = self._store.job(jid)
            start = jd.submissionTime().get().getTime() / 1e3
            done = jd.completionTime()
            end = done.get().getTime() / 1e3 if done.isDefined() else op["end"]
            # the phase running when the job was submitted: phases run one
            # after another, and JVM times are whole milliseconds
            owner = max((p for p in phases if p["start"] - 1e-3 <= start),
                        key=lambda p: p["start"], default=op)
            rec = {"job_id": jid, "status": jd.status().toString(),
                   "start": start, "end": end, "phase": owner["id"],
                   "stages": 0, **{k: 0 for k, _ in STAGE_FIELDS.values()}}
            ids = jd.stageIds()
            for i in range(ids.length()):
                sid = ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                stage = self._store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                for getter, (key, scale) in STAGE_FIELDS.items():
                    rec[key] += getattr(stage, getter)() * scale
            out.append(rec)
            self.spans.append({
                "id": len(self.spans), "name": f"job {jid}", "kind": "job",
                "parent": owner["id"], "start": start, "end": end,
                "stages": rec["stages"], "tasks": rec["tasks"],
            })
        return out

"""The benchmark's own tests: its counts repeat, its layer split adds up,
and it counts only its own jobs.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs both workloads on sf0.01 inputs in one local[4] session (~2 min).
"""

from __future__ import annotations

import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

import datagen  # noqa: E402
import run as bench  # noqa: E402
from tracing import Recorder, union_length  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# construct + plan + exec may miss op_s by the glue between phases
SPLIT_TOLERANCE_S = 0.05


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from etlutils_spark.session import get_session

    work = tmp_path_factory.mktemp("perfbench")
    s = get_session("perfbench_tests", **{
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
    })
    yield s
    s.stop()


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("data"))
    datagen.generate(d, seed=3, sf=0.01)
    return d


def _workload(name, spark, data_dir, tmp_path, seed=7):
    wl = WORKLOADS[name](spark, Recorder(spark), data_dir, str(tmp_path), seed)
    wl.prepare(0)
    assert wl.warm_up()["ok"]
    return wl


def _run(wl, traced=True):
    span = wl.rec.span("run", None, kind="run")
    ops = wl.run(span, traced)
    wl.rec.close(span)
    for op in ops:
        assert op["ok"], op["error"]
        op["jobs"] = wl.rec.jobs(op["span"])
    return ops


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_counts_repeat_and_split_accounts_for_op(name, spark, data_dir, tmp_path):
    counts = []
    for attempt in range(2):
        wl = _workload(name, spark, data_dir, tmp_path / str(attempt))
        ops = _run(wl)
        layers = [bench.op_layers(wl.rec.spans, op) for op in ops]
        counts.append([(d["jobs"], d["stages"], d["construct_jobs"]) for d in layers])
        for d in layers:
            split = d["construct_s"] + d["plan_s"] + d["exec_s"]
            assert split <= d["op_s"]
            assert d["op_s"] - split < SPLIT_TOLERANCE_S + 0.02 * d["op_s"]
            assert d["jobs"] > 0 and d["stages"] > 0
    assert counts[0] == counts[1]


def test_counts_only_own_job_group(spark, data_dir, tmp_path):
    """Jobs another thread runs under another group during an operation
    are not counted, and every counted job carries the op's group."""
    wl = _workload("etl_roundtrip", spark, data_dir, tmp_path / "quiet")
    quiet = [len(op["jobs"]) for op in _run(wl)]

    stop = threading.Event()

    def noise():
        spark.sparkContext.setJobGroup("noise", "noise")
        while not stop.is_set():
            spark.range(0, 200_000, 1, 4).selectExpr("sum(id)").collect()

    t = threading.Thread(target=noise, daemon=True)
    wl = _workload("etl_roundtrip", spark, data_dir, tmp_path / "noisy")
    t.start()
    try:
        ops = _run(wl)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not t.is_alive()
    assert [len(op["jobs"]) for op in ops] == quiet
    store = spark.sparkContext._jsc.sc().statusStore()
    for op in ops:
        for j in op["jobs"]:
            assert store.job(j["job_id"]).jobGroup().get() == op["span"]["group"]


def test_union_length_clips_and_merges():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(-1, 2), (8, 12)], 0, 10) == 4
    assert union_length([], 0, 10) == 0


def test_generator_is_a_function_of_its_seed(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.generate(str(a), seed=11, sf=0.001)
    datagen.generate(str(b), seed=11, sf=0.001)
    for f in sorted(os.listdir(a)):
        assert (a / f).read_bytes() == (b / f).read_bytes()

#!/usr/bin/env python3
"""Incremental-refresh scaling probe: extend_dedup_index's per-batch
cost must be O(batch) — FLAT in stored-corpus size — because the batch
is the only thing shingled and the probe joins its bands against the
stored profile index.

    python3 tools/stress_incremental.py [corpus sizes ...]   # default 5000 50000

For each corpus size N: build the extendable index on N synthetic docs
(the stress_dedup Zipf corpus), then fold in a FIXED 500-doc batch
(every batch doc a near-dup of a stored doc, so the probe actually
finds cross-batch pairs) and time the extend. The pass rubric lives in
BASELINE.md: extend wall at 10x the stored corpus must stay ~flat
(probe side is the broadcast batch; CC re-runs over the edge table,
which grows with dup mass, not corpus).

Every extend runs under its own Spark job group, and each report
prints the jobs that group launched next to the seconds
(``extend_jobs``), read from the status tracker: the per-batch job
floor as the stored size grows.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.stress_dedup import make_corpus  # noqa: E402

BATCH = 500


def _timed_jobs(spark, fn):
    """Run ``fn`` under its own Spark job group: (its result, wall
    seconds, the number of jobs the group launched)."""
    sc = spark.sparkContext
    group = f"stress-incremental-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    t0 = time.time()
    try:
        out = fn()
    finally:
        sec = round(time.time() - t0, 2)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker fills from the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, sec, len(sc.statusTracker().getJobIdsForGroup(group))


def run(spark, n: int) -> dict:
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    docs, sizes = make_corpus(spark, n)
    docs = docs.persist()
    docs.count()
    path = os.path.join(tempfile.gettempdir(), f"inc_probe_{os.getpid()}_{n}")
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.time()
    build_dedup_index(docs, path)
    build_sec = round(time.time() - t0, 2)
    # fixed-size batch: one near-dup of each of the first BATCH stored
    # docs (new doc_id = stored + 10*n, one token appended -> jaccard
    # high), so every batch doc exercises the cross-batch probe
    batch = (
        docs.filter(F.col("doc_id") < BATCH)
        .select(
            (F.col("doc_id") + F.lit(10 * n)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extradup")).alias("text"),
        )
        .persist()
    )
    n_batch = batch.count()

    def extend():
        labels = extend_dedup_index(path, batch)
        return labels, labels.count()

    (labels, n_labeled), extend_sec, extend_jobs = _timed_jobs(spark, extend)
    # the refreshed labels must equal a from-scratch build on the union
    # corpus — the extend's contract, and the cost it exists to avoid
    rebuild_path = f"{path}_rebuild"
    shutil.rmtree(rebuild_path, ignore_errors=True)
    t0 = time.time()
    rebuilt = build_dedup_index(docs.unionByName(batch), rebuild_path)
    n_rebuilt = rebuilt.count()
    rebuild_sec = round(time.time() - t0, 2)
    assert n_rebuilt == n_labeled, (n_rebuilt, n_labeled)
    assert labels.exceptAll(rebuilt).isEmpty(), "extend != rebuild"
    docs.unpersist()
    batch.unpersist()
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(rebuild_path, ignore_errors=True)
    return {
        "corpus": n,
        "batch": n_batch,
        "build_sec": build_sec,
        "extend_sec": extend_sec,
        "extend_jobs": extend_jobs,
        "rebuild_sec": rebuild_sec,
        "labeled_total": n_labeled,
    }


def run_accumulated(spark, n: int, n_batches: int = 12) -> dict:
    """The r6 verdict's missing stress axis: extend cost as BATCHES
    ACCUMULATE (not just as the stored corpus grows). Build on n docs,
    then fold n_batches successive distinct 500-doc near-dup batches
    and time every extend. With post-refresh star compaction the edge
    table holds |V_dup| rows regardless of how many batches landed, so
    the per-extend wall must stay ~flat across the sequence (pre-
    compaction it grew with the accumulated pair count)."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    docs, _sizes = make_corpus(spark, n)
    docs = docs.persist()
    docs.count()
    path = os.path.join(tempfile.gettempdir(), f"inc_acc_{os.getpid()}_{n}")
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.time()
    build_dedup_index(docs, path)
    build_sec = round(time.time() - t0, 2)
    extend_secs, extend_jobs = [], []
    edge_rows = []
    for k in range(n_batches):
        # batch k: near-dups of stored docs, ids disjoint per batch so
        # every extend adds fresh members to existing components
        batch = (
            docs.filter(F.col("doc_id") < BATCH)
            .select(
                (F.col("doc_id") + F.lit((10 + k) * max(n, BATCH)))
                .alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" dup{k}")).alias("text"),
            )
            .persist()
        )
        batch.count()
        _, sec, jobs = _timed_jobs(
            spark, lambda: extend_dedup_index(path, batch)
        )
        extend_secs.append(sec)
        extend_jobs.append(jobs)
        edge_rows.append(
            spark.read.parquet(os.path.join(path, "edges")).count()
        )
        batch.unpersist()
    docs.unpersist()
    shutil.rmtree(path, ignore_errors=True)
    return {
        "corpus": n,
        "batch": BATCH,
        "n_batches": n_batches,
        "build_sec": build_sec,
        "extend_secs": extend_secs,
        "extend_jobs": extend_jobs,
        "edge_rows_after_each": edge_rows,
    }


def singleton_corpus(spark, n: int, dup_groups: int = 100,
                     group_size: int = 5):
    """n docs: a fixed small dup mass (dup_groups x group_size) plus
    singletons to n. The label-rewrite-term corpus: the Zipf corpus's
    head group grows ~n/100 docs, whose INTRA-GROUP candidate pairs
    grow quadratically (50k-doc head at n=5M -> ~1.7B verify pairs —
    a dup-mass stress, measured to exhaust local spill space), while
    the bucketed-layout question is about LABEL ROWS, which only need
    doc count."""
    sizes = [group_size] * dup_groups
    rows, start = [], 0
    for g, s in enumerate(sizes, start=1):
        rows.append((g, start, s))
        start += s
    groups = spark.createDataFrame(rows, "grp int, start long, size int")
    tok = lambda seed: F.substring(F.md5(seed), 1, 8)  # noqa: E731
    members = groups.select(
        "grp",
        F.explode(F.sequence(F.lit(0), F.col("size") - 1)).alias("m"),
        "start",
    ).select(
        (F.col("start") + F.col("m")).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda i: F.when(
                    i == F.col("m") % 28,
                    tok(F.concat_ws(":", F.col("grp"), F.col("m"), i)),
                ).otherwise(tok(F.concat_ws(":", F.col("grp"), i))),
            ),
        ).alias("text"),
    )
    singles = spark.range(start, n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda i: tok(F.concat_ws(":", F.lit("solo"), F.col("id"), i)),
            ),
        ).alias("text"),
    )
    return members.unionByName(singles)


def run_bucketed(spark, n: int, buckets: int, n_refreshes: int = 3,
                 corpus_fn=None) -> dict:
    """The bucketed-label-layout probe (r7): with
    ``build_dedup_index(label_buckets=B)`` an affected-scope extend
    must rewrite only the label PARTITIONS holding changed docs
    (dynamic partition overwrite). Reports wall time AND the fraction
    of label-table bytes rewritten per refresh — the scale-relevant
    metric, since at toy corpus sizes the whole table is a few MB and
    directory/listing overhead dominates wall clock (which is exactly
    why the auto default keeps small corpora unbucketed). The batch
    near-dups TAIL docs (singletons), the focused-refresh case the
    layout is for; a fat-head batch legitimately touches most buckets.
    ``corpus_fn`` swaps the default Zipf corpus for another
    (doc_id, text) generator — ``singleton_corpus`` for the
    label-rewrite-term measurement at multi-million-doc scale.

    MEASUREMENT CAVEAT (r9): single-session BUILD walls at 5M docs
    vary 32-59 s on batch_profiles' corpus-sized checkpoint alone
    (memory-pressure ordering effects), which once mismeasured a
    ~2 s layout premium as ~14 s. Comparing layouts? Interleave them
    in BOTH orders within one session and read the per-phase
    decomposition (tools/profile_extend_batch._wrap), not min-of-1
    totals — BASELINE.md 'Bucketed build premium decomposed'."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    if corpus_fn is None:
        docs, _sizes = make_corpus(spark, n)
    else:
        docs = corpus_fn(spark, n)
    docs = docs.persist()
    docs.count()
    path = os.path.join(
        tempfile.gettempdir(), f"inc_bkt_{os.getpid()}_{n}_{buckets}"
    )
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.time()
    build_dedup_index(docs, path, label_buckets=buckets)
    build_sec = round(time.time() - t0, 2)

    def _files():
        out = set()
        for dp, _dn, fn in os.walk(f"{path}/labels"):
            out.update(
                os.path.join(dp, f)
                for f in fn
                if not f.startswith((".", "_"))
            )
        return out

    batch = (
        docs.filter(F.col("doc_id") >= n - 10)
        .select(
            (F.col("doc_id") + F.lit(10 * n)).alias("doc_id"),
            F.concat("text", F.lit(" extradup")).alias("text"),
        )
        .persist()
    )
    batch.count()
    extend_secs, extend_jobs, rewrite_fracs = [], [], []
    for k in range(n_refreshes):
        b2 = batch.select(
            (F.col("doc_id") + F.lit(k * 1000)).alias("doc_id"), "text"
        )
        before = _files()
        _, sec, jobs = _timed_jobs(spark, lambda: extend_dedup_index(path, b2))
        extend_secs.append(sec)
        extend_jobs.append(jobs)
        after = _files()
        new_b = sum(os.path.getsize(p) for p in after - before)
        tot_b = sum(os.path.getsize(p) for p in after)
        rewrite_fracs.append(round(new_b / tot_b, 3))
    # order-independent digest of the final label table: the buckets-
    # vs-unbucketed runs fold identical batches into identical corpora,
    # so their labels must be bit-identical regardless of layout (the
    # cross-layout equality pin, at stress scale instead of toy scale)
    digest = (
        spark.read.parquet(f"{path}/labels")
        .select(
            F.crc32(
                F.concat_ws(
                    "|",
                    F.col("doc_id").cast("string"),
                    F.col("cluster_id").cast("string"),
                )
            ).alias("h")
        )
        .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("c"))
        .first()
    )
    docs.unpersist()
    batch.unpersist()
    shutil.rmtree(path, ignore_errors=True)
    return {
        "corpus": n,
        "label_buckets": buckets,
        "build_sec": build_sec,
        "extend_secs": extend_secs,
        "extend_jobs": extend_jobs,
        "label_bytes_rewritten_frac": rewrite_fracs,
        "labels_digest": [int(digest.s), int(digest.c)],
    }


def main() -> None:
    from etlutils_spark.session import get_session

    args = sys.argv[1:]
    spark = get_session(
        "stress_incremental",
        **{"spark.driver.memory": "8g", "spark.sql.shuffle.partitions": "32"},
    )
    if args and args[0] == "accumulate":
        n = int(args[1]) if len(args) > 1 else 5000
        n_batches = int(args[2]) if len(args) > 2 else 12
        report = run_accumulated(spark, n, n_batches)
    elif args and args[0] == "buckets":
        n = int(args[1]) if len(args) > 1 else 50000
        bs = [int(a) for a in args[2:]] or [32, 1]
        report = [run_bucketed(spark, n, b) for b in bs]
        digests = {tuple(r["labels_digest"]) for r in report}
        assert len(digests) == 1, f"cross-layout label drift: {report}"
    else:
        scales = [int(a) for a in args] or [5000, 50000]
        report = [run(spark, n) for n in scales]
    print(json.dumps(report, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()

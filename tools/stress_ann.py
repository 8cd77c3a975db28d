#!/usr/bin/env python3
"""ANN-artifact scaling probe: extend_ann_index's per-batch cost must
be O(batch) — FLAT in stored-corpus size — because the batch is the
only thing assigned/encoded (against the FROZEN centroids/codebooks)
and the only stored-side work is the replay-dedup anti-join over the
codes table's id column.

    python3 tools/stress_ann.py [corpus sizes ...]   # default 5000 50000

For each corpus size N: build the ANN index on N synthetic vectors,
then fold in a FIXED 500-vector batch and time the extend, plus one
pruned query against the extended index. Pass rubric (BASELINE.md
"ANN artifact"): extend wall at 10x the stored corpus ~flat; query
wall grows with probed-cell row count (sub-linear via nprobe), never
with training cost (there is none at query time).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

BATCH = 500
DIM = 16


def synth_vectors(spark, n: int, id_offset: int = 0):
    """Deterministic synthetic embeddings, JVM-side: DIM doubles per id
    derived from xxhash64 — no Python in the generator, so corpus
    construction never dominates the measurement."""
    cols = [
        (F.pmod(F.xxhash64(F.col("id") * (i + 1)), F.lit(1000)) / 500.0 - 1.0)
        .cast("double")
        for i in range(DIM)
    ]
    return spark.range(id_offset, id_offset + n).select(
        F.col("id").alias("vec_id"), F.array(*cols).alias("embedding")
    )


def run(spark, n: int) -> dict:
    from etlutils_spark.operators.similarity import (
        ann_index_topk,
        build_ann_index,
        extend_ann_index,
    )

    corpus = synth_vectors(spark, n).persist()
    corpus.count()
    path = os.path.join(tempfile.gettempdir(), f"ann_probe_{os.getpid()}_{n}")
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.time()
    build_ann_index(corpus, path, num_clusters=16, m=4, ksub=16,
                    max_iter=5)
    build_sec = round(time.time() - t0, 2)
    batch = synth_vectors(spark, BATCH, id_offset=10 * n).persist()
    batch.count()
    t0 = time.time()
    codes = extend_ann_index(path, batch)
    n_codes = codes.count()
    extend_sec = round(time.time() - t0, 2)
    assert n_codes == n + BATCH, (n_codes, n + BATCH)
    # the in-distribution extend must not trip the drift trigger; a
    # deliberately shifted batch must (the quantizers were never
    # trained on vectors at 100x magnitude)
    from etlutils_spark.operators.similarity import ann_index_drift

    drift_same = ann_index_drift(spark, path)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        extend_ann_index(
            path,
            synth_vectors(spark, BATCH, id_offset=20 * n).select(
                "vec_id",
                F.transform(
                    "embedding", lambda x: x * 100.0 + 100.0
                ).alias("embedding"),
            ),
        )
    drift_shifted = ann_index_drift(spark, path)
    union = corpus.unionByName(batch)
    q = corpus.filter(F.col("vec_id") < 5)
    t0 = time.time()
    hits = ann_index_topk(union, path, q, k=10, nprobe=4).count()
    query_sec = round(time.time() - t0, 2)
    corpus.unpersist()
    batch.unpersist()
    shutil.rmtree(path, ignore_errors=True)
    return {
        "corpus": n,
        "batch": BATCH,
        "build_sec": build_sec,
        "extend_sec": extend_sec,
        "query_nprobe4_sec": query_sec,
        "query_hits": hits,
        "drift_ratio_same_dist": drift_same and round(drift_same["ratio"], 3),
        "drift_ratio_shifted": drift_shifted
        and round(drift_shifted["ratio"], 3),
        "drift_tripped_shifted": drift_shifted and drift_shifted["drifted"],
    }


def run_accumulated(spark, n: int, n_batches: int = 12) -> dict:
    """Extend cost as BATCHES ACCUMULATE (the dedup index's r7
    flatness axis, applied to the ANN artifact): build on n vectors,
    fold n_batches successive 500-vector batches, time every extend.
    The only stored-side term is the replay-dedup anti-join over the
    codes table's id column — one columnar scan that grows with the
    corpus by 500 rows/batch, so the per-extend wall must stay ~flat
    across the sequence."""
    from etlutils_spark.operators.similarity import (
        build_ann_index,
        extend_ann_index,
    )

    corpus = synth_vectors(spark, n).persist()
    corpus.count()
    path = os.path.join(tempfile.gettempdir(), f"ann_acc_{os.getpid()}_{n}")
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.time()
    build_ann_index(corpus, path, num_clusters=16, m=4, ksub=16,
                    max_iter=5)
    build_sec = round(time.time() - t0, 2)
    extend_secs, code_rows = [], []
    for k in range(n_batches):
        # persist + count BEFORE the timer, mirroring run(): the timed
        # window must hold extend cost only, not batch synthesis
        batch = synth_vectors(
            spark, BATCH, id_offset=(10 + k) * max(n, BATCH)
        ).persist()
        batch.count()
        t0 = time.time()
        codes = extend_ann_index(path, batch)
        extend_secs.append(round(time.time() - t0, 2))
        code_rows.append(codes.count())
        batch.unpersist()
    corpus.unpersist()
    shutil.rmtree(path, ignore_errors=True)
    return {
        "corpus": n,
        "batch": BATCH,
        "n_batches": n_batches,
        "build_sec": build_sec,
        "extend_secs": extend_secs,
        "code_rows_after_each": code_rows,
    }


def main() -> None:
    from etlutils_spark.session import get_session

    args = sys.argv[1:]
    spark = get_session(
        "stress_ann",
        **{"spark.driver.memory": "8g", "spark.sql.shuffle.partitions": "32"},
    )
    if args and args[0] == "accumulate":
        n = int(args[1]) if len(args) > 1 else 50000
        n_batches = int(args[2]) if len(args) > 2 else 12
        report = run_accumulated(spark, n, n_batches)
    else:
        scales = [int(a) for a in args] or [5000, 50000]
        report = [run(spark, n) for n in scales]
    print(json.dumps(report, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()

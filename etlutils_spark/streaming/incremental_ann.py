"""Streaming ingest into the materialize-once ANN index artifact.

The ANN twin of ``streaming/incremental_lsh.py::streaming_dedup_index``
(the r6 verdict #4 pattern applied to the similarity tier): the
foreachBatch body IS ``operators.similarity.extend_ann_index``, so
IVF-cell assignment, PQ encoding against the frozen quantizers,
dim validation, and replay idempotency (already-present ids dropped
before the append) are literally shared with the batch operator rather
than re-implemented.

Reference parity note: the R reference (ETLUtils) has no similarity or
streaming tier at all — this module is part of the LLM-data-pipeline
extension surface, built on Structured Streaming + the artifact layout
documented at ``operators/similarity.py::build_ann_index``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etlutils_spark.operators.similarity import _TRAIN_SAMPLE_LIMIT


def streaming_ann_index(
    vectors: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_clusters: int = 16,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    sample_limit: int = _TRAIN_SAMPLE_LIMIT,
    compact_every: int | None = None,
):
    """Fold a vector STREAM into a ``build_ann_index`` artifact.

    ``compact_every=N`` folds maintenance into the stream: every N
    micro-batches the codes table is rewritten in place
    (``compact_ann_index`` — crash-safe swap, content byte-identical),
    so a long-running ingest never accumulates unbounded append files.
    Counted on processed non-empty batches, so replayed/empty epochs
    don't skew the cadence. Default off: batch jobs schedule
    compaction on their own cadence.

    Cold start: the first non-empty micro-batch bootstraps the
    artifact with ``build_ann_index`` — the IVF centroids and PQ
    codebooks are therefore trained on THAT batch and frozen, exactly
    the batch artifact's contract (quantizer drift under distribution
    shift is handled by periodic rebuild, not by retraining mid-
    stream, which would silently re-encode nothing and mix code
    spaces). Size the first batch accordingly: it must carry at least
    ``num_clusters`` vectors, and a representative sample of the
    distribution it can manage.

    The cold-start probe (``sources.sidecar.bootstrap_action``, on
    ``path/params`` — the build's last write) distinguishes three
    states: committed -> extend; absent -> build from the replayed
    batch; a torn, directory or key-incomplete params -> raise,
    because that means a DAMAGED committed artifact and rebuilding
    from one micro-batch would destroy the stored corpus. Later
    batches run ``extend_ann_index``: O(batch),
    the stored corpus is never re-read or re-encoded, and at-least-
    once replays are idempotent (the extend drops ids already in the
    codes table). After the stream drains, the codes table is
    bit-identical to bootstrapping on the same first batch and batch-
    extending the remainder in any batching — pinned by the
    ``ann_index_streaming`` oracle registration and the
    stream==batch test.

    Returns the StreamingQuery."""
    from etlutils_spark.operators.similarity import (
        build_ann_index,
        compact_ann_index,
        extend_ann_index,
    )
    from etlutils_spark.sources.sidecar import bootstrap_action

    processed = {"n": 0}

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # a compaction that died between its two renames (codes table
        # missing, fully-written tmp beside it) is healed INSIDE
        # extend_ann_index, under the artifact's writer lease and
        # unconditionally (r10: previously healed here, lease-less and
        # only when compact_every was set — a manual compaction crash
        # or a restart without compact_every stayed wedged)
        # committed -> extend; absent -> build; torn, directory or
        # key-incomplete params -> raise (a damaged committed artifact
        # — rebuilding from one micro-batch would destroy the stored
        # corpus)
        if bootstrap_action(spark, path, "build_ann_index") == "extend":
            extend_ann_index(path, batch_df, id_col=id_col, vec_col=vec_col)
        else:
            build_ann_index(
                batch_df,
                path,
                num_clusters=num_clusters,
                m=m,
                ksub=ksub,
                id_col=id_col,
                vec_col=vec_col,
                seed=seed,
                max_iter=max_iter,
                sample_limit=sample_limit,
            )
        processed["n"] += 1
        if compact_every and processed["n"] % int(compact_every) == 0:
            # maintenance between batches: the extend above released
            # the lease, compaction re-acquires it; a crash inside the
            # swap is healed by the next extend's in-lease heal —
            # content is unchanged either way, so replay semantics are
            # unaffected
            compact_ann_index(spark, path)

    return (
        vectors.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

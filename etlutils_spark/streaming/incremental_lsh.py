"""Incremental MinHash+LSH near-duplicate detection under Structured
Streaming: an append-only profile index maintained across micro-batches,
with each batch's documents checked against the whole corpus seen so
far. The index rows are the MinHash engine's per-document profiles
(``operators.dedup.batch_profiles``), the same rows the batch pipeline
(``minhash_dedup_pairs``) and the extendable index (``build_dedup_index``)
run on, so a streamed pair is the batch pair.

The reference is batch-only (SURVEY §2.7); this is the extension tier
pattern a training-data ingest pipeline actually runs: documents arrive
continuously, and each must be deduplicated against *everything already
ingested* without re-shingling the corpus.

Index design (the 100 TB story):
- One row per document: ``(doc_id, band_sigs array<bigint>,
  shingle_hashes array<bigint>, n_sh)``. Shingle sets are stored as
  64-bit xxhash64 values — exact intersection counts (modulo ~2^-64
  collisions) at 8 bytes per shingle, so the index is ~1-2% of corpus
  bytes and append-only parquet. Band signatures are 8-byte xxhash64
  digests of the md5 minhash rows (``operators.dedup.band_sig_array``).
- Per batch, only the NEW documents are shingled (incremental cost is
  O(batch), never O(corpus)); the candidate join explodes band
  signatures on both sides and equi-joins on (band_idx, band_sig) with
  the batch as the broadcast side (``operators.dedup._probe_and_verify``,
  the same pass ``extend_dedup_index`` runs), so the index is scanned
  once and never shuffled.
- Verification is exact Jaccard via ``array_intersect`` on the stored
  shingle-hash sets — no re-tokenization of old documents.

Failure/exactly-once: foreachBatch + checkpoint gives at-least-once
appends; replayed batches re-append the same doc_ids, which the
candidate join tolerates (``id_1 < id_2`` excludes self-pairs and the
pair sink is idempotent per (id_1, id_2) after downstream distinct).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etlutils_spark.operators.dedup import (
    _probe_and_verify,
    batch_profiles,
    build_dedup_index,
    compact_dedup_index,
    extend_dedup_index,
)
from etlutils_spark.sources.sidecar import bootstrap_action, sidecar_kind


def streaming_dedup_index(
    docs: DataFrame,
    path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    compact_every: int | None = None,
):
    """Streaming ingest into the batch-incremental dedup index: ONE
    code path for both modes (r6 verdict #4). Each micro-batch is
    folded by ``operators.dedup.extend_dedup_index`` — the foreachBatch
    body IS the batch operator, so probe math, verification, CC scope,
    drift fallback, edge compaction, and the replay contract are all
    literally shared rather than re-implemented (this module's
    ``incremental_minhash_dedup`` is the pair-stream form of the same
    index; this is the label-table form).

    Cold start: the first non-empty batch bootstraps the artifact with
    ``build_dedup_index``. Existence is judged by ``path/params`` —
    the LAST table the build writes — so a build that crashed mid-way
    is simply rebuilt (all build writes are overwrite-mode).
    At-least-once replays of an extend batch converge to the same
    labels (the extend replay-idempotency pin); after the stream
    drains, ``path/labels`` is bit-identical to a from-scratch batch
    build on everything ingested (pinned by the
    ``dedup_clusters_streaming`` oracle).

    ``compact_every=N`` folds maintenance into the stream: every N
    processed non-empty micro-batches the append-grown profile table
    (and unbucketed label appends) is rewritten in place
    (``compact_dedup_index`` — crash-safe swap, content byte-identical,
    labels unchanged), so a long-running ingest never accumulates
    unbounded files. Default off.

    Returns the StreamingQuery."""
    processed = {"n": 0}

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # a compaction that died mid-swap is healed INSIDE
        # extend_dedup_index, under the artifact's writer lease and
        # unconditionally (r10: previously healed here, lease-less and
        # only when compact_every was set — a manual compaction crash
        # or a restart without compact_every stayed wedged)
        # cold-start probe (sources.sidecar.bootstrap_action):
        # committed -> extend; absent -> build; a torn, directory or
        # key-incomplete params -> raise, because that state means a
        # DAMAGED committed index and rebuilding from one micro-batch
        # would silently destroy the stored corpus. No Spark job and
        # no FileStreamSink WARN stack per micro-batch.
        if bootstrap_action(spark, path, "build_dedup_index") == "extend":
            extend_dedup_index(path, batch_df, text_col, id_col)
        else:
            build_dedup_index(
                batch_df, path, text_col, id_col, n, num_hashes, bands,
                threshold,
            )
        processed["n"] += 1
        if compact_every and processed["n"] % int(compact_every) == 0:
            # between-batch maintenance under its own lease hold;
            # content-identical, so replay semantics are unaffected
            # (a mid-swap crash is healed by the next extend's
            # in-lease heal)
            compact_dedup_index(spark, path)

    return (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def incremental_minhash_dedup(
    docs: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
):
    """Start the streaming query: for each micro-batch of documents,
    emit verified near-dup pairs (new-vs-corpus and new-vs-new) to
    ``pairs_dir`` and append the batch's signature profiles to
    ``index_dir``. Returns the StreamingQuery.

    Order inside a batch: the batch is probed against the index state
    BEFORE the batch is appended and against itself, so every pair is
    discovered exactly once, in the batch that completes it."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        prof = batch_profiles(batch_df, text_col, id_col, n, num_hashes, bands)
        # an FS-API existence check, not a read that fails: reading a
        # missing path logs a FileStreamSink stack on every cold start.
        # The index holds this stream's profiles, so it is read with
        # their schema (no inference job)
        if sidecar_kind(spark, index_dir) == "dir":
            index = spark.read.schema(prof.schema).parquet(index_dir)
        else:
            index = prof.limit(0)
        # the extend's probe: new-vs-index and new-vs-new pairs in one
        # broadcast pass, each as (min, max) — so an at-least-once
        # replay of a logical pair always lands in pairs_dir the same
        # way and the downstream distinct dedupes it
        pairs = _probe_and_verify(index, prof, threshold, with_jaccard=True)
        pairs.write.mode("append").parquet(pairs_dir)
        prof.write.mode("append").parquet(index_dir)

    return (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

"""End-to-end batch curation: documents in, sharded training corpus out.

The composition a 100 TB training-data pipeline actually runs, built
from this package's proven stages (each independently oracle-checked):

    quality filter -> exact dedup -> decontamination -> deterministic
    sample -> shard assignment

Stage order is the cost order: the cheap stateless predicates (quality
rules) cut the corpus before anything that shuffles; exact dedup
shuffles only ids + digests; decontamination probes a broadcast
benchmark shingle set; sampling is a stateless digest predicate; shard
assignment is a narrow projection. Payload columns (text/binary) cross
the wire only inside the id-keyed semi-joins' SURVIVOR sets — never
for rows a later stage would discard anyway.

The reference has no curation tier (SURVEY §2 — its pipeline is
ingest/join/export); this is the scale-extension flagship.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etlutils_spark.operators.dedup import decontaminate, drop_exact_duplicates
from etlutils_spark.operators.quality import quality_filter
from etlutils_spark.operators.sampling import assign_shards, hash_sample


def curate_documents(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    min_stopword_ratio: float = 0.05,
    max_avg_token_len: float = 12.0,
    decontam_n: int = 3,
    decontam_min_overlap: int = 25,
    sample_rate: float = 1.0,
    sample_salt: str = "",
    n_shards: int = 16,
    boilerplate_max_doc_frac: float | None = None,
    source_cap: int | None = None,
    source_col: str = "source",
    gopher_rules: bool = False,
    c4_rules: bool = False,
    nb_weights: DataFrame | None = None,
    nb_min_mean_weight: float = 1.0,
    nb_hash_dim: int | None = None,
) -> DataFrame:
    """Run the full curation chain over ``docs`` and return the
    surviving rows (original columns) plus their ``shard`` assignment.

    Every stage is deterministic (rule predicates, min-id exact-dedup
    winners, n-gram overlap, digest-threshold sampling, digest-mod
    sharding), so the output is a pure function of the input — the
    reproducibility contract an auditable corpus build needs, and what
    makes the whole chain DuckDB-oracle-checkable.

    Optional stages (default off — they rewrite/select content):
    ``boilerplate_max_doc_frac`` runs line-level boilerplate removal
    FIRST (cross-document duplicate lines poison exact dedup and
    quality stats downstream, so it precedes them); ``source_cap``
    caps docs per ``source_col`` after dedup (domains shouldn't earn
    quota from duplicates) via the skew-immune approx mode;
    ``gopher_rules`` / ``c4_rules`` additionally require the published
    Gopher (Rae et al. 2021) / C4 (Raffel et al. 2020) rule sets to
    pass alongside the threshold filter — all three are stateless
    predicates, so Catalyst fuses them into the same scan stage;
    ``nb_weights`` (a :func:`quality.nb_token_weights` table, with
    ``nb_hash_dim`` matching its training) runs the DCLM-style
    classifier filter AFTER dedup/source-cap (duplicates shouldn't
    vote, and the join is cheapest on the already-cut corpus),
    keeping docs whose ``mean_weight >= nb_min_mean_weight``; docs
    with zero vocabulary hits have no score and are dropped — score
    foreign corpora with a table trained on a representative seed.
    """
    if boilerplate_max_doc_frac is not None:
        from etlutils_spark.operators.text import line_boilerplate_removal

        cleaned = line_boilerplate_removal(
            docs, max_doc_frac=boilerplate_max_doc_frac,
            text_col=text_col, id_col=id_col,
        ).select(id_col, F.col("text_clean"))
        docs = (
            docs.drop(text_col)
            .join(cleaned, id_col)
            .withColumnRenamed("text_clean", text_col)
        )
    kept = quality_filter(
        docs, text_col, id_col,
        min_tokens=min_tokens, max_tokens=max_tokens,
        min_stopword_ratio=min_stopword_ratio,
        max_avg_token_len=max_avg_token_len,
        keep_only=True,
    )
    if gopher_rules:
        from etlutils_spark.operators.quality import gopher_quality_flags

        kept = gopher_quality_flags(kept, text_col, id_col, keep_only=True)
    if c4_rules:
        from etlutils_spark.operators.quality import c4_quality_flags

        kept = c4_quality_flags(kept, text_col, id_col, keep_only=True)
    kept = drop_exact_duplicates(kept, text_col, id_col)
    if source_cap is not None:
        from etlutils_spark.operators.sampling import cap_per_group

        kept = cap_per_group(
            kept, cap=source_cap, group_col=source_col,
            key_col=id_col, approx=True,
        )
    if nb_weights is not None:
        from etlutils_spark.operators.quality import nb_classifier_scores

        scored = nb_classifier_scores(
            kept, nb_weights, text_col=text_col, id_col=id_col,
            hash_dim=nb_hash_dim,
        )
        keep_ids = scored.filter(
            F.col("mean_weight") >= nb_min_mean_weight
        ).select(id_col)
        kept = kept.join(keep_ids, id_col, "left_semi")
    contam = decontaminate(
        kept, benchmark, n=decontam_n, min_overlap=decontam_min_overlap,
        text_col=text_col, id_col=id_col,
    )
    clean_ids = contam.filter(~F.col("is_contaminated")).select(id_col)
    kept = kept.join(clean_ids, id_col, "left_semi")
    if sample_rate < 1.0:
        kept = hash_sample(kept, sample_rate, key_col=id_col, salt=sample_salt)
    return assign_shards(kept, n_shards, key_col=id_col)


def curate_to_sequences(
    docs: DataFrame,
    seq_len: int = 64,
    window: int = 32,
    vocab_top_n: int = 256,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    min_stopword_ratio: float = 0.05,
    max_avg_token_len: float = 12.0,
) -> DataFrame:
    """Documents in, training sequences out — the tokenizer-side
    completion of ``curate_documents``:

        quality filter -> exact dedup -> span-level dedup REWRITE ->
        vocab induction (on the surviving corpus) -> fixed-length id
        sequence export

    Returns ``pack_ids_export`` rows: ``(group, pack_id, ids,
    n_tokens, full)``. Every stage is deterministic, so the emitted
    sequences are a pure function of the input corpus — rerunning the
    build reproduces byte-identical training data.

    Scale: the same cheap-to-expensive stage order as
    ``curate_documents`` — stateless quality predicates cut the corpus
    first; exact dedup shuffles digests; the span rewrite shuffles span
    keys then only SURVIVING span text; vocab is a bounded top-N; the
    packer's state is seq_len-bounded per key.
    """
    from etlutils_spark.operators.dedup import (
        drop_exact_duplicates,
        window_dedup_rewrite,
    )
    from etlutils_spark.operators.quality import quality_filter
    from etlutils_spark.operators.sampling import pack_ids_export
    from etlutils_spark.operators.text import build_vocab

    kept = quality_filter(
        docs, text_col, id_col,
        min_tokens=min_tokens, max_tokens=max_tokens,
        min_stopword_ratio=min_stopword_ratio,
        max_avg_token_len=max_avg_token_len,
        keep_only=True,
    )
    kept = drop_exact_duplicates(kept, text_col, id_col)
    rewritten = window_dedup_rewrite(
        kept, window=window, text_col=text_col, id_col=id_col
    ).join(docs.select(id_col, group_col), id_col)
    # two consumers (vocab induction + packing) fan out from the
    # rewritten corpus; without materialization the whole quality->
    # exact-dedup->span-rewrite chain executes twice (measured ~2x
    # wall at sf0.1) — same materialize-before-fan-out rule as the
    # checkpointed MinHash profiles of dedup.batch_profiles
    from etlutils_spark.caching import persist_tracked

    rewritten = persist_tracked(rewritten)
    vocab = build_vocab(rewritten, top_n=vocab_top_n, text_col="dedup_text")
    return pack_ids_export(
        rewritten, vocab, seq_len=seq_len, group_col=group_col,
        text_col="dedup_text", id_col=id_col,
    )

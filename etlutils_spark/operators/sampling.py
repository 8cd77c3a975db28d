"""Deterministic sampling, sharding, and sequence packing for
training-data pipelines.

Randomness here is HASH-derived, never RNG-derived: a row's fate is a
pure function of its key, so samples are reproducible across runs,
engines, partitionings, and retries — the property an auditable data
pipeline needs (and the reason every operator below is oracle-checkable
in DuckDB). The reference has no sampling tier (SURVEY §2); this is the
scale-extension surface.

Hash domain: md5 hex strings (the repo's portable-hash convention).
A rate ``r`` keeps rows whose 128-bit digest, read as a fraction of
2^128, is below ``r`` — a lexicographic string compare against a
precomputed 32-hex-char threshold literal. No bigint parsing, no
modulo bias, identical bytes on both engines.

Scale notes:
- hash_sample / stratified_sample are stateless row predicates: no
  shuffle, scan-speed, trivially pushable past column pruning.
- assign_shards is a narrow projection; the per-shard rollup is one
  partial-aggregated groupBy on a uniform key (no skew by
  construction — md5 is uniform).
- pack_sequences windows WITHIN a partition column (shard/source):
  each group's running sum is independent, so parallelism = number of
  groups; never a single global window (that is a one-task bottleneck
  at any scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rate_threshold_hex(rate: float) -> str:
    """Hex-string literal T such that P[md5(key) < T] == rate.

    rate 1.0 returns 'g' — one char past the hex alphabet, so every
    32-char digest compares below it (the naive 2^128 encoding would be
    33 chars starting '1', which sorts BELOW digests starting 2-f)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    if rate >= 1.0:
        return "g"
    return format(int(rate * (1 << 128)), "032x")


def _digest(key_col: str, salt: str) -> F.Column:
    return F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))


def hash_sample(
    df: DataFrame, rate: float, key_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows by key digest.
    ``salt`` decorrelates independent samples over the same keys."""
    return df.filter(_digest(key_col, salt) < F.lit(rate_threshold_hex(rate)))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. language rebalancing:
    upweight low-resource languages by downsampling the head). Same
    digest-threshold predicate, threshold chosen per stratum."""
    thr = F.lit(rate_threshold_hex(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(
            F.col(strata_col) == F.lit(value), F.lit(rate_threshold_hex(rate))
        ).otherwise(thr)
    return df.filter(_digest(key_col, salt) < thr)


def assign_shards(
    df: DataFrame, n_shards: int, key_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Deterministic output-shard assignment: first 8 hex chars of the
    digest mod n_shards (uniform, reproducible). The shard id is both
    the write partition and the packing group."""
    bucket = F.conv(F.substring(_digest(key_col, salt), 1, 8), 16, 10).cast("bigint")
    return df.withColumn("shard", (bucket % F.lit(n_shards)).cast("int"))


def shard_stats(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    token_col: str | None = None,
    text_col: str = "text",
    salt: str = "",
) -> DataFrame:
    """Per-shard manifest: row count + token mass. The balance check a
    sharded export runs before committing a layout. ``salt`` must match
    the ``assign_shards`` salt of the layout being validated — without
    the passthrough the manifest silently described the DEFAULT-salt
    assignment, a layout that would never be written (review catch)."""
    sharded = assign_shards(df, n_shards, key_col, salt)
    n_tok = (
        F.col(token_col)
        if token_col
        else F.size(F.split(F.col(text_col), " "))
    ).cast("bigint")
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tok).alias("n_tokens"),
            F.min(key_col).alias("min_key"),
            F.max(key_col).alias("max_key"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    token_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-split sequence packing: within each group, lay
    documents end-to-end in ``order_col`` order and cut packs every
    ``budget`` tokens (documents may span a cut — the standard
    pretraining packer). Emits per-doc placement:

      (group, doc, n_tokens, start_offset, pack_id, spans_boundary)

    pack_id = start_offset div budget; spans_boundary marks docs whose
    last token falls in a later pack than their first.

    The running sum is a window PARTITIONED BY the group column — each
    shard/source packs independently and in parallel. A global
    (unpartitioned) window would serialize the whole corpus through one
    task; callers wanting corpus-wide packing should shard first
    (assign_shards) and pack per shard."""
    n_tok = (
        F.col(token_col)
        if token_col
        else F.size(F.split(F.col(text_col), " "))
    ).cast("bigint")
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = df.select(
        F.col(group_col), F.col(order_col), n_tok.alias("n_tokens")
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    start = F.col("cum_tokens") - F.col("n_tokens")
    end_incl = F.col("cum_tokens") - F.lit(1)
    return base.select(
        group_col,
        order_col,
        "n_tokens",
        start.alias("start_offset"),
        (start / budget).cast("bigint").alias("pack_id"),
        # a ZERO-token doc occupies no tokens: end_incl = start - 1
        # makes the naive pack compare flag it as boundary-spanning
        # when its offset lands exactly on a cut (review catch) — a
        # doc spans only if it has tokens on both sides
        (
            (F.col("n_tokens") > 0)
            & (
                (start / budget).cast("bigint")
                != (end_incl / budget).cast("bigint")
            )
        ).alias("spans_boundary"),
    )


def mixture_resample(
    df: DataFrame,
    weights: dict[str, float],
    strata_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
    weight_col: str | None = None,
) -> DataFrame:
    """Resample to a target domain mixture (e.g. 30% web / 30% code /
    40% books) at the LARGEST total the data supports, deterministically.

    The feasible total is ``min_s(count_s / w_s)`` (the binding stratum
    is kept whole); every stratum s then keeps ``w_s * total / count_s``
    of its rows via the same digest-threshold predicate as
    ``hash_sample`` — a pure function of the key, so the mixture is
    reproducible under retries and any partitioning. Strata missing
    from ``weights`` are dropped (a mixture is a whitelist).

    Unlike ``stratified_sample`` the rates are DATA-DEPENDENT (derived
    from per-stratum counts), so the threshold compare runs on a 60-bit
    digest-prefix integer against ``floor(rate * 2^60)`` — all IEEE
    scalar arithmetic, bit-identical on any engine, rather than a
    Python-formatted hex literal.

    Scale: one count aggregation (tiny result), the rest is a broadcast
    join + stateless filter at scan speed. No RNG, no shuffle of df.
    """
    if not weights:
        raise ValueError("weights must be a non-empty {stratum: weight} dict")
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(weights.items())], f"{strata_col} string, __wt double"
    )
    # weight_col: mixture targets expressed over TOKEN mass instead of
    # document counts (per-row keep predicate unchanged — kept token
    # mass matches the target in expectation; see temperature_resample)
    mass = F.sum(F.col(weight_col)) if weight_col else F.count(F.lit(1))
    counts = df.groupBy(strata_col).agg(mass.alias("__n"))
    # wdf LEFT-joins counts so a weight stratum ABSENT from the data is
    # visible (the inner join silently dropped it, computed feasibility
    # over the remaining strata, and returned a wrong mixture — e.g. a
    # requested 50/50 en/pt over en-only data came back 100% en; review
    # catch). Per the formula its feasible total is 0; an empty result
    # is a silent trap too, so the assert rides the rates and fails
    # loudly at execution.
    joined = wdf.join(counts, strata_col, "left")
    # an ENTIRELY empty input (every weight stratum absent) keeps the
    # empty-in -> empty-out contract: the NULL rates below filter
    # everything; only a PARTIAL absence — some strata present, the
    # requested mixture genuinely infeasible — is the silent trap that
    # must be loud.
    # The total and the feasibility min are UNPARTITIONED WINDOWS over
    # the <=|weights| joined rows rather than separate aggregate
    # subtrees: the crossJoin(broadcast(agg)) form re-planned and
    # re-ran the counts aggregation once per derived scalar (tot, feas,
    # rates — ~4 sequential jobs of fixed cost each); the windows keep
    # one aggregation job and one single-partition pass over a handful
    # of rows (guide §2.4 — operations keyed the same way share one
    # exchange). Per-row arithmetic is unchanged, so rates (and thus
    # the kept set) are bit-identical.
    allw = Window.partitionBy()
    ok = F.assert_true(
        (F.col("__n").isNotNull() & (F.col("__n") > 0))
        | F.sum("__n").over(allw).isNull(),
        F.concat(
            F.lit("mixture_resample: weight stratum "),
            F.col(strata_col),
            F.lit(
                " has no rows in the data — the requested mixture is "
                "infeasible (feasible total = 0); drop the stratum "
                "from weights or fix the upstream filter"
            ),
        ),
    )
    joined = joined.select(
        strata_col, F.when(ok.isNull(), F.col("__n")).alias("__n"), "__wt"
    )
    total = F.min(F.col("__n") / F.col("__wt")).over(allw)
    rates = joined.select(
        strata_col,
        (F.col("__wt") * total / F.col("__n")).alias("__rate"),
    )
    prefix = F.conv(F.substring(_digest(key_col, salt), 1, 15), 16, 10).cast("long")
    threshold = F.floor(F.col("__rate") * F.lit(float(1 << 60))).cast("long")
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(prefix < threshold)
        .drop("__rate")
    )


def shuffle_export(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic global shuffle for training export: order rows by
    a key digest (a pure function of the key + salt, so re-runs and
    retries produce the identical permutation), laid out as
    ``n_shards`` range partitions each internally digest-sorted.

    Scale: this is a repartitionByRange + sortWithinPartitions — a
    single range-exchange with NO global single-partition sort and no
    window. Writing the result yields shard files whose concatenation
    is the full deterministic permutation; readers that interleave
    shards still see a digest-uniform (i.e. well-shuffled) stream.
    """
    digest = _digest(key_col, salt)
    return (
        df.withColumn("__shuffle_key", digest)
        .repartitionByRange(n_shards, "__shuffle_key")
        .sortWithinPartitions("__shuffle_key")
        # the digest is layout plumbing, not payload: leaving it in
        # added a 33-byte column to every exported row (~330 GB at
        # 10^10 rows) and an unexpected column for schema checks
        # (review catch). The drop projects AFTER the range exchange
        # and sort, which are already physically planned.
        .drop("__shuffle_key")
    )


def train_val_test_split(
    df: DataFrame,
    fractions: tuple[float, float] = (0.8, 0.1),
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic split assignment: digest fraction < f_train ->
    'train', < f_train+f_val -> 'val', else 'test'. Same hash-not-RNG
    contract as hash_sample: a row's split is a pure function of its
    key, so the split survives re-runs, repartitioning, and engine
    changes — and membership is mutually exclusive BY CONSTRUCTION
    (one digest, ordered thresholds), not by bookkeeping."""
    f_train, f_val = fractions
    if not (0 <= f_train and 0 <= f_val and f_train + f_val <= 1):
        raise ValueError(f"invalid fractions {fractions}")
    d = _digest(key_col, salt)
    return df.withColumn(
        "split",
        F.when(d < F.lit(rate_threshold_hex(f_train)), "train")
        .when(d < F.lit(rate_threshold_hex(f_train + f_val)), "val")
        .otherwise("test"),
    )


def cap_per_group(
    df: DataFrame,
    cap: int,
    group_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
    approx: bool = False,
    order_col: str | None = None,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, deterministically — the
    per-domain/per-source cap of web-corpus curation (don't let one
    crawl host dominate the training mixture). Selection is by key
    digest order, so it is a pure function of (key, salt): stable
    under re-runs, repartitioning, and engine changes, like every
    sampler in this module.

    ``order_col`` switches selection from digest order to
    BEST-``order_col``-first (descending, key tie-break) — "keep the
    top-N docs per domain by quality score", the curation form that
    composes with ``quality.rank_blend``. Exact mode only (a
    value-ordered cap has no stateless-threshold equivalent).

    Exact mode (default): ``row_number`` over (group, digest) — one
    shuffle on ``group_col``. The window sorts each group's rows, so a
    pathologically hot group (one domain with 10^9 docs at web scale)
    concentrates in one task; that is exactly the case the cap exists
    for, so at that scale use ``approx=True``.

    ``approx=True``: per-group counts (one combinable agg, broadcast
    back) turn the cap into a per-group digest threshold
    ``cap/n_group`` — a stateless filter, no window, no skew, at the
    cost of binomial noise around the cap (~±sqrt(cap)); groups at or
    under the cap are kept whole exactly."""
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    if order_col is not None and approx:
        raise ValueError(
            "order_col requires exact mode: a value-ordered cap has no "
            "stateless digest-threshold equivalent"
        )
    if not approx:
        order = (
            [F.col(order_col).desc(), F.col(key_col)]
            if order_col is not None
            else [_digest(key_col, salt), F.col(key_col)]
        )
        w = Window.partitionBy(group_col).orderBy(*order)
        return (
            df.withColumn("__capr", F.row_number().over(w))
            .filter(F.col("__capr") <= cap)
            .drop("__capr")
        )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    # digest's leading 60 bits as an INTEGER compared against
    # floor(rate * 2^60) as an integer — the mixture_resample pattern.
    # A double-side compare broke the "groups at or under the cap are
    # kept whole EXACTLY" contract at the edge: prefixes within 64 of
    # 2^60 round UP to exactly 2^60 as doubles and failed lead < 2^60
    # (review catch; ~5.5e-17/row, but the invariant is stated exact)
    lead = F.conv(F.substring(_digest(key_col, salt), 1, 15), 16, 10).cast(
        "long"
    )
    thresh = (
        F.when(F.col("__n") <= cap, F.lit(1 << 60).cast("long"))
        .otherwise(
            F.floor(
                F.lit(cap) / F.col("__n") * F.lit(float(1 << 60))
            ).cast("long")
        )
    )
    # null-safe join: a NULL group is a group like any other (the exact
    # window mode caps it too); plain equality would silently drop
    # every NULL-group row instead of capping them
    cts = counts.withColumnRenamed(group_col, "__grp")
    return (
        df.join(
            F.broadcast(cts), F.col(group_col).eqNullSafe(F.col("__grp"))
        )
        .filter(lead < thresh)
        .drop("__grp", "__n")
    )


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Token-budgeted corpus selection: within each group, take
    documents in deterministic digest order until the group's TOKEN
    budget is exhausted — the mixture lever when targets are token
    counts (what training consumes), not document counts
    (``mixture_resample`` handles doc-count targets).

    Keep rule: a document survives iff the running token total of all
    earlier-ordered documents in its group is < ``budget_tokens``
    (exclusive prefix sum) — so each group overshoots by at most one
    document, the standard greedy-prefix contract, deterministic on any
    engine/partitioning. Output: ``(id, group, n_tokens)``.

    Scale: one window shuffle on the group key; digest order is uniform
    (no sort skew beyond group cardinality — a giant group serializes
    its own prefix sum, the inherent cost of an exact running budget;
    use per-shard sub-budgets when a single group's docs exceed one
    executor's sort capacity).
    """
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        n_tok.alias("n_tokens"),
        _digest(id_col, salt).alias("__ord"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("__ord", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        base.withColumn("__prefix", prefix)
        .filter(F.col("__prefix") < budget_tokens)
        .select(id_col, group_col, "n_tokens")
    )


def pack_ids_export(
    df: DataFrame,
    vocab: DataFrame,
    seq_len: int,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int = 0,
) -> DataFrame:
    """Materialize fixed-length training sequences: encode the corpus
    with ``tokens_to_ids``, lay documents end-to-end per group in
    ``id_col`` order (the ``pack_sequences`` layout), and emit one row
    per ``seq_len``-token pack with the actual id sequence — the
    sample-export step after packing placement. Documents span pack
    boundaries (standard pretraining packing). Output:
    ``(group, pack_id, ids array<bigint>, n_tokens, full)`` — the final
    partial pack has ``full = false``.

    Scale: the token-level explode is the inherent materialization cost
    (one compact (id, offset) row per token); the per-group running
    offset is a window on the group key (groups pack independently and
    in parallel — shard first for corpus-wide packing, exactly as
    ``pack_sequences`` documents); pack assembly is a groupBy whose
    per-key state is bounded by ``seq_len`` by construction.
    Reassembly sorts inside the aggregated array, so results are
    deterministic under any partitioning.
    """
    from etlutils_spark.operators.text import tokens_to_ids

    enc = tokens_to_ids(
        df, vocab, oov_id=oov_id, text_col=text_col, id_col=id_col
    ).join(df.select(id_col, group_col), id_col)
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the running offset must be computed BEFORE the token explode: a
    # window sharing a select with a generator is evaluated over the
    # GENERATED rows (the sum would accumulate n_ids once per token)
    offset = enc.withColumn(
        "__start", F.sum("n_ids").over(w) - F.col("n_ids")
    )
    tok = offset.select(
        group_col, id_col, "__start", F.posexplode("ids").alias("__pos", "__id")
    ).select(
        group_col,
        (F.col("__start") + F.col("__pos")).alias("__g"),
        F.col("__id"),
    )
    packed = tok.select(
        group_col,
        (F.col("__g") / seq_len).cast("bigint").alias("pack_id"),
        (F.col("__g") % seq_len).alias("__off"),
        "__id",
    )
    seq = F.array_sort(F.collect_list(F.struct(F.col("__off"), F.col("__id"))))
    return packed.groupBy(group_col, "pack_id").agg(
        F.transform(seq, lambda s: s["__id"]).alias("ids"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        (F.count(F.lit(1)) == seq_len).alias("full"),
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame | None = None,
    fractions: tuple[float, float] = (0.8, 0.1),
    id_col: str = "doc_id",
    left: str = "doc_id_1",
    right: str = "doc_id_2",
    salt: str = "",
    broadcast_clusters: bool = True,
    components: DataFrame | None = None,
) -> DataFrame:
    """Split assignment keyed by near-dup CLUSTER, not document: every
    member of a connected near-dup component receives the same split,
    so train/eval contamination THROUGH NEAR-DUPLICATES is impossible
    by construction — an i.i.d. per-doc split leaks (a train doc's
    near-copy lands in eval with probability f_eval; cf. the
    train-test-overlap findings of Lee et al., ACL 2022).

    ``pairs`` is any near-dup pair frame (``minhash_dedup_pairs``,
    ``winnow_overlap_pairs``, embedding near-dup...). Output: input
    columns + ``split_key`` (component id; own id for singletons) +
    ``split`` — same digest-threshold contract as
    ``train_val_test_split`` (pure function of the key; survives
    re-runs, repartitioning, engine changes).

    Scale: the component table is bounded by the near-dup pair set
    (tiny vs the corpus) so it broadcasts; docs never shuffle. Set
    ``broadcast_clusters=False`` for pathological pair graphs.
    ``pairs`` may be an ARBITRARY link graph (multiple pair sources
    union'd, chains of pairwise matches): ``connected_components``
    labels any shape, by driver union-find when small and in O(log n)
    star rounds otherwise, reading the pair pipeline once either way.

    Production shape: pass ``components=`` — a precomputed ``(node,
    cluster_id)`` label table (``build_dedup_clusters``'s materialized
    artifact, renamed or as-is via its id column) — instead of
    ``pairs``, so the expensive pair pipeline runs once per corpus
    snapshot, not once per split request. A ``(doc_id, cluster_id)``
    frame is accepted directly (its first column is treated as the
    node id).
    """
    from etlutils_spark.operators.dedup import connected_components

    f_train, f_val = fractions
    if not (0 <= f_train and 0 <= f_val and f_train + f_val <= 1):
        raise ValueError(f"invalid fractions {fractions}")
    if (pairs is None) == (components is None):
        raise ValueError("pass exactly one of pairs= or components=")
    if components is not None:
        node_col = (
            "node" if "node" in components.columns else components.columns[0]
        )
        comp = components.select(
            F.col(node_col).cast("long").alias("node"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
        )
        # a full label table is corpus-sized; rows labeling a node to
        # itself (singletons AND each cluster's minimum member) are
        # redundant under the coalesce below, and dropping them bounds
        # the broadcast side by dup mass — same tiny-side property as
        # the pairs path
        comp = comp.filter(F.col("node") != F.col("cluster_id"))
    else:
        comp = connected_components(pairs, left, right)
    if broadcast_clusters:
        comp = F.broadcast(comp)
    labeled = (
        df.join(comp, df[id_col] == comp["node"], "left")
        .drop("node")
        .withColumn(
            # STRING key, not long: a non-numeric doc id cast to long is
            # NULL, whose digest is NULL, which fails every when() and
            # dumped ~100% of unclustered docs into 'test' (review
            # catch). Numeric ids render the same decimal string either
            # way, so existing splits are unchanged.
            "split_key",
            F.coalesce(
                F.col("cluster_id").cast("string"),
                F.col(id_col).cast("string"),
            ),
        )
        .drop("cluster_id")
    )
    d = _digest("split_key", salt)
    return labeled.withColumn(
        "split",
        F.when(d < F.lit(rate_threshold_hex(f_train)), "train")
        .when(d < F.lit(rate_threshold_hex(f_train + f_val)), "val")
        .otherwise("test"),
    )


def _dyadic_pow(c: F.Column, q4: int) -> F.Column:
    """c^(q4/4) for q4 in {1,2,3,4} as a sqrt chain — sqrt and * are
    correctly-rounded IEEE ops (pow is NOT), so the result is
    bit-identical on any engine."""
    s = F.sqrt(c)
    ss = F.sqrt(s)
    return {4: c, 2: s, 1: ss, 3: s * ss}[q4]


def temperature_resample(
    df: DataFrame,
    alpha: float = 0.5,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "",
    weight_col: str | None = None,
) -> DataFrame:
    """Temperature-based stratum rebalancing (the multilingual
    alpha-sampling of XLM-R / UNIMAX): sampling mass per stratum is
    proportional to ``count^alpha``, flattening the head without
    drowning the tail. alpha=1 is natural frequency (no-op), alpha=0
    downsamples every stratum to the smallest's size.

    Derivation: with weights w_s = n_s^alpha the feasible-mixture rate
    (see ``mixture_resample``) collapses to
    ``rate_s = min_u(n_u^(1-alpha)) / n_s^(1-alpha)`` — the weight
    normalization constant cancels, so no order-dependent float sum
    ever happens. ``alpha`` is restricted to {0, 0.25, 0.5, 0.75}: the
    exponent then evaluates as a sqrt chain (correctly-rounded IEEE,
    engine-portable) instead of ``pow`` (not correctly rounded — the
    same reason the text tier avoids ``ln``; see search.py).

    ``weight_col`` switches the stratum mass from row counts to a
    column sum (e.g. token counts) — production mixtures balance TOKEN
    mass, not document counts; the keep predicate stays per-row, so the
    kept token mass matches the target in expectation (docs vary in
    length — the standard contract).

    Keep predicate: the same 60-bit digest-prefix threshold as
    ``mixture_resample`` — deterministic under retries, partitioning,
    and engine. Scale: one tiny count aggregation, then a broadcast
    join + stateless filter at scan speed; no shuffle of ``df``.
    """
    if alpha == 1.0:
        # natural frequency — the documented no-op baseline (review
        # catch: the docstring advertised alpha=1 while the validation
        # rejected it); every stratum keeps rate 1.0, so the identity
        # is exact, not a threshold compare
        return df
    q4 = (1.0 - alpha) * 4
    if alpha not in (0.0, 0.25, 0.5, 0.75) or q4 != int(q4):
        raise ValueError(
            "alpha must be one of {0, 0.25, 0.5, 0.75, 1} (dyadic "
            "exponents evaluate as correctly-rounded sqrt chains; pow "
            "is not engine-portable)"
        )
    mass = (
        F.sum(F.col(weight_col)) if weight_col else F.count(F.lit(1))
    )
    counts = df.groupBy(strata_col).agg(mass.alias("__n"))
    pw = _dyadic_pow(F.col("__n").cast("double"), int(q4))
    pwc = counts.select(strata_col, pw.alias("__pw"))
    # the feasibility min is an UNPARTITIONED WINDOW over the
    # <=|strata| count rows, not a separate aggregate subtree: the
    # crossJoin(broadcast(agg)) form re-planned and re-ran the counts
    # aggregation for the broadcast build (two full count jobs per
    # run); the window keeps one aggregation and a single-partition
    # pass over a handful of rows (guide §2.4). Per-row arithmetic is
    # unchanged, so rates (and the kept set) are bit-identical.
    rates = pwc.select(
        strata_col,
        (F.min("__pw").over(Window.partitionBy()) / F.col("__pw")).alias("__rate"),
    )
    prefix = F.conv(F.substring(_digest(key_col, salt), 1, 15), 16, 10).cast("long")
    threshold = F.floor(F.col("__rate") * F.lit(float(1 << 60))).cast("long")
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(prefix < threshold)
        .drop("__rate")
    )

"""Approximate-nearest-neighbor similarity search over embedding columns.

Strategies:
- ``cosine_topk``: brute-force — broadcast the (small) query set, one
  scan of the corpus, per-query top-k. Exact baseline; at 100 TB this
  is the per-bucket verify stage, not the outer loop.
- ``lsh_topk``: random-hyperplane LSH — signature per vector (map-side),
  bucket equi-join on band prefixes, cosine only within buckets. The
  scale path: candidate generation cost is |buckets| joins on uniform
  keys, and recall is tunable via planes/bands.
- IVF / PQ (``ivf_topk``, ``pq_topk`` and the materialize-once
  ``build_ann_index`` artifact served by ``ann_index_topk``): one
  seeded k-means (``_lloyd_kmeans``) trained on one deterministic
  sample, one PQ encoder (``_pq_encode``) and one shortlist -> exact
  re-rank tail (``_shortlist_rerank``).

Hyperplanes are generated from a fixed seed so results are
deterministic run-to-run (required for resumable pipelines and for
tests that measure recall against the brute-force baseline).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etlutils_spark.functions.vectors import (
    cosine_exact,
    cosine_fast,
    cosine_threshold_prefilter,
    dot_exact,
    dot_fast,
    norm_exact,
    norm_fast,
)
from etlutils_spark.sources.sidecar import (
    read_params,
    read_sidecar_json,
    write_sidecar_json,
    writer_lease,
)


def _topk_fast_screen(
    pairs: DataFrame,
    query_id_col: str,
    id_col: str,
    qv_col: str,
    cv_col: str,
    qn_col: str,
    cn_col: str,
    k: int,
    corpus_side: DataFrame,
    query_side: DataFrame,
) -> DataFrame:
    """Two-phase exact top-k, phase one: rank every (query, candidate)
    pair by the cheap double fold and keep only rows that could
    possibly reach the exact top-k — fast rank <= k, or fast cosine
    within a provably-conservative error band of the k-th fast cosine,
    or a NULL/NaN fast cosine (malformed rows are kept conservatively
    and settled by the exact fold; Spark orders NaN above every value,
    so without the explicit NaN keeps a NaN-laden vector would seize
    the top fast ranks, poison ``__kth`` into NaN, and the band
    comparison — false against NaN — would silently drop true top-k
    members). The caller evaluates the decimal-exact fold on the
    survivors only and re-ranks; output is identical to exact-scoring
    every pair, because |fast - exact| per pair is bounded by eps_row
    below (the cosine_threshold_prefilter bound, >= 2000x the true
    float+rounding error) and the k-th EXACT cosine is >= the k-th
    FAST cosine minus the query's max eps, so every true top-k member
    clears the band.

    Exchange shape (optimization guide §2.3/§8): the screen's window
    needs a shuffle on ``query_id``, but the ranking/band decision
    depends only on SCALARS — so the pair rows are projected to
    ``(query_id, id, __fast, __eps)`` (~28 B/row) BEFORE that
    exchange, with the folds evaluated map-side. The d-dim embedding
    arrays (~1 KB/row at d=64) never ride the shuffle; survivors
    (~k + band rows per query) are broadcast back and re-joined to
    ``corpus_side`` (by ``id_col``; its ``cn_col`` norm is recomputed
    post-join — same expression tree, bit-identical) and
    ``query_side`` (by ``query_id_col``; must already carry
    ``qn_col``) to fetch vectors for the exact fold. The heavy bytes
    move once, the decision moves as metadata — at the cost of the
    corpus-side subtree being computed twice (screen pass + fetch
    pass), the right trade at scale where exchange bytes, not scans,
    dominate. The survivor set is ``distinct`` so a (pathological)
    duplicate corpus id fans out exactly once per corpus row, matching
    the pre-join semantics."""
    qn, cn = F.col(qn_col), F.col(cn_col)
    eps_row = (
        F.size(qv_col).cast("double")
        * F.lit(1e-9)
        * (F.lit(1.0) + qn * cn)
        / (qn * cn)
    )
    fast_cos = dot_fast(qv_col, cv_col) / (qn * cn)
    wf = Window.partitionBy(query_id_col).orderBy(
        F.desc("__fast"), F.col(id_col)
    )
    wq = Window.partitionBy(query_id_col)
    survivors = (
        pairs.select(
            F.col(query_id_col),
            F.col(id_col),
            fast_cos.alias("__fast"),
            eps_row.alias("__eps"),
        )
        .withColumn("__rf", F.row_number().over(wf))
        .withColumn(
            "__kth",
            F.max(F.when(F.col("__rf") == k, F.col("__fast"))).over(wq),
        )
        .withColumn("__max_eps", F.max("__eps").over(wq))
        .filter(
            (F.col("__rf") <= k)
            | F.col("__fast").isNull()
            | F.col("__kth").isNull()
            | F.isnan("__fast")
            | F.isnan("__kth")
            | F.isnan("__max_eps")
            | (
                F.col("__fast")
                >= F.col("__kth") - F.col("__eps") - F.col("__max_eps")
            )
        )
        .select(query_id_col, id_col)
        .distinct()
    )
    fetched = corpus_side.join(F.broadcast(survivors), id_col).withColumn(
        cn_col, norm_exact(cv_col)
    )
    return fetched.join(F.broadcast(query_side), query_id_col)


def _screened_topk(
    pairs: DataFrame,
    corpus_side: DataFrame,
    query_side: DataFrame,
    k: int,
    query_id_col: str,
    id_col: str,
    cv_col: str,
) -> DataFrame:
    """The exact top-k tail of every screened path: ``pairs`` carry
    the query vector ``__qv`` and norm ``__qn`` and the candidate
    vector ``cv_col`` and norm ``__cn``; ``_topk_fast_screen`` keeps
    only rows that can reach the exact top-k (fetching vectors back from
    ``corpus_side`` / ``query_side``), and the decimal-exact cosine of
    those survivors is ranked (cosine DESC, id ASC). Output (query_id,
    id, cosine, rank), identical to exact-scoring every pair."""
    survivors = _topk_fast_screen(
        pairs, query_id_col, id_col, "__qv", cv_col, "__qn", "__cn", k,
        corpus_side=corpus_side, query_side=query_side,
    )
    scored = survivors.select(
        query_id_col,
        id_col,
        (dot_exact("__qv", cv_col) / (F.col("__qn") * F.col("__cn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    ``queries`` must be broadcast-sized (the common ANN regime: few
    queries, huge corpus). Output: (query_id, vec_id, cosine, rank).
    Self-matches (same id) are excluded.
    """
    from etlutils_spark.sources.files import spread

    # norms precomputed ONCE per vector on each side (|Q| + |corpus|
    # folds), not inside a per-pair cosine (3 folds x |Q|*|corpus|):
    # same expression tree on the same inputs, so values are
    # bit-identical to the fused cosine — only the fold count changes.
    # Measured at sf0.1 corpus-as-queries (knn audit): the quadratic
    # stage drops to ~1/3 the array-fold work.
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", norm_exact("__qv"))
    # spread: the per-(query, vector) cosine work is the CPU stage
    c0 = spread(corpus.select(F.col(id_col), F.col(vec_col).alias("__cv")))
    c = c0.withColumn("__cn", norm_exact("__cv"))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col(query_id_col) != F.col(id_col)
    )
    # two-phase exact top-k: emitted cosines/ranks come from the exact
    # fold — identical output, exact folds only on ~k rows per query;
    # survivors re-join c0 for vectors
    return _screened_topk(pairs, c0, q, k, query_id_col, id_col, "__cv")


def hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (unit Gaussian rows)."""
    rng = np.random.RandomState(seed)
    return rng.randn(num_planes, dim).astype("float64").tolist()


def lsh_signature(vec_col, planes: list[list[float]]):
    """Sign-bit signature of a vector against each hyperplane, as an
    array<int> of 0/1 — all built-in higher-order functions."""
    bits = []
    for p in planes:
        plane = F.array(*[F.lit(float(v)) for v in p])
        dot = F.aggregate(
            F.zip_with(vec_col, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)))
    return F.array(*bits)


def _batch_topk(
    S: "np.ndarray",
    ids: "np.ndarray",
    qids: "np.ndarray",
    k: int,
    query_id_col: str,
    id_col: str,
    score_col: str,
):
    """One Arrow batch's top-``k`` rows per query from its (batch,
    n_queries) score matrix, self-matches excluded: one C-side lexsort
    orders EVERY query's column by (score DESC, id ASC) — no per-query
    Python loop (that loop made corpus-as-queries audits O(|Q|)
    interpreter iterations per batch; measured 16 -> 4 s at 5k
    queries). Returns the pandas rows (query id, id, score)."""
    import pandas as pd

    S[ids[:, None] == qids[None, :]] = -np.inf
    order = np.lexsort(
        (np.broadcast_to(ids[:, None], S.shape), -S), axis=0
    )[: min(k, len(ids))]
    sel_s = np.take_along_axis(S, order, axis=0)    # (k, n_queries)
    keep = sel_s > -np.inf
    qcols = np.broadcast_to(qids[None, :], sel_s.shape)
    return pd.DataFrame({
        query_id_col: qcols[keep],
        id_col: ids[order][keep],
        score_col: sel_s[keep],
    })


# ---- quantizer primitives (every IVF / PQ operator trains, assigns
# and encodes through these) -------------------------------------------------

# Default training-sample size of every quantizer (see _train_sample).
_TRAIN_SAMPLE_LIMIT = 65_536

# Fixed schemas of the ANN artifact's tables: the build writes them
# with these and the readers read them back with them, so a serving
# call pays no schema-inference job. The codes table's id column is
# named by the build's id_col (recorded in path/params).
_CENTROIDS_DDL = "cluster_id int, centroid array<double>"
_CODEBOOKS_DDL = "subspace int, code int, center array<double>"
_CODES_DDL = "{id_col} long, cluster_id int, codes array<int>"


def _train_sample(
    corpus: DataFrame, id_col: str, vec_col: str, sample_limit: int
) -> "np.ndarray":
    """The quantizers' training sample: the first ``sample_limit``
    vectors by ``id_col`` as a raw float64 (n, dim) matrix (n may be 0).
    Deterministic across runs and partitionings — a random sample would
    change the centroids, hence cells and codes, hence every downstream
    shortlist — and bounded by construction (the limit is pushed into
    the scan): quantizer training at 100 TB is always sample-based,
    Lloyd passes over the full corpus would be pointless precision."""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_limit)
        .collect()
    )
    return np.asarray([r[1] for r in rows], dtype=np.float64)


def _unit_rows(X: "np.ndarray") -> "np.ndarray":
    """Rows scaled to unit L2 norm (all-zero rows stay zero)."""
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)


def _sq_dist(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """||c||^2 - 2<x,c> for every (row, centroid): the squared L2
    distance less the per-row constant ||x||^2, so its row argmin is the
    nearest centroid. O(n*k) memory instead of the O(n*k*dim)
    broadcast-difference tensor, which at a 65,536-row sample x dim 768
    x large k is multi-GB of driver RAM."""
    return (C ** 2).sum(-1)[None, :] - 2.0 * (X @ C.T)


def _lloyd_kmeans(
    X: "np.ndarray", k: int, seed: int, iters: int
) -> "np.ndarray":
    """THE k-means of the package: seeded driver-side Lloyd over a
    bounded sample, for the IVF coarse quantizer and for each PQ
    subspace. Deterministic for a given (sample, k, seed, iters)
    regardless of where the sample's rows were scanned from. Empty
    clusters keep their previous centroid; a sample smaller than k pads
    with repeats (degenerate tiny corpora)."""
    rng = np.random.default_rng(seed)
    kk = min(k, len(X))
    # k-means++ (D^2) seeding, Arthur & Vassilvitskii 2007: a plain
    # random init at this budget converges to split/merged clusters on
    # well-separated data (observed: nprobe=1 recall loss on the
    # 4-anchor fixture); D^2 recovers separated modes reliably and is
    # deterministic for a given (sample, seed)
    C = np.empty((kk, X.shape[1]), dtype=np.float64)
    C[0] = X[rng.integers(len(X))]
    d2min = ((X - C[0]) ** 2).sum(-1)
    seeded = 1
    for j in range(1, kk):
        tot = d2min.sum()
        if tot <= 0.0:
            # fewer DISTINCT vectors than kk: every remaining point
            # coincides with a chosen centroid, so the D^2 density is
            # all-zero and rng.choice would raise. Duplicate-heavy
            # corpora (the normal case in a dedup framework) hit this
            # even with len(X) >= k; fall through to the same
            # pad-with-repeats policy as the len(X) < k branch.
            break
        C[j] = X[rng.choice(len(X), p=d2min / tot)]
        d2min = np.minimum(d2min, ((X - C[j]) ** 2).sum(-1))
        seeded = j + 1
    if seeded < kk:
        C[seeded:] = C[0]
    for _ in range(iters):
        a = _sq_dist(X, C).argmin(1)
        for j in range(kk):
            pts = X[a == j]
            if len(pts):
                C[j] = pts.mean(0)
    if kk < k:
        C = np.vstack([C, C[np.zeros(k - kk, dtype=int)]])
    return C


def _pq_codebooks(
    X: "np.ndarray", m: int, ksub: int, seed: int, iters: int = 10
) -> "np.ndarray":
    """PQ codebooks (m, ksub, dim/m) from a raw training sample:
    ``_lloyd_kmeans`` per subspace of the L2-normalized vectors."""
    Xn = _unit_rows(X)
    dim = Xn.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    return np.stack([
        _lloyd_kmeans(Xn[:, s * dsub:(s + 1) * dsub], ksub, seed, iters)
        for s in range(m)
    ])


def _pq_encode(Xn: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """THE PQ encoder: each (normalized) row's nearest codebook entry
    per subspace, as an (n, m) int32 code matrix."""
    m, _, dsub = books.shape
    codes = np.empty((len(Xn), m), dtype=np.int32)
    for s in range(m):
        Xs = Xn[:, s * dsub:(s + 1) * dsub]
        codes[:, s] = _sq_dist(Xs, books[s]).argmin(1)
    return codes


def ivf_index(
    corpus: DataFrame,
    num_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: seeded k-means centroids trained on the
    ``_train_sample`` (the trainer and sample rule of
    :func:`build_ann_index`, so the centroids do not depend on how the
    corpus is partitioned) + every vector assigned to its nearest
    centroid by squared L2 on raw vectors (the artifact's cell rule).

    Returns (assigned corpus with ``cluster_id``, centroid list). At
    scale the assigned corpus is written partitioned by cluster_id so a
    probe reads only nprobe/num_clusters of the data — the IVF analogue
    of partition pruning.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    from etlutils_spark.sources.files import spread

    sample = _train_sample(corpus, id_col, vec_col, _TRAIN_SAMPLE_LIMIT)
    if not len(sample):
        raise ValueError("ivf_index: corpus is empty")
    cents = _lloyd_kmeans(sample, num_clusters, seed, max_iter)

    def assign(batches):
        for pdf in batches:
            if len(pdf):
                X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                cell = _sq_dist(X, cents).argmin(1).astype(np.int32)
                yield pdf.assign(cluster_id=cell)

    src = corpus.select(id_col, vec_col)
    schema = StructType(
        src.schema.fields + [StructField("cluster_id", IntegerType())]
    )
    assigned = spread(src).mapInPandas(assign, schema)
    return assigned, [list(map(float, c)) for c in cents]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """IVF approximate top-k: search only the ``nprobe`` clusters whose
    centroids are nearest each query. ``max_iter`` bounds the
    driver-side Lloyd iterations over the training sample; with nprobe
    == num_clusters the RESULT is centroid-invariant, so a small budget
    loses nothing.

    Cost model: brute force scores |corpus| vectors per query; IVF
    scores ~|corpus| * nprobe / num_clusters. Recall is tunable via
    nprobe (nprobe == num_clusters degenerates to exact; nprobe < 1 is
    rejected). Output shape matches ``cosine_topk`` for direct recall
    measurement.
    """
    if nprobe < 1:
        raise ValueError(f"ivf_topk: nprobe must be >= 1, got {nprobe}")
    assigned, centroids = ivf_index(
        corpus, num_clusters, id_col, vec_col, seed, max_iter=max_iter
    )

    # per query: rank centroids by cosine, keep nprobe cluster ids
    cent = [(i, c) for i, c in enumerate(centroids)]
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(cent, ["cluster_id", "centroid"]).select(
        "cluster_id", F.col("centroid").cast("array<float>").alias("centroid")
    )
    q = queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qv"))
    qc = q.crossJoin(F.broadcast(cent_df)).select(
        query_id_col, "cluster_id",
        cosine_fast("__qv", "centroid").alias("__sim"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.desc("__sim"), F.col("cluster_id"))
    probes = (
        qc.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= nprobe)
        .select(query_id_col, "cluster_id")
    )

    # search only the probed clusters: join prunes the scored set.
    # Norms hoisted: once per probed candidate and per query (linear
    # terms), not per (query, candidate) pair — bit-identical to the
    # fused cosine (see cosine_topk)
    cand = (
        assigned.join(F.broadcast(probes), on="cluster_id")
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn("__cn", norm_exact(vec_col))
    )
    # two-phase exact scoring: survivors re-join the raw corpus (probe
    # membership is already encoded in the surviving pairs) and the
    # broadcast query side for the vectors the exact fold needs
    qq = q.withColumn("__qn", norm_exact("__qv"))
    return _screened_topk(
        cand.join(F.broadcast(qq), on=query_id_col),
        corpus.select(id_col, vec_col), qq, k, query_id_col, id_col, vec_col,
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """LSH-bucketed approximate top-k: vectors agreeing with the query
    on >=1 band of sign bits are candidates; cosine ranks candidates.

    Output: (query_id, vec_id, cosine, rank) — same shape as
    ``cosine_topk`` so recall is directly measurable.
    """
    if dim is None:
        probe = corpus.select(vec_col).first()
        if probe is None:
            raise ValueError(
                "lsh_topk: corpus is empty — pass dim= explicitly to "
                "build an index over a not-yet-populated corpus"
            )
        dim = len(probe[0])
    planes = hyperplanes(dim, num_planes, seed)
    rpb = num_planes // bands

    def banded(df: DataFrame, ident: str) -> DataFrame:
        # the norm rides from the pre-explode projection: one fold per
        # input vector, duplicated (not recomputed) across band rows,
        # so the post-bucket rescoring keeps only the dot fold per
        # candidate pair (bit-identical values — see cosine_topk)
        sig = lsh_signature(F.col(vec_col), planes)
        out = df.select(
            F.col(id_col).alias(ident), F.col(vec_col).alias(f"__v_{ident}"),
            norm_exact(vec_col).alias(f"__n_{ident}"),
            sig.alias("__sig"),
        )
        band_cols = [
            F.concat_ws(",", *[F.element_at("__sig", b * rpb + r + 1).cast("string") for r in range(rpb)])
            .alias(f"band{b}")
            for b in range(bands)
        ]
        out = out.select(ident, f"__v_{ident}", f"__n_{ident}", *band_cols)
        return out.select(
            ident, f"__v_{ident}", f"__n_{ident}",
            F.posexplode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias("band_idx", "band_sig"),
        )

    qb = banded(queries, query_id_col)
    cb = banded(corpus, id_col)
    cand = (
        cb.join(F.broadcast(qb), on=["band_idx", "band_sig"])
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col, id_col,
            f"__v_{query_id_col}", f"__v_{id_col}",
            f"__n_{query_id_col}", f"__n_{id_col}",
        )
        .distinct()
    )
    # NOT two-phase screened (unlike cosine_topk / ivf_topk / the
    # artifact re-ranks): LSH candidates are already bucket-limited to
    # a small fraction of the corpus, so the screen's extra window
    # exchange over vector-laden pair rows measured net-negative here
    # (3.37 -> 3.76 s min-of-5 at sf0.1) while saving few exact folds
    scored = cand.select(
        query_id_col, id_col,
        (
            dot_exact(f"__v_{query_id_col}", f"__v_{id_col}")
            / (F.col(f"__n_{query_id_col}") * F.col(f"__n_{id_col}"))
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Arrow-vectorized exact top-k: broadcast the normalized query
    matrix into every task, score each corpus batch with ONE numpy
    matmul (C @ Q.T), and emit only each batch's per-query top-k.

    This is the brute-force layout that survives 100 TB: per-task work
    is a dense BLAS call over Arrow batches (no per-element expression
    tree), and the shuffle after the map stage carries at most
    k x |queries| rows PER BATCH (partial top-k pushed into the scan —
    the combiner pattern), after which one partitioned window finishes
    the global top-k. Same output contract as ``cosine_topk``; float
    summation order differs (pairwise/BLAS vs left fold), so last-ulp
    scores can differ — tests compare with tolerance.

    Per-batch top-k is exact, not approximate: under the total order
    (cosine DESC, id ASC), every global top-k row is necessarily in its
    own batch's top-k.

    The query side is driver-collected and shipped to every task, so it
    must be broadcast-sized; ``max_query_rows`` (default 100k — ~1 GB of
    f64 at dim 1024, the sane ceiling for a replicated matrix) fails
    fast instead of OOMing the driver when a corpus-sized frame is
    passed by mistake. For query sets beyond the cap, use ``cosine_topk``
    (JVM join) or flip the roles: batch the corpus through as queries.
    """
    from etlutils_spark.sources.files import spread

    qids, Q = _collect_queries(queries, id_col, vec_col, max_query_rows)
    if not len(qids):
        return _empty_topk(corpus.sparkSession, query_id_col, id_col)
    Q = _unit_rows(Q)

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield _batch_topk(
                _unit_rows(C) @ Q.T, ids, qids, k, query_id_col, id_col,
                "cosine",
            )

    partial = spread(corpus.select(id_col, vec_col)).mapInPandas(
        score_batches, schema=f"{query_id_col} long, {id_col} long, cosine double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return partial.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def centroid_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    exact: bool = True,
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid by cosine —
    the cluster-assignment half of embedding-space curation (semantic
    dedup buckets, topic profiling for mixture decisions; cf. the
    SemDeDup pattern of clustering then deduping within clusters).
    Centroids arrive as a DataFrame ``(centroid_id, vec)`` — fixed
    seeds, the centroids :func:`ivf_index` trains, or any
    externally-chosen anchor set. Output: ``(id, cluster_id, cosine)``.

    ``exact=True`` scores with the decimal-exact cosine (bit-identical
    across engines/partitionings — oracle-comparable); ``exact=False``
    is the double fast path.

    Scale: the centroid set is K rows — broadcast; scoring is one
    corpus scan producing K rows per vector, and the argmax is a
    ``max_by`` hash aggregation on the id key (map-side combinable —
    each partition reduces its K candidates per id before the
    exchange), NOT a row_number window (no per-id sort). Ties break to
    the lowest centroid id deterministically.
    """
    # norms once per vector and per centroid, not per (vector, centroid)
    # pair — same bit-identical values as the fused cosine (see
    # cosine_topk), K x fewer corpus-side norm folds
    dot = dot_exact if exact else dot_fast
    nrm = norm_exact if exact else norm_fast
    c = centroids.select(
        F.col(centroid_id_col).alias("__cid"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", nrm("__cv"))
    scored = (
        corpus.select(id_col, vec_col)
        .withColumn("__vn", nrm(vec_col))
        .crossJoin(F.broadcast(c))
        .select(
            id_col,
            F.col("__cid"),
            (dot(vec_col, "__cv") / (F.col("__vn") * F.col("__cn"))).alias(
                "__cos"
            ),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(F.col("__cid"), F.col("__cos")),
            F.struct(F.col("__cos"), (-F.col("__cid")).alias("__nb")),
        ).alias("__best")
    )
    return best.select(
        id_col,
        F.col("__best.__cid").alias(centroid_id_col),
        F.col("__best.__cos").alias("cosine"),
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = True,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Semantic deduplication (the SemDeDup pattern — Abbas et al.,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", 2023): assign every vector to its nearest centroid
    (``centroid_assign``), then WITHIN each cluster drop every vector
    whose cosine to a lower-id cluster-mate reaches ``threshold``.
    Survivors keep their cluster label: output ``(id, cluster_id)``.

    Drop rule is lowest-id-wins and non-transitive (a vector survives
    unless some retained-or-dropped lower-id mate is near it) — the
    deterministic one-pass contract of the paper, not connected
    components; use ``dedup.connected_components`` when transitive
    grouping is wanted.

    Scale: clustering exists precisely to BOUND the quadratic — the
    pairwise stage is per-cluster (shuffle on cluster_id), so cost is
    sum over clusters of |c|^2, not |corpus|^2, and K is the lever.
    Skewed clusters are the risk (one mega-cluster re-creates
    all-pairs): raise K or recurse into oversized clusters; the
    assignment stage itself is linear and broadcast-only.
    ``max_cluster_size`` makes that failure LOUD — raise instead of
    silently running a quadratic join over a mega-cluster (the same
    fail-fast contract as ``cosine_topk_arrow``'s query-size guard and
    ``merge_upsert``'s partition budget).
    """
    from etlutils_spark.caching import persist_tracked

    dot = dot_exact if exact else dot_fast
    nrm = norm_exact if exact else norm_fast
    assigned = centroid_assign(
        corpus, centroids, id_col=id_col, vec_col=vec_col, exact=exact
    ).select(id_col, "cluster_id")
    # the norm rides the persisted frame: computed once per vector,
    # read cached by BOTH sides of the within-cluster self-join (the
    # fused per-pair cosine cost 3 folds per pair; values identical)
    av = persist_tracked(
        assigned.join(corpus.select(id_col, vec_col), id_col).withColumn(
            "__nrm", nrm(vec_col)
        )
    )
    if max_cluster_size is not None:
        big = (
            av.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_cluster_size)
            .limit(1)
            .collect()
        )
        if big:
            raise ValueError(
                f"cluster {big[0]['cluster_id']} has {big[0]['__n']} members "
                f"> max_cluster_size={max_cluster_size}: the within-cluster "
                "pairwise stage would be quadratic in it. Raise the centroid "
                "count K, or recurse semantic_dedup into the oversized "
                "cluster with finer centroids."
            )
    a = av.select(
        "cluster_id",
        F.col(id_col).alias("__id1"),
        F.col(vec_col).alias("__v1"),
        F.col("__nrm").alias("__n1"),
    )
    b = av.select(
        "cluster_id",
        F.col(id_col).alias("__id2"),
        F.col(vec_col).alias("__v2"),
        F.col("__nrm").alias("__n2"),
    )
    pairs = a.join(b, "cluster_id").filter(F.col("__id1") < F.col("__id2"))
    if exact:
        # double-fold band screen before the decimal fold (identical
        # output — see cosine_threshold_prefilter): the within-cluster
        # quadratic pays the exact fold only for pairs that could
        # actually clear the threshold
        pairs = pairs.filter(
            cosine_threshold_prefilter(
                "__v1", "__v2", F.col("__n1"), F.col("__n2"), threshold
            )
        )
    dropped = (
        pairs
        .filter(
            dot("__v1", "__v2") / (F.col("__n1") * F.col("__n2"))
            >= threshold
        )
        .select(F.col("__id2").alias(id_col))
        .distinct()
    )
    return av.join(dropped, id_col, "left_anti").select(id_col, "cluster_id")


def profile_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension corpus statistics for an embedding column — the
    sanity check before ANN/clustering work: a dimension with zero
    variance (min == max) is dead weight in every distance, a mean far
    from 0 suggests the embeddings were never centered, and wildly
    uneven ranges mean unnormalized vectors. Output one row per
    dimension: ``(dim, mean_val, min_val, max_val, n_vectors)``.

    Scale: one posexplode (dim-multiplied row count, narrow rows) and
    one combinable aggregation on the dimension key — a single shuffle
    of (dim, partial-agg) pairs. The mean is the scaled-long form
    (floor(v*1e9) summed as exact integers — the Q1 scaled-long
    pattern): 1e-9 resolution, bit-identical under any partitioning
    AND any engine (a decimal(·,12) sum of float inputs differs by an
    ulp cross-engine in the final decimal->double conversion — measured
    on this corpus).
    """
    dims = df.select(
        F.posexplode(F.col(vec_col)).alias("dim", "__v")
    ).select("dim", F.col("__v").cast("double").alias("__v"))
    scaled = F.floor(F.col("__v") * 1e9).cast("long")
    mean = F.sum(scaled).cast("double") / (F.count(F.lit(1)) * F.lit(1e9))
    return dims.groupBy("dim").agg(
        mean.alias("mean_val"),
        F.min("__v").alias("min_val"),
        F.max("__v").alias("max_val"),
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: float = 1e6,
) -> DataFrame:
    """Population covariance matrix of an embedding column — the
    PCA/whitening-prep statistic for SemDeDup-style pipelines (which
    dimensions co-vary, what a projection should keep). Output: one
    row per upper-triangle entry ``(i, j, n_vectors, s_i, s_xx,
    cov_pop)`` with 0-based ``i <= j``; ``s_xx`` is the exact scaled
    cross-moment the covariance derives from and ``s_i`` the exact
    scaled sum of dimension ``i`` (diagonal rows therefore carry the
    per-dimension means for free — :func:`pca_model` reads them
    instead of paying a second corpus pass).

    Numerics are the Q1 scaled-long pattern (cf.
    :func:`profile_embeddings`): each element is quantized to
    ``floor(v * scale)`` as int64, and all sums are EXACT integer
    arithmetic — the result is bit-identical under any partitioning
    and any engine; ``cov_pop`` then comes from one fixed IEEE
    expression over those exact integers. Quantization bounds the
    error at ~1/scale per element (1e-6 resolution by default) — a
    diagnostic statistic, not a physics simulation.

    Scale: the classic one-pass pattern — each Arrow batch emits ONE
    d(d+1)/2-row partial (n, sum_i, sum_j, sum_ij from an int64
    ``Q.T @ Q``), so the shuffle carries partials-per-batch, never
    per-row terms: ~2080 rows per batch at d=64 regardless of corpus
    size, combined by a groupBy on (i, j). No d^2-column codegen, no
    per-row explode join."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = np.floor(X * scale).astype(np.int64)
            # numpy int64 matmul WRAPS silently on overflow — a corpus
            # with |v| large relative to 1/scale would yield a wrong but
            # plausible-looking covariance. Bound the worst-case
            # accumulated dot product in exact Python ints and refuse
            # loudly instead (caller lowers `scale` or pre-normalizes).
            amax = int(np.abs(Q).max()) if Q.size else 0
            if amax * amax * len(Q) >= 2**62:
                raise ValueError(
                    "embedding_covariance: int64 partial would overflow "
                    f"(max|q|={amax}, batch={len(Q)}); lower scale= "
                    f"(currently {scale:g}) or normalize the embeddings"
                )
            S = Q.sum(axis=0)
            P = Q.T @ Q  # exact: guarded above, products << 2^63
            iu, ju = np.triu_indices(Q.shape[1])
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "n": np.full(len(iu), len(Q), dtype="int64"),
                    "s_i": S[iu],
                    "s_j": S[ju],
                    "p": P[iu, ju],
                }
            )

    partials = df.select(vec_col).mapInPandas(
        run, schema="i int, j int, n bigint, s_i bigint, s_j bigint, p bigint"
    )
    # the CROSS-batch combine can exceed int64 even when every batch
    # passed the per-batch guard (10M unit-norm vectors at scale=1e6
    # sum diagonal s_xx to ~1e19 > 2^63 — review catch), and an
    # ANSI-off session would wrap a long sum silently. Sum as
    # decimal(38,0) — exact to 1e38, far beyond any real corpus — and
    # bound-check LOUDLY (engine-config-independent) before the int64
    # downcast that the output schema and oracle pin.
    aggd = partials.groupBy("i", "j").agg(
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.sum(F.col("s_i").cast("decimal(38,0)")).alias("__si_d"),
        F.sum(F.col("s_j").cast("decimal(38,0)")).alias("__sj_d"),
        F.sum(F.col("p").cast("decimal(38,0)")).alias("__p_d"),
    )
    bound = F.lit(2**62).cast("decimal(38,0)")
    ok = (
        (F.abs(F.col("__p_d")) < bound)
        & (F.abs(F.col("__si_d")) < bound)
        & (F.abs(F.col("__sj_d")) < bound)
    )
    msg = F.lit(
        "embedding_covariance: corpus-total moment exceeds int64 — "
        "lower scale= or pre-normalize the embeddings"
    )

    def guarded(col: str):
        # the assert rides the value expression so column pruning can
        # never drop it while the value survives
        return F.when(
            F.assert_true(ok, msg).isNull(), F.col(col).cast("long")
        )

    agg = aggd.select(
        "i", "j", "n_vectors",
        guarded("__si_d").alias("s_i"),
        guarded("__sj_d").alias("__sj"),
        guarded("__p_d").alias("s_xx"),
    )
    n = F.col("n_vectors").cast("double")
    # mean-product form keeps every term within double's exact-integer
    # range (n * sum_ij would not); one fixed expression tree over
    # exact integers -> deterministic IEEE result cross-engine
    cov = (
        F.col("s_xx").cast("double") / n / F.lit(float(scale) ** 2)
        - (F.col("s_i").cast("double") / n / F.lit(float(scale)))
        * (F.col("__sj").cast("double") / n / F.lit(float(scale)))
    )
    return agg.select(
        "i", "j", "n_vectors", "s_i", "s_xx", cov.alias("cov_pop")
    )


def pca_model(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    scale: float = 1e6,
) -> dict:
    """Fit a PCA model to an embedding column the scalable way: the
    corpus contributes ONLY the exact d x d covariance (one
    :func:`embedding_covariance` pass — partials-per-batch, never
    per-row terms; the d means ride the same pass on the diagonal
    rows' exact sums); the eigendecomposition runs on the driver over that d x d
    matrix (64x64 here — microseconds), never over data. This is how
    PCA is done at any corpus size: the data-sized work is the moment
    aggregation, which is exact here (scaled-long integers), so the
    fitted model is deterministic for a given corpus under any
    partitioning.

    Returns ``{"mean": (d,), "components": (k, d) rows = descending-
    eigenvalue principal axes, "eigenvalues": (k,), "trace": float,
    "n_vectors": int}``. Component signs are fixed (largest-|loading|
    coordinate positive) so the model is reproducible run to run.
    Whitening-prep for SemDeDup-style embedding curation: project with
    :func:`pca_project`."""
    import numpy as np

    cov_rows = embedding_covariance(df, vec_col, scale).collect()
    if not cov_rows:
        raise ValueError("pca_model: empty embedding column")
    d = max(r.j for r in cov_rows) + 1
    C = np.zeros((d, d))
    mean = np.zeros(d)
    for r in cov_rows:
        C[r.i, r.j] = r.cov_pop
        C[r.j, r.i] = r.cov_pop
        if r.i == r.j:  # diagonal carries the exact dimension sums
            mean[r.i] = r.s_i / (r.n_vectors * scale)
    n_vectors = int(cov_rows[0].n_vectors)
    w, V = np.linalg.eigh(C)  # ascending
    order = np.argsort(w)[::-1][: int(k)]
    comps = V[:, order].T  # (k, d)
    # deterministic sign: the largest-|loading| coordinate is positive
    for i in range(comps.shape[0]):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {
        "mean": mean,
        "components": comps,
        "eigenvalues": w[order],
        "trace": float(np.trace(C)),
        "n_vectors": n_vectors,
    }


def pca_project(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pca",
    whiten: bool = False,
) -> DataFrame:
    """Project an embedding column onto a :func:`pca_model`'s
    principal axes: ``(x - mean) @ components.T`` per row, Arrow-
    batched (one matmul per batch, no shuffle). Output:
    ``(id_col, out_col array<double>)`` with ``len(out_col) == k``.

    ``whiten=True`` additionally divides each component by
    ``sqrt(eigenvalue)`` so the projected dimensions have unit
    variance — the standard preconditioning before cosine/Euclidean
    comparisons in SemDeDup-style embedding curation (otherwise the
    top component dominates every distance). Components whose
    eigenvalue is ~0 (below 1e-12 x the largest) stay UNwhitened:
    dividing by ~sqrt(0) would amplify quantization noise into the
    dominant signal."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    mean = np.asarray(model["mean"], dtype=np.float64)
    comps = np.asarray(model["components"], dtype=np.float64)
    if whiten:
        lam = np.asarray(model["eigenvalues"], dtype=np.float64)
        floor = 1e-12 * max(float(lam.max()), 1e-300)
        scale_w = np.where(lam > floor, 1.0 / np.sqrt(np.maximum(lam, floor)), 1.0)
        comps = comps * scale_w[:, None]

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Y = (X - mean) @ comps.T
            yield pd.DataFrame(
                {id_col: pdf[id_col], out_col: list(Y)}
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, {out_col} array<double>"
    )


def standardize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "embedding_std",
) -> DataFrame:
    """Per-dimension standardization ((v - mean) / std) of an embedding
    column — the preprocessing pass before clustering/ANN when
    dimensions have uneven ranges (see ``profile_embeddings``, which
    diagnoses exactly that). Zero-variance dimensions standardize to
    0.0 (a loud NaN would poison every downstream distance).

    Determinism: dimension means/variances accumulate in the scaled
    form (floor(v*1e9) / floor(v*v*1e9) summed as exact decimal(38,0)
    integers — overflow-free to 1e38, where a long sum would silently
    wrap around 9e9 unit-norm rows; DuckDB's BIGINT sum widens to
    HUGEINT, so the engines agree), so the statistics are bit-identical
    under any partitioning and any engine; the apply step is single
    IEEE ops. NULL or empty embeddings keep their row with a NULL
    output (posexplode alone would silently drop them). Scale: one
    posexplode + combinable agg for the stats (dim-keyed shuffle of
    partial sums), stats broadcast back, apply is stateless column
    algebra."""
    exploded = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "__v")
    ).select(id_col, "dim", F.col("__v").cast("double").alias("__v"))
    s1 = F.sum(F.floor(F.col("__v") * 1e9).cast("decimal(38,0)"))
    s2 = F.sum(
        F.floor(F.col("__v") * F.col("__v") * 1e9).cast("decimal(38,0)")
    )
    n = F.count(F.lit(1))
    stats = exploded.groupBy("dim").agg(
        (s1.cast("double") / (n * F.lit(1e9))).alias("__mean"),
        F.sqrt(
            F.greatest(
                s2.cast("double") / (n * F.lit(1e9))
                - (s1.cast("double") / (n * F.lit(1e9)))
                * (s1.cast("double") / (n * F.lit(1e9))),
                F.lit(0.0),
            )
        ).alias("__std"),
    )
    std_rows = exploded.join(F.broadcast(stats), "dim").select(
        id_col,
        "dim",
        F.when(F.col("__std") == 0.0, F.lit(0.0))
        .otherwise((F.col("__v") - F.col("__mean")) / F.col("__std"))
        .alias("__s"),
    )
    seq = F.array_sort(F.collect_list(F.struct(F.col("dim"), F.col("__s"))))
    arrays = std_rows.groupBy(id_col).agg(
        F.transform(seq, lambda s: s["__s"]).alias(out_col)
    )
    # re-attach rows whose embedding was NULL/empty (no exploded rows)
    return df.select(id_col).join(arrays, id_col, "left")


def standardize_embeddings_rows(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Row-per-dimension form of ``standardize_embeddings`` —
    ``(id, dim, std_val)`` scalars (the oracle-checkable projection;
    the array form above is the production output)."""
    arr = standardize_embeddings(df, vec_col, id_col)
    return arr.select(
        F.col(id_col), F.posexplode("embedding_std").alias("dim", "std_val")
    )


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the 4-8× storage
    compressor embedding pipelines apply before ANN indexing (codes +
    one float scale per vector; reconstruction error bounded by
    scale/2 per dimension by construction).

    ``scale = max|v_i| / 127``; ``code_i = floor(v_i/scale + 0.5)``
    (half-up via floor — ``round()`` is banker's-vs-half-up ambiguous
    across engines, floor/abs/division are single correctly-rounded
    IEEE ops, so codes are bit-identical in any engine — the module's
    portability convention). Zero vectors quantize to all-zero codes
    with scale 0. Output: ``(id_col, scale, codes array<int>)``.

    Scale: stateless per-row column algebra — no shuffle, no Python,
    full codegen; at 100 TB this is scan speed."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    denom = F.when(amax == 0.0, F.lit(1.0)).otherwise(amax / F.lit(127.0))
    codes = F.transform(
        v, lambda x: F.floor(x / denom + F.lit(0.5)).cast("int")
    )
    return df.select(
        F.col(id_col),
        F.when(amax == 0.0, F.lit(0.0)).otherwise(amax / F.lit(127.0))
        .alias("scale"),
        codes.alias("codes"),
    )


def dequantize_int8(
    df: DataFrame,
    codes_col: str = "codes",
    scale_col: str = "scale",
) -> "F.Column":
    """Reconstruction expression for ``quantize_embeddings_int8``
    output: ``codes * scale`` as array<double> (|error| <= scale/2 per
    dimension — pinned by test)."""
    return F.transform(
        F.col(codes_col),
        lambda c: c.cast("double") * F.col(scale_col),
    )


# ---- product quantization (IVF-PQ's compression half) ---------------------

def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_limit: int = _TRAIN_SAMPLE_LIMIT,
    seed: int = 42,
    iters: int = 10,
) -> "np.ndarray":
    """Train product-quantization codebooks (Jegou, Douze & Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    split the (L2-normalized) vector into ``m`` subspaces and run the
    seeded k-means (``_lloyd_kmeans``) with ``ksub`` centroids per
    subspace on the ``_train_sample`` — the first ``sample_limit``
    vectors by ``id_col``, deterministic across runs and partitionings.

    Returns codebooks shaped (m, ksub, dim/m), float64.
    """
    X = _train_sample(corpus, id_col, vec_col, sample_limit)
    if not len(X):
        raise ValueError(
            "pq_train: corpus is empty — codebooks need at least one vector"
        )
    return _pq_codebooks(X, m, ksub, seed, iters)


# ---- the serving tail of the collected-query paths (cosine_topk_arrow,
# pq_topk, ann_index_topk) ---------------------------------------------------

def _collect_queries(
    queries: DataFrame, id_col: str, vec_col: str, max_query_rows: int
) -> tuple["np.ndarray", "np.ndarray"]:
    """(query ids, raw query matrix) by a bounded driver collect. The
    query matrix (or its ADC lookup tables) is shipped to every task, so
    it must be broadcast-sized: fetching cap+1 rows lets the guard fail
    fast instead of materializing a corpus-sized frame passed by
    mistake."""
    rows = queries.select(id_col, vec_col).limit(max_query_rows + 1).collect()
    if len(rows) > max_query_rows:
        raise ValueError(
            f"queries has more than max_query_rows={max_query_rows} rows; "
            "the query matrix is shipped to every task and must be "
            "broadcast-sized (use cosine_topk for corpus-sized query "
            "sets, or raise max_query_rows deliberately)"
        )
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    return qids, np.asarray([r[1] for r in rows], dtype=np.float64)


def _empty_topk(spark, query_id_col: str, id_col: str) -> DataFrame:
    """The top-k output contract for an empty query set."""
    return spark.createDataFrame(
        [], f"{query_id_col} long, {id_col} long, cosine double, rank int"
    )


def _adc_lut(Qn: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """ADC lookup tables of the normalized queries: lut[j, s, c] =
    <q_j subspace s, codebook[s][c]>, so a code row's approximate inner
    product with query j is a sum of m table lookups."""
    m, _, dsub = books.shape
    return np.einsum("jsd,scd->jsc", Qn.reshape(len(Qn), m, dsub), books)


def _shortlist_rerank(
    partial: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    shortlist: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shortlist -> exact re-rank: one window collapses the scan's
    per-batch ADC candidates ``(query_id, id, __adc)`` to each query's
    top-``shortlist`` ids, whose vectors are fetched from ``corpus``
    once and re-scored with the decimal-exact cosine. Output contract
    of ``cosine_topk``: (query_id, vec_id, cosine, rank), cosines
    bit-identical to brute force for every hit."""
    from etlutils_spark.caching import persist_tracked

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("__adc"), F.col(id_col)
    )
    short = (
        partial.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= shortlist)
        .select(query_id_col, id_col)
    )
    qdf = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qv")
    )
    # norms hoisted: once per distinct shortlist vector and per query,
    # not per pair; values bit-identical — see cosine_topk.
    # The shortlisted vector table is bounded and consumed twice by
    # the two-phase re-rank (screen pass + survivor fetch):
    # materialize once so the corpus is still touched exactly once
    cand_vecs0 = persist_tracked(
        corpus.select(id_col, vec_col)
        .join(F.broadcast(short.select(id_col).distinct()), id_col)
    )
    cand_vecs = cand_vecs0.withColumn("__cn", norm_exact(vec_col))
    qq = qdf.withColumn("__qn", norm_exact("__qv"))
    return _screened_topk(
        F.broadcast(short)
        .join(cand_vecs, id_col)
        .join(F.broadcast(qq), query_id_col),
        cand_vecs0, qq, k, query_id_col, id_col, vec_col,
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    sample_limit: int = _TRAIN_SAMPLE_LIMIT,
    seed: int = 42,
    max_query_rows: int = 100_000,
    max_shortlist_rows: int = 4_000_000,
) -> DataFrame:
    """PQ-compressed approximate top-k with exact re-ranking, for
    one-shot queries: train codebooks on the bounded sample
    (:func:`pq_train`), then ONE pass over the vectors normalizes,
    encodes and ADC-scores each Arrow batch (one ``np.take`` per
    subspace, no per-vector float math against the queries) and emits
    the batch's top-``shortlist`` (default ``8*k``) per query — the
    combiner pattern of ``cosine_topk_arrow``. The shared serving tail
    (``_shortlist_rerank``) then collapses batch shortlists to the
    global shortlist and re-scores it exactly. The shortlist frame
    (|queries| * shortlist rows) is explicitly broadcast for the
    re-rank; the ``max_shortlist_rows`` guard fails loudly with the
    remediation when that product exceeds it. Output contract matches
    ``cosine_topk``: (query_id, vec_id, cosine, rank) — recall is
    directly measurable, and the exact re-rank makes reported cosines
    bit-identical to the brute-force path for every hit.

    Encode once, query many: :func:`build_ann_index` persists the codes
    (and IVF cells) and :func:`ann_index_topk` scans only the codes
    table — the steady-state production mode; this operator re-trains
    and re-encodes per call.
    """
    from etlutils_spark.sources.files import spread

    shortlist = shortlist or 8 * k
    qids, Q = _collect_queries(queries, id_col, vec_col, max_query_rows)
    if len(qids) * shortlist > max_shortlist_rows:
        raise ValueError(
            f"shortlist frame would be {len(qids)}*{shortlist}="
            f"{len(qids) * shortlist} rows, over max_shortlist_rows="
            f"{max_shortlist_rows}; it is explicitly broadcast for the "
            "exact re-rank, so cap it: lower shortlist, split the query "
            "set into batches, or raise max_shortlist_rows only if "
            "executors can hold the broadcast"
        )
    books = pq_train(corpus, m, ksub, vec_col, id_col, sample_limit, seed)
    if not len(qids):
        return _empty_topk(corpus.sparkSession, query_id_col, id_col)
    lut = _adc_lut(_unit_rows(Q), books)

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = _pq_encode(_unit_rows(X), books)
            # ADC score: sum of per-subspace table lookups
            S = np.zeros((len(ids), len(qids)))
            for s in range(codes.shape[1]):
                S += lut[:, s, codes[:, s]].T  # (batch, n_queries)
            yield _batch_topk(
                S, ids, qids, shortlist, query_id_col, id_col, "__adc"
            )

    partial = spread(corpus.select(id_col, vec_col)).mapInPandas(
        scan, schema=f"{query_id_col} long, {id_col} long, __adc double"
    )
    return _shortlist_rerank(
        partial, corpus, queries, k, shortlist, id_col, vec_col,
        query_id_col,
    )


def build_ann_index(
    corpus: DataFrame,
    path: str,
    num_clusters: int = 16,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    sample_limit: int = _TRAIN_SAMPLE_LIMIT,
) -> DataFrame:
    """The materialize-once ANN ARTIFACT (the `build_dedup_clusters` /
    `build_dedup_index` pattern applied to similarity search): train
    the IVF coarse quantizer and the PQ codebooks ONCE per corpus
    snapshot and persist everything a query needs except the raw
    vectors —

    - ``path/codes``     (id, cluster_id, codes array<int>) — each
      vector's IVF cell + PQ code; the only per-vector state, dim*4/m
      smaller than the float rows (the table the scan stage reads)
    - ``path/centroids`` (cluster_id, centroid) — num_clusters rows
    - ``path/codebooks`` (subspace, code, center) — m*ksub rows
    - ``path/params``    JSON sidecar file (num_clusters, m, ksub,
      dim, seed) validated by :func:`extend_ann_index`; written last
      as the build's commit marker (sources.sidecar)

    Pre-encoded codes are the steady-state mode (the codes-only scan
    measured flat at 10x corpus, BASELINE.md) and recomputing IVF
    centroids per query is the wasted work — this makes both one-time
    costs. Queries go through
    :func:`ann_index_topk` (IVF-pruned ADC scan + exact re-rank);
    ingest batches through :func:`extend_ann_index` (assign + encode
    against the FROZEN quantizers, O(batch), never O(corpus)).
    Quantizer drift under distribution shift is handled by periodic
    rebuild, exactly like re-snapshotting the dedup cluster artifact —
    and it is MEASURED, not guessed: the build stores the training
    sample's quantization-error baseline in ``path/params``, every
    extend records its batch-vs-baseline ratio in ``path/drift``
    (:func:`ann_index_drift`), and a ratio past the threshold warns
    that the rebuild is due.

    Returns the codes table (parquet-backed).

    Determinism: BOTH quantizers train driver-side with the seeded
    ``_lloyd_kmeans`` on ONE collect of the ``orderBy(id).limit(
    sample_limit)`` sample — so the artifact is bit-identical under ANY
    input partitioning or scan path, which its stream-built and
    batch-built forms rely on (pinned by ``ann_index_streaming``).

    Runs under the artifact's writer lease: the drift policy tells
    operators to rebuild, and a rebuild racing a live extend would
    commit codes encoded against the OLD quantizers into the NEW
    table (review catch)."""
    spark = corpus.sparkSession
    with writer_lease(spark, f"{path}/.writer_lease") as commit_check:
        return _build_ann_index_locked(
            spark, corpus, path, num_clusters, m, ksub, id_col, vec_col,
            seed, max_iter, sample_limit, commit_check,
        )


def _build_ann_index_locked(
    spark,
    corpus: DataFrame,
    path: str,
    num_clusters: int,
    m: int,
    ksub: int,
    id_col: str,
    vec_col: str,
    seed: int,
    max_iter: int,
    sample_limit: int,
    commit_check,
) -> DataFrame:
    """Body of :func:`build_ann_index`, under the writer lease."""
    sample = _train_sample(corpus, id_col, vec_col, sample_limit)
    if not len(sample):
        raise ValueError("build_ann_index: corpus is empty")
    # RAW vectors: the IVF coarse quantizer trains unnormalized (the
    # same squared-L2 rule cells are assigned with); the PQ codebooks
    # train on the same sample, normalized
    cents = _lloyd_kmeans(sample, num_clusters, seed, max_iter)
    # build-time quantization-error baseline for the drift metric:
    # mean/p95 squared L2 distance-to-assigned-centroid of the training
    # sample. extend_ann_index compares each ingest batch against this
    # and records the ratio in path/drift — the measured trigger for
    # the documented periodic-rebuild policy (frozen quantizers drift
    # silently otherwise).
    qerr = np.maximum(
        (sample ** 2).sum(1) + _sq_dist(sample, cents).min(1), 0.0
    )
    books = _pq_codebooks(sample, m, ksub, seed)
    dim = sample.shape[1]
    # ONE corpus pass computes cell AND code per vector — the same
    # Arrow batch body extend_ann_index runs, so build-assigned and
    # extend-assigned rows can never diverge BY CONSTRUCTION, and the
    # former two-scans-plus-id-join plan (a corpus-wide shuffle) is
    # gone (review catch: at 100 TB that join was the build's most
    # expensive stage)
    _assign_and_encode(
        corpus, cents, books, id_col, vec_col, dim,
        "build_ann_index: corpus vectors have dim {got} but the "
        "training sample (orderBy(id).limit(sample_limit)) trained the "
        "quantizers at dim {want} — the corpus mixes vector dims",
        with_qerr=False,
    ).write.mode("overwrite").parquet(f"{path}/codes")
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        _CENTROIDS_DDL,
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (s, c, [float(x) for x in books[s, c]])
            for s in range(books.shape[0])
            for c in range(books.shape[1])
        ],
        _CODEBOOKS_DDL,
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    # params is the build's commit marker (last write) — one FS-API
    # JSON file, no Spark job (see sources.sidecar). Ownership is
    # re-asserted first: the table writes above are the build's long
    # jobs, and a holder whose heartbeat degraded during them must not
    # stamp the artifact committed over a thief's (the tables alone,
    # without params, read as an uncommitted build -> rebuild)
    commit_check()
    params = {
        "num_clusters": int(num_clusters),
        "m": int(m),
        "ksub": int(ksub),
        "dim": int(dim),
        "seed": int(seed),
        "qerr_mean": float(qerr.mean()),
        "qerr_p95": float(np.quantile(qerr, 0.95)),
        "qerr_n": int(len(qerr)),
        "id_col": id_col,  # names the codes table's id column
    }
    write_sidecar_json(spark, f"{path}/params", params)
    return _read_codes(spark, path, params, id_col)


def _read_codes(
    spark, path: str, params: dict, id_col: str | None = None
) -> DataFrame:
    """``path/codes`` read with the schema ``_assign_and_encode`` writes
    (``_CODES_DDL``): no schema-inference job. The id column is named
    by the build's ``id_col`` from the params sidecar; a different
    ``id_col`` raises instead of reading a column of nulls (``None``
    takes the recorded name)."""
    recorded = params["id_col"]
    if id_col not in (None, recorded):
        raise ValueError(
            f"id_col={id_col!r} does not match the ANN index's id column "
            f"{recorded!r} (from {path}/params)"
        )
    return spark.read.schema(_CODES_DDL.format(id_col=recorded)).parquet(
        f"{path}/codes"
    )


def _read_ann_index(spark, path: str):
    """(params, centroid matrix (C, dim), codebooks (m, ksub, dsub))
    from a ``build_ann_index`` artifact. Both collects are bounded by
    construction: num_clusters and m*ksub rows; both tables are read
    with their fixed DDL, so neither read launches a schema-inference
    job."""
    params = read_params(spark, path, "build_ann_index")
    cent_rows = spark.read.schema(_CENTROIDS_DDL).parquet(
        f"{path}/centroids"
    ).collect()
    cents = np.empty((params["num_clusters"], params["dim"]), dtype=np.float64)
    for r in cent_rows:
        cents[r["cluster_id"]] = r["centroid"]
    books = np.empty(
        (params["m"], params["ksub"], params["dim"] // params["m"]),
        dtype=np.float64,
    )
    for r in spark.read.schema(_CODEBOOKS_DDL).parquet(
        f"{path}/codebooks"
    ).collect():
        books[r["subspace"], r["code"]] = r["center"]
    return params, cents, books


def _assign_and_encode(
    df: DataFrame,
    cents: "np.ndarray",
    books: "np.ndarray",
    id_col: str,
    vec_col: str,
    dim: int,
    dim_err: str,
    with_qerr: bool,
) -> DataFrame:
    """One Arrow-batched pass computing each vector's IVF cell AND PQ
    code (optionally the squared distance-to-assigned-centroid for the
    drift metric). THE shared encoding body of ``build_ann_index`` and
    ``extend_ann_index`` — one code path, so build-time and
    extend-time rows can never diverge; also one corpus scan instead
    of the former assign-scan + encode-scan + id-join (a corpus-wide
    shuffle). Cell rule: ``_sq_dist`` argmin over RAW vectors; PQ rule:
    ``_pq_encode`` of the NORMALIZED vector (the codebooks train
    normalized)."""
    import pandas as pd

    from etlutils_spark.sources.files import spread

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            if X.shape[1] != dim:
                # dim_err carries the caller-specific phrasing:
                # build = inconsistent corpus vs the training sample,
                # extend = batch vs the committed params sidecar
                raise ValueError(dim_err.format(got=X.shape[1], want=dim))
            d2cell = _sq_dist(X, cents)
            cell = d2cell.argmin(1)
            codes = _pq_encode(_unit_rows(X), books)
            out = {
                id_col: ids,
                "cluster_id": cell.astype(np.int32),
                "codes": list(codes),
            }
            if with_qerr:
                out["__qerr"] = np.maximum(
                    d2cell.min(1) + (X ** 2).sum(1), 0.0
                )
            yield pd.DataFrame(out)

    schema = _CODES_DDL.format(id_col=id_col)
    if with_qerr:
        schema += ", __qerr double"
    return spread(df.select(id_col, vec_col)).mapInPandas(run, schema)


def extend_ann_index(
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_ratio_threshold: float = 2.0,
    writer_lease_stale_sec: float = 600.0,
) -> DataFrame:
    """Fold an ingest batch into a ``build_ann_index`` artifact:
    assign each new vector to its nearest FROZEN centroid and PQ-encode
    it with the FROZEN codebooks — the build's own batch body
    (``_assign_and_encode``: squared L2 on raw vectors for the cell,
    ``_pq_encode`` for the code) — and append to ``path/codes``.
    Strictly O(batch): the stored corpus is never re-read,
    re-assigned, or re-encoded — the ANN twin of
    ``extend_dedup_index``'s probe-the-stored-profile contract.

    Replay-idempotent: ids already present in the codes table are
    dropped before the append (one columnar scan of the stored id
    column against the broadcast batch), so an at-least-once ingest
    cannot double-score a vector at query time. Returns the refreshed
    codes table.

    Drift metric: the frozen quantizers stop fitting when the ingest
    distribution shifts, and that degradation is silent at query time
    (recall just erodes). Each extend therefore measures the batch's
    mean squared distance-to-assigned-centroid and compares it to the
    build sample's baseline (``qerr_mean`` in ``path/params``),
    recording the ratio in the ``path/drift`` sidecar — read it with
    :func:`ann_index_drift`. A ratio above ``drift_ratio_threshold``
    (default 2.0: the batch quantizes twice as badly as the corpus the
    quantizers were trained on) flips ``drifted`` and emits a warning;
    the remedy is the documented periodic rebuild. Observability only:
    the batch still lands — drifted data is real data.

    Single-writer ENFORCED via the ``path/.writer_lease`` sidecar
    (same contract as ``extend_dedup_index``): a concurrent extend
    raises loudly; a lease abandoned by a killed writer goes stale
    after ``writer_lease_stale_sec`` and is stolen."""
    spark = new_vectors.sparkSession
    # lease FIRST, artifact reads under it: a rebuild committing
    # between reading the quantizers and appending the codes would
    # otherwise let this extend encode against the OLD codebooks and
    # append into the NEW table (review catch)
    with writer_lease(
        spark, f"{path}/.writer_lease", writer_lease_stale_sec
    ) as commit_check:
        # heal a compaction that died between its two renames — UNDER
        # the lease and UNCONDITIONALLY (a manual compact_ann_index
        # crash must not wedge extends, or a stream restarted without
        # compact_every, until someone re-runs compaction; two
        # exists() checks when healthy) — r9 advice #1/#2
        from etlutils_spark.sources.files import heal_interrupted_compaction

        heal_interrupted_compaction(spark, f"{path}/codes")
        return _extend_ann_index_locked(
            spark, path, new_vectors, id_col, vec_col,
            drift_ratio_threshold, commit_check,
        )


def _extend_ann_index_locked(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str,
    vec_col: str,
    drift_ratio_threshold: float,
    commit_check,
) -> DataFrame:
    """Body of :func:`extend_ann_index`, under the writer lease.
    ``commit_check`` (the wrapper passes a lease re-verification) runs
    immediately before AND immediately after the codes append: the
    pre-check aborts a holder whose heartbeat degraded before the
    commit; the post-check loudly detects a theft DURING the append
    job itself (the encode executes inside that one job by design, so
    it cannot run "before the commit" without paying an extra job —
    and a mid-write theft requires the lease to sit stale for a full
    staleness window inside that window, r9 verdict Next #3).

    The drift measurement is FREE: the batch's mean quantization error
    is collected by an ``Observation`` attached to the codes frame
    INSIDE the append-write job (the same zero-extra-jobs pattern as
    the verbose write instrumentation in ``sources/sql.py``), not by a
    separate aggregate action — one fewer scheduled job per extend
    (~0.1 s measured at sf0.1 batch sizes; BASELINE.md round-9 note
    has the honest A/B). The observe node
    sits ABOVE the encode and BELOW the replay anti-join, so the stat
    covers the WHOLE batch (replayed rows included, matching the
    pre-Observation semantics — CollectMetrics is a pushdown barrier,
    so the anti-join cannot filter rows out from under it), and the
    single write action also makes the old persist/unpersist pair
    unnecessary: the frame is consumed exactly once."""
    import warnings

    from pyspark.sql import Observation

    params, cents, books = _read_ann_index(spark, path)
    baseline = params["qerr_mean"]
    obs = Observation()
    batch_codes = _assign_and_encode(
        new_vectors, cents, books, id_col, vec_col, int(params["dim"]),
        "extend_ann_index: batch vectors have dim {got} but the index "
        f"was built at dim {{want}} (from {path}/params)",
        with_qerr=True,
    ).observe(
        obs, F.avg("__qerr").alias("m"), F.count(F.lit(1)).alias("n")
    ).drop("__qerr")
    stored_ids = _read_codes(spark, path, params, id_col).select(id_col)
    fresh = batch_codes.join(stored_ids, id_col, "left_anti")
    commit_check()
    fresh.write.mode("append").parquet(f"{path}/codes")
    # The encode IS the write job (the Observation rides it — the r9
    # one-job design), so a heartbeat give-up DURING that job cannot be
    # caught by the pre-check alone. The post-check detects it LOUDLY:
    # a theft requires the lease to sit stale for a full staleness
    # window mid-write, and the raise tells the operator which artifact
    # to verify (the append itself is replay-idempotent — a legitimate
    # re-run anti-joins the already-appended ids away).
    commit_check()
    stat = obs.get  # ready: the write action above has completed
    if stat["n"]:
        # a 0.0 baseline (degenerate all-duplicate training sample)
        # makes ANY nonzero batch error infinite drift — correct: the
        # quantizers know exactly one point
        ratio = float(stat["m"]) / max(float(baseline), 1e-300)
        drifted = bool(ratio > drift_ratio_threshold)
        write_sidecar_json(
            spark,
            f"{path}/drift",
            {
                "batch_qerr_mean": float(stat["m"]),
                "build_qerr_mean": float(baseline),
                "ratio": ratio,
                "threshold": float(drift_ratio_threshold),
                "drifted": drifted,
                "batch_rows": int(stat["n"]),
            },
        )
        if drifted:
            warnings.warn(
                f"extend_ann_index: batch quantization error is "
                f"{ratio:.2f}x the build baseline (threshold "
                f"{drift_ratio_threshold}) — the frozen quantizers no "
                f"longer fit the ingest distribution; schedule a "
                f"rebuild of {path}",
                stacklevel=2,
            )
    return _read_codes(spark, path, params, id_col)


def ann_index_stats(spark, path: str) -> DataFrame:
    """Cell-balance report for a ``build_ann_index`` artifact: one row
    per IVF cell with its code-row count, fraction of the corpus, and
    imbalance ratio vs the uniform share. The companion diagnostic to
    :func:`ann_index_drift` — drift says the quantizers stopped
    FITTING the data, imbalance says they stopped PARTITIONING it:
    ``ann_index_topk`` scans the probed cells' code rows, so one
    cell at ratio R makes every query that probes it pay R times the
    uniform-cost model (|corpus| * nprobe / num_clusters). Both have
    the same remedy (rebuild); this tells you which queries hurt and
    by how much. One hash-aggregate over the codes table's cell
    column, map-side combinable; cells that lost every row (possible
    after upstream dedup rewrites) simply have no row here. ONE scan:
    the corpus total is derived from the collected per-cell counts
    (at most num_clusters rows — bounded by construction) instead of
    a second count job over the same table, and the params come from
    the sidecar alone (no centroid/codebook collects)."""
    params = read_params(spark, path, "build_ann_index")
    c = int(params["num_clusters"])
    per_cell = (
        _read_codes(spark, path, params)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )
    total = max(sum(r.n_rows for r in per_cell), 1)
    return spark.createDataFrame(
        [
            (int(r.cluster_id), int(r.n_rows), r.n_rows / total,
             r.n_rows * c / total)
            for r in sorted(per_cell, key=lambda r: (-r.n_rows, r.cluster_id))
        ],
        "cluster_id int, n_rows bigint, frac double, imbalance double",
    )


def ann_index_drift(spark, path: str) -> dict | None:
    """The last extend's drift record for a ``build_ann_index``
    artifact (``path/drift``), or None when no extend has measured one
    (a fresh build).
    Keys: batch_qerr_mean, build_qerr_mean, ratio, threshold, drifted,
    batch_rows — see ``extend_ann_index``'s drift contract."""
    return read_sidecar_json(spark, f"{path}/drift")


def compact_ann_index(
    spark,
    path: str,
    target_rows_per_file: int = 4_000_000,
    writer_lease_stale_sec: float = 600.0,
) -> int:
    """Periodic maintenance for a ``build_ann_index`` artifact: every
    :func:`extend_ann_index` APPENDS one file to ``path/codes``, so a
    streaming ingest accumulates files without bound — the classic
    small-files failure (every ``ann_index_topk`` scan schedules a
    task per file and pays listing). Rewrites the codes table in place
    to ceil(rows/target) files under the artifact's writer lease (a
    concurrent extend cannot interleave with the swap), via the
    crash-safe temp+two-rename compactor — content byte-identical,
    quantizers/params/drift untouched, so served results cannot
    change. Returns the post-compaction file count. Run it on the
    same cadence as the drift check (:func:`ann_index_health`)."""
    from etlutils_spark.sources.files import compact_parquet_inplace

    with writer_lease(
        spark, f"{path}/.writer_lease", writer_lease_stale_sec
    ) as check:
        # ownership is re-asserted right before the swap: the rewrite
        # job can outlast a heartbeat outage (r9 verdict Next #3)
        return compact_parquet_inplace(
            spark, f"{path}/codes", target_rows_per_file,
            pre_swap_check=check,
        )


def ann_index_health(
    spark,
    path: str,
    drift_ratio_threshold: float = 2.0,
    imbalance_threshold: float = 8.0,
) -> dict:
    """The artifact's rebuild-recommended predicate: folds the two
    stored diagnostics — quantizer DRIFT (:func:`ann_index_drift`, the
    frozen quantizers stopped FITTING the ingest distribution) and
    cell IMBALANCE (:func:`ann_index_stats`, they stopped PARTITIONING
    the corpus) — into one answer, because both have the same remedy
    (rebuild) and a monitoring job should not have to know two readers
    and two thresholds (r8 verdict #7: the imbalance report existed
    but nothing consumed it).

    Thresholds: ``drift_ratio_threshold`` re-judges the RECORDED
    batch-vs-build qerr ratio (in-distribution extends measure
    0.99-1.01; a genuine shift measures orders of magnitude, so the
    default 2.0 has wide margin on both sides — same default as
    ``extend_ann_index``). ``imbalance_threshold`` bounds the top
    cell's population vs the uniform share: every query probing a cell
    at ratio R pays R times the ``|corpus| * nprobe / num_clusters``
    scan-cost model, so the default 8.0 flags cells whose queries run
    ~an order of magnitude over model — balanced builds measure ~1-3
    even on moderately clustered data, while a collapsed quantizer
    (most vectors in one cell) measures ~num_clusters.

    Returns ``{"status": "ok" | "drifted" | "imbalanced" |
    "drifted+imbalanced", "rebuild_recommended": bool, "drift_ratio":
    float | None, "max_imbalance": float, "hot_cells": [(cluster_id,
    imbalance), ...]}``. A never-extended artifact has no drift record
    (``drift_ratio`` None -> not drifted). Cost: one map-side-
    combinable agg over the codes table's cell column (bounded
    collect) + two KB-sized sidecar reads — cheap enough to run after
    every extend."""
    drift = ann_index_drift(spark, path)
    ratio = None if drift is None else float(drift["ratio"])
    drifted = ratio is not None and ratio > drift_ratio_threshold
    cells = ann_index_stats(spark, path).collect()
    max_imbalance = max((r.imbalance for r in cells), default=0.0)
    hot = [
        (int(r.cluster_id), float(r.imbalance))
        for r in cells
        if r.imbalance > imbalance_threshold
    ]
    status = "+".join(
        s for s, hit in (("drifted", drifted), ("imbalanced", bool(hot)))
        if hit
    ) or "ok"
    return {
        "status": status,
        "rebuild_recommended": status != "ok",
        "drift_ratio": ratio,
        "max_imbalance": float(max_imbalance),
        "hot_cells": hot,
    }


def ann_index_topk(
    corpus: DataFrame,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Approximate top-k served from a ``build_ann_index`` artifact —
    the steady-state production query path: NO training, NO encoding,
    NO centroid recompute at query time. Per query: rank the stored
    centroids by cosine and keep ``nprobe`` cells (IVF partition
    pruning); ADC-score ONLY the probed cells' code rows (one LUT
    lookup per subspace — the scan touches m bytes per vector); keep a
    per-query ``shortlist`` (default 8*k); exact decimal cosine
    re-rank of shortlisted ids against the corpus vectors. Output
    contract matches ``cosine_topk`` — (query_id, vec_id, cosine,
    rank) with bit-identical cosines for every true hit, so recall is
    directly measurable.

    Scale: cost per query is |corpus| * nprobe/num_clusters code rows
    (not vectors), shuffles carry shortlist rows only, and the scan
    combines per Arrow batch before the shortlist window. The corpus
    frame is touched exactly once, for the shortlist re-rank."""
    import pandas as pd

    if nprobe < 1:
        raise ValueError(f"ann_index_topk: nprobe must be >= 1, got {nprobe}")
    spark = corpus.sparkSession
    shortlist = shortlist or 8 * k
    params, cents, books = _read_ann_index(spark, path)
    m = books.shape[0]

    qids, Q = _collect_queries(queries, id_col, vec_col, max_query_rows)
    if not len(qids):
        return _empty_topk(spark, query_id_col, id_col)
    if Q.shape[1] != int(params["dim"]):
        raise ValueError(
            f"ann_index_topk: query vectors have dim {Q.shape[1]} but "
            f"the index was built at dim {params['dim']} (from "
            f"{path}/params)"
        )
    Q = _unit_rows(Q)
    lut = _adc_lut(Q, books)
    qpos = {int(q): i for i, q in enumerate(qids)}

    # per-query probe set: cosine rank of the stored centroids,
    # deterministic ties by cluster_id (same rule as ivf_topk)
    sims = Q @ _unit_rows(cents).T                    # (nq, C)
    order = np.lexsort(
        (np.broadcast_to(np.arange(cents.shape[0])[None, :], sims.shape),
         -sims), axis=1,
    )[:, : min(nprobe, cents.shape[0])]
    probes = spark.createDataFrame(
        [
            (int(qids[j]), int(c))
            for j in range(len(qids))
            for c in order[j]
        ],
        f"{query_id_col} long, cluster_id int",
    )

    cand = _read_codes(spark, path, params, id_col).join(
        F.broadcast(probes), "cluster_id"
    ).select(query_id_col, id_col, "codes")

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qi = pdf[query_id_col].map(qpos).to_numpy(dtype=np.int64)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            code_mat = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            s = lut[qi[:, None], np.arange(m)[None, :], code_mat].sum(1)
            s[ids == qids[qi]] = -np.inf
            out = pd.DataFrame({
                query_id_col: pdf[query_id_col].to_numpy(),
                id_col: ids,
                "__adc": s,
            })
            # batch-level combine: at most `shortlist` rows per query
            # leave each Arrow batch for the global shortlist window
            out = out.sort_values(
                [query_id_col, "__adc", id_col],
                ascending=[True, False, True],
            )
            yield out.groupby(query_id_col, sort=False).head(shortlist)

    partial = cand.mapInPandas(
        scan, schema=f"{query_id_col} long, {id_col} long, __adc double"
    ).filter(F.col("__adc") > float("-inf"))
    return _shortlist_rerank(
        partial, corpus, queries, k, shortlist, id_col, vec_col,
        query_id_col,
    )


def knn_label_consistency(
    neighbors: DataFrame,
    labels: DataFrame,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    label_col: str = "label",
) -> DataFrame:
    """Neighborhood label audit (confident-learning-style mislabel
    screening): for each query vector, the majority label among its
    retrieved neighbors vs its own label. Points whose neighborhood
    disagrees are mislabel / boundary candidates — the embedding-space
    data-quality check run before training on labeled corpora.

    ``neighbors`` is ANY top-k output with (query_id, vec_id) — brute
    force, LSH, IVF, or PQ: the audit is decoupled from the ANN backend
    on purpose, because at 100 TB the neighbor table comes from the
    bucketed/compressed path, never a corpus-sized broadcast.

    Output: (id, label, majority_label, n_same_label, n_neighbors,
    consistent). Majority ties break toward the smaller label id
    (row_number over (count DESC, label ASC) — deterministic on any
    engine). Scale: two aggregations on the query key plus a broadcast
    label join; cost is O(|neighbors|), not O(corpus).
    """
    nl = labels.select(
        F.col(id_col), F.col(label_col).alias("__nlabel")
    )
    j = neighbors.select(query_id_col, id_col).join(nl, id_col)
    counts = j.groupBy(query_id_col, "__nlabel").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("__cnt"), F.col("__nlabel")
    )
    majority = (
        counts.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(
            F.col(query_id_col),
            F.col("__nlabel").alias("majority_label"),
        )
    )
    own = labels.select(F.col(id_col).alias(query_id_col), F.col(label_col))
    per_query = (
        j.join(F.broadcast(own), query_id_col)
        .groupBy(query_id_col, label_col)
        .agg(
            F.sum((F.col("__nlabel") == F.col(label_col)).cast("bigint"))
            .alias("n_same_label"),
            F.count(F.lit(1)).alias("n_neighbors"),
        )
    )
    return (
        per_query.join(F.broadcast(majority), query_id_col)
        .select(
            F.col(query_id_col).alias(id_col),
            label_col,
            "majority_label",
            "n_same_label",
            "n_neighbors",
            (F.col("majority_label") == F.col(label_col)).alias("consistent"),
        )
    )


def decontaminate_semantic(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_benchmark_rows: int = 4096,
    exact: bool = True,
) -> DataFrame:
    """Embedding-space decontamination: flag corpus vectors whose cosine
    to ANY benchmark vector reaches ``threshold`` — the semantic twin of
    the shingle-based ``dedup.decontaminate`` (paraphrased benchmark
    leakage that n-gram overlap misses).

    The benchmark embeds into the PLAN as literal arrays (bounded by
    ``max_benchmark_rows``, fail-fast guard — the tokens_to_ids
    literal-budget pattern): each corpus row evaluates B decimal-exact
    cosines and a ``greatest`` fold, entirely in whole-stage codegen.
    Zero shuffle, zero join — the scan IS the decontamination pass, so
    at 100 TB the cost is one corpus read regardless of cluster shape.
    For benchmark sets beyond the literal budget, fall back to the
    broadcast-join form (``embedding_neardup_pairs`` against the union)
    or block with LSH first.

    Output: (id, max_benchmark_cosine, contaminated).
    """
    rows = (
        benchmark.select(vec_col).limit(max_benchmark_rows + 1).collect()
    )
    if len(rows) > max_benchmark_rows:
        raise ValueError(
            f"benchmark has more than max_benchmark_rows={max_benchmark_rows} "
            "rows; the benchmark embeds into the plan as literals — use the "
            "broadcast-join form for corpus-sized benchmarks"
        )
    if not rows:
        raise ValueError("benchmark is empty")
    # exact=True: decimal-accumulated cosines (bit-identical to the
    # DuckDB oracle; ~8x the cost of plain doubles per row at B=10).
    # exact=False is the production scan: double accumulation, same
    # flags unless a score sits within an ulp of the threshold.
    # the corpus vector's norm is hoisted to ONE fold per row (shared
    # by all B benchmark comparisons — the fused cosine recomputed it
    # B times per row); each benchmark literal's norm stays an in-plan
    # expression so the decimal-exact semantics match the oracle
    # bit-for-bit, at one fold per (row, benchmark) instead of two
    dot = dot_exact if exact else dot_fast
    nrm = norm_exact if exact else norm_fast
    vn = F.col("__vn")
    cos_exprs = []
    for r in rows:
        lit_vec = F.array(*[F.lit(float(x)) for x in r[0]])
        cos_exprs.append(dot(F.col(vec_col), lit_vec) / (vn * nrm(lit_vec)))
    max_cos = (
        F.greatest(*cos_exprs) if len(cos_exprs) > 1 else cos_exprs[0]
    )
    return corpus.withColumn("__vn", nrm(vec_col)).select(
        F.col(id_col),
        max_cos.alias("max_benchmark_cosine"),
        (max_cos >= F.lit(threshold)).alias("contaminated"),
    )


def hard_negative_mining(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Contrastive-training prep: for each query, the ``k`` most-similar
    corpus vectors carrying a DIFFERENT label — the hard negatives that
    make embedding training informative (easy random negatives teach
    nothing). Exact form: one corpus scan with the label-mismatch
    predicate applied BEFORE ranking (same broadcast-queries shape as
    ``cosine_topk``); at corpus scale swap the scan for the LSH/PQ
    shortlist and feed it the same final ranking.

    Output: (query_id, vec_id, cosine, rank) + both labels for audit.
    """
    from etlutils_spark.sources.files import spread

    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qv"),
        F.col(label_col).alias("query_label"),
    ).withColumn("__qn", norm_exact("__qv"))
    # corpus norm once per row, not per (query, row) pair — same
    # bit-identical hoist as cosine_topk
    c0 = spread(corpus.select(id_col, vec_col, label_col))
    c = c0.withColumn("__cn", norm_exact(vec_col))
    # two-phase exact scoring (see _topk_fast_screen): the decimal
    # fold runs on ~k screened rows per query instead of every
    # label-mismatched pair, with identical output; the screen
    # exchange carries scalars only — survivors re-join c0 (labels
    # ride along) and the broadcast query side for the exact fold
    neg_pairs = _topk_fast_screen(
        c.crossJoin(F.broadcast(q)).filter(
            (F.col(query_id_col) != F.col(id_col))
            & (F.col(label_col) != F.col("query_label"))
        ),
        query_id_col, id_col, "__qv", vec_col, "__qn", "__cn", k,
        corpus_side=c0, query_side=q,
    )
    scored = neg_pairs.select(
        query_id_col, "query_label", id_col, label_col,
        (dot_exact("__qv", vec_col) / (F.col("__qn") * F.col("__cn"))).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )

"""Semantics tests for the dedup/similarity operators on planted data —
covers the engine-specific (rows-only) paths the DuckDB oracle can't:
simhash, LSH recall, and the multimodal stub."""

import os

import pytest
from pyspark.sql import functions as F

from etlutils_spark.operators import multimodal
from etlutils_spark.operators.dedup import (
    connected_components,
    dedup_exact,
    drop_exact_duplicates,
    embedding_neardup_pairs,
    jaccard_pairs,
    minhash_dedup_pairs,
    shingle_rows,
    simhash_near_pairs,
    simhash_signatures,
)
from etlutils_spark.operators.similarity import cosine_topk, lsh_topk
from etlutils_spark.operators.text import word_shingles


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")  # 1-word difference
    rows = [
        (0, base),
        (1, base),              # exact duplicate of 0
        (2, near),              # near duplicate of 0
        (3, "completely different text about spark query engines and shuffles"),
        (4, "another unrelated document mentioning joins aggregates and windows"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dedup_exact_groups(docs):
    groups = dedup_exact(docs).collect()
    sizes = sorted(g.n_docs for g in groups)
    assert sizes == [1, 1, 1, 2]  # 0 and 1 collapse
    kept = drop_exact_duplicates(docs)
    assert kept.count() == 4
    assert {r.doc_id for r in kept.select("doc_id").collect()} == {0, 2, 3, 4}


def test_jaccard_finds_near_dup(docs):
    pairs = jaccard_pairs(shingle_rows(docs), threshold=0.3).collect()
    found = {(r.doc_id_1, r.doc_id_2) for r in pairs}
    assert (0, 1) in found  # identical
    assert (0, 2) in found and (1, 2) in found  # near dup
    assert all(p[1] not in (3, 4) or p[0] in (3, 4) for p in found)


def test_jaccard_max_shingle_df_bounds_boilerplate(spark):
    """Planted boilerplate: 40 otherwise-disjoint docs share one hot
    footer shingle. Unguarded, the self-join materializes all 780
    co-footer pairs; with ``max_shingle_df`` the hot shingle is dropped
    before the join, so only the genuine near-dup pair survives —
    computed over the retained shingle universe."""
    footer = "all rights reserved worldwide"
    rows = [(i, f"unique{i} tokens{i} body{i} {footer}") for i in range(40)]
    # one genuine near-dup pair that does NOT depend on the footer
    rows += [
        (100, "spark shuffles partition data across executors fast " + footer),
        (101, "spark shuffles partition data across executors slow " + footer),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sh = shingle_rows(docs, n=3)

    unguarded = jaccard_pairs(sh, threshold=0.01)
    n_unguarded = unguarded.count()
    assert n_unguarded > 500  # every co-footer pair materialized

    guarded = jaccard_pairs(sh, threshold=0.01, max_shingle_df=5)
    found = {(r.doc_id_1, r.doc_id_2) for r in guarded.collect()}
    assert found == {(100, 101)}  # boilerplate-only pairs gone

    # guard must not change results when no shingle exceeds the cap
    same = jaccard_pairs(sh, threshold=0.01, max_shingle_df=10**9)
    assert same.count() == n_unguarded

    # containment mode shares the guarded plan
    cont = jaccard_pairs(sh, containment_threshold=0.5, max_shingle_df=5)
    cfound = {(r.doc_id_1, r.doc_id_2) for r in cont.collect()}
    assert (100, 101) in cfound and len(cfound) == 1


def test_minhash_lsh_recall(docs):
    got = minhash_dedup_pairs(docs, num_hashes=8, bands=4, threshold=0.3)
    found = {(r.doc_id_1, r.doc_id_2) for r in got.collect()}
    # exact/near duplicates must survive banding + verification
    assert (0, 1) in found
    assert (0, 2) in found


def test_simhash_separates(docs):
    sigs = simhash_signatures(docs)
    vals = {r.doc_id: r.simhash for r in sigs.collect()}
    assert vals[0] == vals[1]  # identical docs, identical signature
    near = simhash_near_pairs(sigs, max_hamming=8, prefix_bits=8)
    found = {(r.doc_id_1, r.doc_id_2): r.hamming for r in near.collect()}
    assert found.get((0, 1)) == 0
    # near-dup pair is close in hamming space if prefix-blocked together
    if (0, 2) in found:
        assert found[(0, 2)] <= 8


def test_simhash_multitable_blocking(spark):
    # two sigs differing ONLY in the top bit: hamming 1, but the top-16
    # prefix differs, so single-table prefix blocking cannot pair them.
    sigs = spark.createDataFrame(
        [(0, -(2**63)), (1, 0)], "doc_id bigint, simhash bigint"
    )
    single = simhash_near_pairs(sigs, max_hamming=2, prefix_bits=16, tables=1)
    assert single.count() == 0
    # table 1 (rotated left 32) moves the differing bit out of the
    # blocked prefix -> pair found; recall exact for hamming < tables
    multi = simhash_near_pairs(sigs, max_hamming=2, prefix_bits=16, tables=2)
    rows = multi.collect()
    assert {(r.doc_id_1, r.doc_id_2) for r in rows} == {(0, 1)}
    assert rows[0].hamming == 1


def test_lsh_bucket_cap_bounds_pairs(spark, docs):
    from etlutils_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    # 6 identical docs -> every band bucket holds all 6 -> 15 pairs
    many = spark.createDataFrame(
        [(i, "same text repeated for the bucket cap test here") for i in range(6)],
        "doc_id bigint, text string",
    )
    sigs = minhash_signatures(shingle_rows(many), num_hashes=8)
    uncapped = lsh_candidate_pairs(sigs, num_hashes=8, bands=4)
    assert uncapped.count() == 15
    capped = lsh_candidate_pairs(sigs, num_hashes=8, bands=4, max_bucket_size=5)
    assert capped.count() == 0  # all buckets oversized -> dropped
    # the full pipeline with both skew guards still finds the planted
    # near-dup (its buckets are small)
    got = minhash_dedup_pairs(docs, num_hashes=8, bands=4, threshold=0.3,
                              max_bucket_size=5)
    found = {(r.doc_id_1, r.doc_id_2) for r in got.collect()}
    assert (0, 2) in found


def test_max_doc_freq_skew_guard(docs):
    # "the quick brown" etc. appear in docs 0,1,2 -> dropping shingles
    # with doc-frequency > 2 removes the boilerplate from the join key
    # space while keeping doc-unique shingles
    all_rows = shingle_rows(docs)
    guarded = shingle_rows(docs, max_doc_freq=2)
    assert guarded.count() < all_rows.count()
    freq = guarded.groupBy("shingle").count().agg({"count": "max"}).first()[0]
    assert freq <= 2


def test_word_shingles_short_text(spark):
    df = spark.createDataFrame([(1, "one two")], "id int, text string")
    out = df.select(word_shingles("text", 3).alias("sh")).first()
    assert out.sh == []  # shorter than n -> empty, not [1,0]-descending junk


@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(10, 16).astype("float32")
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # 10: near-duplicate of 0 (tiny noise)
    rows.append((10, [float(x + 0.01) for x in base[0]]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_embedding_neardup(emb):
    pairs = embedding_neardup_pairs(emb, threshold=0.95).collect()
    assert {(r.vec_id_1, r.vec_id_2) for r in pairs} == {(0, 10)}


def test_lsh_topk_recall_vs_bruteforce(emb):
    queries = emb.filter(F.col("vec_id") < 2)
    exact = cosine_topk(emb, queries, k=3)
    approx = lsh_topk(emb, queries, k=3, num_planes=8, bands=4, dim=16)
    exact_top1 = {r.query_id: r.vec_id for r in exact.collect() if r.rank == 1}
    approx_top1 = {r.query_id: r.vec_id for r in approx.collect() if r.rank == 1}
    # the near-duplicate neighbor (0 -> 10) must be found by LSH too
    assert exact_top1[0] == 10
    assert approx_top1.get(0) == 10


def test_cosine_topk_screen_matches_unscreened_all_pairs(emb):
    """The two-phase fast screen (scalar-width exchange + survivor
    re-join) must be invisible: cosine_topk's output equals exact-
    scoring every pair with the same decimal fold and ranking rule."""
    from pyspark.sql import Window

    from etlutils_spark.functions.vectors import cosine_exact

    queries = emb.filter(F.col("vec_id") < 3)
    got = cosine_topk(emb, queries, k=4).collect()
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    ref_pairs = (
        emb.crossJoin(q)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id", "vec_id", cosine_exact("qv", "embedding").alias("cosine")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    ref = (
        ref_pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 4)
        .collect()
    )
    assert {(r.query_id, r.vec_id, r.rank, r.cosine) for r in got} == {
        (r.query_id, r.vec_id, r.rank, r.cosine) for r in ref
    }


def test_cosine_topk_screen_survives_nan_embeddings(spark):
    """A NaN element must not let the fast screen drop true top-k
    members: NaN fast cosines rank above everything in Spark's
    ordering, so without the explicit NaN keeps the k-th fast value
    goes NaN and the band comparison (false vs NaN) silently discards
    finite rows. Screened output must equal exact-scoring every pair."""
    import numpy as np

    from pyspark.sql import Window

    from etlutils_spark.functions.vectors import cosine_exact

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(8)]
    # poison three corpus vectors with NaN elements (k=2 < 3 poisoned
    # rows, so the k-th fast rank is NaN without the guard)
    for i in (3, 5, 6):
        v = list(rows[i][1])
        v[0] = float("nan")
        rows[i] = (i, v)
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 2)
    got = cosine_topk(emb, queries, k=2).collect()
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    ref = (
        emb.crossJoin(q)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id", "vec_id", cosine_exact("qv", "embedding").alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .collect()
    )

    def canon(rs):
        return {
            (
                r.query_id,
                r.vec_id,
                r.rank,
                None if r.cosine is None else round(r.cosine, 12),
            )
            for r in rs
        }

    assert canon(got) == canon(ref)


def test_ivf_topk_recall_vs_bruteforce(emb):
    from etlutils_spark.operators.similarity import ivf_topk

    queries = emb.filter(F.col("vec_id") < 2)
    exact = cosine_topk(emb, queries, k=3)
    # nprobe == num_clusters -> exhaustive probe == exact result set
    approx = ivf_topk(emb, queries, k=3, num_clusters=3, nprobe=3)
    exact_set = {(r.query_id, r.vec_id, r.rank) for r in exact.collect()}
    approx_set = {(r.query_id, r.vec_id, r.rank) for r in approx.collect()}
    assert exact_set == approx_set
    # pruned probe still finds the planted near-duplicate as top-1
    pruned = ivf_topk(emb, queries, k=3, num_clusters=3, nprobe=1)
    top1 = {r.query_id: r.vec_id for r in pruned.collect() if r.rank == 1}
    assert top1.get(0) == 10


def test_ivf_topk_pruned_is_partitioning_invariant(emb):
    """The IVF quantizer trains on the orderBy(id) sample and assigns
    cells row by row, so a pruned probe returns the same rows whether
    the corpus arrives in one partition or in seven."""
    from etlutils_spark.operators.similarity import ivf_topk

    def rows(corpus):
        queries = corpus.filter(F.col("vec_id") < 3)
        out = ivf_topk(corpus, queries, k=3, num_clusters=3, nprobe=1)
        return sorted(tuple(r) for r in out.collect())

    one = rows(emb.coalesce(1))
    assert one and one == rows(emb.repartition(7))


def test_ann_nprobe_below_one_raises(emb, tmp_path):
    """Probing no IVF cell would silently return no neighbors for every
    query; both IVF serving paths reject it instead."""
    from etlutils_spark.operators.similarity import (
        ann_index_topk,
        build_ann_index,
        ivf_topk,
    )

    with pytest.raises(ValueError, match="nprobe"):
        ivf_topk(emb, emb, k=3, num_clusters=3, nprobe=0)
    path = str(tmp_path / "annidx")
    build_ann_index(emb, path, num_clusters=3, m=4, ksub=4)
    with pytest.raises(ValueError, match="nprobe"):
        ann_index_topk(emb, path, emb, k=3, nprobe=0)
    with pytest.raises(ValueError, match="nprobe"):
        ann_index_topk(emb, path, emb, k=3, nprobe=-1)


def test_build_ann_index_collects_training_sample_once(spark, emb, tmp_path):
    """Both quantizers train from ONE driver collect of the
    orderBy(id).limit(sample_limit) sample; the other jobs are the
    codes, centroids and codebooks writes and the codes read-back.
    Jobs are counted by group, like test_extend_dedup_index_job_budget,
    and named by their stages' call sites."""
    from etlutils_spark.operators.similarity import build_ann_index

    _, names = _group_jobs(
        spark,
        lambda: build_ann_index(emb, str(tmp_path / "annidx"),
                                num_clusters=3, m=4, ksub=4),
    )
    assert sum(n.startswith("collect at ") for n in names) == 1, names
    assert len(names) <= 5, names


def test_ann_index_topk_reads_quantizers_without_inference(
    spark, emb, tmp_path
):
    """Serving from the artifact reads ``centroids``, ``codebooks`` and
    ``codes`` with their fixed schemas: the call's jobs are the two
    quantizer collects and the query collect — three, where inferring
    the ``codes`` schema made four and inferring all three made six."""
    from etlutils_spark.operators.similarity import (
        ann_index_topk,
        build_ann_index,
    )

    path = str(tmp_path / "annidx")
    build_ann_index(emb, path, num_clusters=3, m=4, ksub=4)
    # one partition: the bounded query collect is exactly one job
    queries = emb.filter("vec_id < 2").coalesce(1)
    got, names = _group_jobs(
        spark, lambda: ann_index_topk(emb, path, queries, k=2)
    )
    assert sum(n.startswith("collect at ") for n in names) == 3, names
    assert len(names) <= 3, names
    assert got.count() == 4


def test_ann_index_reads_codes_with_the_build_id_col(spark, emb, tmp_path):
    """The codes table is read with the schema the build wrote, its id
    column named by the build's ``id_col`` from the params sidecar: a
    serving call or extend with a different ``id_col`` raises instead
    of reading a column of nulls."""
    from etlutils_spark.operators.similarity import (
        ann_index_topk,
        build_ann_index,
        extend_ann_index,
    )

    path = str(tmp_path / "annidx")
    build_ann_index(emb, path, num_clusters=3, m=4, ksub=4)
    other = emb.withColumnRenamed("vec_id", "other")
    with pytest.raises(ValueError, match="id_col='other'"):
        ann_index_topk(other, path, other.limit(2), k=2, id_col="other")
    with pytest.raises(ValueError, match="id_col='other'"):
        extend_ann_index(path, other, id_col="other")


def test_multimodal_feature_plumbing(docs):
    df = multimodal.attach_binary_payload(docs)
    feats = multimodal.extract_features(df).collect()
    assert len(feats) == 5
    by_id = {r.doc_id: r for r in feats}
    # identical payloads -> identical features; histogram sums to ~1
    assert by_id[0].features == by_id[1].features
    assert abs(sum(by_id[0].features) - 1.0) < 1e-9
    assert by_id[0].payload_len > 0


@pytest.mark.skipif(multimodal.has_imaging(), reason="PIL present: real path")
def test_decode_stub_raises():
    """Without PIL, NON-PNG payloads (and a stream too short to carry
    the full 8-byte PNG magic) still raise the capability error; PNG
    goes through the stdlib codec (tests below)."""
    with pytest.raises(NotImplementedError, match="PIL|pillow"):
        multimodal.decode_image(b"\xff\xd8\xff\xe0JFIF")
    with pytest.raises(NotImplementedError, match="PIL|pillow"):
        multimodal.decode_image(b"\x89PNG")  # truncated magic
    with pytest.raises(NotImplementedError, match="PIL|pillow"):
        multimodal.resize_image(b"\xff\xd8\xff\xe0JFIF", 8, 8)


def test_stdlib_png_roundtrip_and_resize():
    """The stdlib PNG codec (zlib+struct) exercises the real-bytes arm
    without an imaging library (r9 verdict Next #6): encode->decode is
    identity, decode_image/resize_image route PNG payloads through it,
    and nearest-neighbor resize hits exact target geometry."""
    import numpy as np

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    png = multimodal._png_encode(arr)
    assert png.startswith(b"\x89PNG\r\n\x1a\n")
    assert (multimodal._png_decode(png) == arr).all()
    # the public hooks route PNG through the codec regardless of PIL
    # (PIL, when present, decodes the same stream — same assertions)
    assert (multimodal.decode_image(png) == arr).all()
    small = multimodal.resize_image(png, 3, 2)
    out = multimodal.decode_image(small)
    assert out.shape == (2, 3, 3)
    # nearest-neighbor at exact integer geometry: corners map to source
    assert (out[0, 0] == arr[0, 0]).all()


def test_stdlib_png_all_filter_types_and_color_types():
    """Decoder coverage for what encoders in the wild actually emit:
    all five per-row filter types (our own encoder only writes filter
    0) and the non-RGB color types (gray, gray+alpha, palette, RGBA),
    each hand-assembled per the PNG spec."""
    import struct
    import zlib

    import numpy as np

    def chunk(ctype, payload):
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", crc)
        )

    def build(width, height, color, raws, plte=None):
        ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
        body = b"".join(raws)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(body)) + chunk(b"IEND", b"")

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    ch, stride = 3, 4 * 3
    rows, prev = [], np.zeros(stride, dtype=np.int32)
    for r, ftype in enumerate([0, 1, 2, 3, 4]):
        raw = arr[r].reshape(-1).astype(np.int32)
        filt = raw.copy()
        for i in range(stride):
            a = int(raw[i - ch]) if i >= ch else 0          # left
            b = int(prev[i])                                # up
            c = int(prev[i - ch]) if i >= ch else 0         # up-left
            if ftype == 1:
                filt[i] = (raw[i] - a) % 256
            elif ftype == 2:
                filt[i] = (raw[i] - b) % 256
            elif ftype == 3:
                filt[i] = (raw[i] - ((a + b) >> 1)) % 256
            elif ftype == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c
                )
                filt[i] = (raw[i] - pred) % 256
        rows.append(bytes([ftype]) + filt.astype(np.uint8).tobytes())
        prev = raw
    png = build(4, 5, 2, rows)
    assert (multimodal._png_decode(png) == arr).all()

    # grayscale (color 0): value replicated into RGB
    g = np.array([[10, 20], [30, 40]], dtype=np.uint8)
    png_g = build(2, 2, 0, [b"\x00" + g[0].tobytes(), b"\x00" + g[1].tobytes()])
    out = multimodal._png_decode(png_g)
    assert (out[..., 0] == g).all() and (out[..., 2] == g).all()

    # gray+alpha (color 4): alpha dropped
    ga = b"\x00" + bytes([10, 255, 20, 0]) + b"\x00" + bytes([30, 7, 40, 9])
    out = multimodal._png_decode(build(2, 2, 4, [ga[:5], ga[5:]]))
    assert (out[..., 0] == g).all()

    # RGBA (color 6): alpha dropped
    rgba = np.dstack([arr[:2, :2], np.full((2, 2), 128, np.uint8)])
    raws = [b"\x00" + rgba[r].tobytes() for r in range(2)]
    out = multimodal._png_decode(build(2, 2, 6, raws))
    assert (out == arr[:2, :2]).all()

    # palette (color 3): PLTE lookup
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    idx = [b"\x00" + bytes([0, 1]), b"\x00" + bytes([2, 0])]
    out = multimodal._png_decode(build(2, 2, 3, idx, plte=plte))
    assert (out[0, 0] == [255, 0, 0]).all() and (out[1, 0] == [0, 0, 255]).all()

    # declared-but-unsupported states stay LOUD, not wrong
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    png16 = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr16)
             + chunk(b"IDAT", zlib.compress(b"\x00" * 26))
             + chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError, match="8-bit"):
        multimodal._png_decode(png16)


@pytest.mark.skipif(not multimodal.has_imaging(), reason="no imaging lib")
def test_decode_real_path_when_pil_lands():
    """Conditional: when an imaging library is importable the hooks run
    for real (decode -> HxWx3 uint8, resize -> exact target geometry);
    the fakes stay the registered-query mode either way."""
    import io

    import numpy as np
    from PIL import Image

    buf = io.BytesIO()
    Image.fromarray(
        np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    ).save(buf, format="PNG")
    png = buf.getvalue()
    arr = multimodal.decode_image(png)
    assert arr.shape == (4, 4, 3) and arr.dtype == np.uint8
    out = multimodal.resize_image(png, 2, 2)
    assert multimodal.decode_image(out).shape == (2, 2, 3)


def test_resize_batch_geometry(docs):
    df = multimodal.attach_binary_payload(docs)
    out = multimodal.resize_batch(df, width=8, height=8).collect()
    assert len(out) == 5
    assert all(r.out_len == 64 and len(r.resized) == 64 for r in out)
    by_id = {r.doc_id: bytes(r.resized) for r in out}
    assert by_id[0] == by_id[1]  # identical payloads -> identical resize


def test_probe_media_typed_metadata(docs):
    df = multimodal.attach_binary_payload(docs)
    out = multimodal.probe_media(df).collect()
    assert len(out) == 5
    by_id = {r.doc_id: r for r in out}
    assert by_id[0].media_kind == by_id[1].media_kind  # identical payloads
    for r in out:
        if r.media_kind == "image":
            assert r.width and r.height and r.sample_rate is None
        elif r.media_kind == "audio":
            assert r.sample_rate == 16000 and r.width is None
        else:
            assert r.fps == 25.0 and r.duration_ms is not None
    # explicit kind column overrides inference
    forced = multimodal.probe_media(
        df.withColumn("kind", F.lit("audio")), kind_col="kind"
    ).collect()
    assert all(r.media_kind == "audio" and r.codec == "fake/pcm16" for r in forced)


def test_audio_chunk_rows_time_geometry(docs):
    df = multimodal.attach_binary_payload(docs)
    # 16kHz x 2B/sample -> 32 bytes per ms; chunk_ms=1 -> 32-byte chunks
    out = multimodal.audio_chunk_rows(df, chunk_ms=1).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r)
    payload_len = {r.doc_id: r.payload_len for r in df.collect()}
    for d, rows in per_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        assert len(rows) == -(-payload_len[d] // 32)  # ceil-div chunk count
        assert rows[0].start_ms == 0
        assert all(r.start_ms == r.chunk_idx * 1 for r in rows)
        assert sum(len(r.chunk) for r in rows) == payload_len[d]
        assert rows[-1].end_ms <= rows[-1].start_ms + 1


def test_sample_frames_explodes_rows(docs):
    df = multimodal.attach_binary_payload(docs)
    out = multimodal.sample_frames(df, num_frames=4).collect()
    assert len(out) == 5 * 4
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append((r.frame_idx, r.frame_md5))
    assert sorted(i for i, _ in per_doc[0]) == [0, 1, 2, 3]
    assert sorted(per_doc[0]) == sorted(per_doc[1])  # identical payloads


def _cc_star_labels(pairs, limit=0, **kw):
    """connected_components with its driver edge limit lowered to
    ``limit``, so any larger graph takes the distributed star rounds."""
    from unittest import mock

    from etlutils_spark.operators import dedup

    with mock.patch.object(dedup, "_CC_DRIVER_MAX_EDGES", limit):
        return {r.node: r.cluster_id
                for r in dedup.connected_components(pairs, **kw).collect()}


def _group_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (its result, the
    Spark jobs that group launched, each named by its first stage's
    call site). Counting by group keeps late jobs of other tests out
    of the figure."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker fills from the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    tracker = sc.statusTracker()
    return out, [
        tracker.getStageInfo(min(tracker.getJobInfo(j).stageIds)).name
        for j in sorted(tracker.getJobIdsForGroup(group))
    ]


def test_connected_components_chain_and_islands(spark):
    # a 4-node CHAIN needs multiple star rounds (diameter 3) --
    # exercises convergence, not just one hop; 7-8 is a disjoint island
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (7, 8)], "doc_id_1 long, doc_id_2 long"
    )
    out = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}
    # the star rounds label identically on the same graph
    assert _cc_star_labels(pairs) == out


def test_connected_components_driver_path_is_local_relation(spark):
    """The driver path's labels are a JVM LocalRelation, not a pickled
    Python RDD (LogicalRDD), whose every consumer would run
    Python-worker tasks."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 8)], "doc_id_1 long, doc_id_2 long"
    )
    stats: dict = {}
    out = connected_components(pairs, stats=stats)
    assert stats["rounds"] == 0
    plan = out._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("node", "bigint"), ("cluster_id", "bigint")
    ]
    assert {r.node: r.cluster_id for r in out.collect()} == {
        1: 1, 2: 1, 3: 1, 7: 7, 8: 7
    }


def test_shingle_rows_single_partition_scan_launches_no_job(spark, tmp_path):
    """Building ``shingle_rows`` over a one-partition scan spreads it
    once and runs no Spark job: a second ``spread`` would ask the
    already-repartitioned frame for its partition count, which under
    AQE materializes the shuffle."""
    path = str(tmp_path / "one_file")
    spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g h")], "doc_id long, text string"
    ).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    assert spark.sparkContext.defaultParallelism > 1
    out, jobs = _group_jobs(spark, lambda: shingle_rows(scan))
    assert jobs == []
    # the spread itself is kept: one round-robin repartition
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Repartition") == 1


def test_lsh_parameter_helpers():
    """S-curve math (MMDS §3.4): probability formula vs brute-force
    expectation, and band selection hits the known sweet spots."""
    import random

    from etlutils_spark.operators.dedup import (
        lsh_candidate_probability,
        pick_lsh_bands,
    )

    # Monte-Carlo check of the closed form: signature agreement per
    # hash is Bernoulli(j); candidate iff some band fully agrees
    rng = random.Random(7)
    j, b, r = 0.6, 4, 2
    hits = 0
    trials = 20000
    for _ in range(trials):
        if any(
            all(rng.random() < j for _ in range(r)) for _ in range(b)
        ):
            hits += 1
    assert abs(hits / trials - lsh_candidate_probability(j, b, r)) < 0.02
    # the repo's default (8 hashes, threshold 0.5) selects 4 bands x 2
    # rows — midpoint (1/4)^(1/2) = 0.5 exactly
    assert pick_lsh_bands(8, 0.5) == 4
    # high threshold -> fewer bands / longer bands; low -> more bands
    assert pick_lsh_bands(8, 0.9) < 4
    assert pick_lsh_bands(8, 0.2) == 8
    import pytest

    with pytest.raises(ValueError):
        pick_lsh_bands(8, 1.5)


def test_build_dedup_clusters_artifact(spark, tmp_path):
    """The materialize-once artifact: labels every doc (singletons to
    themselves), round-trips through parquet, and the expensive pair
    pipeline scans the corpus exactly ONCE per build (the label join is
    the only other scan) — counted via an accumulator on the input."""
    from etlutils_spark.operators.dedup import build_dedup_clusters

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "a completely different document about spark engines"),
        (4, "another unrelated text concerning parquet layouts"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    acc = spark.sparkContext.accumulator(0)

    def counted(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    docs_counted = docs.mapInPandas(counted, docs.schema)
    path = str(tmp_path / "clusters")
    out = build_dedup_clusters(docs_counted, path=path, portable=False)
    labels = {r.doc_id: r.cluster_id for r in out.collect()}
    assert labels == {1: 1, 2: 1, 3: 3, 4: 4}
    # one corpus pass for the shingle->minhash->LSH->verify pipeline
    # (persisted inside), one for the final label join — nothing more
    assert acc.value == 2 * len(rows)
    # the returned frame is parquet-backed: reading again costs no
    # further input scans
    before = acc.value
    assert spark.read.parquet(path).count() == 4
    assert acc.value == before


def test_extend_dedup_index_matches_full_rebuild(spark, tmp_path):
    """Folding batches into the extendable index must label identically
    to a from-scratch build on the union — across TWO successive
    extends (cross-batch pairs discovered via the stored profile
    probe), including a pair whose members arrive in different
    batches."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, base + " one"),
        (2, base + " two"),          # near-dup of 1 (same batch)
        (3, "completely different text about columnar storage engines"),
        (4, base + " three"),        # near-dup of 1/2, arrives batch 2
        (5, "another unrelated note concerning shuffle partitions"),
        (6, base + " four"),         # near-dup, arrives batch 3
        (7, "hi"),                   # too short to shingle — stored half
        (8, "ok"),                   # too short to shingle — arrives batch 2
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    inc_path = str(tmp_path / "inc")
    full_path = str(tmp_path / "full")
    build_dedup_index(docs.filter("doc_id in (1, 2, 3, 7)"), inc_path)
    extend_dedup_index(inc_path, docs.filter("doc_id in (4, 5, 8)"))
    got = extend_dedup_index(inc_path, docs.filter("doc_id = 6"))
    want = build_dedup_index(docs, full_path)
    pick = ["doc_id", "cluster_id"]
    got_rows = sorted(tuple(r) for r in got.select(pick).collect())
    assert got_rows == sorted(tuple(r) for r in want.select(pick).collect())
    # the dup family clustered to its minimum; singletons to themselves
    labels = dict(got_rows)
    assert labels[1] == labels[2] == labels[4] == labels[6] == 1
    assert labels[3] == 3 and labels[5] == 5
    # shingle-less docs (no profile row) keep their labels across
    # extends — the id universe is labels ∪ batch, not profiles
    assert labels[7] == 7 and labels[8] == 8


def test_extend_dedup_index_clean_batch_fast_path(spark, tmp_path):
    """A batch with ZERO verified pairs (the common production case)
    takes the clean fast path on the bucketed layout: no component can
    change, so the edge table must not be touched AT ALL — no append,
    no rewrite — while the batch docs still get label rows (self-labels
    here) and extend ≡ from-scratch rebuild stays bit-identical,
    including a follow-up DIRTY batch that pairs with a clean-batch doc
    (r8 verdict #6: the skip must not corrupt the epoch protocol or the
    star the next refresh relies on)."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, base + " one"),
        (2, base + " two"),   # near-dup of 1 (build batch)
        (3, "completely different text about columnar storage engines"),
        (4, "an unrelated memo on adaptive query execution planning"),
        (5, "notes about watermark semantics in structured streaming"),
        (6, base + " three"),  # near-dup of 1/2, arrives in the DIRTY batch
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    inc_path = str(tmp_path / "cleaninc")
    full_path = str(tmp_path / "cleanfull")
    # label_buckets=4 forces the bucketed layout below the auto cutoff
    build_dedup_index(docs.filter("doc_id in (1, 2, 3)"), inc_path,
                      label_buckets=4)

    def _edge_files():
        d = os.path.join(inc_path, "edges")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if not f.startswith(("_", "."))
        )

    before = _edge_files()
    got = extend_dedup_index(inc_path, docs.filter("doc_id in (4, 5)"))
    assert _edge_files() == before, (
        "clean batch touched the edge table (append or rewrite ran)"
    )
    labels = dict(
        sorted(tuple(r) for r in got.select("doc_id", "cluster_id").collect())
    )
    assert labels[4] == 4 and labels[5] == 5  # clean docs self-label
    assert labels[1] == labels[2] == 1        # stored clusters intact
    # a later dirty batch must still merge against CLEAN-batch-era state
    got2 = extend_dedup_index(inc_path, docs.filter("doc_id = 6"))
    want = build_dedup_index(docs, full_path, label_buckets=4)
    pick = ["doc_id", "cluster_id"]
    assert sorted(tuple(r) for r in got2.select(pick).collect()) == sorted(
        tuple(r) for r in want.select(pick).collect()
    )


def test_extend_dedup_index_job_budget(spark, tmp_path):
    """Spark jobs one refresh may launch, pinned at the measured counts
    for each label layout: on the default (unbucketed) one 18 for a
    dirty batch (its doc pairs with two stored docs) and 9 for a clean
    one; on the bucketed one (``label_buckets=4``) 21 and 13. Each
    eager action under AQE is a job per query stage, so a new probe,
    checkpoint or schema inference on the refresh path shows up here
    first. No job is a schema inference: the stored tables are read
    with the schemas the build recorded, and the returned labels with
    the schema of the table just written or appended to."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, base + " one"),
        (2, base + " two"),
        (3, "completely different text about columnar storage engines"),
        (4, base + " three"),  # dirty batch: pairs with 1 and 2
        (5, "another unrelated note concerning shuffle partitions"),
        (7, "hi"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    for label_buckets, max_dirty, max_clean in [("auto", 18, 9), (4, 21, 13)]:
        path = str(tmp_path / f"budget_{label_buckets}")
        build_dedup_index(
            docs.filter("doc_id in (1, 2, 3, 7)"), path,
            label_buckets=label_buckets,
        )
        # the auto layout of a small corpus is unbucketed
        assert any(
            f.startswith("label_bucket=")
            for f in os.listdir(os.path.join(path, "labels"))
        ) == (label_buckets != "auto")
        _, dirty = _group_jobs(
            spark, lambda: extend_dedup_index(path, docs.filter("doc_id = 4"))
        )
        got, clean = _group_jobs(
            spark, lambda: extend_dedup_index(path, docs.filter("doc_id = 5"))
        )
        assert dict(got.select("doc_id", "cluster_id").collect()) == {
            1: 1, 2: 1, 3: 3, 4: 1, 5: 5, 7: 7
        }
        assert len(dirty) <= max_dirty and len(clean) <= max_clean, (
            label_buckets, dirty, clean,
        )


def test_extend_dedup_index_without_recorded_schemas(spark, tmp_path):
    """A params sidecar missing a key the build records (here the
    table schemas, written by every current build) is not a committed
    artifact: extend raises, naming the missing keys, before it
    touches the artifact. The ANN artifact's reader is the same one:
    its extend and its serving call raise the same way."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )
    from etlutils_spark.operators.similarity import (
        ann_index_topk,
        build_ann_index,
        extend_ann_index,
    )
    from etlutils_spark.sources.sidecar import (
        read_sidecar_json,
        write_sidecar_json,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    docs = spark.createDataFrame(
        [(1, a + " x"), (2, "hi"), (3, a + " y")],
        "doc_id int, text string",
    )
    path = str(tmp_path / "old")
    build_dedup_index(docs.filter("doc_id <= 2"), path)
    params = read_sidecar_json(spark, f"{path}/params")
    assert {"profiles_schema", "labels_schema"} <= set(params)
    partial = {k: v for k, v in params.items() if not k.endswith("_schema")}
    write_sidecar_json(spark, f"{path}/params", partial)
    with pytest.raises(
        ValueError, match="missing profiles_schema, labels_schema"
    ):
        extend_dedup_index(path, docs.filter("doc_id = 3"))
    assert read_sidecar_json(spark, f"{path}/params") == partial
    assert spark.read.parquet(f"{path}/profiles").count() == 1

    vecs = _clustered_vectors(spark, dim=16)
    apath = str(tmp_path / "oldann")
    build_ann_index(vecs, apath, num_clusters=4, m=4, ksub=8)
    aparams = read_sidecar_json(spark, f"{apath}/params")
    del aparams["qerr_mean"]
    write_sidecar_json(spark, f"{apath}/params", aparams)
    with pytest.raises(ValueError, match="missing qerr_mean"):
        extend_ann_index(apath, vecs.limit(2))
    with pytest.raises(ValueError, match="missing qerr_mean"):
        ann_index_topk(vecs, apath, vecs.limit(2), k=3)


def test_extend_dedup_index_batch_id_type_differs_from_build(
    spark, tmp_path
):
    """Batches whose id column is bigint where the build's was int, or
    the reverse, extend repeatedly: appended profile rows take the
    stored id type, so the table keeps the one schema it is read
    with."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    rows = [(1, a + " x"), (2, "one two three four five six"),
            (3, a + " y"), (4, a + " z")]
    for built, batch in [("int", "bigint"), ("bigint", "int")]:
        path = str(tmp_path / f"{built}_{batch}")
        build_dedup_index(
            spark.createDataFrame(rows[:2], f"doc_id {built}, text string"),
            path,
        )
        for row in rows[2:]:
            got = extend_dedup_index(
                path,
                spark.createDataFrame([row], f"doc_id {batch}, text string"),
            )
        assert dict(got.collect()) == {1: 1, 2: 2, 3: 1, 4: 1}, built


def test_extend_dedup_index_recovers_crash_with_int_ids(
    spark, tmp_path, monkeypatch
):
    """A dirty extend of an int-id corpus that dies after its appends
    (here inside connected components) leaves only int64 ids in
    ``path/edges`` — the type of the compacted star — so the next
    refresh's full-scope read of the edge table meets no int32 file,
    and it labels like a rebuild."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etlutils_spark.operators import dedup

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    rows = [(1, a + " x"), (2, "one two three four five six seven"),
            (3, a + " y"), (4, a + " z")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    path = str(tmp_path / "crash")
    dedup.build_dedup_index(docs.filter("doc_id <= 2"), path)

    def crash(*args, **kwargs):
        raise RuntimeError("crash after the appends")

    monkeypatch.setattr(dedup, "connected_components", crash)
    with pytest.raises(RuntimeError, match="crash after the appends"):
        dedup.extend_dedup_index(path, docs.filter("doc_id = 3"))
    monkeypatch.undo()
    files = glob.glob(f"{path}/edges/*.parquet")
    assert [pq.read_schema(f).field("id_1").type for f in files] == [
        pa.int64()
    ] * len(files)
    assert [pq.read_schema(f).field("id_2").type for f in files] == [
        pa.int64()
    ] * len(files)
    edges = {(r["id_1"], r["id_2"])
             for f in files for r in pq.read_table(f).to_pylist()}
    assert (1, 3) in edges  # the crashed batch's edge was appended
    got = dedup.extend_dedup_index(path, docs.filter("doc_id = 4"))
    want = dedup.build_dedup_index(docs, str(tmp_path / "rebuild"))
    assert dict(got.collect()) == dict(want.collect()) == {
        1: 1, 2: 2, 3: 1, 4: 1
    }


def test_extend_dedup_index_affected_scope_matches_full(spark, tmp_path):
    """The affected-scope refresh must label bit-identically to the
    full-scope one (reached, as in production, through drift: unequal
    epoch markers) and to a from-scratch rebuild, including the hard
    cases: a batch doc MERGING two pre-existing clusters, an untouched
    cluster passing through verbatim, and shingle-less docs."""
    from etlutils_spark.operators.dedup import (
        _read_sync_epoch,
        _write_sync_epoch,
        build_dedup_index,
        extend_dedup_index,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    b = "one two three four five six seven eight nine ten eleven twelve"
    c = "spark parquet arrow pandas hive derby duck goose swan crane dove"
    rows = [
        (1, a + " x"), (2, a + " y"),        # cluster A
        (3, b + " x"), (4, b + " y"),        # cluster B
        (5, c + " x"), (6, c + " y"),        # cluster C (never touched)
        (7, "hi"),                            # shingle-less
        # batch: 8 bridges A and B (shares a long span with both), 9 solo
        (8, a + " x " + b + " y"),
        (9, "totally distinct content that matches nothing else at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    base = docs.filter("doc_id <= 7")
    batch = docs.filter("doc_id >= 8")

    p_aff = str(tmp_path / "aff")
    p_full = str(tmp_path / "full")
    p_rebuild = str(tmp_path / "rebuild")
    # bands=8 x 1 row: candidate probability ~0.99 at the bridge's
    # jaccard ~0.43 (4x2 banding is a coin flip there — this test needs
    # the bridge deterministically found, not a recall experiment)
    # the affected side runs on the BUCKETED layout (explicit B — the
    # auto default keeps toy corpora unbucketed), the full side on the
    # legacy layout: the equality below is therefore also a cross-
    # layout equivalence pin for the partial-rewrite branch
    build_dedup_index(base, p_aff, threshold=0.3, bands=8,
                      label_buckets=8)
    build_dedup_index(base, p_full, threshold=0.3, bands=8)
    # unequal epochs send the next p_full refresh to full-scope CC
    _write_sync_epoch(spark, p_full, "profiles",
                      _read_sync_epoch(spark, p_full, "labels") + 1)
    # threshold 0.3: a doc concatenating two clusters' texts overlaps
    # each at jaccard ~0.45 — enough to BRIDGE them, which the default
    # 0.5 cannot (a disjoint-cluster bridge tops out below 0.5)
    pick = ["doc_id", "cluster_id"]
    got_aff = sorted(tuple(r) for r in
                     extend_dedup_index(p_aff, batch, threshold=0.3,
                                        bands=8)
                     .select(pick).collect())
    got_full = sorted(tuple(r) for r in
                      extend_dedup_index(p_full, batch, bands=8,
                                         threshold=0.3)
                      .select(pick).collect())
    want = sorted(tuple(r) for r in
                  build_dedup_index(docs, p_rebuild, bands=8,
                                    threshold=0.3)
                  .select(pick).collect())
    assert got_aff == got_full == want
    labels = dict(got_aff)
    # the bridge doc merged clusters A and B into one component
    assert labels[1] == labels[2] == labels[3] == labels[4] == labels[8] == 1
    # untouched cluster and shingle-less/solo docs intact
    assert labels[5] == labels[6] == 5
    assert labels[7] == 7 and labels[9] == 9
    # the full-scope refresh re-equalized the epochs
    assert _read_sync_epoch(spark, p_full, "profiles") == _read_sync_epoch(
        spark, p_full, "labels"
    )


def test_extend_dedup_index_custom_id_col(spark, tmp_path):
    """A non-default id_col must survive build -> extend: the labels
    table keeps the caller's column name and the extend's id-universe
    read takes it positionally (review regression pin)."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    base = "the quick brown fox jumps over the lazy dog near the bank"
    docs = spark.createDataFrame(
        [(1, base + " x"), (2, base + " y"), (3, "short")],
        "my_id bigint, text string",
    )
    path = str(tmp_path / "cid")
    build_dedup_index(docs.filter("my_id < 3"), path, id_col="my_id")
    out = extend_dedup_index(path, docs.filter("my_id = 3"), id_col="my_id")
    assert out.columns == ["my_id", "cluster_id"]
    labels = {r.my_id: r.cluster_id for r in out.collect()}
    assert labels == {1: 1, 2: 1, 3: 3}


def test_extend_dedup_index_replay_is_idempotent(spark, tmp_path):
    """At-least-once ingest: re-folding the SAME batch (a failure
    replay) must leave the labels unchanged — duplicate profile rows
    collapse in the distinct id set and duplicate edges in the CC's
    canonical edge distinct, the same tolerance the streaming index
    documents."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    base = "shared boilerplate sentence repeated across documents here"
    docs = spark.createDataFrame(
        [(1, base + " a"), (2, base + " b"), (3, "unrelated text entirely")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "idem")
    build_dedup_index(docs.filter("doc_id < 3"), path)
    batch = docs.filter("doc_id = 3")
    first = sorted(tuple(r) for r in extend_dedup_index(path, batch).collect())
    replay = sorted(tuple(r) for r in extend_dedup_index(path, batch).collect())
    assert replay == first


def test_extend_dedup_index_params_sidecar(spark, tmp_path):
    """build writes a (n, num_hashes, bands, threshold) sidecar; extend
    inherits it when params are omitted and RAISES on an explicit
    mismatch — a silent bands mismatch would probe with incompatible
    band signatures and drop every cross-batch duplicate (r6 advice)."""
    import pytest

    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    docs = spark.createDataFrame(
        [(1, a + " x"), (2, a + " y"), (3, "unrelated words entirely here")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "sidecar")
    build_dedup_index(docs.filter("doc_id != 2"), path,
                      bands=8, threshold=0.3)
    # no params passed: the extend must inherit bands=8/threshold=0.3
    # from the sidecar and find the cross-batch near-dup pair
    out = extend_dedup_index(path, docs.filter("doc_id = 2"))
    labels = {r.doc_id: r.cluster_id for r in out.collect()}
    assert labels == {1: 1, 2: 1, 3: 3}
    for bad in (dict(bands=4), dict(threshold=0.5), dict(num_hashes=16),
                dict(n=5)):
        with pytest.raises(ValueError, match="does not match"):
            extend_dedup_index(path, docs.filter("doc_id = 2"), **bad)


def test_unreadable_params_sidecar_is_loud(spark, tmp_path):
    """Params that are torn, a directory, or absent must RAISE, not
    fall back to build defaults: probing a bands=8 index with default
    bands=4 signatures drops every cross-batch duplicate without any
    error — exactly the quiet corruption the sidecar exists to
    prevent."""
    import shutil

    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    docs = spark.createDataFrame(
        [(1, a + " x"), (2, a + " y")], "doc_id bigint, text string"
    )
    path = str(tmp_path / "torn")
    build_dedup_index(docs.filter("doc_id = 1"), path,
                      bands=8, threshold=0.3)
    # torn JSON file
    with open(f"{path}/params", "w") as fh:
        fh.write("{not json")
    with pytest.raises(ValueError, match="not a readable params.*torn"):
        extend_dedup_index(path, docs.filter("doc_id = 2"))
    # a directory at the params path
    os.remove(f"{path}/params")
    os.makedirs(f"{path}/params/_temporary")
    with pytest.raises(ValueError, match="not a readable params.*directory"):
        extend_dedup_index(path, docs.filter("doc_id = 2"))
    # absent entirely: no committed build to extend
    shutil.rmtree(f"{path}/params")
    with pytest.raises(ValueError, match="not a readable params.*absent"):
        extend_dedup_index(path, docs.filter("doc_id = 2"))


def test_absent_params_extends_raise_while_bootstrap_builds(spark, tmp_path):
    """With ``path/params`` deleted from a built artifact, both
    artifacts' extends and ``ann_index_topk`` raise instead of
    extending or serving with guessed parameters, while the streaming
    cold start reads the same state as "no committed artifact" and
    builds."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )
    from etlutils_spark.operators.similarity import (
        ann_index_topk,
        build_ann_index,
        extend_ann_index,
    )
    from etlutils_spark.sources.sidecar import bootstrap_action

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    docs = spark.createDataFrame(
        [(1, a + " x"), (2, a + " y"), (3, "unrelated words entirely here")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "dedup")
    build_dedup_index(docs.filter("doc_id != 2"), path,
                      bands=8, threshold=0.3)
    os.remove(f"{path}/params")
    assert bootstrap_action(spark, path, "build_dedup_index") == "build"
    with pytest.raises(ValueError, match="absent"):
        extend_dedup_index(path, docs.filter("doc_id = 2"))

    vecs = _clustered_vectors(spark, dim=16)
    apath = str(tmp_path / "ann")
    build_ann_index(vecs, apath, num_clusters=4, m=4, ksub=8)
    os.remove(f"{apath}/params")
    assert bootstrap_action(spark, apath, "build_ann_index") == "build"
    with pytest.raises(ValueError, match="absent"):
        extend_ann_index(apath, vecs.limit(2))
    with pytest.raises(ValueError, match="absent"):
        ann_index_topk(vecs, apath, vecs.limit(2), k=3)


def test_bucketed_layout_without_modulus_is_loud(spark, tmp_path):
    """A bucket-partitioned label table whose params records no
    label_buckets cannot have doc buckets recomputed — any label write
    risks duplicate rows across partitions, so extend must raise
    rather than silently restructure the table."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )
    from etlutils_spark.sources.sidecar import (
        read_sidecar_json,
        write_sidecar_json,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    docs = spark.createDataFrame(
        [(1, a + " x"), (2, a + " y")], "doc_id bigint, text string"
    )
    path = str(tmp_path / "nomod")
    build_dedup_index(docs.filter("doc_id = 1"), path,
                      bands=8, threshold=0.3, label_buckets=4)
    params = read_sidecar_json(spark, f"{path}/params")
    del params["label_buckets"]
    write_sidecar_json(spark, f"{path}/params", params)
    with pytest.raises(ValueError, match="label_buckets"):
        extend_dedup_index(path, docs.filter("doc_id = 2"))


def test_extend_dedup_index_affected_drift_fallback(spark, tmp_path):
    """A refresh that crashed AFTER its profile/edge appends but BEFORE
    its label rewrite leaves profile ids with no label row. A later
    extend must detect that drift and fall back to full-scope CC for
    the refresh, self-healing the crashed batch's
    shingleable docs (r6 advice: the compressed graph alone would
    label them to themselves — wrong and complete-looking)."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )
    from etlutils_spark.streaming.incremental_lsh import batch_profiles

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    b = "one two three four five six seven eight nine ten eleven twelve"
    rows = [
        (1, a + " x"), (2, a + " y"),   # stored cluster A
        (3, b + " x"),                   # stored singleton (so far)
        (4, b + " y"),                   # crashed batch: near-dup of 3
        (5, "completely different content about columnar engines"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "drift")
    build_dedup_index(docs.filter("doc_id <= 3"), path,
                      bands=8, threshold=0.3)

    # simulate the crash: bump the profiles-side epoch, land doc 4's
    # profile + its (3,4) edge exactly as extend_dedup_index would,
    # then die before the label rewrite (so the labels-side epoch
    # stays behind — the O(1) drift signal)
    from etlutils_spark.operators.dedup import (
        _read_sync_epoch,
        _write_sync_epoch,
    )

    _write_sync_epoch(
        spark, path, "profiles",
        _read_sync_epoch(spark, path, "labels") + 1,
    )
    crashed = batch_profiles(docs.filter("doc_id = 4"), "text", "doc_id",
                             3, 8, 8)
    crashed.write.mode("append").parquet(f"{path}/profiles")
    spark.createDataFrame([(3, 4)], "id_1 long, id_2 long").write.mode(
        "append"
    ).parquet(f"{path}/edges")
    stale = {r.doc_id for r in spark.read.parquet(f"{path}/labels").collect()}
    assert 4 not in stale  # the artifact really is out of sync

    out = extend_dedup_index(path, docs.filter("doc_id = 5"))
    labels = {r.doc_id: r.cluster_id for r in out.collect()}
    # drift fallback re-derived doc 4's label from the stored edge
    # table; without it, 4 would label to itself
    assert labels == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}
    # the successful fallback refresh re-equalized the epochs
    assert _read_sync_epoch(spark, path, "profiles") == _read_sync_epoch(
        spark, path, "labels"
    )

    # migration path: a pre-r7 artifact has NO sync markers — the same
    # crash must be caught by the one-time profile-vs-label anti-join
    path2 = str(tmp_path / "drift_premarker")
    build_dedup_index(docs.filter("doc_id <= 3"), path2,
                      bands=8, threshold=0.3)
    os.remove(f"{path2}/sync_profiles")
    os.remove(f"{path2}/sync_labels")
    crashed2 = batch_profiles(docs.filter("doc_id = 4"), "text", "doc_id",
                              3, 8, 8)
    crashed2.write.mode("append").parquet(f"{path2}/profiles")
    spark.createDataFrame([(3, 4)], "id_1 long, id_2 long").write.mode(
        "append"
    ).parquet(f"{path2}/edges")
    out2 = extend_dedup_index(path2, docs.filter("doc_id = 5"))
    labels2 = {r.doc_id: r.cluster_id for r in out2.collect()}
    assert labels2 == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}


def test_dedup_index_edges_stay_compacted(spark, tmp_path):
    """After every build/extend the stored edge table is the spanning
    star implied by the labels — |V_dup| rows keyed to each component's
    minimum — so it tracks dup-doc count instead of accumulated batch
    edges (r6 verdict #1: the edge table was the measured growing
    term)."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    rows = [(i, a + f" v{i}") for i in range(1, 6)] + [
        (9, "unrelated text about something else entirely ok")
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "compact")
    build_dedup_index(docs.filter("doc_id <= 3"), path)
    extend_dedup_index(path, docs.filter("doc_id = 4"))
    extend_dedup_index(path, docs.filter("doc_id = 5 or doc_id = 9"))
    labels = {r.doc_id: r.cluster_id
              for r in spark.read.parquet(f"{path}/labels").collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 9: 9}
    edges = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/edges").collect()
    )
    # exactly one (min, member) row per non-singleton doc — NOT the
    # accumulated pair graph (5 near-dup docs produce up to 10 pairs)
    assert edges == [(1, 2), (1, 3), (1, 4), (1, 5)]


def _clustered_vectors(spark, n_per=6, dim=16):
    """Deterministic well-separated clusters: 4 axis-aligned anchors,
    members perturbed by a small rational offset — IVF with decent
    centroids must recover them exactly."""
    rows = []
    for c in range(4):
        for j in range(n_per):
            v = [0.0] * dim
            v[c * 4] = 10.0
            v[c * 4 + 1] = 1.0 + j * 0.125
            v[(c * 4 + 2) % dim] += 0.25 * j
            rows.append((c * 100 + j, v))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_ann_index_build_query_extend(spark, tmp_path):
    """The materialize-once ANN artifact end to end (r6 verdict #3):
    build persists centroids/codebooks/codes/params; exhaustive-probe
    queries equal brute force; PRUNED probes on well-separated data
    recover the true neighbors; extend folds a batch O(batch) and the
    extended index serves it; replay is idempotent."""
    from etlutils_spark.operators.similarity import (
        ann_index_topk,
        build_ann_index,
        cosine_topk,
        extend_ann_index,
    )

    vecs = _clustered_vectors(spark)
    base = vecs.filter("vec_id % 100 < 4")      # 4 per cluster
    rest = vecs.filter("vec_id % 100 >= 4")     # 2 per cluster, batch
    path = str(tmp_path / "annidx")
    codes = build_ann_index(base, path, num_clusters=4, m=4, ksub=8)
    assert codes.count() == base.count()
    q = vecs.filter("vec_id in (0, 100, 200)")

    def pairs(df):
        return sorted((r.query_id, r.vec_id, r.rank) for r in df.collect())

    # exhaustive probe == brute force (value contract incl. rank order)
    got = ann_index_topk(base, path, q, k=3, nprobe=4, shortlist=64)
    assert pairs(got) == pairs(cosine_topk(base, q, k=3))
    # pruned single-cell probe still recovers same-cluster neighbors
    # (clusters are separated by construction)
    got1 = ann_index_topk(base, path, q, k=3, nprobe=1, shortlist=64)
    assert pairs(got1) == pairs(cosine_topk(base, q, k=3))

    # extend: O(batch) append against FROZEN quantizers
    ext = extend_ann_index(path, rest)
    assert ext.count() == vecs.count()
    assert extend_ann_index(path, rest).count() == vecs.count()  # replay
    got_all = ann_index_topk(vecs, path, q, k=3, nprobe=4, shortlist=64)
    assert pairs(got_all) == pairs(cosine_topk(vecs, q, k=3))
    # batch rows landed in the right IVF cells: a batch member's top
    # neighbors under a single-cell probe include its cluster's new doc
    got1_all = ann_index_topk(vecs, path, q, k=5, nprobe=1, shortlist=64)
    assert pairs(got1_all) == pairs(cosine_topk(vecs, q, k=5))

    # empty query set: stable empty schema
    empty = ann_index_topk(vecs, path, vecs.filter("vec_id < 0"), k=3)
    assert empty.columns == ["query_id", "vec_id", "cosine", "rank"]
    assert empty.count() == 0


def test_cc_star_keeps_self_loop_only_nodes(spark):
    # a node whose ONLY pairs are self-pairs must still appear in the
    # output, labeled to itself, on BOTH paths (round-6 advice fix:
    # star used to build its node set after the u!=v filter and drop it)
    pairs = spark.createDataFrame(
        [(1, 2), (5, 5)], "doc_id_1 long, doc_id_2 long"
    )
    expected = {1: 1, 2: 1, 5: 5}
    lab_driver = {r.node: r.cluster_id
                  for r in connected_components(pairs).collect()}
    assert lab_driver == expected
    assert _cc_star_labels(pairs) == expected


def test_cc_star_rounds_logarithmic_on_chains(spark):
    """Kiveris-style alternating stars converge in O(log n) rounds, not
    O(diameter): a 24-node chain (diameter 23 — the
    arbitrary-pair-graph shape leakage_safe_split can see) must finish
    in <= 8 rounds with the component-minimum labels."""
    n = 24
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_id_1 long, doc_id_2 long"
    )
    s_star: dict = {}
    lab_star = _cc_star_labels(pairs, max_iter=50, stats=s_star)
    assert lab_star == {i: 0 for i in range(n)}
    assert s_star["rounds"] <= 8


def test_cosine_topk_arrow_matches_jvm(spark, sf_dir):
    from etlutils_spark.operators.similarity import cosine_topk, cosine_topk_arrow
    from etlutils_spark.sources.files import read_table

    emb = read_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 3)
    jvm = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in cosine_topk(emb, q, k=5).collect()
    }
    arrow = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in cosine_topk_arrow(emb, q, k=5).collect()
    }
    assert set(jvm) == set(arrow)
    for key, (vid, cos) in jvm.items():
        avid, acos = arrow[key]
        assert avid == vid, (key, vid, avid)
        assert abs(acos - cos) < 1e-9


def test_cosine_topk_arrow_query_size_guard(spark, sf_dir):
    """Passing a corpus-sized frame as the query side must fail fast
    (the query matrix is driver-collected and task-replicated), not OOM."""
    import pytest

    from etlutils_spark.operators.similarity import cosine_topk_arrow
    from etlutils_spark.sources.files import read_table

    emb = read_table(spark, "embeddings", sf_dir)
    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk_arrow(emb, emb, k=5, max_query_rows=3)


def test_window_dedup_stats_planted(spark):
    from etlutils_spark.operators.dedup import window_dedup_stats

    rows = [
        (0, "a b c d e f g h"),          # two windows, both first
        (1, "a b c d x y z w"),          # window 0 duplicates doc 0's
        (2, "a b c d"),                  # fully duplicate span
        (3, "e f"),                      # short tail window, unique
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: r
        for r in window_dedup_stats(df, window=4).collect()
    }
    assert out[0]["n_dup_windows"] == 0 and out[0]["kept_ratio"] == 1.0
    assert out[1]["n_windows"] == 2 and out[1]["n_dup_windows"] == 1
    assert out[1]["n_kept_tokens"] == 4 and out[1]["kept_ratio"] == 0.5
    assert out[2]["n_dup_windows"] == 1 and out[2]["kept_ratio"] == 0.0
    assert out[3]["n_tokens"] == 2 and out[3]["kept_ratio"] == 1.0


def test_window_dedup_intra_doc_repeat(spark):
    from etlutils_spark.operators.dedup import window_dedup_stats

    df = spark.createDataFrame(
        [(7, "p q r s p q r s")], "doc_id bigint, text string"
    )
    row = window_dedup_stats(df, window=4).collect()[0]
    # the second occurrence of the same span inside ONE document is a dup
    assert row["n_windows"] == 2 and row["n_dup_windows"] == 1
    assert row["n_kept_tokens"] == 4


def test_decontaminate_rewrite_drops_only_contaminated_spans(spark):
    """Span-level decontamination keeps a document's clean mass: a doc
    quoting one benchmark passage loses exactly the window holding the
    quote; a fully-contaminated doc disappears; untouched docs pass
    through whole; spans shorter than n carry no shingles and survive."""
    from etlutils_spark.operators.dedup import decontaminate_rewrite

    bench = spark.createDataFrame(
        [(100, "the secret benchmark passage about held out answers")],
        "doc_id bigint, text string",
    )
    mk = lambda seed, k: " ".join(  # noqa: E731
        f"{seed}{i}" for i in range(k)
    )
    rows = [
        # window=8 over 23 tokens: span0 = a0..a7 (clean), span1 = the
        # 7-word quote + b0 (contaminated — b0 rides in the dropped
        # window: span granularity, not token granularity), span2 =
        # b1..b7 (clean)
        (1, mk("a", 8) + " the secret benchmark passage about held out"
            + " " + mk("b", 8)),
        # exactly one fully-contaminated span -> the doc disappears
        (2, "the secret benchmark passage about held out answers"),
        (3, mk("c", 12)),  # untouched
        (4, "tiny"),       # < n tokens: no shingles, never contaminated
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in decontaminate_rewrite(docs, bench, window=8, n=3).collect()
    }
    assert 2 not in out  # fully contaminated -> no clean tokens
    assert out[1].clean_text == mk("a", 8) + " " + " ".join(
        f"b{i}" for i in range(1, 8)
    )
    assert out[1].n_kept_tokens == 15
    assert out[3].clean_text == mk("c", 12) and out[3].n_kept_tokens == 12
    assert out[4].clean_text == "tiny" and out[4].n_kept_tokens == 1


def test_decontaminate_attribution_counts(spark):
    """Per-benchmark-doc attribution: a quoted item reports every
    quoting training doc exactly once, distinct-shingle mass counts
    the bench doc's own shingles seen in training (not hit
    multiplicity), n_hits counts (train doc, shingle) pairs, and an
    unquoted bench doc is absent."""
    from etlutils_spark.operators.dedup import decontaminate_attribution

    bench = spark.createDataFrame(
        [(100, "the secret answer is forty two exactly"),
         (101, "an entirely unquoted benchmark item here")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            # quotes 4 consecutive tokens of bench 100 -> 2 shingles
            (1, "prefix words the secret answer is more filler"),
            # quotes the full 7-token item -> 5 shingles
            (2, "the secret answer is forty two exactly trailing"),
            (3, "nothing in common with anything at all"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.bench_id: r
        for r in decontaminate_attribution(train, bench, n=3).collect()
    }
    assert set(out) == {100}
    assert out[100].n_quoting_docs == 2
    assert out[100].n_shared_shingles == 5
    assert out[100].n_hits == 7  # doc1: 2 pairs, doc2: 5 pairs


def test_decontaminate_rewrite_catches_boundary_straddling_quote(spark):
    """A benchmark quote of exactly n tokens lying ACROSS the span
    boundary belongs to neither span's own shingle set — the r9
    per-span probe missed it (VERDICT r9 #2). The positioned-gram probe
    assigns the straddling gram to both spans it touches, so both drop;
    an identical doc with the quote's tokens scattered (no contiguous
    gram) keeps everything."""
    from etlutils_spark.operators.dedup import decontaminate_rewrite

    bench = spark.createDataFrame(
        [(100, "held out answer")], "doc_id bigint, text string"
    )
    mk = lambda seed, k: " ".join(  # noqa: E731
        f"{seed}{i}" for i in range(k)
    )
    rows = [
        # window=8: tokens 0..6 = a0..a6, token 7 = "held" (end of span
        # 0), tokens 8,9 = "out answer" (start of span 1), 10..15 =
        # b0..b5. The only contaminated 3-gram "held out answer" starts
        # at 0-based pos 7 and straddles the 7|8 boundary: span 0 and
        # span 1 must BOTH drop, leaving only span 2 (b6..b9).
        (1, mk("a", 7) + " held out answer " + mk("b", 10)),
        # same tokens, quote broken up: no contiguous contaminated gram
        (2, mk("a", 7) + " held x out x answer " + mk("b", 8)),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in decontaminate_rewrite(docs, bench, window=8, n=3).collect()
    }
    assert out[1].clean_text == " ".join(f"b{i}" for i in range(6, 10))
    assert out[1].n_kept_tokens == 4
    assert out[2].n_kept_tokens == 20  # untouched: all 20 tokens kept


def test_containment_detects_subset(spark):
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"tok{i}" for i in range(30))
    df = spark.createDataFrame(
        [(0, short), (1, long)], "doc_id bigint, text string"
    )
    sh = shingle_rows(df)
    # every 3-gram of the short doc appears in the long doc's prefix
    cont = jaccard_pairs(sh, containment_threshold=0.9).collect()
    assert len(cont) == 1
    assert cont[0]["containment"] == 1.0
    assert cont[0]["jaccard"] < 0.5
    # plain Jaccard at the same strictness misses the inclusion
    assert jaccard_pairs(sh, threshold=0.5).count() == 0


def test_centroid_assign_planted(spark):
    from etlutils_spark.operators.similarity import centroid_assign

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cluster_id bigint, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (10, [0.9, 0.1]),   # -> cluster 0
            (11, [0.2, 0.8]),   # -> cluster 1
            (12, [1.0, 1.0]),   # equidistant: tie breaks to cluster 0
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in centroid_assign(corpus, cents).collect()}
    assert out[10]["cluster_id"] == 0
    assert out[11]["cluster_id"] == 1
    assert out[12]["cluster_id"] == 0  # deterministic low-id tie-break
    assert abs(out[12]["cosine"] - 2 ** -0.5) < 1e-9


def test_semantic_dedup_drops_within_cluster_only(spark):
    from etlutils_spark.operators.similarity import semantic_dedup

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cluster_id bigint, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.05]),   # cluster 0, survives (lowest id near 11)
            (11, [1.0, 0.06]),   # cluster 0, near-dup of 10 -> dropped
            (12, [0.05, 1.0]),   # cluster 1: near 10/11 in NO sense, survives
            (13, [-0.9, 1.0]),   # cluster 1, far from 12 at 0.95 -> survives
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = semantic_dedup(corpus, cents, threshold=0.95)
    rows = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    assert set(rows) == {10, 12, 13}
    assert rows[10] == 0 and rows[12] == 1 and rows[13] == 1


def test_window_dedup_rewrite_reassembles_in_order(spark):
    from etlutils_spark.operators.dedup import window_dedup_rewrite

    rows = [
        (0, "a b c d e f g h"),
        (1, "a b c d x y z w"),   # first span duplicates doc 0's
        (2, "a b c d"),           # fully duplicate -> drops out
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in window_dedup_rewrite(df, window=4).collect()}
    assert set(out) == {0, 1}
    assert out[0]["dedup_text"] == "a b c d e f g h"
    assert out[1]["dedup_text"] == "x y z w" and out[1]["n_kept_tokens"] == 4


def test_semantic_dedup_cluster_size_guard(spark):
    from etlutils_spark.operators.similarity import semantic_dedup

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cluster_id bigint, embedding array<float>"
    )
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.01 * i]) for i in range(5)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match="max_cluster_size"):
        semantic_dedup(corpus, cents, max_cluster_size=3)
    # within budget: runs normally
    assert semantic_dedup(corpus, cents, threshold=1.01,
                          max_cluster_size=10).count() == 5


def test_window_dedup_stride_catches_shifted_duplicate(spark):
    from etlutils_spark.operators.dedup import window_dedup_stats

    content = " ".join(f"c{i}" for i in range(32))
    rows = [
        (0, content + " " + " ".join(f"tail{i}" for i in range(8))),
        # same 32-token span, shifted by exactly one stride (16 tokens)
        (1, " ".join(f"pre{i}" for i in range(16)) + " " + content),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # non-overlapping windows: doc 1's copy never aligns -> no dups
    plain = {r["doc_id"]: r["n_dup_windows"]
             for r in window_dedup_stats(df, window=32).collect()}
    assert plain == {0: 0, 1: 0}
    # stride-16 overlap: the shifted span lands on an identical key
    shifted = {r["doc_id"]: r["n_dup_windows"]
               for r in window_dedup_stats(df, window=32, stride=16).collect()}
    assert shifted[1] >= 1


def test_span_dedup_fast_hash_parity(spark):
    # the xxhash64 fast path must produce identical STATS to the
    # portable-md5 oracle mode (only the key domain differs)
    from etlutils_spark.operators.dedup import window_dedup_stats

    rows = [(0, "a b c d e f g h"), (1, "a b c d x y z w"), (2, "a b c d")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    canon = lambda out: sorted(map(str, out.collect()))
    assert canon(window_dedup_stats(df, window=4, portable=True)) == \
           canon(window_dedup_stats(df, window=4, portable=False))


def test_centroid_assign_fast_parity(spark):
    # double fast-path cosine must agree with the decimal-exact path on
    # ASSIGNMENT (scores may differ in the last ulp)
    from etlutils_spark.operators.similarity import centroid_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from pyspark.sql import functions as F
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster_id"), "embedding"
    )
    a = {r["vec_id"]: r["cluster_id"]
         for r in centroid_assign(emb, cents, exact=True).collect()}
    b = {r["vec_id"]: r["cluster_id"]
         for r in centroid_assign(emb, cents, exact=False).collect()}
    # ulp-level score differences may flip genuine ties only; on this
    # corpus assignments must match outright
    assert a == b


def test_profile_embeddings_flags_degenerate_dim(spark):
    from etlutils_spark.operators.similarity import profile_embeddings

    emb = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [3.0, 5.0]), (2, [2.0, 5.0])],
        "vec_id bigint, embedding array<float>",
    )
    out = {r["dim"]: r for r in profile_embeddings(emb).collect()}
    assert out[0]["min_val"] == 1.0 and out[0]["max_val"] == 3.0
    assert abs(out[0]["mean_val"] - 2.0) < 1e-8
    # dim 1 is degenerate: min == max (dead weight in every distance)
    assert out[1]["min_val"] == out[1]["max_val"] == 5.0
    assert all(r["n_vectors"] == 3 for r in out.values())


def test_pq_topk_exact_when_shortlist_covers_corpus(emb):
    """shortlist >= |corpus| makes the ADC stage a pure pre-filter: the
    exact re-rank then reproduces brute force row-for-row (including
    bit-identical cosines, both decimal-exact)."""
    from etlutils_spark.operators.similarity import pq_topk

    queries = emb.filter(F.col("vec_id") < 2)
    exact = {(r.query_id, r.vec_id, r.rank, r.cosine)
             for r in cosine_topk(emb, queries, k=3).collect()}
    pq = {(r.query_id, r.vec_id, r.rank, r.cosine)
          for r in pq_topk(emb, queries, k=3, m=4, ksub=4, shortlist=100).collect()}
    assert pq == exact


def test_pq_topk_neardup_recall_and_determinism(emb):
    from etlutils_spark.operators.similarity import pq_topk

    queries = emb.filter(F.col("vec_id") < 2)
    a = pq_topk(emb, queries, k=3, m=4, ksub=4, shortlist=6).collect()
    top1 = {r.query_id: r.vec_id for r in a if r.rank == 1}
    # the planted near-duplicate (0 -> 10) survives a pruned shortlist
    assert top1.get(0) == 10
    b = pq_topk(emb, queries, k=3, m=4, ksub=4, shortlist=6).collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}


def test_pq_guards(emb):
    import pytest

    from etlutils_spark.operators.similarity import pq_topk, pq_train

    with pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, m=5)  # dim 16 % 5 != 0
    with pytest.raises(ValueError, match="max_query_rows"):
        pq_topk(emb, emb, k=3, m=4, max_query_rows=3)
    # the shortlist frame is explicitly broadcast for the exact re-rank;
    # |queries| x shortlist over the cap must fail loudly, not OOM
    with pytest.raises(ValueError, match="max_shortlist_rows"):
        pq_topk(emb, emb.filter(F.col("vec_id") < 2), k=3, m=4,
                shortlist=8, max_shortlist_rows=10)
    books = pq_train(emb, m=4, ksub=4)
    assert books.shape == (4, 4, 4)


def test_decontaminate_semantic_flags_planted_neardup(emb):
    import pytest

    from etlutils_spark.operators.similarity import decontaminate_semantic

    # benchmark = vector 0; corpus contains its planted near-dup (id 10)
    bench = emb.filter(F.col("vec_id") == 0)
    corpus = emb.filter(F.col("vec_id") > 0)
    out = {r.vec_id: (r.max_benchmark_cosine, r.contaminated)
           for r in decontaminate_semantic(corpus, bench, threshold=0.95).collect()}
    assert out[10][1] is True and out[10][0] > 0.99
    assert sum(1 for _, c in out.values() if c) == 1  # only the plant
    with pytest.raises(ValueError, match="max_benchmark_rows"):
        decontaminate_semantic(corpus, emb, max_benchmark_rows=3)
    with pytest.raises(ValueError, match="empty"):
        decontaminate_semantic(corpus, emb.filter(F.col("vec_id") < 0))


def test_hard_negative_mining_excludes_same_label(emb):
    from etlutils_spark.operators.similarity import hard_negative_mining

    labeled = emb.withColumn("label", (F.col("vec_id") % 2).cast("int"))
    out = hard_negative_mining(labeled, labeled.filter(F.col("vec_id") < 2), k=3)
    rows = out.collect()
    assert rows and all(r.label != r.query_label for r in rows)
    # vec 10 is the planted near-dup of vec 0 (labels 0 vs 0: SAME
    # label -> excluded); top negative for query 0 must not be 10
    top = {r.query_id: r.vec_id for r in rows if r.rank == 1}
    assert top.get(0) != 10


def test_decontaminate_semantic_fast_mode_agrees(emb):
    from etlutils_spark.operators.similarity import decontaminate_semantic

    bench = emb.filter(F.col("vec_id") < 2)
    corpus = emb.filter(F.col("vec_id") >= 2)
    a = {r.vec_id: r.contaminated
         for r in decontaminate_semantic(corpus, bench, threshold=0.9).collect()}
    b = {r.vec_id: r.contaminated
         for r in decontaminate_semantic(corpus, bench, threshold=0.9,
                                         exact=False).collect()}
    assert a == b  # double-accumulated flags match decimal-exact flags


def test_int8_quantization_error_bound_and_zero_vector(spark, emb):
    """|reconstruction error| <= scale/2 per dimension by construction;
    zero vectors quantize to all-zero codes with scale 0; codes fit
    int8 range."""
    from etlutils_spark.operators.similarity import (
        dequantize_int8,
        quantize_embeddings_int8,
    )

    q = quantize_embeddings_int8(emb).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    err = F.array_max(
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            dequantize_int8(q),
            lambda a, b: F.abs(a - b),
        )
    )
    rows = q.select("vec_id", "scale", "codes", err.alias("e")).collect()
    for r in rows:
        assert r.e <= r.scale / 2 + 1e-12
        assert all(-127 <= c <= 127 for c in r.codes)
    zero = spark.createDataFrame(
        [(99, [0.0] * 8)], "vec_id long, embedding array<float>"
    )
    zr = quantize_embeddings_int8(zero).collect()[0]
    assert zr.scale == 0.0 and all(c == 0 for c in zr.codes)


def test_triplet_mining_semantics(spark):
    """Triplets: anchors/positives share a cluster, negatives never do;
    selection is deterministic; pool-size guard fires loudly."""
    from etlutils_spark.operators.dedup import triplet_mining

    clusters = spark.createDataFrame(
        [(i, i // 3) for i in range(30)],  # 10 clusters of 3
        "node long, cluster_id long",
    )
    out = triplet_mining(clusters, neg_pool_rate=1.0).collect()
    assert len(out) == 10 * 3  # 3 ordered pairs per 3-clique
    cl = {i: i // 3 for i in range(30)}
    for r in out:
        assert cl[r.anchor] == cl[r.positive] and r.anchor < r.positive
        assert cl[r.negative] != cl[r.anchor]
    again = {(r.anchor, r.positive): r.negative
             for r in triplet_mining(clusters.repartition(5),
                                     neg_pool_rate=1.0).collect()}
    assert all(again[(r.anchor, r.positive)] == r.negative for r in out)
    import pytest

    with pytest.raises(ValueError, match="max_pool"):
        triplet_mining(clusters, neg_pool_rate=1.0, max_pool=5).collect()
    with pytest.raises(ValueError, match="neg_pool_rate"):
        triplet_mining(clusters, neg_pool_rate=0.0)


def test_standardize_embeddings_moments_and_zero_variance(spark):
    """Standardized dims have ~0 mean and ~1 std; constant dims map to
    exactly 0.0 everywhere (never NaN); output order is dim order."""
    import numpy as np

    from etlutils_spark.operators.similarity import standardize_embeddings

    rng = np.random.RandomState(3)
    vecs = rng.randn(50, 4)
    vecs[:, 2] = 7.0  # zero-variance dimension
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.embedding_std
           for r in standardize_embeddings(df).collect()}
    M = np.array([out[i] for i in range(50)])
    assert M.shape == (50, 4)
    assert np.allclose(M[:, 2], 0.0)
    for d in (0, 1, 3):
        assert abs(M[:, d].mean()) < 1e-6
        assert abs(M[:, d].std() - 1.0) < 1e-6


def test_standardize_embeddings_keeps_null_and_empty_rows(spark):
    from etlutils_spark.operators.similarity import standardize_embeddings

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0]), (2, None), (3, [])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r.embedding_std
           for r in standardize_embeddings(df).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[2] is None and out[3] is None
    assert len(out[0]) == 2


def test_dedup_rate_report_semantics(spark):
    """Planted corpus: 2 exact dups + 1 near-dup cluster member in one
    segment; rates and cluster sizes must match hand computation, and
    the overall segment covers everything."""
    from etlutils_spark.operators.dedup import dedup_rate_report

    docs = spark.createDataFrame(
        [(0, "same text", "a"), (1, "same text", "a"),
         (2, "near text", "a"), (3, "other", "b")],
        "doc_id long, text string, source string",
    )
    # near-dup clusters: 0,1,2 share a cluster; 3 is a singleton
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3)], "node long, cluster_id long"
    )
    by_src = {r.segment: r for r in
              dedup_rate_report(docs, clusters, group_col="source")
              .collect()}
    a = by_src["a"]
    assert a.n_docs == 3 and a.n_exact_dup_docs == 1  # doc 1 repeats 0
    assert a.n_near_dup_docs == 2                      # docs 1 and 2
    assert a.n_clusters == 1 and a.mean_cluster_size == 3.0
    b = by_src["b"]
    assert b.n_docs == 1 and b.n_near_dup_docs == 0
    overall = dedup_rate_report(docs, clusters).collect()[0]
    assert overall.segment == "__all__" and overall.n_docs == 4
    assert overall.n_exact_dup_docs == 1 and overall.n_near_dup_docs == 2


def test_ann_index_dim_mismatch_raises(spark, tmp_path):
    """Vectors of the wrong dimensionality must fail LOUDLY against
    the index's build-time dim (params sidecar), not with an opaque
    numpy shape error mid-UDF."""
    import pytest

    from etlutils_spark.operators.similarity import (
        ann_index_topk,
        build_ann_index,
        extend_ann_index,
    )

    vecs = _clustered_vectors(spark, dim=16)
    path = str(tmp_path / "dimidx")
    build_ann_index(vecs, path, num_clusters=4, m=4, ksub=8)
    bad = spark.createDataFrame(
        [(999, [1.0] * 8)], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(Exception, match="dim"):
        extend_ann_index(path, bad).count()
    with pytest.raises(ValueError, match="dim"):
        ann_index_topk(vecs, path, bad, k=3)


def test_affected_extend_rewrites_only_touched_buckets(spark, tmp_path):
    """The labels table is partitioned by pmod(xxhash64(doc_id), B);
    an affected-scope extend must rewrite ONLY the partitions holding
    changed labels (dynamic partition overwrite) — the r6 verdict's
    'label rewrite touches the whole corpus per refresh' growing term.
    Untouched bucket directories stay byte-identical (same files, same
    mtimes)."""
    from etlutils_spark.operators.dedup import (
        _label_bucket,
        build_dedup_index,
        extend_dedup_index,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    stored = [(i, f"unique document number {i} with its own words {i}")
              for i in range(1, 21)]
    stored += [(100, a + " x"), (101, a + " y")]
    docs = spark.createDataFrame(stored, "doc_id bigint, text string")
    path = str(tmp_path / "buckets")
    build_dedup_index(docs, path, bands=8, threshold=0.3,
                      label_buckets=8)

    def _snapshot():
        snap = {}
        root = f"{path}/labels"
        for d in os.listdir(root):
            if not d.startswith("label_bucket="):
                continue
            full = os.path.join(root, d)
            snap[d] = sorted(
                (f, os.path.getmtime(os.path.join(full, f)))
                for f in os.listdir(full)
                if not f.startswith(".")
            )
        return snap

    before = _snapshot()
    assert len(before) > 1  # the point needs >1 partition to make
    batch = spark.createDataFrame([(102, a + " z")],
                                  "doc_id bigint, text string")
    out = extend_dedup_index(path, batch)
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    assert got[100] == got[101] == got[102] == 100
    assert got[5] == 5 and len(got) == 23
    after = _snapshot()
    # buckets of the changed docs (the near-dup family + the batch doc)
    changed = spark.createDataFrame(
        [(100,), (101,), (102,)], "doc_id bigint"
    ).select(_label_bucket("doc_id", 8).alias("b")).distinct().collect()
    touched = {f"label_bucket={r.b}" for r in changed}
    for d in before:
        if d in touched:
            assert after[d] != before[d], f"{d} should have been rewritten"
        else:
            assert after[d] == before[d], f"{d} was rewritten needlessly"
    # the bucketed branch recompacts edges WITHOUT a label scan (kept
    # star + new components) — the result must still be the exact
    # spanning star a full-label compaction would produce
    edges = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/edges").collect()
    )
    assert edges == [(100, 101), (100, 102)]
    # and a SECOND extend against the recompacted star keeps labeling
    # correctly (the star is the next refresh's membership source)
    batch2 = spark.createDataFrame([(103, a + " w")],
                                   "doc_id bigint, text string")
    out2 = extend_dedup_index(path, batch2)
    got2 = {r.doc_id: r.cluster_id for r in out2.collect()}
    assert got2[100] == got2[101] == got2[102] == got2[103] == 100
    edges2 = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/edges").collect()
    )
    assert edges2 == [(100, 101), (100, 102), (100, 103)]


def test_sync_epoch_marker_formats(spark, tmp_path):
    """Epoch markers are single text files written through the Hadoop
    FileSystem API (no Spark job — the HDFSMetadataLog pattern).
    Unreadable forms — absent, the earlier parquet-DIRECTORY marker,
    or a torn write — all read as None, which routes the next extend
    through the conservative migration/drift path."""
    from etlutils_spark.operators.dedup import (
        _read_sync_epoch,
        _write_sync_epoch,
    )

    root = str(tmp_path / "markers")
    os.makedirs(root)
    _write_sync_epoch(spark, root, "profiles", 7)
    assert os.path.isfile(f"{root}/sync_profiles")
    assert _read_sync_epoch(spark, root, "profiles") == 7
    # overwrite in place (the per-refresh bump)
    _write_sync_epoch(spark, root, "profiles", 8)
    assert _read_sync_epoch(spark, root, "profiles") == 8
    # absent
    assert _read_sync_epoch(spark, root, "labels") is None
    # earlier parquet-directory form -> migration path, and a writer
    # retires it in place
    os.makedirs(f"{root}/sync_labels")
    assert _read_sync_epoch(spark, root, "labels") is None
    _write_sync_epoch(spark, root, "labels", 3)
    assert os.path.isfile(f"{root}/sync_labels")
    assert _read_sync_epoch(spark, root, "labels") == 3
    # torn write (garbage bytes) -> None, not a crash
    with open(f"{root}/sync_labels", "w") as fh:
        fh.write("not-an-int")
    assert _read_sync_epoch(spark, root, "labels") is None


def test_extend_dedup_index_recovers_truncated_compaction(spark, tmp_path):
    """A crash INSIDE the post-refresh edge compaction (non-atomic
    parquet overwrite: old files deleted, new star not committed)
    leaves fresh labels, a truncated — here fully emptied — edge
    table, and unequal epochs. The next refresh's drift recovery must
    re-derive connectivity from edges ∪ star(labels), so no cluster
    splits (r7 review: recovery previously trusted the edge table
    alone)."""
    from etlutils_spark.operators.dedup import (
        _read_sync_epoch,
        _write_sync_epoch,
        build_dedup_index,
        extend_dedup_index,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    rows = [
        (1, a + " x"), (2, a + " y"),
        (3, "completely different content about columnar engines"),
        (4, a + " z"),
        (5, "another unrelated note concerning shuffle partitions"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "trunc")
    build_dedup_index(docs.filter("doc_id <= 3"), path,
                      bands=8, threshold=0.3)
    extend_dedup_index(path, docs.filter("doc_id = 4"))
    labels = {r.doc_id: r.cluster_id
              for r in spark.read.parquet(f"{path}/labels").collect()}
    assert labels == {1: 1, 2: 1, 3: 3, 4: 1}

    # simulate the mid-compaction crash of that refresh: labels and
    # profiles-side epoch landed, edge overwrite died after deleting
    # the old files (worst case: nothing committed), labels-side epoch
    # never written
    spark.createDataFrame([], "id_1 long, id_2 long").write.mode(
        "overwrite"
    ).parquet(f"{path}/edges")
    _write_sync_epoch(
        spark, path, "labels",
        _read_sync_epoch(spark, path, "labels") - 1,
    )

    out = extend_dedup_index(path, docs.filter("doc_id = 5"))
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    # cluster {1,2,4} survived the emptied edge table via star(labels)
    assert got == {1: 1, 2: 1, 3: 3, 4: 1, 5: 5}
    # recovery re-equalized the epochs and recompacted the star
    assert _read_sync_epoch(spark, path, "profiles") == _read_sync_epoch(
        spark, path, "labels"
    )
    edges = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/edges").collect()
    )
    assert edges == [(1, 2), (1, 4)]


def test_lloyd_kmeans_duplicate_heavy_sample():
    """k-means++ seeding must not crash when the sample has fewer
    DISTINCT vectors than k: once every point coincides with a chosen
    centroid the D^2 density is all-zero and rng.choice would raise
    'probabilities do not sum to 1'. Duplicate-heavy corpora — the
    normal case in a dedup framework — hit this even with
    len(X) >= k; remaining centroids pad with repeats, the same policy
    as the len(X) < k branch (review catch)."""
    import numpy as np

    from etlutils_spark.operators.similarity import _lloyd_kmeans

    X = np.vstack(
        [np.tile([1.0, 0.0], (60, 1)), np.tile([0.0, 1.0], (40, 1))]
    )
    C = _lloyd_kmeans(X, 8, seed=42, iters=5)
    assert C.shape == (8, 2)
    # both real modes recovered despite the degenerate seeding
    assert any(np.allclose(c, [1.0, 0.0]) for c in C)
    assert any(np.allclose(c, [0.0, 1.0]) for c in C)
    # still deterministic for a given (sample, seed)
    assert (C == _lloyd_kmeans(X, 8, seed=42, iters=5)).all()


def test_build_ann_index_duplicate_heavy_corpus(spark, tmp_path):
    """End-to-end twin of the seeding fix: an ANN build over a corpus
    with fewer distinct embeddings than num_clusters (and than ksub,
    which trains per-subspace codebooks through the same Lloyd path)
    must succeed and assign every vector a cell and a code."""
    from etlutils_spark.operators.similarity import build_ann_index

    rows = [(i, ([1.0, 0.0] * 4) if i % 2 else ([0.0, 1.0] * 4))
            for i in range(1, 41)]
    vecs = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    path = str(tmp_path / "dupann")
    codes = build_ann_index(vecs, path, num_clusters=8, m=4, ksub=8)
    assert codes.count() == 40
    assert codes.filter(F.col("cluster_id").isNull()).count() == 0


def test_bucketed_index_returns_contract_schema(spark, tmp_path):
    """build/extend on a BUCKETED label layout must still return the
    documented (doc_id, cluster_id) frame: label_bucket is a physical
    partition key of path/labels, and leaking it widens the schema for
    exactly the large corpora where auto-bucketing engages, breaking
    positional / select(*) consumers (review catch)."""
    from etlutils_spark.operators.dedup import (
        _read_sync_epoch,
        _write_sync_epoch,
        build_dedup_index,
        extend_dedup_index,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    docs = spark.createDataFrame(
        [(1, a + " x"), (2, a + " y"), (3, a + " z")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "bucketed")
    built = build_dedup_index(docs.filter("doc_id < 3"), path,
                              bands=8, threshold=0.3, label_buckets=4)
    assert built.columns == ["doc_id", "cluster_id"]
    extended = extend_dedup_index(path, docs.filter("doc_id = 3"))
    assert extended.columns == ["doc_id", "cluster_id"]
    # unequal epochs route the replayed refresh to full-scope CC
    _write_sync_epoch(spark, path, "profiles",
                      _read_sync_epoch(spark, path, "labels") + 1)
    extended_full = extend_dedup_index(path, docs.filter("doc_id = 3"))
    assert extended_full.columns == ["doc_id", "cluster_id"]
    assert _read_sync_epoch(spark, path, "profiles") == _read_sync_epoch(
        spark, path, "labels"
    )
    # the full-scope replay labels exactly as a from-scratch build
    want = build_dedup_index(docs, str(tmp_path / "rebuild"), bands=8,
                             threshold=0.3)
    pick = ["doc_id", "cluster_id"]
    assert sorted(tuple(r) for r in extended_full.select(pick).collect()) \
        == sorted(tuple(r) for r in want.select(pick).collect())
    # the on-disk table keeps its partition key
    assert "label_bucket" in spark.read.parquet(f"{path}/labels").columns


def test_bootstrap_action_params_directory_is_loud(spark, tmp_path):
    """The streaming cold start extends committed params, builds on
    absent ones, and raises on a directory at the params path — with
    or without artifact tables beside it, since no writer produces one
    — as it does on a torn or key-incomplete file: rebuilding from one
    micro-batch over a damaged artifact would destroy the stored
    corpus."""
    import shutil

    from etlutils_spark.operators.dedup import build_dedup_index
    from etlutils_spark.sources.sidecar import (
        bootstrap_action,
        read_sidecar_json,
        write_sidecar_json,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    docs = spark.createDataFrame(
        [(1, a + " x")], "doc_id bigint, text string"
    )
    path = str(tmp_path / "idx")
    build_dedup_index(docs, path, bands=8, threshold=0.3)
    assert bootstrap_action(spark, path, "build_dedup_index") == "extend"
    params = read_sidecar_json(spark, f"{path}/params")
    del params["bands"]
    write_sidecar_json(spark, f"{path}/params", params)
    with pytest.raises(ValueError, match="missing bands"):
        bootstrap_action(spark, path, "build_dedup_index")
    with open(f"{path}/params", "w") as fh:
        fh.write("{not json")
    with pytest.raises(ValueError, match="torn"):
        bootstrap_action(spark, path, "build_dedup_index")
    # a directory beside the committed tables
    os.remove(f"{path}/params")
    os.makedirs(f"{path}/params/_temporary")
    with pytest.raises(ValueError, match="a directory"):
        bootstrap_action(spark, path, "build_dedup_index")
    # ... and on an otherwise-empty path
    fresh = str(tmp_path / "fresh")
    os.makedirs(f"{fresh}/params/_temporary")
    with pytest.raises(ValueError, match="a directory"):
        bootstrap_action(spark, fresh, "build_dedup_index")
    # absent entirely -> build
    shutil.rmtree(f"{fresh}/params")
    assert bootstrap_action(spark, fresh, "build_dedup_index") == "build"


def test_ann_index_drift_metric(spark, tmp_path):
    """The frozen-quantizer drift trigger (review item): every extend
    measures the batch's mean squared distance-to-assigned-centroid
    against the build sample's baseline (qerr_mean in path/params) and
    records the ratio in path/drift. An in-distribution batch must not
    trip it; a shifted batch must flip `drifted` and warn — the
    measured signal for the documented periodic-rebuild policy."""
    import warnings

    import numpy as np

    from etlutils_spark.operators.similarity import (
        ann_index_drift,
        build_ann_index,
        extend_ann_index,
    )
    from etlutils_spark.sources.sidecar import read_sidecar_json

    rng = np.random.default_rng(7)
    anchors = np.eye(4, 8) * 4.0
    rows = [
        (i, [float(x) for x in anchors[i % 4] + rng.normal(0, 0.05, 8)])
        for i in range(1, 81)
    ]
    base = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    path = str(tmp_path / "driftidx")
    build_ann_index(base, path, num_clusters=4, m=4, ksub=8)
    params = read_sidecar_json(spark, f"{path}/params")
    assert params["qerr_mean"] > 0 and params["qerr_n"] == 80
    # no extend yet -> no drift record
    assert ann_index_drift(spark, path) is None
    # in-distribution batch: ratio ~1, not drifted, no warning
    same = spark.createDataFrame(
        [(i, [float(x) for x in anchors[i % 4] + rng.normal(0, 0.05, 8)])
         for i in range(101, 141)],
        "vec_id bigint, embedding array<double>",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        codes = extend_ann_index(path, same)
    # the drift column stays internal: codes schema is the contract
    assert codes.columns == ["vec_id", "cluster_id", "codes"]
    rec = ann_index_drift(spark, path)
    assert rec is not None and not rec["drifted"]
    assert rec["ratio"] == pytest.approx(1.0, rel=0.5)
    assert rec["batch_rows"] == 40
    # shifted distribution: far from every frozen centroid -> drifted
    shifted = spark.createDataFrame(
        [(i, [float(50.0 + rng.normal(0, 0.5)) for _ in range(8)])
         for i in range(201, 241)],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.warns(UserWarning, match="schedule a rebuild"):
        extend_ann_index(path, shifted)
    rec = ann_index_drift(spark, path)
    assert rec["drifted"] and rec["ratio"] > 2.0
    # drifted data still landed (observability, not a gate)
    assert spark.read.parquet(f"{path}/codes").count() == 160


def test_compact_ann_index_preserves_serving(spark, tmp_path):
    """Every extend appends one file to path/codes; compaction must
    collapse them under the writer lease WITHOUT changing anything
    served: top-k identical row-for-row before/after, params/drift
    untouched, and a post-compaction extend still replay-dedups
    against the rewritten table."""
    import os

    import numpy as np

    from etlutils_spark.operators.similarity import (
        ann_index_topk,
        build_ann_index,
        compact_ann_index,
        extend_ann_index,
    )

    rng = np.random.default_rng(23)

    def vecs(lo, hi):
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(0, 1, 8)])
             for i in range(lo, hi)],
            "vec_id bigint, embedding array<double>",
        )

    path = str(tmp_path / "cmpidx")
    corpus = vecs(1, 101).localCheckpoint(eager=True)
    build_ann_index(corpus, path, num_clusters=4, m=4, ksub=8)
    batches = [vecs(101 + 20 * k, 121 + 20 * k).localCheckpoint(eager=True)
               for k in range(3)]
    for b in batches:
        extend_ann_index(path, b)
    full = corpus
    for b in batches:
        full = full.unionByName(b)

    def _files():
        return [f for f in os.listdir(f"{path}/codes")
                if f.endswith(".parquet")]

    assert len(_files()) >= 4  # build + 3 appends
    q = full.filter("vec_id <= 3")
    before = sorted(
        tuple(r) for r in
        ann_index_topk(full, path, q, k=5, nprobe=4).collect()
    )
    assert compact_ann_index(spark, path) == 1
    assert len(_files()) == 1
    after = sorted(
        tuple(r) for r in
        ann_index_topk(full, path, q, k=5, nprobe=4).collect()
    )
    assert after == before
    # replay of an already-stored batch still dedups against the
    # compacted table (anti-join reads the rewritten files)
    rows_before = spark.read.parquet(f"{path}/codes").count()
    extend_ann_index(path, batches[0])
    assert spark.read.parquet(f"{path}/codes").count() == rows_before


def test_compact_dedup_index_preserves_labels(spark, tmp_path):
    """Profile appends (and unbucketed clean-batch label appends)
    accumulate one file per extend; compaction must collapse them
    without changing a single label, and a later extend must still
    probe/merge correctly against the rewritten profile table."""
    import os

    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        compact_dedup_index,
        extend_dedup_index,
    )

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, base + " one"), (2, base + " two"),
        (3, "completely different text about columnar storage engines"),
        (4, "an unrelated memo on adaptive query execution"),  # clean
        (5, base + " three"),  # dirty, merges with 1/2
        (6, base + " four"),   # post-compaction dirty batch
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "cmpdedup")
    build_dedup_index(docs.filter("doc_id <= 3"), path)
    extend_dedup_index(path, docs.filter("doc_id = 4"))  # clean append
    extend_dedup_index(path, docs.filter("doc_id = 5"))  # dirty

    def _files(t):
        return [f for f in os.listdir(f"{path}/{t}")
                if f.endswith(".parquet")]

    assert len(_files("profiles")) >= 3
    before = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/labels")
        .select("doc_id", "cluster_id").collect()
    )
    out = compact_dedup_index(spark, path)
    assert out["profiles"] == 1 and out["labels"] == 1
    assert len(_files("profiles")) == 1 and len(_files("labels")) == 1
    assert sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/labels")
        .select("doc_id", "cluster_id").collect()
    ) == before
    # the compacted index still extends correctly (probe + merge)
    got = extend_dedup_index(path, docs.filter("doc_id = 6"))
    labels = dict(
        sorted(tuple(r) for r in got.select("doc_id", "cluster_id").collect())
    )
    assert labels[1] == labels[2] == labels[5] == labels[6] == 1
    assert labels[3] == 3 and labels[4] == 4


def test_ann_index_health_predicate(spark, tmp_path):
    """ann_index_health folds the two stored diagnostics into ONE
    rebuild-recommended answer (r8 verdict #7: the imbalance report
    existed but nothing consumed it). Planted hot cell: a corpus with
    most vectors in one mode must flip `imbalanced` once the top
    cell's population passes the threshold — and stay `ok` at the
    default 8.0, which such moderate skew does not reach. Planted
    shift: a drifted extend must flip `drifted` through the same
    predicate the drift reader feeds."""
    import numpy as np

    from etlutils_spark.operators.similarity import (
        ann_index_health,
        build_ann_index,
        extend_ann_index,
    )

    rng = np.random.default_rng(11)
    rows = []
    for i in range(1, 101):
        mode = 0 if i <= 70 else (i % 3) + 1  # 70% in one mode
        base = np.zeros(8)
        base[mode * 2] = 5.0
        rows.append((i, [float(x) for x in base + rng.normal(0, 0.05, 8)]))
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    path = str(tmp_path / "healthidx")
    build_ann_index(vecs, path, num_clusters=4, m=4, ksub=8)
    # never extended: no drift record; skew ~2.8x < default 8.0
    h = ann_index_health(spark, path)
    assert h["status"] == "ok" and not h["rebuild_recommended"]
    assert h["drift_ratio"] is None and h["hot_cells"] == []
    assert 2.0 < h["max_imbalance"] < 8.0
    # a tighter ops threshold flags the planted hot cell
    h = ann_index_health(spark, path, imbalance_threshold=2.0)
    assert h["status"] == "imbalanced" and h["rebuild_recommended"]
    assert len(h["hot_cells"]) == 1 and h["hot_cells"][0][1] == pytest.approx(
        h["max_imbalance"]
    )
    # planted distribution shift: drifted flips through the predicate
    shifted = spark.createDataFrame(
        [(i, [float(50.0 + rng.normal(0, 0.5)) for _ in range(8)])
         for i in range(201, 221)],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.warns(UserWarning, match="schedule a rebuild"):
        extend_ann_index(path, shifted)
    h = ann_index_health(spark, path, imbalance_threshold=2.0)
    assert h["status"] == "drifted+imbalanced" and h["rebuild_recommended"]
    assert h["drift_ratio"] > 2.0
    h = ann_index_health(spark, path, drift_ratio_threshold=1e9,
                         imbalance_threshold=1e9)
    assert h["status"] == "ok" and not h["rebuild_recommended"]


def test_writer_lease_two_concurrent_extends(spark, tmp_path):
    """The single-writer assumption is ENFORCED (review item): with a
    live lease on the artifact — writer A mid-extend — a second extend
    raises loudly instead of interleaving appends/markers into silent
    double-profiles, and the artifact is untouched by the loser. A
    lease abandoned by a killed writer goes stale and is stolen; a
    stalled holder's release must not delete the thief's fresh lease."""
    import os as _os
    import time as _time

    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )
    from etlutils_spark.operators.similarity import (
        build_ann_index,
        extend_ann_index,
    )
    from etlutils_spark.sources.sidecar import (
        acquire_writer_lease,
        read_sidecar_text,
        release_writer_lease,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    docs = spark.createDataFrame(
        [(1, a + " x"), (2, a + " y"), (3, a + " z")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "leased")
    build_dedup_index(docs.filter("doc_id = 1"), path,
                      bands=8, threshold=0.3)
    state_before = {
        t: spark.read.parquet(f"{path}/{t}").count()
        for t in ("profiles", "edges", "labels")
    }
    # writer A holds the lease (mid-extend)
    token_a = acquire_writer_lease(spark, f"{path}/.writer_lease")
    with pytest.raises(ValueError, match="another writer holds"):
        extend_dedup_index(path, docs.filter("doc_id = 2"))
    # the loser mutated nothing
    for t, n_rows in state_before.items():
        assert spark.read.parquet(f"{path}/{t}").count() == n_rows
    # A completes -> the extend goes through and self-releases
    release_writer_lease(spark, f"{path}/.writer_lease", token_a)
    out = extend_dedup_index(path, docs.filter("doc_id = 2"))
    assert {r.doc_id: r.cluster_id for r in out.collect()} == {1: 1, 2: 1}
    assert not _os.path.exists(f"{path}/.writer_lease")
    # killed-writer recovery: a stale lease is stolen, extend proceeds
    acquire_writer_lease(spark, f"{path}/.writer_lease")
    _os.utime(f"{path}/.writer_lease",
              (_time.time() - 3600, _time.time() - 3600))
    out = extend_dedup_index(path, docs.filter("doc_id = 3"))
    assert out.count() == 3
    # token-checked release: the stalled holder cannot delete a lease
    # it no longer owns
    thief = acquire_writer_lease(spark, f"{path}/.writer_lease")
    release_writer_lease(spark, f"{path}/.writer_lease", "not-my-token")
    assert read_sidecar_text(spark, f"{path}/.writer_lease") == thief
    release_writer_lease(spark, f"{path}/.writer_lease", thief)

    # the ANN artifact shares the contract
    vecs = spark.createDataFrame(
        [(i, [float(i % 4), float((i + 1) % 4)]) for i in range(1, 21)],
        "vec_id bigint, embedding array<double>",
    )
    apath = str(tmp_path / "leased_ann")
    build_ann_index(vecs, apath, num_clusters=2, m=2, ksub=4)
    t = acquire_writer_lease(spark, f"{apath}/.writer_lease")
    batch = spark.createDataFrame(
        [(100, [9.0, 9.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="another writer holds"):
        extend_ann_index(apath, batch)
    assert spark.read.parquet(f"{apath}/codes").count() == 20
    release_writer_lease(spark, f"{apath}/.writer_lease", t)
    assert extend_ann_index(apath, batch).count() == 21


def test_cc_auto_matches_distributed_algorithms(spark):
    """connected_components (bounded driver union-find under
    _CC_DRIVER_MAX_EDGES, star beyond) must label every graph
    identically to the distributed star rounds — cluster_id is the
    component minimum either way. Pins the driver path on chains,
    islands, self-loops, and a random graph; pins the fallback by
    shrinking the limit below the edge count."""
    import random

    from etlutils_spark.operators import dedup

    rng = random.Random(42)
    cases = [
        # chain + island + self-loop-only node
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)],
        # random graph, 200 edges over 80 nodes (one shared RNG
        # instance — a re-seeded-per-edge RNG collapses to a star
        # graph and never exercises multi-hop merges; review catch)
        [(rng.randint(1, 80), rng.randint(1, 80)) for _ in range(200)],
        # long chain: the union-find must resolve 30 hops exactly as
        # the distributed rounds do
        [(i, i + 1) for i in range(50, 80)],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "doc_id_1 long, doc_id_2 long")
        stats: dict = {}
        auto = sorted(
            tuple(r)
            for r in dedup.connected_components(df, stats=stats).collect()
        )
        assert stats["rounds"] == 0  # the driver path actually ran
        # limit below the edge count -> the probe overflows and the
        # star rounds label the graph (rounds > 0)
        stats2: dict = {}
        star = sorted(_cc_star_labels(df, limit=2, stats=stats2).items())
        assert stats2["rounds"] > 0
        assert auto == star


def test_connected_components_leaves_no_persisted_rdd(spark):
    """connected_components persists its (left, right) projection once
    for the size probe and the star rounds, and must release it before
    returning — on the driver path and on the star path. The only
    persisted RDDs the star path may leave are its lineage-truncating
    local checkpoints, which the returned labels read from and the
    ContextCleaner frees with them."""
    from etlutils_spark.operators import dedup

    jsc = spark.sparkContext._jsc

    def persisted():
        return {int(k): v for k, v in dict(jsc.getPersistentRDDs()).items()}

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)],
        "doc_id_1 long, doc_id_2 long",
    )
    before = set(persisted())
    stats: dict = {}
    dedup.connected_components(df, stats=stats).collect()
    assert stats["rounds"] == 0
    assert set(persisted()) - before == set()

    before = set(persisted())
    _cc_star_labels(df, stats=stats)
    assert stats["rounds"] > 0
    left = {k: v for k, v in persisted().items() if k not in before}
    assert [k for k, v in left.items() if not v.rdd().isCheckpointed()] == []


def test_writer_lease_heartbeat_and_release_protocol(spark, tmp_path):
    """A HEALTHY long-running holder must never be stolen: the
    heartbeat refreshes the lease mtime every stale/3, so a second
    writer still sees it live long past the staleness window (review
    catch: the unrenewed lease made any refresh longer than
    writer_lease_stale_sec silently double-writable). A holder whose
    heartbeat died (process crash simulated by stopping the beat) is
    stolen normally; the rename-and-inspect release never deletes a
    thief's lease."""
    import time

    from etlutils_spark.sources import sidecar as sc

    url = str(tmp_path / "beat" / ".writer_lease")
    token = sc.acquire_writer_lease(spark, url, stale_after_sec=3.0)
    time.sleep(5)  # >> stale window; heartbeat (every 1s) keeps it live
    with pytest.raises(ValueError, match="another writer holds"):
        sc.acquire_writer_lease(spark, url, stale_after_sec=3.0)
    sc.release_writer_lease(spark, url, token)
    import os as _os

    assert not _os.path.exists(url)
    # dead-heartbeat holder: stop the beat, let the lease age out, and
    # a second writer steals it
    token2 = sc.acquire_writer_lease(spark, url, stale_after_sec=2.0)
    sc._LEASE_BEATS.pop((url, token2)).set()
    time.sleep(2.5)
    token3 = sc.acquire_writer_lease(spark, url, stale_after_sec=2.0)
    # the zombie's release must leave the thief's lease intact
    sc.release_writer_lease(spark, url, token2)
    assert sc.read_sidecar_text(spark, url) == token3
    sc.release_writer_lease(spark, url, token3)
    assert not _os.path.exists(url)


def test_lease_rename_weak_scheme_is_loud(spark):
    """Pointing the writer lease at an S3-family URL must raise BEFORE
    touching the store: s3a's create(overwrite=false) is check-then-put
    and its rename is copy+delete, so the lock's exclusivity primitives
    silently don't exclude there (r8 verdict Next #5 — the failure mode
    was silent loss of mutual exclusion, the one thing a lock must
    never lose silently). The opt-out flag exists for users fronting
    the path with a real lock service."""
    from etlutils_spark.sources import sidecar as sc

    for scheme in ("s3a", "s3", "s3n", "S3A"):
        with pytest.raises(ValueError, match="rename"):
            sc.acquire_writer_lease(
                spark, f"{scheme}://bucket/idx/.writer_lease"
            )


def test_lease_rename_weak_conf_opt_out(spark, tmp_path, monkeypatch):
    """The session-conf opt-out
    (spark.etlutils.lease.allowRenameWeakStore) must get an s3a lease
    past the scheme check — it is the only escape hatch for the index
    builders/extenders, which acquire on the user's behalf with the
    artifact path AS the lease path. Proven by the acquisition
    proceeding to the FS layer (rerouted to a local path here; this
    sandbox has no S3 connector) and completing the normal protocol."""
    from etlutils_spark.sources import sidecar as sc

    real_fs_path = sc._fs_path

    def rerouted(spark_, url):
        return real_fs_path(
            spark_, url.replace("s3a://bucket", str(tmp_path))
        )

    monkeypatch.setattr(sc, "_fs_path", rerouted)
    url = "s3a://bucket/idx/.writer_lease"
    spark.conf.set("spark.etlutils.lease.allowRenameWeakStore", "true")
    try:
        token = sc.acquire_writer_lease(spark, url, stale_after_sec=60.0)
        assert sc.read_sidecar_text(spark, url) == token
        sc.release_writer_lease(spark, url, token)
        assert sc.read_sidecar_text(spark, url) is None
    finally:
        spark.conf.set("spark.etlutils.lease.allowRenameWeakStore", "false")
    with pytest.raises(ValueError, match="rename"):
        sc.acquire_writer_lease(spark, url)


def test_lease_heartbeat_survives_transient_fs_hiccup(spark, tmp_path):
    """The heartbeat must only stop on a POSITIVE foreign token, never
    on a read/touch failure: a transient FS hiccup (or the window where
    a releaser has renamed a lease away for inspection) used to kill
    the beat permanently, letting a HEALTHY holder's lease go stale and
    be stolen mid-refresh — exactly the two-writer corruption the lease
    prevents (r8 ADVICE, medium). Simulated by renaming the lease away
    across one beat tick: a beat that died would leave the back-dated
    mtime stale; the resilient beat refreshes it on the next tick."""
    import time

    from etlutils_spark.sources import sidecar as sc

    url = str(tmp_path / "hiccup" / ".writer_lease")
    token = sc.acquire_writer_lease(spark, url, stale_after_sec=3.0)
    try:
        os.rename(url, url + ".away")  # beat tick at ~1s fails
        time.sleep(1.5)
        os.rename(url + ".away", url)
        old = time.time() - 10
        os.utime(url, (old, old))  # stale unless a LIVE beat refreshes
        time.sleep(2.5)
        assert time.time() - os.path.getmtime(url) < 5.0, (
            "heartbeat died on a transient failure: lease mtime was "
            "never refreshed after the hiccup cleared"
        )
        assert sc.read_sidecar_text(spark, url) == token
    finally:
        sc.release_writer_lease(spark, url, token)


def test_lease_token_write_failure_cleans_orphan(spark, tmp_path, monkeypatch):
    """If the exclusive create WINS but the token write then fails, the
    fresh token-less lease (no heartbeat) used to be left in place —
    blocking every writer, the failed acquirer included, until the
    staleness window expired (r8 ADVICE, low). The acquirer must delete
    its own orphan and retry; the retry here succeeds immediately."""
    from py4j.protocol import Py4JJavaError

    from etlutils_spark.sources import sidecar as sc

    url = str(tmp_path / "orphan" / ".writer_lease")
    real_fs_path = sc._fs_path
    fail_once = {"armed": True}

    class FailingStream:
        def __init__(self, inner):
            self._inner = inner

        def write(self, data):
            err = Py4JJavaError.__new__(Py4JJavaError)
            err.args = ("simulated token write failure",)
            raise err

        def close(self):
            self._inner.close()

    class FSWrap:
        def __init__(self, fs):
            self._fs = fs

        def create(self, target, overwrite):
            stream = self._fs.create(target, overwrite)
            if fail_once["armed"]:
                fail_once["armed"] = False
                return FailingStream(stream)
            return stream

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def patched(spark_, u):
        jvm, fs, target = real_fs_path(spark_, u)
        return jvm, FSWrap(fs), target

    monkeypatch.setattr(sc, "_fs_path", patched)
    token = sc.acquire_writer_lease(spark, url, stale_after_sec=60.0)
    assert sc.read_sidecar_text(spark, url) == token
    sc.release_writer_lease(spark, url, token)
    assert not os.path.exists(url)


def test_lease_unremovable_orphan_raises_its_own_error(
    spark, tmp_path, monkeypatch
):
    """When the exclusive create wins but the token write fails AND the
    orphan delete keeps failing, acquire must raise the dedicated
    misbehaving-store error naming the token-less debris — falling
    through to the live/stale check would misreport 'another writer
    holds the lease' for a holder that does not exist (round-9 review
    finding). Local acquisition goes through the atomic nio create, so
    the mid-write failure is simulated by patching
    ``_nio_exclusive_create`` to create the file and then fail with a
    non-FileAlreadyExists store error."""
    from py4j.protocol import Py4JJavaError

    from etlutils_spark.sources import sidecar as sc

    url = str(tmp_path / "orphan2" / ".writer_lease")
    real_fs_path = sc._fs_path
    real_nio_create = sc._nio_exclusive_create

    class FakeStoreError(Py4JJavaError):
        # Py4JJavaError.__str__ round-trips through the gateway; the
        # production code str()s the error to classify it, so the fake
        # must be str()-able without a JVM
        def __init__(self, msg):
            Exception.__init__(self, msg)
            self._msg = msg

        def __str__(self):
            return self._msg

    def _err(msg):
        return FakeStoreError(msg)

    def failing_nio_create(spark_, u, scheme, token):
        os.makedirs(os.path.dirname(u), exist_ok=True)
        with open(u, "w"):
            pass  # the exclusive create "won"...
        raise _err("simulated token write failure")  # ...the write died

    class FSWrap:
        def __init__(self, fs):
            self._fs = fs

        def delete(self, target, recursive):
            raise _err("simulated delete failure")

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def patched(spark_, u):
        jvm, fs, target = real_fs_path(spark_, u)
        return jvm, FSWrap(fs), target

    monkeypatch.setattr(sc, "_nio_exclusive_create", failing_nio_create)
    monkeypatch.setattr(sc, "_fs_path", patched)
    with pytest.raises(ValueError, match="token-less"):
        sc.acquire_writer_lease(spark, url, stale_after_sec=60.0)
    monkeypatch.setattr(sc, "_fs_path", real_fs_path)
    monkeypatch.setattr(sc, "_nio_exclusive_create", real_nio_create)
    # after the store recovers, the stale orphan is stolen and a fresh
    # acquire succeeds (the orphan is token-less so the beat of the new
    # holder owns the file outright)
    os.utime(url, (1, 1))  # age the orphan past any staleness window
    token = sc.acquire_writer_lease(spark, url, stale_after_sec=60.0)
    assert sc.read_sidecar_text(spark, url) == token
    sc.release_writer_lease(spark, url, token)


def test_lease_verify_aborts_commit_after_giveup_and_steal(
    spark, tmp_path
):
    """The post-give-up guarantee (r9 verdict Next #3): a holder whose
    heartbeat gave up after FS failures spanning a full staleness
    window must RE-VERIFY ownership at its next commit point — and
    abort when the lease was stolen in the gap. Previously the give-up
    was a warning and nothing re-checked, so a holder whose FS outage
    outlasted stale_after_sec could commit over a thief. The outage is
    simulated by renaming the lease away until the beat gives up."""
    import time
    import warnings as _warnings

    from etlutils_spark.sources import sidecar as sc

    url = str(tmp_path / "giveup" / ".writer_lease")
    # stale=3s -> beat interval 1s, retry tick 1s, give-up after ~3
    # consecutive failures
    with _warnings.catch_warnings(record=True) as seen:
        _warnings.simplefilter("always")
        token = sc.acquire_writer_lease(spark, url, stale_after_sec=3.0)
        os.rename(url, url + ".outage")  # every beat tick now fails
        deadline = time.time() + 20
        while (url, token) not in sc._LEASE_STATE and time.time() < deadline:
            time.sleep(0.25)
    assert sc._LEASE_STATE.get((url, token)) == "gave_up"
    assert any("giving up" in str(w.message) for w in seen)
    # the thief acquires cleanly (the path is free after the outage)
    thief = sc.acquire_writer_lease(spark, url, stale_after_sec=3.0)
    try:
        with pytest.raises(ValueError, match="ownership could not be"):
            sc.verify_writer_lease(spark, url, token)
        # the failed verification is remembered as positive theft:
        # subsequent commits abort without re-reading
        assert sc._LEASE_STATE.get((url, token)) == "stolen"
        with pytest.raises(ValueError, match="STOLEN"):
            sc.verify_writer_lease(spark, url, token)
        # the thief itself (healthy beat, no recorded state) passes
        sc.verify_writer_lease(spark, url, thief)
    finally:
        sc.release_writer_lease(spark, url, thief)
        sc._LEASE_STATE.pop((url, token), None)


def test_lease_verify_reconfirms_ownership_after_giveup(spark, tmp_path):
    """The give-up path's HAPPY branch: when the outage ends and the
    lease was NOT stolen, verify re-reads the token, confirms
    ownership, refreshes the mtime (the dead beat's stand-in), and the
    commit proceeds — give-up alone must not abort a still-valid
    holder. The holder stays in gave_up so every later commit
    re-verifies (the beat is not restarted)."""
    import time

    from etlutils_spark.sources import sidecar as sc

    url = str(tmp_path / "giveup2" / ".writer_lease")
    token = sc.acquire_writer_lease(spark, url, stale_after_sec=3.0)
    os.rename(url, url + ".outage")
    deadline = time.time() + 20
    while (url, token) not in sc._LEASE_STATE and time.time() < deadline:
        time.sleep(0.25)
    assert sc._LEASE_STATE.get((url, token)) == "gave_up"
    os.rename(url + ".outage", url)  # outage over, lease intact
    old = time.time() - 100
    os.utime(url, (old, old))
    sc.verify_writer_lease(spark, url, token)  # must not raise
    assert time.time() - os.path.getmtime(url) < 10.0, (
        "verify confirmed ownership but did not refresh the lease "
        "mtime — with the beat dead, the lease would go stale again "
        "mid-mutation"
    )
    assert sc._LEASE_STATE.get((url, token)) == "gave_up"
    sc.release_writer_lease(spark, url, token)
    assert (url, token) not in sc._LEASE_STATE


def test_lease_verify_detects_steal_in_giveup_lag_window(spark, tmp_path):
    """The give-up lag gap (r10 advice #2): the beat's first miss can
    land up to stale/3 after its last good touch and the give-up mark
    needs a FURTHER staleness window of retries, so the lease is
    already stealable while _LEASE_STATE is still unset. verify must
    judge health from the recorded last-successful-touch time, not the
    absence of a degradation mark: with the touch record aged past
    stale_after_sec and a foreign token on disk, a commit-point verify
    must fall through to the re-read and abort. Simulated by
    backdating the touch record under a long-interval beat (stale=60
    -> the beat won't tick during the test)."""
    import time

    from etlutils_spark.sources import sidecar as sc

    url = str(tmp_path / "laggap" / ".writer_lease")
    token = sc.acquire_writer_lease(spark, url, stale_after_sec=60.0)
    try:
        # thief's token lands on disk; the 20s-interval beat won't
        # notice within this test, and no give-up has been recorded
        sc.write_sidecar_text(spark, url, "f" * 32)
        sc._LEASE_TOUCH[(url, token)] = (time.time() - 120.0, 60.0)
        assert (url, token) not in sc._LEASE_STATE
        with pytest.raises(ValueError, match="ownership could not be"):
            sc.verify_writer_lease(spark, url, token)
        assert sc._LEASE_STATE.get((url, token)) == "stolen"
    finally:
        stop = sc._LEASE_BEATS.pop((url, token), None)
        if stop is not None:
            stop.set()
        sc._LEASE_STATE.pop((url, token), None)
        sc._LEASE_TOUCH.pop((url, token), None)
        os.remove(url)


def test_lease_verify_reconfirms_in_giveup_lag_window_when_owned(
    spark, tmp_path
):
    """The lag-window check's happy branch: a touch record older than
    stale_after_sec with the lease STILL OURS must re-read, confirm,
    refresh the mtime, and record the refresh as a successful touch so
    later commits fast-path again (no permanent give-up state — the
    beat never actually degraded)."""
    import time

    from etlutils_spark.sources import sidecar as sc

    url = str(tmp_path / "laggap2" / ".writer_lease")
    token = sc.acquire_writer_lease(spark, url, stale_after_sec=60.0)
    try:
        sc._LEASE_TOUCH[(url, token)] = (time.time() - 120.0, 60.0)
        old = time.time() - 100
        os.utime(url, (old, old))
        sc.verify_writer_lease(spark, url, token)  # must not raise
        assert time.time() - os.path.getmtime(url) < 10.0
        assert (url, token) not in sc._LEASE_STATE
        last_touch, stale = sc._LEASE_TOUCH[(url, token)]
        assert time.time() - last_touch < 10.0 and stale == 60.0
    finally:
        sc.release_writer_lease(spark, url, token)
        assert (url, token) not in sc._LEASE_TOUCH


def test_lease_verify_zombie_abort_on_positive_theft(spark, tmp_path):
    """When the heartbeat POSITIVELY reads a foreign token (the holder
    stalled, the lease went stale, a thief took it), the beat records
    'stolen' and every subsequent commit-point verify aborts without
    touching the store."""
    import time

    from etlutils_spark.sources import sidecar as sc

    url = str(tmp_path / "zombie" / ".writer_lease")
    token = sc.acquire_writer_lease(spark, url, stale_after_sec=3.0)
    # the thief's token lands under the live beat — written through the
    # Hadoop FS API (a raw Python overwrite invalidates LocalFS's .crc
    # sidecar and reads back as an IO error, i.e. an outage, not theft)
    sc.write_sidecar_text(spark, url, "f" * 32)
    deadline = time.time() + 20
    while sc._LEASE_STATE.get((url, token)) != "stolen":
        if time.time() > deadline:
            raise AssertionError("beat never recorded the theft")
        time.sleep(0.25)
    with pytest.raises(ValueError, match="STOLEN"):
        sc.verify_writer_lease(spark, url, token)
    os.remove(url)
    sc._LEASE_STATE.pop((url, token), None)


def test_lease_scheme_allowlist_fails_closed(spark):
    """The scheme gate is an ALLOWLIST of audited atomic-rename stores:
    every other object-store connector (gs, oss, cos, wasb — all
    check-then-put create and copy+delete rename) must be refused, not
    just the s3 family the old denylist named (r9 advice #3: unaudited
    connectors silently passed the guard)."""
    from etlutils_spark.sources import sidecar as sc

    for scheme in ("gs", "oss", "cos", "cosn", "wasb", "wasbs", "swift",
                   "s3a", "madeupfs"):
        with pytest.raises(ValueError, match="rename"):
            sc.acquire_writer_lease(
                spark, f"{scheme}://bucket/idx/.writer_lease"
            )


def test_conditional_put_provider_full_matrix():
    """The reference object-store lock (r10 verdict Next #4) under the
    full lease scenario matrix, driven by an injected clock: mutual
    exclusion while live, one-winner stale steal via CAS, commit-point
    abort for the stolen-from zombie, zombie release leaving the
    thief's lease intact, expired-but-still-ours reconfirmed by a CAS
    re-extend at verify (the FS gave-up path's analog), and clean
    release. heartbeat=False so expiry moves only with the fake
    clock."""
    from etlutils_spark.sources.lease_providers import (
        ConditionalPutLeaseProvider,
        InMemoryConditionalStore,
    )

    now = [1000.0]
    store = InMemoryConditionalStore()
    p = ConditionalPutLeaseProvider(
        store, clock=lambda: now[0], heartbeat=False
    )
    url = "s3a://bucket/idx/.writer_lease"
    t1 = p.acquire(url, stale_after_sec=60.0)
    with pytest.raises(ValueError, match="another writer holds"):
        p.acquire(url, 60.0)  # two-writers: refused while live
    p.verify(url, t1)  # healthy commit point
    now[0] += 61.0  # holder stalls past expiry
    t2 = p.acquire(url, 60.0)  # stale steal (CAS one-winner)
    with pytest.raises(ValueError, match="ownership could not be"):
        p.verify(url, t1)  # zombie's commit aborts
    p.release(url, t1)  # zombie release must not touch the thief
    p.verify(url, t2)
    # expired-but-ours: no thief raced in — verify re-extends via CAS
    now[0] += 61.0
    p.verify(url, t2)
    with pytest.raises(ValueError, match="another writer holds"):
        p.acquire(url, 60.0)  # live again after the re-extend
    p.release(url, t2)
    assert store.get(url) is None  # clean release deletes the record


def test_conditional_put_provider_reclaim_loses_to_thief():
    """The expired-reconfirm race: the holder's lease expires, a thief
    CASes it away FIRST, then the holder's commit-point verify must
    lose the re-extend CAS and abort — never both writers proceeding
    (the exact two-winner hazard conditional writes exist to prevent)."""
    from etlutils_spark.sources.lease_providers import (
        ConditionalPutLeaseProvider,
        InMemoryConditionalStore,
    )

    now = [1000.0]
    store = InMemoryConditionalStore()
    p = ConditionalPutLeaseProvider(
        store, clock=lambda: now[0], heartbeat=False
    )
    url = "s3a://bucket/idx2/.writer_lease"
    t1 = p.acquire(url, stale_after_sec=60.0)
    now[0] += 61.0
    t2 = p.acquire(url, 60.0)  # thief wins the expired record
    with pytest.raises(ValueError, match="ownership could not be"):
        p.verify(url, t1)
    p.verify(url, t2)
    p.release(url, t2)


def test_conditional_put_provider_heartbeat_keeps_lease_live():
    """With the real clock, the background CAS-extend beat must keep a
    short-staleness lease live well past its initial expiry — the
    conditional-store analog of the FS mtime heartbeat."""
    import time as _time

    from etlutils_spark.sources.lease_providers import (
        ConditionalPutLeaseProvider,
        InMemoryConditionalStore,
    )

    store = InMemoryConditionalStore()
    p = ConditionalPutLeaseProvider(store)  # heartbeat=True, real clock
    url = "s3a://bucket/idx3/.writer_lease"
    token = p.acquire(url, stale_after_sec=0.3)  # beat every 0.1s
    try:
        _time.sleep(1.0)  # 3x the staleness window
        with pytest.raises(ValueError, match="another writer holds"):
            p.acquire(url, 0.3)  # still live: the beat extended it
        p.verify(url, token)
    finally:
        p.release(url, token)
    assert store.get(url) is None


def test_conditional_put_provider_release_survives_beat_race():
    """release must not be defeated by its OWN in-flight heartbeat
    extend: if a CAS-extend lands between release's read and its
    conditional delete, a single-shot delete_if would silently leave a
    live ownerless record that blocks every acquire for a staleness
    window. Simulated by a store whose first delete_if is preempted by
    a same-token extend (exactly what the beat does)."""
    from etlutils_spark.sources.lease_providers import (
        ConditionalPutLeaseProvider,
        InMemoryConditionalStore,
    )

    class RacingStore(InMemoryConditionalStore):
        def __init__(self):
            super().__init__()
            self.raced = False

        def delete_if(self, key, expected):
            if not self.raced:
                self.raced = True
                # the beat's concurrent extend: same token, new expiry
                tok = expected.partition(":")[0]
                super().compare_and_swap(
                    key, expected, f"{tok}:{9e9!r}"
                )
            return super().delete_if(key, expected)

    now = [1000.0]
    store = RacingStore()
    p = ConditionalPutLeaseProvider(
        store, clock=lambda: now[0], heartbeat=False
    )
    url = "s3a://bucket/relrace/.writer_lease"
    t = p.acquire(url, stale_after_sec=60.0)
    p.release(url, t)
    assert store.raced
    assert store.get(url) is None  # the retry loop finished the job


def test_conditional_put_provider_verify_survives_own_beat_extend():
    """verify's expired-reconfirm CAS losing to the holder's OWN
    concurrent heartbeat extend must NOT abort the commit — ownership
    is intact; only a foreign/absent record after the lost CAS aborts."""
    from etlutils_spark.sources.lease_providers import (
        ConditionalPutLeaseProvider,
        InMemoryConditionalStore,
    )

    class ExtendingStore(InMemoryConditionalStore):
        def __init__(self):
            super().__init__()
            self.intercepts = 0

        def compare_and_swap(self, key, expected, value):
            if self.intercepts == 0:
                self.intercepts = 1
                tok = expected.partition(":")[0]
                # the beat slips in first with a same-token extend
                super().compare_and_swap(key, expected, f"{tok}:{9e9!r}")
            return super().compare_and_swap(key, expected, value)

    now = [1000.0]
    store = ExtendingStore()
    p = ConditionalPutLeaseProvider(
        store, clock=lambda: now[0], heartbeat=False
    )
    url = "s3a://bucket/vrfrace/.writer_lease"
    t = p.acquire(url, stale_after_sec=60.0)
    now[0] += 61.0  # expired from verify's viewpoint
    p.verify(url, t)  # lost CAS + same-token re-read -> must NOT raise
    assert store.intercepts == 1
    p.release(url, t)


def test_conditional_put_provider_mutual_exclusion_hammer():
    """8 threads hammer acquire/hold/release on one lock name (real
    clock, no heartbeat churn): at no instant may two threads hold the
    lease. The fake store's conditional writes are the only
    serialization point — exactly the property a real conditional-put
    service provides — so a protocol bug (non-atomic read-check-write,
    a steal path that ignores the CAS result) surfaces as an overlap
    here."""
    import threading
    import time as _time

    from etlutils_spark.sources.lease_providers import (
        ConditionalPutLeaseProvider,
        InMemoryConditionalStore,
    )

    store = InMemoryConditionalStore()
    p = ConditionalPutLeaseProvider(store, heartbeat=False)
    url = "s3a://bucket/hammer/.writer_lease"
    holders: set[str] = set()
    guard = threading.Lock()
    overlaps: list[str] = []
    acquired = [0]

    def worker(wid: int) -> None:
        for _ in range(50):
            try:
                token = p.acquire(url, stale_after_sec=60.0)
            except ValueError:
                continue  # held by someone else — the expected outcome
            with guard:
                if holders:
                    overlaps.append(f"{wid} overlapped {holders}")
                holders.add(token)
                acquired[0] += 1
            _time.sleep(0.001)  # hold window where overlap would show
            p.verify(url, token)
            with guard:
                holders.discard(token)
            p.release(url, token)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not overlaps, overlaps
    assert acquired[0] > 0  # the lock was actually exercised
    assert store.get(url) is None


def test_conditional_put_provider_cross_instance_verify_window():
    """The staleness window travels in the lease RECORD, so a verify
    from a DIFFERENT provider instance (fresh process over the same
    store — no in-memory self._stale entry) re-extends an expired-but-
    ours lease by the ACQUIRER's configured window, not the hard-coded
    600s default (review catch: 600s would let a 60s-staleness lease
    silently block thieves 10x longer after every cross-process
    verify)."""
    from etlutils_spark.sources.lease_providers import (
        ConditionalPutLeaseProvider,
        InMemoryConditionalStore,
    )

    now = [1000.0]
    store = InMemoryConditionalStore()
    clock = lambda: now[0]  # noqa: E731
    acquirer = ConditionalPutLeaseProvider(store, clock=clock, heartbeat=False)
    verifier = ConditionalPutLeaseProvider(store, clock=clock, heartbeat=False)
    url = "s3a://bucket/xproc/.writer_lease"
    t = acquirer.acquire(url, stale_after_sec=60.0)
    now[0] += 61.0  # expired; verify must reconfirm via CAS re-extend
    verifier.verify(url, t)  # fresh instance: no self._stale entry
    _, expires_at, stale = verifier._decode(store.get(url))
    assert stale == 60.0  # window preserved in the record
    assert expires_at == now[0] + 60.0  # re-extended by 60s, not 600s
    # legacy two-field record (older build): cross-instance verify
    # falls back to 600s — documented, not silent corruption
    store.compare_and_swap(store.get(url) and url, store.get(url),
                           f"{t}:{now[0] - 1.0!r}")
    verifier.verify(url, t)
    _, expires_at, stale = verifier._decode(store.get(url))
    assert expires_at == now[0] + 600.0
    acquirer.release(url, t)
    assert store.get(url) is None


def test_conditional_put_provider_end_to_end_index(spark, tmp_path):
    """The reference provider driving the real index lifecycle through
    the set_lease_lock_provider seam: build + extend acquire/verify/
    release through conditional puts (on a lease URL the FS path would
    refuse outright), results identical to the unlocked path, and no
    lease record left behind."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )
    from etlutils_spark.sources import sidecar as sc
    from etlutils_spark.sources.lease_providers import (
        ConditionalPutLeaseProvider,
        InMemoryConditionalStore,
    )

    store = InMemoryConditionalStore()
    prev = sc.set_lease_lock_provider(ConditionalPutLeaseProvider(store))
    try:
        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta"),
             (2, "alpha beta gamma delta epsilon zeta eta iota")],
            "doc_id bigint, text string",
        )
        path = str(tmp_path / "casidx")
        build_dedup_index(docs.filter("doc_id = 1"), path,
                          bands=8, threshold=0.3)
        extend_dedup_index(path, docs.filter("doc_id = 2"))
    finally:
        sc.set_lease_lock_provider(prev)
    # every acquire released: the fake store holds no residual record
    assert store._items == {}


def test_lease_lock_provider_seam(spark, tmp_path):
    """set_lease_lock_provider replaces the filesystem lease wholesale:
    acquisition on an otherwise-REFUSED object-store URL succeeds
    through the provider, double-acquire raises inside the provider
    (mutual exclusion is its job), verify delegates, and release
    unlocks — the supported S3-family single-writer path (r9 verdict
    Next #5), exercised end-to-end through build/extend_dedup_index."""
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )
    from etlutils_spark.sources import sidecar as sc

    class MemLock:
        def __init__(self):
            self.held = {}
            self.calls = []

        def acquire(self, url, stale_after_sec):
            self.calls.append(("acquire", url))
            if url in self.held:
                raise ValueError(f"lock {url} already held")
            token = f"mem-{len(self.calls)}"
            self.held[url] = token
            return token

        def release(self, url, token):
            self.calls.append(("release", url))
            if self.held.get(url) == token:
                del self.held[url]

        def verify(self, url, token):
            self.calls.append(("verify", url))
            if self.held.get(url) != token:
                raise ValueError(f"lock {url} lost")

    provider = MemLock()
    prev = sc.set_lease_lock_provider(provider)
    try:
        # unit protocol, on a URL the FS lease would refuse outright
        url = "s3a://bucket/idx/.writer_lease"
        t = sc.acquire_writer_lease(spark, url)
        with pytest.raises(ValueError, match="already held"):
            sc.acquire_writer_lease(spark, url)
        sc.verify_writer_lease(spark, url, t)
        sc.release_writer_lease(spark, url, t)
        assert provider.held == {}
        # end-to-end: the index wrappers acquire/verify/release through
        # the provider transparently (local artifact path; the lock
        # name is opaque to the provider)
        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta"),
             (2, "alpha beta gamma delta epsilon zeta eta iota")],
            "doc_id bigint, text string",
        )
        path = str(tmp_path / "previdx")
        build_dedup_index(docs.filter("doc_id = 1"), path,
                          bands=8, threshold=0.3)
        extend_dedup_index(path, docs.filter("doc_id = 2"))
        ops = [c[0] for c in provider.calls]
        assert ops.count("acquire") >= 3 and ops.count("release") >= 3
        assert "verify" in ops  # the extend's commit point re-verified
        assert provider.held == {}
    finally:
        sc.set_lease_lock_provider(prev)


def test_extend_heals_interrupted_compaction_without_compact_every(
    spark, tmp_path
):
    """A manual compact_ann_index/compact_dedup_index that crashes
    between its two renames leaves the table MISSING with the
    fully-written copy at .compact_tmp. A plain extend (no streaming
    wrapper, no compact_every) must heal that state under its own
    lease instead of failing on the absent table and wedging until an
    operator re-runs compaction (r9 advice #2)."""
    import numpy as np

    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )
    from etlutils_spark.operators.similarity import (
        build_ann_index,
        extend_ann_index,
    )

    # --- ANN: codes missing, codes.compact_tmp complete
    rng = np.random.default_rng(7)
    vecs = spark.createDataFrame(
        [(i, rng.normal(size=8).tolist()) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    apath = str(tmp_path / "annheal")
    build_ann_index(vecs.filter("vec_id < 30"), apath,
                    num_clusters=2, m=4, ksub=4)
    os.rename(f"{apath}/codes", f"{apath}/codes.compact_tmp")
    out = extend_ann_index(apath, vecs.filter("vec_id >= 30"))
    assert out.count() == 40
    assert not os.path.exists(f"{apath}/codes.compact_tmp")

    # --- dedup: profiles missing mid-swap, same recovery
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "completely different words about something else"),
         (3, "alpha beta gamma delta epsilon zeta eta iota")],
        "doc_id bigint, text string",
    )
    dpath = str(tmp_path / "dedupheal")
    build_dedup_index(docs.filter("doc_id <= 2"), dpath,
                      bands=8, threshold=0.3)
    os.rename(f"{dpath}/profiles", f"{dpath}/profiles.compact_tmp")
    labels = extend_dedup_index(dpath, docs.filter("doc_id = 3"))
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert got == {1: 1, 2: 2, 3: 1}
    assert not os.path.exists(f"{dpath}/profiles.compact_tmp")


def test_embedding_covariance_matches_numpy_and_partitioning(spark):
    """embedding_covariance == np.cov(bias=True) at integer-valued
    inputs (quantization exact there), and the one-pass partial
    pattern is partitioning-invariant: 1 partition and 7 partitions
    produce identical rows (exact integer sums commute)."""
    import numpy as np

    from etlutils_spark.operators.similarity import embedding_covariance

    X = np.array(
        [[1.0, 2.0], [3.0, 4.0], [5.0, 10.0], [2.0, -3.0], [0.0, 7.0]]
    )
    rows = [(i, v.tolist()) for i, v in enumerate(X)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    expected = np.cov(X.T, bias=True)
    got = {
        (r.i, r.j): r
        for r in embedding_covariance(df.repartition(1)).collect()
    }
    assert set(got) == {(0, 0), (0, 1), (1, 1)}
    for (i, j), r in got.items():
        assert abs(r.cov_pop - expected[i][j]) < 1e-9, (i, j)
        assert r.n_vectors == 5
    got7 = {
        (r.i, r.j): (r.n_vectors, r.s_xx, r.cov_pop)
        for r in embedding_covariance(df.repartition(7)).collect()
    }
    assert got7 == {k: (v.n_vectors, v.s_xx, v.cov_pop) for k, v in got.items()}


def test_embedding_covariance_overflow_guard(spark):
    """numpy int64 matmul WRAPS silently, so large-magnitude embeddings
    (|q| = scale*|v| with q^2*batch beyond 2^62) must raise loudly
    instead of yielding a plausible-looking wrong covariance (r10
    advice #1). |v|~1e4 at the default scale=1e6 puts a single row's
    squared term at ~1e20 > 2^62."""
    import pytest as _pytest

    from etlutils_spark.operators.similarity import embedding_covariance

    df = spark.createDataFrame(
        [(0, [1.0e4, 2.0e4]), (1, [-3.0e4, 4.0e4])],
        "vec_id bigint, embedding array<double>",
    )
    with _pytest.raises(Exception, match="overflow"):
        embedding_covariance(df).collect()
    # the same vectors pass with a proportionally smaller scale
    rows = embedding_covariance(df, scale=1e2).collect()
    assert {(r.i, r.j) for r in rows} == {(0, 0), (0, 1), (1, 1)}


def test_png_roundtrip_stats_string_id(spark):
    """The mapInPandas output schema must derive the id field's type
    from the input frame — a string id previously hit a hardcoded
    `bigint` slot and came back as nulls/garbage (r10 advice #3)."""
    from etlutils_spark.operators.multimodal import png_roundtrip_stats

    df = spark.createDataFrame(
        [("doc-a", "alpha beta gamma"), ("doc-b", "delta epsilon")],
        "doc_id string, text string",
    )
    out = png_roundtrip_stats(df, width=3, height=3)
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {"doc-a", "doc-b"}
    assert all(r.roundtrip_ok for r in rows.values())


def test_pca_recovers_planted_axis(spark):
    """pca_model finds a planted dominant direction: data spread along
    u=(3,4)/5 with small isotropic noise must put component 0 within a
    degree of u, eigenvalue 0 near the planted variance, and
    pca_project's first coordinate must carry ~all the spread. Sign is
    pinned (largest-|loading| coordinate positive) so the model is
    reproducible."""
    import numpy as np

    from etlutils_spark.operators.similarity import pca_model, pca_project

    rng = np.random.default_rng(5)
    u = np.array([0.6, 0.8])
    t = rng.normal(0, 10.0, size=400)
    X = np.outer(t, u) + rng.normal(0, 0.1, size=(400, 2))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(X)],
        "vec_id bigint, embedding array<double>",
    )
    model = pca_model(df, k=2)
    c0 = model["components"][0]
    assert abs(abs(float(np.dot(c0, u))) - 1.0) < 1e-3  # aligned with u
    assert c0[int(np.abs(c0).argmax())] > 0  # sign convention
    lam = model["eigenvalues"]
    assert lam[0] > 50 * lam[1]  # planted axis dominates the noise
    proj = {r.vec_id: r.pca for r in pca_project(df, model).collect()}
    P = np.array([proj[i] for i in range(400)])
    assert abs(P[:, 0].var() / lam[0] - 1.0) < 1e-3
    assert P.shape == (400, 2)


def test_ann_index_stats_cell_balance(spark, tmp_path):
    """ann_index_stats reports per-cell row counts and the imbalance
    ratio vs the uniform share — the diagnostic that says WHICH
    queries pay more than the |corpus| * nprobe / C cost model. A
    skewed corpus (most vectors in one mode) must surface a hot cell
    with imbalance >> 1; fractions must sum to 1."""
    import numpy as np

    from etlutils_spark.operators.similarity import (
        ann_index_stats,
        build_ann_index,
    )

    rng = np.random.default_rng(3)
    # 4 modes, but 70 of 100 vectors in mode 0
    rows = []
    for i in range(1, 101):
        mode = 0 if i <= 70 else (i % 3) + 1
        base = np.zeros(8)
        base[mode * 2] = 5.0
        rows.append((i, [float(x) for x in base + rng.normal(0, 0.05, 8)]))
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    path = str(tmp_path / "statsidx")
    build_ann_index(vecs, path, num_clusters=4, m=4, ksub=8)
    stats = ann_index_stats(spark, path).collect()
    assert sum(r.n_rows for r in stats) == 100
    assert abs(sum(r.frac for r in stats) - 1.0) < 1e-9
    # hot mode concentrated: top cell holds ~70% => imbalance ~2.8x
    assert stats[0].n_rows >= 60 and stats[0].imbalance > 2.0


def test_bucketed_labels_one_file_per_bucket(spark, tmp_path):
    """The bucketed label writes repartition by the bucket column, so
    each partition directory holds exactly ONE data file regardless of
    the writing job's task count — without it, partitionBy writes up
    to tasks x buckets files (~32k at 64x512 measured at 5M docs) and
    the listing cost eats the partial-rewrite win (review catch)."""
    import os as _os

    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    docs = spark.createDataFrame(
        [(i, f"{a} doc{i}") for i in range(1, 33)],
        "doc_id bigint, text string",
    ).repartition(8)  # multi-task writing job on purpose
    path = str(tmp_path / "onefile")
    build_dedup_index(docs, path, bands=8, threshold=0.3, label_buckets=8)

    def files_per_bucket():
        out = {}
        root = f"{path}/labels"
        for d in _os.listdir(root):
            if d.startswith("label_bucket="):
                out[d] = len([
                    f for f in _os.listdir(_os.path.join(root, d))
                    if not f.startswith((".", "_"))
                ])
        return out

    per = files_per_bucket()
    assert per and all(n == 1 for n in per.values()), per
    # the partial rewrite preserves the invariant for touched buckets
    batch = spark.createDataFrame(
        [(100, a + " doc1 extradup")], "doc_id bigint, text string"
    ).repartition(4)
    extend_dedup_index(path, batch)
    per = files_per_bucket()
    assert per and all(n == 1 for n in per.values()), per


def test_pca_project_whiten_unit_variance(spark):
    """whiten=True must make every projected dimension's population
    variance 1 (verified through the same exact covariance operator),
    leave cross-correlations ~0, and preserve component ORDER (the
    rotation is unchanged, only per-axis scale)."""
    import numpy as np

    from etlutils_spark.operators.similarity import (
        embedding_covariance,
        pca_model,
        pca_project,
    )

    rng = np.random.default_rng(11)
    X = rng.normal(0, 1, size=(400, 4)) @ np.diag([5.0, 2.0, 1.0, 0.5])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(X)],
        "vec_id bigint, embedding array<double>",
    )
    model = pca_model(df, k=4)
    white = pca_project(df, model, out_col="w", whiten=True)
    cov = {
        (r.i, r.j): r.cov_pop
        for r in embedding_covariance(white, vec_col="w").collect()
    }
    for i in range(4):
        assert abs(cov[(i, i)] - 1.0) < 1e-3, (i, cov[(i, i)])
    off = max(abs(v) for (i, j), v in cov.items() if i != j)
    assert off < 1e-2
    # same rotation: whitened coords are the plain projection / sqrt(lam)
    plain = {r.vec_id: r.pca for r in pca_project(df, model).collect()}
    ww = {r.vec_id: r.w for r in white.collect()}
    lam = model["eigenvalues"]
    for vid in (0, 1, 2):
        got = np.array(ww[vid])
        want = np.array(plain[vid]) / np.sqrt(lam)
        assert np.allclose(got, want, rtol=1e-9)


def test_stdlib_png_mixed_filters_roundtrip():
    """Every row of one image encoded with a DIFFERENT filter type
    (seeded pseudo-random 0-4 sequence): decoding must reproduce the
    source exactly. This locks the per-row unfilter paths AND their
    interactions (each row's reconstruction depends on the PREVIOUS
    row's decoded bytes, which came through a different filter)."""
    import struct
    import zlib

    import numpy as np

    from etlutils_spark.operators import multimodal as mm

    rng = np.random.default_rng(23)
    h, w = 40, 17  # odd width exercises non-aligned strides
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    stride = w * 3
    prev = np.zeros(stride, dtype=np.int32)
    rows = []
    for r in range(h):
        cur = img[r].reshape(stride).astype(np.int32)
        left = np.zeros(stride, dtype=np.int32)
        left[3:] = cur[:-3]
        upleft = np.zeros(stride, dtype=np.int32)
        upleft[3:] = prev[:-3]
        ftype = int(rng.integers(0, 5))
        if ftype == 0:
            enc = cur
        elif ftype == 1:
            enc = (cur - left) & 0xFF
        elif ftype == 2:
            enc = (cur - prev) & 0xFF
        elif ftype == 3:
            enc = (cur - ((left + prev) >> 1)) & 0xFF
        else:
            p = left + prev - upleft
            pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                          np.abs(p - upleft))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            enc = (cur - pred) & 0xFF
        rows.append(bytes([ftype]) + enc.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype, payload):
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return (struct.pack(">I", len(payload)) + ctype + payload
                + struct.pack(">I", crc))

    png = (mm._PNG_MAGIC
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"".join(rows), 6))
           + chunk(b"IEND", b""))
    assert (mm._png_decode(png) == img).all()

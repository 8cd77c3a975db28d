"""Property-based tests (hypothesis): operator semantics vs pure-Python
reference implementations of the R originals — beyond the fixed goldens.

Kept to few, small examples per property: each example round-trips
through a Spark job, so the budget is spent on semantic edge cases
(leading NULLs, all-NULL, empty mappings, duplicate keys) rather than
bulk."""

import pytest
from hypothesis import HealthCheck, example, given, settings
from pyspark.sql import functions as F
from hypothesis import strategies as st

from etlutils_spark.operators.locf import na_locf_plus_one
from etlutils_spark.operators.recode import recoder

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def ref_na_locf_plus_one(xs):
    """Pure-Python transcription of R/utils.R:49-52 semantics."""
    out, last, run = [], None, 0
    for v in xs:
        if v is None:
            run += 1
            out.append(None if last is None else last + run)
        else:
            last, run = v, 0
            out.append(v)
    return out


@SET
@given(st.lists(st.one_of(st.none(), st.integers(-5, 5).map(float)), max_size=12))
def test_locf_matches_reference(spark, xs):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(xs)], "ord int, x double"
    )
    got = [r.x for r in na_locf_plus_one(df, "x", order_by="ord").orderBy("ord").collect()]
    assert got == ref_na_locf_plus_one(xs)


@SET
@given(
    st.lists(st.one_of(st.none(), st.sampled_from("ABCDE")), max_size=10),
    st.dictionaries(st.sampled_from("ABC"), st.sampled_from("xyz"), max_size=3),
)
def test_recoder_identity_passthrough(spark, xs, mapping):
    df = spark.createDataFrame([(v,) for v in xs], "v string")
    out = [
        r.v2
        for r in df.select(
            recoder("v", list(mapping), list(mapping.values())).alias("v2")
        ).collect()
    ]
    expect = [mapping.get(v, v) if v is not None else None for v in xs]
    # row order of collect() on a 1-partition local frame is stable, but
    # compare as multisets to stay order-agnostic
    assert sorted(out, key=str) == sorted(expect, key=str)


@SET
@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.floats(min_value=0.05, max_value=1.0, allow_nan=False),
        min_size=1, max_size=3,
    ),
    st.integers(min_value=1, max_value=97),
)
def test_mixture_resample_matches_python_reference(spark, weights, n_rows):
    """The keep-set is a pure function of (key digest, data-dependent
    rates) — recompute it in Python with the same IEEE operations and
    demand the exact same rows."""
    import hashlib

    from etlutils_spark.operators.sampling import mixture_resample

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = mixture_resample(df, weights, strata_col="lang")
    counts = {}
    for _i, s in rows:
        counts[s] = counts.get(s, 0) + 1
    present = {s: counts[s] for s in weights if s in counts}
    if present and len(present) < len(weights):
        # some weight stratum has no rows: the mixture is infeasible
        # and the operator raises, naming the stratum
        with pytest.raises(Exception, match="has no rows"):
            out.collect()
        return
    got = sorted(r["doc_id"] for r in out.collect())
    if not present:
        assert got == []
        return
    total = min(counts[s] / weights[s] for s in present)
    expect = []
    for i, s in rows:
        if s not in present:
            continue
        rate = weights[s] * total / counts[s]
        prefix = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        if prefix < int(rate * float(1 << 60)):
            expect.append(i)
    assert got == sorted(expect)


def _ref_scd2(target_rows, update_rows):
    """Pure-Python SCD-2: target_rows = {k: attr} all current from t0;
    updates applied at t1. Returns set of (k, attr, frm, to, current)."""
    out = set()
    for k, attr in target_rows.items():
        if k in update_rows and update_rows[k] != attr:
            out.add((k, attr, "t0", "t1", False))
            out.add((k, update_rows[k], "t1", None, True))
        else:
            out.add((k, attr, "t0", None, True))
    for k, attr in update_rows.items():
        if k not in target_rows:
            out.add((k, attr, "t1", None, True))
    return out


@SET
@given(
    st.dictionaries(st.integers(0, 6), st.sampled_from("abc"), max_size=5),
    st.dictionaries(st.integers(0, 8), st.sampled_from("abc"), max_size=5),
)
def test_scd2_matches_reference(spark, target_rows, update_rows):
    from etlutils_spark.sources.merge import scd2_apply

    t0, t1 = "2000-01-01 00:00:00", "2001-01-01 00:00:00"
    target = spark.createDataFrame(
        [(k, v, t0, None, True) for k, v in target_rows.items()],
        "k int, attr string, valid_from string, valid_to string, is_current boolean",
    ).select(
        "k", "attr",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
    )
    updates = spark.createDataFrame(
        [(k, v, t1) for k, v in update_rows.items()],
        "k int, attr string, effective_date string",
    ).withColumn("effective_date", F.col("effective_date").cast("timestamp"))
    got = {
        (
            r.k, r.attr,
            "t0" if r.valid_from.year == 2000 else "t1",
            None if r.valid_to is None else ("t0" if r.valid_to.year == 2000 else "t1"),
            r.is_current,
        )
        for r in scd2_apply(target, updates, keys="k", attr_cols=["attr"]).collect()
    }
    assert got == _ref_scd2(target_rows, update_rows)
    # invariant: exactly one current row per surviving key
    keys_current = [x[0] for x in got if x[4]]
    assert len(keys_current) == len(set(keys_current))


def ref_window_dedup(docs: list[tuple[int, str]], window: int):
    """Pure-Python reference: non-overlapping spans, first occurrence
    by (doc_id, idx) wins."""
    seen = {}
    spans = []
    for doc_id, text in sorted(docs):
        toks = text.split(" ")
        for idx, s in enumerate(range(0, max(len(toks), 1), window)):
            chunk = toks[s:s + window]
            key = " ".join(chunk)
            kept = key not in seen
            if kept:
                seen[key] = (doc_id, idx)
            spans.append((doc_id, len(chunk), kept))
    out = {}
    for doc_id, n, kept in spans:
        agg = out.setdefault(doc_id, [0, 0, 0, 0])
        agg[0] += 1
        agg[1] += 0 if kept else 1
        agg[2] += n
        agg[3] += n if kept else 0
    return {
        d: (a[0], a[1], a[2], a[3]) for d, a in out.items()
    }


@SET
@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=9).map(" ".join),
        min_size=1, max_size=6,
    ),
    st.integers(2, 4),
)
def test_window_dedup_matches_reference(spark, texts, window):
    from etlutils_spark.operators.dedup import window_dedup_stats

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["n_tokens"],
                      r["n_kept_tokens"])
        for r in window_dedup_stats(df, window=window).collect()
    }
    assert got == ref_window_dedup(docs, window)


def ref_token_budget(rows, budget):
    import hashlib

    def ordkey(doc_id):
        return hashlib.md5(str(doc_id).encode()).hexdigest()

    by_group = {}
    for doc_id, group, text in rows:
        by_group.setdefault(group, []).append((ordkey(doc_id), doc_id, len(text.split(" "))))
    kept = set()
    for group, docs in by_group.items():
        prefix = 0
        for _, doc_id, n in sorted(docs):
            if prefix < budget:
                kept.add(doc_id)
            prefix += n
    return kept


@SET
@given(
    st.lists(
        st.tuples(st.sampled_from("xy"),
                  st.integers(1, 8)),
        min_size=1, max_size=10,
    ),
    st.integers(1, 20),
)
def test_token_budget_matches_reference(spark, specs, budget):
    from etlutils_spark.operators.sampling import token_budget_sample

    rows = [(i, g, " ".join(["t"] * n)) for i, (g, n) in enumerate(specs)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    got = {r["doc_id"] for r in
           token_budget_sample(df, budget, group_col="lang").collect()}
    assert got == ref_token_budget([(i, g, t) for (i, g, t) in rows], budget)


def ref_containment(docs, n=3, thresh=0.5):
    sh = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        s = {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 0))
             if len(toks) >= n}
        sh[doc_id] = s
    out = set()
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if not sh[a] or not sh[b]:
                continue
            inter = len(sh[a] & sh[b])
            if inter / min(len(sh[a]), len(sh[b])) >= thresh:
                out.add((a, b))
    return out


@SET
@given(
    st.lists(
        st.lists(st.sampled_from("pqrs"), min_size=3, max_size=8).map(" ".join),
        min_size=2, max_size=5,
    )
)
def test_containment_matches_reference(spark, texts):
    from etlutils_spark.operators.dedup import jaccard_pairs, shingle_rows

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in jaccard_pairs(shingle_rows(df), containment_threshold=0.5).collect()
    }
    assert got == ref_containment(docs)


def _ref_gopher(text):
    """Pure-Python reference of gopher_quality_flags' stats (Rae et al.
    2021 App. A1.1), mirroring Spark's split-on-single-space semantics
    (empty tokens from doubled spaces count as words of length 0)."""
    import re

    w = (text or "").split(" ")
    n = len(w)
    safe = max(n, 1)
    mean_len = sum(len(t) for t in w) / safe
    t = text or ""
    n_hash = len(t) - len(t.replace("#", ""))
    n_ell = (len(t) - len(t.replace("...", ""))) / 3
    hr = n_hash / safe
    er = n_ell / safe
    alpha = sum(1 for x in w if re.search("[a-zA-Z]", x)) / safe
    req = {"the", "be", "to", "of", "and", "that", "have", "with"}
    n_req = sum(1 for x in w if x in req)
    return (n, mean_len, hr, er, alpha, n_req)


@SET
@given(
    st.lists(
        st.text(alphabet="ab #.{!?x3 ", min_size=0, max_size=40),
        min_size=1,
        max_size=6,
    )
)
def test_gopher_flags_match_python_reference(spark, texts):
    """Random text incl. doubled spaces, '#', '...', digits: every stat
    column must equal the pure-Python reference bit-for-bit (single
    IEEE divisions over exact integer counts)."""
    from etlutils_spark.operators.quality import gopher_quality_flags

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.n_words, r.mean_word_len, r.hash_word_ratio,
                   r.ellipsis_word_ratio, r.alpha_word_frac,
                   r.n_required_stopwords)
        for r in gopher_quality_flags(df).collect()
    }
    for i, txt in enumerate(texts):
        assert got[i] == _ref_gopher(txt), (txt, got[i], _ref_gopher(txt))


def _ref_c4(text, blocklist=("spam",)):
    import re

    t = text or ""
    w = t.split(" ")
    # \Z = Python's end-of-string (the analog of Java/RE2 \z); $ would
    # also match before a trailing newline, diverging from the operator
    n_sent = sum(1 for x in w if re.search(r"[.!?]\Z", x))
    lower = t.lower()
    return (
        n_sent,
        bool(re.search(r'[.!?"]\Z', t)),
        all(b not in lower for b in blocklist),
        "lorem ipsum" not in lower,
        "{" not in t,
        "javascript" not in lower,
    )


@SET
@given(
    st.lists(
        st.text(alphabet='ab .!?"{javascript lorem ipsum\n', min_size=0,
                max_size=50),
        min_size=1,
        max_size=6,
    )
)
def test_c4_flags_match_python_reference(spark, texts):
    from etlutils_spark.operators.quality import c4_quality_flags

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.n_sentences, r.pass_terminal_punct, r.pass_blocklist,
                   r.pass_no_lorem, r.pass_no_brace, r.pass_no_javascript)
        for r in c4_quality_flags(df, blocklist=("spam",)).collect()
    }
    for i, txt in enumerate(texts):
        assert got[i] == _ref_c4(txt), (txt, got[i], _ref_c4(txt))


def ref_components(edges):
    """Pure-Python union-find, cluster_id = component minimum."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return sorted((n, comp_min[find(n)]) for n in parent)


@SET
@given(
    st.lists(
        st.tuples(st.integers(1, 12), st.integers(1, 12)),
        min_size=1,
        max_size=14,
    )
)
def test_connected_components_auto_matches_reference(spark, edges):
    """Both labelings — the driver union-find (connected_components
    under its edge limit) and the distributed star rounds — must
    produce the reference labeling (component minimum) on arbitrary
    small graphs, including self-loops, parallel edges, and reversed
    duplicates that hypothesis generates freely."""
    from unittest import mock

    from etlutils_spark.operators import dedup

    df = spark.createDataFrame(edges, "doc_id_1 long, doc_id_2 long")
    want = ref_components(edges)
    got = sorted(tuple(r) for r in dedup.connected_components(df).collect())
    assert got == want, ("driver", edges)
    # a zero edge limit sends every graph to the star rounds
    with mock.patch.object(dedup, "_CC_DRIVER_MAX_EDGES", 0):
        got = sorted(
            tuple(r)
            for r in dedup.connected_components(df, max_iter=40).collect()
        )
    assert got == want, ("star", edges)


@st.composite
def _near_dup_batches(draw):
    """(rows, batches, replay): a corpus of near-dup families (each
    member is its family's 10-word base with up to two words swapped
    and one word appended) plus shingle-less docs, ids shuffled, cut
    into a build batch and 1-2 ingest batches; ``replay`` names the
    ingest batch that is folded in twice."""
    rnd = draw(st.randoms(use_true_random=False))
    docs = []
    for fam in range(draw(st.integers(1, 3))):
        base = [f"f{fam}w{i}" for i in range(10)]
        for m in range(draw(st.integers(2, 3))):
            words = list(base)
            for _ in range(draw(st.integers(0, 2))):
                words[rnd.randrange(10)] = f"x{rnd.randrange(1000)}"
            docs.append(" ".join(words + [f"tail{fam}_{m}"]))
    docs += ["hi"] * draw(st.integers(0, 2))  # too short to shingle
    ids = draw(st.permutations(range(1, len(docs) + 1)))
    rows = list(zip(ids, docs))
    n_ingest = draw(st.integers(1, 2))
    # the first row always seeds the build, so the artifact is never
    # built from an empty frame
    cut = [0] + [draw(st.integers(0, n_ingest)) for _ in rows[1:]]
    batches = [[r for r, c in zip(rows, cut) if c == b] for b in range(n_ingest + 1)]
    return rows, batches, draw(st.integers(1, n_ingest))


# family 0 spans the build and both ingest batches (cross-batch pairs);
# family 1 lives only in the first ingest batch (an intra-batch pair no
# later batch re-finds); the second ingest batch is replayed
_FAMILY_ROWS = [
    (i, " ".join(f"f{fam}w{w}" for w in range(10)) + f" tail{fam}_{m}")
    for i, fam, m in [(5, 0, 0), (2, 1, 0), (6, 1, 1), (1, 0, 1), (3, 0, 2)]
] + [(4, "hi")]
_FAMILY_SPLIT_CASE = (
    _FAMILY_ROWS,
    [_FAMILY_ROWS[:1], _FAMILY_ROWS[1:3], _FAMILY_ROWS[3:]],
    2,
)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(_near_dup_batches())
@example(case=_FAMILY_SPLIT_CASE)
def test_extend_batches_label_like_rebuild(spark, tmp_path, case):
    """Folding a corpus into a dedup index batch by batch (one batch
    replayed) labels every doc exactly as build_dedup_index on the
    union does: the one-pass probe-and-verify finds every cross- and
    intra-batch pair the build's self-join finds."""
    import uuid

    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    rows, batches, replay = case
    schema = "doc_id bigint, text string"
    root = tmp_path / uuid.uuid4().hex
    path = str(root / "idx")
    build_dedup_index(spark.createDataFrame(batches[0], schema), path)
    for b, batch in enumerate(batches[1:], start=1):
        for _ in range(2 if b == replay else 1):
            got = extend_dedup_index(path, spark.createDataFrame(batch, schema))
    want = build_dedup_index(
        spark.createDataFrame(rows, schema), str(root / "rebuild")
    )
    assert dict(got.collect()) == dict(want.collect())

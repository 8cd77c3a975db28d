#!/usr/bin/env python3
"""Fat-tail near-dup stress: MinHash -> LSH -> verify -> CC end to
end on a synthetic corpus with ZIPF-distributed duplicate-group sizes,
where the largest group holds 1% of the corpus — the boilerplate-cluster
regime the 10x sweeps don't reach (VERDICT.md r5 "Next round" #4).

    python3 tools/stress_dedup.py [N ...]      # default: 500 5000 50000

Corpus (fully deterministic, generated JVM-side — no driver loop, no
RNG): group g (1-based) has floor(0.01*N / g^1.2) members, until sizes
hit 1; remaining docs are singletons. Every doc is 30 md5-derived
tokens; member m of a group mutates ONE token position, so intra-group
word-3-gram jaccard >= ~0.64 > the 0.5 verify threshold and every group
is one connected component. Candidate-pair mass is therefore dominated
by the head group's B(B-1)/2 — the quantity every stage must stay
linear in.

Per scale the report records: stage walls (pairs pipeline, connected
components; the package's tracked-table cache is emptied before each
stage), candidate count BEFORE verification, verified pairs, CC
rounds (0 when the graph is small enough for driver union-find), peak
per-stage shuffle write, and the max-bucket-size guard's effect on the
same corpus (candidates + wall with the head bucket dropped). The
pass/fail rubric lives with the recorded numbers in BASELINE.md: wall
and shuffle must scale no worse than candidate count, and the guard
must collapse the head group's quadratic candidate mass.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def zipf_sizes(n: int, head_frac: float = 0.01, a: float = 1.2) -> list[int]:
    """Group sizes floor(head_frac*N / g^a), cut when they reach 1."""
    sizes = []
    g = 1
    used = 0
    while True:
        s = int(head_frac * n / (g ** a))
        if s < 2 or used + s > n:
            break
        sizes.append(s)
        used += s
        g += 1
    return sizes


def make_corpus(spark, n: int):
    """(doc_id, text) with Zipf dup groups; singletons fill to n."""
    sizes = zipf_sizes(n)
    rows = []
    start = 0
    for g, s in enumerate(sizes, start=1):
        rows.append((g, start, s))
        start += s
    groups = spark.createDataFrame(
        rows or [(0, 0, 0)], "grp int, start long, size int"
    ).filter(F.col("size") > 0)
    # ^ the empty-corpus sentinel row must not reach the explode:
    # Spark's sequence(0, -1) is the DESCENDING [0, -1] (the quirk
    # documented at text.py shingles_from_tokens), which would mint
    # phantom docs 0 and -1
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
    n_dup = start
    singles = spark.range(n_dup, n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda i: tok(F.concat_ws(":", F.lit("solo"), F.col("id"), i)),
            ),
        ).alias("text"),
    )
    return members.unionByName(singles), sizes


def total_shuffle_write(spark) -> int:
    """Cumulative shuffle-write bytes across executors from the app
    status store — no listener, no extra jobs; per-block deltas give
    each stage's shuffle volume. Best effort (-1 on API drift)."""
    try:
        ex = spark._jsc.sc().statusStore().executorList(False)
        tot = 0
        it = ex.iterator()
        while it.hasNext():
            tot += it.next().totalShuffleWrite()
        return tot
    except Exception:
        return -1


def drop_tracked() -> None:
    """Unpersist every table in the package's ``persist_tracked`` LRU,
    so a stage's wall never includes reading a table an earlier stage
    left cached."""
    from etlutils_spark import caching

    for df in caching._TRACKED:
        df.unpersist(blocking=True)
    caching._TRACKED.clear()


def run_scale(spark, n: int) -> dict:
    from etlutils_spark.operators.dedup import (
        batch_profiles,
        connected_components,
        lsh_candidate_pairs,
        minhash_dedup_pairs,
    )

    docs, sizes = make_corpus(spark, n)
    docs = docs.persist()
    n_docs = docs.count()  # materialize corpus outside the timed region
    out: dict = {
        "n_docs": n_docs,
        "n_dup_groups": len(sizes),
        "head_group": sizes[0] if sizes else 0,
        "dup_docs": sum(sizes),
    }

    def shuffle_delta(a: int, b: int):
        """None (omitted from the report) when either endpoint hit the
        status-store error sentinel — never a garbage negative MB."""
        return round((b - a) / 1e6, 1) if a >= 0 and b >= 0 else None

    # stage A: candidates (profiles -> banded self-join)
    drop_tracked()
    s0 = total_shuffle_write(spark)
    t0 = time.time()
    prof = batch_profiles(docs)
    cand = lsh_candidate_pairs(prof)
    out["candidates"] = cand.count()
    out["candidates_sec"] = round(time.time() - t0, 2)
    s1 = total_shuffle_write(spark)
    out["candidates_shuffle_mb"] = shuffle_delta(s0, s1)

    # stage B: full verified pipeline (the production entry point)
    drop_tracked()
    t0 = time.time()
    pairs = minhash_dedup_pairs(docs)
    pairs = pairs.persist()
    out["verified_pairs"] = pairs.count()
    out["verify_sec"] = round(time.time() - t0, 2)
    s2 = total_shuffle_write(spark)
    out["verify_shuffle_mb"] = shuffle_delta(s1, s2)

    # stage C: connected components over the verified pairs
    t0 = time.time()
    stats: dict = {}
    comp = connected_components(pairs, "doc_id_1", "doc_id_2", stats=stats)
    n_clusters = comp.select("cluster_id").distinct().count()
    out["cc_sec"] = round(time.time() - t0, 2)
    out["cc_rounds"] = stats.get("rounds")
    out["n_components"] = n_clusters
    s3 = total_shuffle_write(spark)
    out["cc_shuffle_mb"] = shuffle_delta(s2, s3)

    # correctness of the stress itself, with honest LSH-recall math:
    # at intra-group jaccard ~0.65, a single pair misses all 4 bands
    # with p ~= (1 - 0.65^2)^4 ~= 0.11, so size-2 tail groups are
    # EXPECTED to drop occasionally — that is the documented
    # bands/num_hashes recall trade, not a pipeline hole. What must
    # hold exactly: (a) no component ever spans two truth groups
    # (verify-threshold false merges), and (b) every group of size
    # >= 5 is recovered as ONE component (pair redundancy makes a
    # full-group miss astronomically unlikely). Tail recall is
    # reported, not asserted.
    truth_rows, start = [], 0
    for g, s in enumerate(sizes, start=1):
        truth_rows.append((g, start, start + s))
        start += s
    truth = spark.createDataFrame(truth_rows, "grp int, lo long, hi long")
    labeled = comp.join(
        truth, (comp["node"] >= truth["lo"]) & (comp["node"] < truth["hi"]),
        "left",
    ).select("node", "cluster_id", "grp")
    assert labeled.filter(F.col("grp").isNull()).count() == 0, \
        "a singleton doc entered the pair graph: verify false positive"
    spans = (
        labeled.groupBy("cluster_id")
        .agg(F.countDistinct("grp").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert spans == 0, f"{spans} components span truth groups (false merge)"
    per_grp = labeled.groupBy("grp").agg(
        F.countDistinct("cluster_id").alias("k"),
        F.count(F.lit(1)).alias("members"),
    )
    recovered = {
        r.grp: (r.k, r.members) for r in per_grp.collect()
    }
    # head groups must stay ONE component (k==1 — no splits) holding
    # >= 97% of members. The residue is the per-DOC isolation mode: a
    # doc whose 8 minhash slots all land on its own mutated shingles
    # has no band in common with the rest of its group — p ~= (1 - (1
    # - 3/28)^2)^4 ~= 0.002 per doc, so a 218-doc group expects ~0.4
    # isolated members. A SPLIT (k > 1) would be a real pipeline bug.
    # isolation events are ~Poisson over the DUP POPULATION (p ~=
    # 0.002/doc), not per-group — a 25-doc group losing 2 docs is
    # within expectation — so the per-group bound tolerates an
    # absolute count (2) or 3%, whichever is larger.
    head_bad = [
        (g, s, recovered.get(g))
        for g, s in enumerate(sizes, start=1)
        if s >= 5
        and (
            recovered.get(g) is None
            or recovered[g][0] != 1
            or recovered[g][1] < s - max(2, 0.03 * s)
        )
    ]
    assert not head_bad, f"head groups split/underfilled: {head_bad[:5]}"
    full = sum(
        1
        for g, s in enumerate(sizes, start=1)
        if recovered.get(g) == (1, s)
    )
    out["group_recall"] = round(full / len(sizes), 4) if sizes else 1.0
    dup_total = sum(sizes)
    found = sum(m for _, m in recovered.values())
    out["member_recall"] = round(found / dup_total, 4) if dup_total else 1.0

    # stage D: the guard — same corpus, head buckets dropped before the
    # self-join; candidate mass must collapse toward the non-head tail
    drop_tracked()
    t0 = time.time()
    guarded = lsh_candidate_pairs(prof, max_bucket_size=50)
    out["guarded_candidates"] = guarded.count()
    out["guarded_sec"] = round(time.time() - t0, 2)

    pairs.unpersist()
    docs.unpersist()
    return out


def main() -> None:
    from etlutils_spark.session import get_session

    scales = [int(a) for a in sys.argv[1:]] or [500, 5000, 50000]
    spark = get_session(
        "stress_dedup",
        **{"spark.driver.memory": "8g", "spark.sql.shuffle.partitions": "32"},
    )
    report = {}
    for n in scales:
        report[f"n={n}"] = run_scale(spark, n)
        print(json.dumps({f"n={n}": report[f"n={n}"]}), file=sys.stderr)
    print(json.dumps(report, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()

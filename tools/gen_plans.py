#!/usr/bin/env python3
"""Generate PLANS.md: formatted physical plans of the headline queries
with the scale-relevant properties called out. Evidence that each
operator compiles to the plan we want (pushdown, broadcast, partial
agg, single window pass) — regenerate after plan-affecting changes:

    python3 tools/gen_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

COMMENTARY = {
    "q1_pricing_summary": "partial HashAggregate before the exchange; "
    "shipdate filter + 7-column pruning pushed to the parquet scan.",
    "q3_top_revenue_orders": "filtered customer dim broadcast; top-k is "
    "TakeOrderedAndProject (no global sort).",
    "q5_nation_revenue": "all dims broadcast; the single shuffled join is "
    "lineitem-orders on orderkey.",
    "matchmerge_inner": "BroadcastHashJoin — the fact side never shuffles; "
    "right side pruned to key+add_columns at the scan.",
    "locf_events": "one Window node computes LOCF + run position in a "
    "single pass after one shuffle on user_id.",
    "window_topk_per_customer": "WindowGroupLimit pushes rn<=2 below the "
    "full window materialization.",
    "dedup_minhash_lsh": "signatures are one partial-min aggregation; "
    "candidate join keys are uniform band digests (no skew); verify join "
    "touches candidates only.",
    "ann_cosine_topk": "query set broadcast; corpus scanned once; per-query "
    "top-k via window over the small scored set.",
    "q8_market_share": "8-table join: every dimension leg broadcasts, "
    "lineitem-orders is the only shuffle; share is ONE conditional "
    "aggregate pass (fact scanned once).",
    "q21_waiting_supplier": "correlated MAX + EXISTS collapsed into one "
    "window pass over orderkey — a single Exchange of the fact table "
    "(r13: was aggregate + probe join = two); supplier/nation "
    "broadcast after the fact rows are cut.",
    "q2_min_cost_supplier": "correlated per-part MIN decorrelated; the "
    "distinct pair projection cached and reused by probe + min.",
    "decontaminate_overlap": "benchmark shingle set broadcast; ONE "
    "aggregation computes size + overlap (count skips unmatched nulls).",
    "mixture_resample_lang": "count agg -> one-row feasibility broadcast -> "
    "stateless digest-prefix filter at scan speed.",
    "streaming_curation_pipeline": "stateless predicates inside the "
    "micro-batch: no state store, no watermark, scan-speed per batch.",
    "salted_join_hotkey": "dim replicated 8x stays broadcast-sized: the "
    "salted join compiles to BroadcastHashJoin on (k, salt) — at a "
    "larger dim it becomes a shuffle join with the hot key spread over "
    "8 reducers, which is the operator's purpose.",
    "scd2_history": "every branch joins on the key; the changed set is "
    "persisted once and fans out to close/reopen/anti-join consumers; "
    "update legs broadcast.",
    "zorder_pruning_stats": "two scans (one per simulated layout), "
    "rank/interleave entirely in whole-stage codegen, two-level "
    "partial+final aggregate.",
    "approx_quantiles_contract": "sketch pass is one partial+final "
    "aggregate; the audit join broadcasts the 9 quantile rows back "
    "against the fact scan.",
    "vocab_top_tokens": "partial+final count on the token key, then "
    "TakeOrderedAndProject (distributed partial top-N, no global "
    "sort); the rank window runs over the already-limited top-N rows.",
    "vocab_oov_rate": "top-N vocab broadcast into a LeftOuter "
    "BroadcastHashJoin against the exploded corpus; per-doc partial+"
    "final re-aggregation is the only corpus shuffle.",
    "quality_percentile_prune": "both windows (group count + "
    "row_number) share ONE Sort+Exchange on the group key — a single "
    "shuffle and a single sort pass feed the per-group rank cut.",
    "dedup_window_spans": "first occurrence is a partial_min(struct) "
    "hash aggregate (map-side combine collapses duplicate mass), not a "
    "row_number window; only md5 span keys shuffle, never span text.",
    "embedding_cluster_assign": "K centroids broadcast (nested-loop "
    "cross join); argmax is a partial max_by hash aggregate on the id "
    "key — no per-id sort window.",
    "winnow_fingerprints": "k-gram hashing + window minima entirely in "
    "whole-stage codegen (sequence/transform/slice/array_min); the only "
    "row multiplication is the winnowed-density explode.",
    "pack_ids_export": "offset window PARTITIONED by source (groups "
    "pack in parallel) computed BEFORE the token explode; pack assembly "
    "is a hash aggregate whose per-key state is seq_len-bounded.",
    "token_budget_sample": "one Exchange on the group key feeds the "
    "exclusive prefix-sum window; the keep rule is a stateless compare "
    "on the windowed column.",
    "bm25_topk_search": "posting-list isin filter sits between the "
    "token explode and the (doc,term) aggregate — only query-term rows "
    "ever shuffle; df/stats/doc-length joins all broadcast; the global "
    "top-k is TakeOrderedAndProject, never a one-partition rank window.",
    "bigram_lm_quality": "bigram pairs built by array index algebra "
    "(no join for adjacency); two count shuffles (model key, doc key); "
    "model tables broadcast back; mean accumulates in decimal.",
    "ann_pq_recall_contract": "both ANN passes side by side: brute "
    "force is one broadcast nested loop, the PQ path is a mapInPandas "
    "ADC scan whose per-batch shortlists shuffle (shortlist rows, not "
    "scores) into one rank window, then broadcast joins for the exact "
    "re-rank and the recall audit.",
    "mixture_temperature_lang": "one tiny count aggregate -> sqrt-chain "
    "rates -> broadcast join + stateless digest-threshold filter; the "
    "corpus itself never shuffles.",
    "funnel_stages_user": "both running-min windows and the per-user "
    "aggregate share ONE Exchange+Sort on user_id (same-window-spec "
    "reuse); stage qualification is stateless CASE algebra.",
    "text_token_gini": "zero shuffle: the token-distribution sum of "
    "squares is a per-row fold over the sorted token array, entirely "
    "in whole-stage codegen.",
    "decontaminate_semantic_embeddings": "the benchmark is plan-literal "
    "arrays: B decimal-exact cosines + greatest per row — no join, no "
    "shuffle; the corpus scan IS the decontamination pass.",
    "quality_rank_blend": "three signal subplans joined on doc_id, "
    "then one global Sort per signal for the exact ranks (documented "
    "dictionary-scale mode; approx_buckets drops the sorts).",
    "knn_label_consistency": "neighbor table -> two aggregations on "
    "the query key + broadcast label joins; audit cost is "
    "O(|neighbors|), decoupled from how neighbors were produced.",
    "window_multi_horizon": "six rolling aggregates over three frames "
    "share ONE Exchange + ONE Sort (identical partitioning/ordering); "
    "horizons differ only in the RANGE bound.",
    "user_cadence_stats": "lag window and per-user aggregate share one "
    "shuffle; gaps stay exact integer micros end to end.",
    "hard_negative_mining": "label-mismatch predicate filters the "
    "broadcast nested loop BEFORE the ranking window — positives never "
    "enter the sort.",
    "dedup_cluster_size_histogram": "verified cluster labels -> two "
    "tiny combinable aggregations (cluster key, then size key); the "
    "pair graph is never re-materialized.",
    "dedup_clusters_star": "the materialize-once artifact read back: "
    "one parquet scan of the label table — the minhash->LSH->verify->CC "
    "pipeline ran exactly once at build time (bench: 7.5 s cold build, "
    "0.1 s consumer at sf0.1).",
    "leakage_safe_split": "docs scan + BroadcastHashJoin against the "
    "dup-mass-bounded component table (self-labeled rows dropped "
    "before broadcast) + stateless digest-threshold projection; the "
    "pair pipeline never re-runs per split request.",
    "bpe_encode_docs": "the whole tokenizer is ONE stateless Project "
    "over the scan — a 16-deep plain-replace chain in whole-stage "
    "codegen; no Python worker, no shuffle, no join.",
    "line_boilerplate_docs": "line explode -> per-doc-distinct "
    "frequency (two-level combinable agg) -> frequency-mass-bounded "
    "boilerplate set broadcast back -> one sorted-collect aggregate "
    "reassembles docs; only (doc,line) rows shuffle, text travels "
    "once.",
    "source_cap_sample": "one Exchange+Sort on source feeds the "
    "digest-ordered rank cut; the approx mode (not registered) drops "
    "even that for a stateless threshold filter.",
    "embedding_quantize_int8": "stateless per-row array algebra — "
    "scale, codes, and reconstruction error all inside one codegen "
    "stage; no shuffle anywhere.",
    # round-10 additions
    "decontaminate_rewrite_docs": "ONE persisted tokenized base feeds "
    "both branches; the positioned-gram branch joins the broadcast "
    "benchmark shingles BEFORE its distinct/count shuffle (only "
    "contamination mass ever shuffles), the contaminated span set "
    "broadcasts into the left-anti, and reassembly is one per-doc "
    "aggregate.",
    "decontaminate_attribution": "benchmark shingles broadcast into "
    "the training-side gram stream; only MATCHING (train, shingle) "
    "rows reach the two distinct-count aggregations, keyed by the "
    "suite-sized bench_id.",
    "embedding_covariance": "one MapInPandas emits d(d+1)/2-row exact "
    "int64 partials PER BATCH (the corpus never shuffles); the only "
    "exchange carries partials into the (i,j)-keyed combinable sum; "
    "cov is a stateless projection over the exact sums.",
    "multimodal_png_roundtrip": "stateless mapInPandas projection "
    "after one Exchange (the spread of a single-file scan) — encode, "
    "decode, and pixel stats all inside the Python stage; no join, no "
    "aggregation.",
    # round-11 additions
    "ccnet_lm_approx_contract": "the scored frame (explode + two model "
    "aggs + two joins) persists ONCE and feeds all three consumers "
    "(sketch thresholds, exact-percentile thresholds, the compare); "
    "both threshold tables broadcast back onto stateless compares — "
    "no per-language global sort anywhere, the property the approx "
    "mode exists to prove.",
    "nb_quality_classifier": "train = one explode + ONE token-keyed "
    "combinable agg, class totals a 1-row broadcast cross join; "
    "inference = the vocabulary-sized weight table broadcast back "
    "onto the token stream + one per-doc combinable agg. No global "
    "sort, no Python; the token-keyed shuffle is the only data-sized "
    "exchange.",
    "nb_classifier_hashed": "same shape as nb_quality_classifier with "
    "the feature key replaced by a portable md5 bucket (stateless "
    "per-token hash inside the same codegen stage) — the model side "
    "of the broadcast is BOUNDED at hash_dim rows by construction, "
    "so the inference join broadcasts at any corpus size.",
}


def render(spark) -> str:
    """The full PLANS.md content for the given session — shared by the
    generator CLI, `--check`, and the pytest golden-snapshot test."""
    import __spark_entry__ as em
    from etlutils_spark import caching
    from etlutils_spark.plans.checks import physical_plan

    # cache-state independence: queries that persist an intermediate
    # (ccnet approx, nb classifier) render an InMemoryRelation whose
    # text depends on what the CacheManager already holds (it dedupes
    # by canonicalized plan against SESSION history — a pytest session
    # that cached a sibling frame earlier renders a different tree
    # than the generator CLI did). Start every render from an empty
    # cache so the golden snapshot is a function of the code alone.
    caching._TRACKED.clear()
    spark.catalog.clearCache()

    qs = em.queries()
    out = ["# PLANS — physical-plan audit of headline queries\n"]
    out.append(
        "Generated by tools/gen_plans.py at sf0.001 (plans are scale-"
        "independent shapes; AQE may further coalesce/convert at runtime).\n"
    )
    for name, note in COMMENTARY.items():
        plan = physical_plan(qs[name](spark, SF))
        # keep the operator tree, drop the verbose per-node detail section
        tree = plan.split("\n\n")[0]
        tree = re.sub(r"#\d+L?", "", tree)
        # executed AdaptiveSparkPlans inside InMemoryRelations carry
        # RUNTIME statistics (sizeInBytes/rowCount vary with core count
        # and partitioning — local[4] pytest vs local[32] CLI broke the
        # golden snapshot); the audit pins plan SHAPE, not run stats
        tree = re.sub(r", Statistics\([^)]*\)", "", tree)
        lines = tree.strip().splitlines()
        if len(lines) > 200:
            # iterative operators (e.g. the star connected-components
            # rounds) unroll into repeating plan blocks — the head
            # carries the shape
            tree = "\n".join(lines[:200]) + (
                f"\n... [{len(lines) - 200} further lines: the iterative"
                " rounds repeat the block above]"
            )
        else:
            tree = "\n".join(lines)
        out.append(f"## {name}\n\n**Why this plan:** {note}\n")
        out.append("```\n" + tree + "\n```\n")
    return "\n".join(out) + "\n"


def check(spark, plans_path: str) -> list[str]:
    """Compare the committed PLANS.md against freshly rendered plans;
    return the names of queries whose operator-tree section drifted
    (empty = in sync). Section-level compare so one drifted plan names
    itself instead of producing a whole-file diff."""
    with open(plans_path) as fh:
        committed = fh.read()
    fresh = render(spark)

    def sections(text: str) -> dict:
        parts = re.split(r"^## ", text, flags=re.M)[1:]
        return {p.split("\n", 1)[0].strip(): p for p in parts}

    want, got = sections(fresh), sections(committed)
    drifted = [n for n in want if got.get(n) != want[n]]
    drifted += [n for n in got if n not in want]
    return drifted


def main() -> None:
    import sys as _sys

    from etlutils_spark.session import get_session

    spark = get_session("plans", **{"spark.driver.memory": "4g"})
    try:
        if "--check" in _sys.argv:
            plans_md = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "PLANS.md",
            )
            drifted = check(spark, plans_md)
            if drifted:
                print(
                    "PLANS.md is stale — operator-tree shape changed for: "
                    + ", ".join(drifted)
                    + "\nregenerate: python3 tools/gen_plans.py > PLANS.md",
                    file=_sys.stderr,
                )
                raise SystemExit(1)
            print("PLANS.md in sync")
        else:
            print(render(spark), end="")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

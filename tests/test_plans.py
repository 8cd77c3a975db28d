"""Physical-plan audits: the scale properties that matter at 100 TB,
asserted on the actual optimized plans (SURVEY §4).

These tests pin down: dimension joins go broadcast (no fact shuffle),
filters and column pruning reach the parquet scan, and no Python
evaluation node sneaks into the relational/JVM-only pipelines.
"""

import pytest

import __spark_entry__ as entry_mod
from etlutils_spark.operators.matchmerge import matchmerge
from etlutils_spark.plans.checks import (
    codegen_plan,
    has_pushed_filters,
    physical_plan,
    uses_broadcast_join,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return entry_mod.queries()


def test_matchmerge_broadcasts(star):
    out = matchmerge(star["lineitem"], star["part"], by_x="l_partkey", by_y="p_partkey",
                     add_columns=["p_brand"])
    assert uses_broadcast_join(out)
    # fact side must not shuffle for a broadcast join: in the formatted
    # tree the probe subtree prints between the join node and its
    # BroadcastExchange child — no Exchange may appear there (a
    # repartition() on the fact side makes this fire; verified)
    plan = physical_plan(out)
    probe_subtree = plan.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert "Exchange" not in probe_subtree


def test_q1_pushdown_and_codegen(spark, qs):
    df = qs["q1_pricing_summary"](spark, SF)
    assert has_pushed_filters(df)  # shipdate filter reaches parquet
    assert "WholeStageCodegen" in codegen_plan(df)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q1_two_level_scaled_long_matches_decimal_reference(spark, qs):
    """The two-level scaled-long aggregate must be bit-identical to the
    registered single-level decimal(38,6) contract at ANY partitioning
    (integer addition is associative; the per-row rounding is the same
    decimal cast). Pin it at three shuffle-partition counts."""
    from pyspark.sql import functions as F

    from etlutils_spark.entry_queries import davg, dsum
    from etlutils_spark.relational_queries import CUTOFF
    from etlutils_spark.sources.files import read_table

    li = read_table(spark, "lineitem", SF)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    ref = sorted(
        tuple(r)
        for r in (
            li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit(CUTOFF)))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                dsum(F.col("l_quantity"), "sum_qty"),
                dsum(F.col("l_extendedprice"), "sum_base_price"),
                dsum(disc_price, "sum_disc_price"),
                dsum(charge, "sum_charge"),
                davg(F.col("l_quantity"), "avg_qty"),
                davg(F.col("l_extendedprice"), "avg_price"),
                davg(F.col("l_discount"), "avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
            .collect()
        )
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for sp in ("1", "7", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", sp)
            got = sorted(
                tuple(r) for r in qs["q1_pricing_summary"](spark, SF).collect()
            )
            assert got == ref, f"shuffle.partitions={sp}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_q3_broadcasts_dimensions(spark, qs):
    plan = physical_plan(qs["q3_top_revenue_orders"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # top-k must be TakeOrderedAndProject, not a global Sort
    assert "TakeOrderedAndProject" in plan


def test_q5_single_fact_shuffle(spark, qs):
    plan = physical_plan(qs["q5_nation_revenue"](spark, SF))
    # customer/nation/region all broadcast; lineitem<->orders may shuffle
    assert plan.count("BroadcastHashJoin") >= 3


def test_q5_two_level_scaled_long_matches_decimal_reference(spark, qs):
    """q5's revenue sum uses the same two-level scaled-long design as
    q1 — pin bit-identity to the single-level decimal(38,6) contract at
    three shuffle-partition counts (the order-independence proof)."""
    from pyspark.sql import functions as F

    from etlutils_spark.entry_queries import dsum
    from etlutils_spark.sources.files import read_table

    l = read_table(spark, "lineitem", SF)
    o = read_table(spark, "orders", SF)
    c = read_table(spark, "customer", SF)
    n = read_table(spark, "nation", SF)
    r = read_table(spark, "region", SF)
    ref = sorted(
        tuple(x)
        for x in (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("n_name", "r_name")
            .agg(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
                F.count(F.lit(1)).alias("n_lines"),
            )
            .collect()
        )
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for sp in ("1", "7", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", sp)
            got = sorted(
                tuple(x) for x in qs["q5_nation_revenue"](spark, SF).collect()
            )
            assert got == ref, f"shuffle.partitions={sp}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_column_pruning_reaches_scan(spark, qs):
    df = qs["factor_levels_brand"](spark, SF)
    plan = physical_plan(df)
    assert "p_brand" in plan
    # scan must not read other part columns
    scan = [seg for seg in plan.split("\n") if "ReadSchema" in seg]
    assert scan and all("p_retailprice" not in s for s in scan)


def test_relational_pipelines_are_jvm_only(spark, qs):
    python_ok = {"transfun_derived_date", "multimodal_features"}
    for name in [
        "matchmerge_inner", "locf_events", "window_topk_per_customer",
        "agg_rollup", "dedup_exact", "text_stats", "text_fingerprint",
        "dedup_minhash_lsh", "ann_cosine_topk", "sessionize_events",
    ]:
        plan = physical_plan(qs[name](spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "PythonMapInArrow" not in plan and "MapInPandas" not in plan, name


def test_entry_smoke(spark):
    out = entry_mod.entry(spark)
    rows = out.collect()
    assert len(rows) > 0
    assert {"p_brand", "revenue", "n_lines"} <= set(out.columns)


def test_oracle_sql_covers_queries(qs):
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # r4 closed the last rows-only exceptions (literal-plane LSH replay,
    # rank-projected arrow top-k, byte-math probe): every registered
    # query now carries a DuckDB oracle.
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()


# ---- round-2 additions: TPC-H breadth pack + curation tier ----------------


def test_q6_all_filters_push_to_scan(spark, qs):
    df = qs["q6_revenue_forecast"](spark, SF)
    plan = physical_plan(df)
    pushed = [seg for seg in plan.split("\n") if "PushedFilters" in seg]
    assert pushed
    seg = "".join(pushed)
    # every predicate column reaches the reader (range filters -> row-group
    # min/max skipping on a date-sorted layout)
    assert "l_shipdate" in seg and "l_discount" in seg and "l_quantity" in seg
    assert "BatchEvalPython" not in plan


def test_q4_exists_is_semi_join_without_payload_shuffle(spark, qs):
    plan = physical_plan(qs["q4_priority_returns"](spark, SF))
    assert "LeftSemi" in plan
    # probe side carries only the key: no lineitem payload columns in
    # the exchange below the semi join
    assert "l_extendedprice" not in plan


def test_q10_broadcasts_dims_and_takeordered(spark, qs):
    plan = physical_plan(qs["q10_returned_items"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation
    assert "TakeOrderedAndProject" in plan


def test_q18_keeper_set_broadcasts(spark, qs):
    plan = physical_plan(qs["q18_large_volume_orders"](spark, SF))
    # r13: the HAVING aggregate IS the output sum — lineitem is scanned
    # once (the r12 form re-scanned it through a LeftSemi + re-agg) and
    # the keeper set joins orders broadcast-shaped
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("lineitem.parquet") == 1  # single fact scan


def test_q19_part_side_disjunction_prunes_build(spark, qs):
    df = qs["q19_disjunctive_filter"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    # Catalyst extracts the part-only disjunction (brand/size) and the
    # lineitem-only quantity hull below the join
    assert "p_brand" in plan.split("BroadcastHashJoin")[-1]


def test_sampling_is_stateless_scan_filter(spark, qs):
    df = qs["sample_hash_10pct"](spark, SF)
    plan = physical_plan(df)
    assert "Exchange" not in plan  # pure row predicate: no shuffle at all
    assert "BatchEvalPython" not in plan


def test_pack_sequences_partitioned_window(spark, qs):
    plan = physical_plan(qs["pack_sequences_source"](spark, SF))
    assert "hashpartitioning(source" in plan  # per-group parallel windows
    assert plan.count("windowspecdefinition") == 1  # one window pass


def test_curation_tier_is_jvm_only(spark, qs):
    for name in [
        "quality_filter_flags", "text_repetition", "text_redact_pii",
        "shard_manifest", "sample_stratified_lang",
        "gopher_quality_docs", "c4_quality_docs",
    ]:
        plan = physical_plan(qs[name](spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
    # the published rule sets are single stateless projections: no
    # join, and the only Exchange is with_tokens' deliberate spread()
    # repartition (parallelizing tokenization of a single-file scan)
    for name in ("gopher_quality_docs", "c4_quality_docs"):
        plan = physical_plan(qs[name](spark, SF))
        assert "Join" not in plan, name
        assert plan.split("\n\n")[0].count("Exchange") <= 1, name


# ---- round-2 continuation: TPC-H pack 2 -----------------------------------


def test_q7_both_nation_roles_broadcast(spark, qs):
    plan = physical_plan(qs["q7_volume_shipping"](spark, SF))
    # supplier+nation and customer+nation both fold into broadcasts; at
    # test SF orders also broadcasts (size-based) — at scale it shuffles
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BatchEvalPython" not in plan


def test_q8_single_big_shuffle(spark, qs):
    plan = physical_plan(qs["q8_market_share"](spark, SF))
    # all five dimension legs broadcast; the share is one conditional
    # aggregate pass (no union of two scans)
    assert plan.count("BroadcastHashJoin") >= 3
    # the share is one conditional-aggregate pass: the fact table is
    # scanned exactly once (Location detail line per scan node)
    assert plan.count("lineitem.parquet") == 1


def test_q13_filter_stays_in_join_condition(spark, qs):
    df = qs["q13_customer_order_distribution"](spark, SF)
    # zero-order customers must survive (the priority filter lives in
    # the ON clause, not a WHERE): every customer lands in exactly one
    # bucket, so the distribution's mass equals the customer count
    n_customers = spark.read.parquet(f"{SF}/customer.parquet").count()
    assert sum(r["custdist"] for r in df.collect()) == n_customers


def test_q15_revenue_computed_once(spark, qs):
    plan = physical_plan(qs["q15_top_supplier"](spark, SF))
    # the quarterly revenue agg is cached and reused for max + probe:
    # lineitem must not be scanned twice
    assert plan.count("InMemoryTableScan") >= 1


def test_q17_decorrelated_single_threshold_agg(spark, qs):
    plan = physical_plan(qs["q17_small_quantity_revenue"](spark, SF))
    # per-part thresholds broadcast back against the brand-filtered fact
    assert "BroadcastHashJoin" in plan


def test_q21_one_aggregate_replaces_two_subqueries(spark, qs):
    df = qs["q21_waiting_supplier"](spark, SF)
    plan = physical_plan(df)
    # correlated MAX + EXISTS collapse into ONE window pass over the
    # orderkey partitioning (r13; the r12 aggregate+probe-join form
    # scanned and shuffled lineitem twice): single lineitem scan,
    # single window node computing both values
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("Window") >= 1
    rows = df.collect()
    assert all(r["numwait"] >= 1 for r in rows)


def test_q2_correlated_min_decorrelated(spark, qs):
    plan = physical_plan(qs["q2_min_cost_supplier"](spark, SF))
    # per-part min joined back as a broadcast; the eligible pair set is
    # cached so both consumers read the same materialization
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan


def test_q11_threshold_from_cached_agg(spark, qs):
    plan = physical_plan(qs["q11_important_stock"](spark, SF))
    # the nation_value agg is cached and BOTH consumers (threshold +
    # probe) read the materialization: two InMemoryTableScans, and the
    # only lineitem references live inside the cached relation's plan
    # formatted explain prints each operator twice (tree + detail)
    assert plan.count("InMemoryTableScan") >= 2
    first_scan = plan.index("InMemoryTableScan")
    assert "lineitem.parquet" not in plan[:first_scan]


def test_q16_notin_is_broadcast_anti(spark, qs):
    plan = physical_plan(qs["q16_supplier_part_counts"](spark, SF))
    assert "LeftAnti" in plan
    # COUNT(DISTINCT) plans the two-level partial-distinct aggregate
    assert plan.count("HashAggregate") >= 3


def test_q20_semi_joins_carry_no_payload(spark, qs):
    plan = physical_plan(qs["q20_excess_stock_suppliers"](spark, SF))
    assert plan.count("LeftSemi") >= 2
    # supplier payload never enters a wide exchange: s_name appears
    # only above the final broadcast joins
    assert "TakeOrderedAndProject" in plan or "Sort" in plan


def test_profile_single_scan_all_columns(spark, qs):
    plan = physical_plan(qs["profile_documents"](spark, SF))
    # one aggregation pass for every column's stats: the table is
    # scanned once, not once per column (the oracle's UNION ALL form)
    assert plan.count("documents.parquet") == 1


def test_outlier_moments_broadcast_back(spark, qs):
    plan = physical_plan(qs["outlier_flags_events"](spark, SF))
    # group moments join back as a broadcast; the fact side of the
    # probe never shuffles
    assert "BroadcastHashJoin" in plan


def test_curation_pipeline_broadcasts_and_stays_jvm(spark, qs):
    """The end-to-end chain: benchmark shingle set and keeper/clean id
    sets travel as broadcasts; no Python eval node anywhere."""
    plan = physical_plan(qs["curation_pipeline_batch"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # semi-join discipline: survivor filtering uses LeftSemi, payloads
    # are not re-joined by value
    assert "LeftSemi" in plan


def test_constraint_audit_single_aggregate(spark, qs):
    """All rules in ONE aggregation pass: exactly one pair of
    partial/final HashAggregates over the joined scan."""
    plan = physical_plan(qs["constraint_audit"](spark, SF))
    # count(distinct) expands to extra plan aggregates; the audit scans
    # themselves must appear once each (tree section only — the
    # formatted plan repeats every node in its detail section)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 2  # orders + customer, once each


def test_scd2_joins_are_keyed_no_window(spark, qs):
    """SCD-2 must not fall back to a global window/sort."""
    plan = physical_plan(qs["scd2_history"](spark, SF))
    assert "Window" not in plan
    # no single-partition exchange anywhere (a global sort or a
    # driver-side funnel would show up as one)
    assert "SinglePartition" not in plan


def test_zorder_pruning_stats_two_scans_jvm_only(spark, qs):
    plan = physical_plan(qs["zorder_pruning_stats"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 2  # one per simulated layout
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_window_dedup_combinable_min_no_sort_window(spark, qs):
    # first-occurrence must be the combinable min(struct) aggregate,
    # never a row_number window (that would sort every span occurrence
    # per key); whole pipeline stays JVM-side
    plan = physical_plan(qs["dedup_window_spans"](spark, SF))
    assert "partial_min" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_centroid_assign_combinable_argmax(spark, qs):
    # K centroids broadcast (nested-loop cross join), argmax is a
    # map-side-combinable max_by hash aggregate — no per-id sort window
    plan = physical_plan(qs["embedding_cluster_assign"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_max_by" in plan or "partial_max" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_pairwise_stays_jvm(spark, qs):
    # the quadratic stage must be a per-cluster equi-join (shuffle or
    # broadcast hash join on cluster_id), not a cartesian over the
    # corpus; scoring stays JVM-side
    plan = physical_plan(qs["semantic_dedup_survivors"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_all_queries_emit_canonicalizer_safe_schemas(spark, qs):
    """Every registered query's output schema must be ATOMIC columns
    only: the driver's canonicalizer sorts rows via pandas and dies on
    array/map/struct cells (the round-3 multimodal_features defect).
    Operators may return complex types — registered queries must
    project them to scalars (md5/concat_ws/counts)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for name, fn in qs.items():
        df = fn(spark, SF)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append((name, f.name, str(f.dataType)))
    assert bad == []


def test_full_outer_single_shuffle_pair(spark, qs):
    # full outer cannot broadcast: expect a shuffle-based join (SMJ or
    # shuffled hash), never BroadcastHashJoin, and no cartesian
    plan = physical_plan(qs["full_outer_reconcile"](spark, SF))
    assert "FullOuter" in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_topk_plan_shape(spark, qs):
    """BM25: global top-k must be TakeOrderedAndProject (never a global
    row_number window funneling all candidates into one partition), all
    side tables broadcast, and the posting-list isin filter must be
    present (it is what bounds cost to the query terms' posting lists)."""
    df = qs["bm25_topk_search"](spark, SF)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "spark" in plan and "merge" in plan  # term literals in the filter


def test_pq_topk_rerank_broadcasts(spark):
    """PQ re-rank: shortlist and query frames must broadcast — the
    corpus-side vector fetch may never shuffle on their account."""
    from etlutils_spark.operators.similarity import pq_topk
    from etlutils_spark.sources.files import read_table
    from pyspark.sql import functions as F

    emb = read_table(spark, "embeddings", SF)
    out = pq_topk(emb, emb.filter(F.col("vec_id") < 2), k=3, m=4, ksub=4)
    plan = physical_plan(out)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_multi_horizon_single_exchange(spark, qs):
    """Three rolling horizons must share ONE shuffle + ONE sort (same
    partitioning/ordering), not pay per-horizon exchanges."""
    import re

    df = qs["window_multi_horizon"](spark, SF)
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan


def test_histogram_query_runs_off_materialized_clusters(spark, qs):
    """The registered dedup_cluster_size_histogram must measure the two
    aggregations over the materialized cluster table, NOT re-derive the
    labeling: no shingle explode (Generate), no join, exactly one
    parquet scan (the scratch cluster table) in the plan."""
    plan = physical_plan(qs["dedup_cluster_size_histogram"](spark, SF))
    assert "Generate" not in plan and "Join" not in plan, plan
    tree = plan.split("\n\n")[0]  # tree block (details repeat the nodes)
    assert tree.count("Scan parquet") == 1, tree


def test_plans_md_golden_snapshot_in_sync(spark):
    """Golden plan snapshots: PLANS.md must match freshly rendered
    operator trees for every headline query — a plan-shape change
    without regenerating the file fails here (VERDICT.md r5 'Next
    round' #7). Fix: python3 tools/gen_plans.py > PLANS.md"""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_plans", os.path.join(root, "tools", "gen_plans.py")
    )
    gen_plans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_plans)
    drifted = gen_plans.check(spark, os.path.join(root, "PLANS.md"))
    assert drifted == [], (
        f"PLANS.md stale for {drifted}; regenerate with "
        "'python3 tools/gen_plans.py > PLANS.md'"
    )


def test_cluster_artifact_consumers_read_label_table(spark, qs):
    """The re-registered artifact consumers must READ the materialized
    cluster table, never re-derive the labeling: no shingle explode
    (Generate) anywhere, and leakage_safe_split's only join is the
    broadcast of the dup-mass-bounded component table."""
    star_q = physical_plan(qs["dedup_clusters_star"](spark, SF))
    assert "Generate" not in star_q and "Join" not in star_q, star_q
    split_q = physical_plan(qs["leakage_safe_split"](spark, SF))
    assert "Generate" not in split_q, split_q
    assert "BroadcastHashJoin" in split_q and "SortMergeJoin" not in split_q


def _executed_nodes(node):
    """Every physical node of an executed plan, descending through AQE
    wrappers, query stages and reused exchanges."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _executed_nodes(node.executedPlan())
        return
    yield node
    if name.endswith("QueryStageExec"):
        yield from _executed_nodes(node.plan())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _executed_nodes(children.apply(i))


def test_ann_screen_exchanges_carry_no_arrays(spark, qs):
    """_topk_fast_screen's scalar-exchange contract: the screen window
    shuffles (query_id, id, __fast, __eps) scalars only; the embedding
    arrays never ride a planner-inserted shuffle (they are broadcast
    back to the survivors). Asserted on the executed plan of
    ann_cosine_topk. The corpus scan's explicit round-robin `spread`
    repartition is not a screen exchange and is left out."""
    import json

    from pyspark.sql import types as T

    def has_array(dt):
        if isinstance(dt, T.ArrayType):
            return True
        if isinstance(dt, T.StructType):
            return any(has_array(f.dataType) for f in dt.fields)
        if isinstance(dt, T.MapType):
            return has_array(dt.keyType) or has_array(dt.valueType)
        return False

    df = qs["ann_cosine_topk"](spark, SF)
    df.collect()  # runs df's own QueryExecution: its AQE plan is final
    plan = df._jdf.queryExecution().executedPlan()
    shuffles = [
        n for n in _executed_nodes(plan)
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
        and n.shuffleOrigin().toString() == "ENSURE_REQUIREMENTS"
    ]
    schemas = [
        T.StructType.fromJson(json.loads(ex.schema().json()))
        for ex in shuffles
    ]
    assert any("__fast" in s.fieldNames() for s in schemas), (
        "expected the screen window's shuffle"
    )
    for schema in schemas:
        assert not has_array(schema), schema.simpleString()


def test_extend_probe_streams_stored_profiles_past_broadcast_batch(
    spark, tmp_path
):
    """extend_dedup_index's probe-and-verify pass is one broadcast hash
    join whose build side is the batch: the stored-profiles scan feeds
    the join with no shuffle in between, so the stored profiles and
    their shingle arrays are never exchanged, however large the index
    grows. Asserted on the executed plan of the pass, run against a
    built artifact read the way extend reads it."""
    from etlutils_spark.operators.dedup import (
        _probe_and_verify,
        _read_stored,
        build_dedup_index,
    )
    from etlutils_spark.sources.sidecar import read_sidecar_json
    from etlutils_spark.streaming.incremental_lsh import batch_profiles

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    b = "one two three four five six seven eight nine ten eleven twelve"
    docs = spark.createDataFrame(
        [(1, a + " x"), (2, b + " x"), (3, "hi"),
         (4, a + " y"), (5, b + " y"), (6, b + " z")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "idx")
    build_dedup_index(docs.filter("doc_id <= 3"), path)
    params = read_sidecar_json(spark, f"{path}/params")
    stored = _read_stored(
        spark, f"{path}/profiles", params["profiles_schema"]
    )
    batch = batch_profiles(
        docs.filter("doc_id > 3"), n=params["n"],
        num_hashes=params["num_hashes"], bands=params["bands"],
    )
    edges = _probe_and_verify(stored, batch, params["threshold"])
    assert sorted(map(tuple, edges.collect())) == [
        (1, 4), (2, 5), (2, 6), (5, 6)
    ]
    nodes = list(_executed_nodes(edges._jdf.queryExecution().executedPlan()))
    joins = [
        n for n in nodes
        if n.getClass().getSimpleName().endswith("HashJoinExec")
        or n.getClass().getSimpleName() == "SortMergeJoinExec"
    ]
    assert [j.getClass().getSimpleName() for j in joins] == [
        "BroadcastHashJoinExec"
    ]

    def names(node):
        return [n.getClass().getSimpleName() for n in _executed_nodes(node)]

    build, streamed = names(joins[0].buildPlan()), names(joins[0].streamedPlan())
    # the broadcast side is the batch (a checkpointed RDD), not a scan
    assert "FileSourceScanExec" not in build, build
    assert "RDDScanExec" in build, build
    # the stored-profiles scan streams into the join unshuffled
    assert "FileSourceScanExec" in streamed, streamed
    assert "ShuffleExchangeExec" not in streamed, streamed

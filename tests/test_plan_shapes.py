"""Physical-plan contracts (the 100 TB design assertions, SURVEY.md §4):
filters reach the parquet scan, projections prune the read schema, small
dims broadcast, the global argmax compiles to TakeOrderedAndProject, and
the cleaning hot path stays free of Python UDFs."""

from __future__ import annotations

from pyspark.sql import functions as F

from pinterest_data_pipeline400_spark.plans import tpch_queries as tq
from tests.conftest import TEST_SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_pushdown(spark):
    """A raw-column predicate must appear in PushedFilters at the scan —
    this is what partition/row-group skipping hangs off at 100 TB."""
    li = spark.read.parquet(f"{TEST_SF_DIR}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 45).select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan


def test_column_pruning_reaches_scan(spark):
    """q2 projects 2 of lineitem's 16 columns; the scan must read only
    those (physical pruning, not just a logical Project)."""
    plan = _plan(tq.q2_yearly_counts(spark, TEST_SF_DIR))
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_shipdate" in read_schema and "l_returnflag" in read_schema
    assert "l_extendedprice" not in read_schema and "l_partkey" not in read_schema


def test_small_dim_broadcasts(spark):
    """nation (25 rows) must join as a broadcast, never a shuffle."""
    plan = _plan(tq.q1_top_priority_per_nation(spark, TEST_SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_global_argmax_is_take_ordered(spark):
    """q3b replaces the reference's one-partition window (mount.py:295-299)
    with orderBy+limit — must compile to TakeOrderedAndProject."""
    plan = _plan(tq.q3b_top_nation_overall(spark, TEST_SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_no_python_udf_in_any_registered_query(spark):
    """The whole registered surface (except the Arrow-batched multimodal
    extractor, which is the designed Python boundary) stays JVM-side:
    no row-at-a-time BatchEvalPython anywhere."""
    import __spark_entry__ as em

    for name, fn in em.queries().items():
        if name.startswith("stream_"):
            continue  # streaming entries execute eagerly; covered below
        plan = _plan(fn(spark, TEST_SF_DIR))
        assert "BatchEvalPython" not in plan, name
        if not name.startswith("multimodal_"):
            assert "MapInPandas" not in plan, name


def test_clean_pipeline_is_narrow_plus_one_shuffle(spark):
    """The pin cleaning chain must be pure narrow projections plus
    EXACTLY ONE exchange (the dropDuplicates hash shuffle), with no
    Python boundary anywhere — the native parse keeps the whole
    pipeline JVM-side where the reference's UDF would split it."""
    from pinterest_data_pipeline400_spark.generator import ensure_fixtures
    from pinterest_data_pipeline400_spark.operators.clean import clean_pin
    from tests.conftest import TEST_SF_NAME

    fx = ensure_fixtures(TEST_SF_NAME)
    # drop any persisted cleaned tables: the cache manager would swap an
    # InMemoryTableScan into this (identical) plan fragment and hide the
    # shuffle structure being asserted
    spark.catalog.clearCache()
    df = spark.read.parquet(f"{fx}/pin_raw.parquet")
    plan = _plan(clean_pin(df))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # the dedup, nothing else


def test_sql_twins_compile_to_same_plan_shape(spark):
    """SURVEY §3.3: the SQL twins are the SAME engine surface, not a
    parallel implementation — for every pq*_sql entry, the optimized
    plan has the same exchange count and window count as its DataFrame
    original (both APIs land on identical Catalyst decisions)."""
    import __spark_entry__ as em

    qs = em.queries()
    twins = {
        "pq1_sql": "pq1_top_category_per_country",
        "pq2_sql": "pq2_category_count_per_year",
        "pq3a_sql": "pq3a_top_user_per_country",
        "pq3b_sql": "pq3b_top_country_overall",
        "pq4_sql": "pq4_top_category_per_age_group",
        "pq5_sql": "pq5_median_followers_per_age_group",
        "pq6_sql": "pq6_users_joined_per_year",
        "pq7_sql": "pq7_median_followers_by_join_year",
        "pq8_sql": "pq8_median_followers_by_year_age_group",
    }
    for sql_name, df_name in twins.items():
        sql_plan = _plan(qs[sql_name](spark, TEST_SF_DIR))
        df_plan = _plan(qs[df_name](spark, TEST_SF_DIR))
        for marker in ("Exchange hashpartitioning", "Window", "TakeOrderedAndProject"):
            assert sql_plan.count(marker) == df_plan.count(marker), (
                f"{sql_name} vs {df_name}: {marker} "
                f"{sql_plan.count(marker)} != {df_plan.count(marker)}"
            )


#: The pq entries that read a memoised join: the seven over
#: pin⋈geo⋈user, the two over pin⋈user, and their SQL twins.
_JOIN_MEMO_READERS = [
    "pq1_top_category_per_country",
    "pq2_category_count_per_year",
    "pq3a_top_user_per_country",
    "pq3b_top_country_overall",
    "pq4_top_category_per_age_group",
    "pq5_median_followers_per_age_group",
    "pq5_manual_median",
    "pq7_median_followers_by_join_year",
    "pq8_median_followers_by_year_age_group",
    "pq1_sql", "pq2_sql", "pq3a_sql", "pq3b_sql", "pq4_sql", "pq5_sql",
    "pq7_sql", "pq8_sql",
]


def test_pq_queries_read_the_memoised_join(spark):
    """The join is checkpointed once per session, so no pq query that
    reads it joins again (each used to re-scan the cleaned pin table
    and launch its own broadcasts of geo and user)."""
    import __spark_entry__ as em

    qs = em.queries()
    for name in _JOIN_MEMO_READERS:
        plan = _plan(qs[name](spark, TEST_SF_DIR))
        for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
            assert join not in plan, f"{name}: {join}"


def test_codegen_cache_holds_a_pin_etl_pass(spark):
    """A second pass of the batch job's entries (the three cleans and
    every DataFrame pq query, on a fresh session as the benchmark
    runs them) compiles no generated class: the cache keeps the whole
    pass. At Spark's default cap of 100 entries the pass's ~140
    distinct sources evicted each other, and every pass recompiled
    them (session.CODEGEN_CACHE_ENTRIES)."""
    import __spark_entry__ as em
    from pinterest_data_pipeline400_spark.session import codegen_compiles

    qs = em.queries()
    names = ["pin_clean", "geo_clean", "user_clean"] + sorted(
        n for n in qs if n.startswith("pq") and not n.endswith("_sql")
    )

    def compiles_in_a_pass() -> int:
        session = spark.newSession()
        before = codegen_compiles(session)
        for name in names:
            qs[name](session, TEST_SF_DIR).toPandas()
        return codegen_compiles(session) - before

    compiles_in_a_pass()
    assert compiles_in_a_pass() == 0


def test_partition_pruned_scan_reads_only_matching_days(spark):
    """ev_partition_pruned_scan's contract: the day predicate resolves
    against the Hive directory layout — PartitionFilters carries it and
    the scan opens exactly the 3 matching day-partitions of 30."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    df = eq.ev_partition_pruned_scan(spark, TEST_SF_DIR)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "day" in plan.split("PartitionFilters")[1][:200]
    scan = eq._partitioned_events_dir(spark, TEST_SF_DIR)
    pruned = (
        spark.read.parquet(scan)
        .filter(F.col("day").between(eq.PRUNE_DAY_LO, eq.PRUNE_DAY_HI))
    )
    # partition pruning is visible in the input split count: 3 day dirs
    assert pruned.select("day").distinct().count() == 3
    assert "PushedFilters" in plan  # data filters still pushed for rows


def test_bucketed_join_entry_is_exchange_free_on_join_keys(spark):
    """bucketed_join_customer_orders' contract: matching bucket specs
    make the SortMergeJoin exchange-free — the ONLY shuffle left in the
    whole plan is the downstream segment aggregation."""
    from pinterest_data_pipeline400_spark.plans.tpch_queries import (
        bucketed_join_customer_orders,
    )

    plan = _plan(bucketed_join_customer_orders(spark, TEST_SF_DIR))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected only the aggregate shuffle, got {n_exchanges}"
    # and that one exchange is on the aggregate key, not the join key
    agg_exchange = plan.split("Exchange hashpartitioning")[1][:120]
    assert "c_mktsegment" in agg_exchange


def test_top_per_group_uses_window_group_limit(spark):
    """rank-limit pushdown (WindowGroupLimit): the rn<=k filter over a
    ranking window must compile to per-partition top-k BEFORE the
    shuffle — each mapper forwards at most k rows per group instead of
    the whole group, the difference between shuffling k rows and
    shuffling everything at 100 TB. Asserted on the three top-k
    families: TPC-H analog, pinterest literal, and the per-source cap."""
    import __spark_entry__ as em

    qs = em.queries()
    for name in (
        "q1_top_priority_per_nation",
        "pq1_top_category_per_country",
        "docs_source_cap",
    ):
        plan = _plan(qs[name](spark, TEST_SF_DIR))
        assert "WindowGroupLimit" in plan, f"{name} lost rank-limit pushdown"


def test_sketch_rollups_merge_without_corpus_rescan(spark):
    """The mergeable-sketch contract: the KLL rollup's coarse grains
    re-aggregate SKETCH rows, never the corpus — exactly two exchanges
    (fine grain build, sketch merge) and one parquet scan in the whole
    plan; theta answers all five set questions from one scan."""
    import __spark_entry__ as em

    qs = em.queries()
    kll = _plan(qs["ev_kll_quantile_rollup"](spark, TEST_SF_DIR))
    # the corpus pass ran ONCE when the per-type sketch frame was
    # materialized; both output grains re-read the stored sketch rows
    # (Scan ExistingRDD), never the parquet
    assert kll.count("Scan parquet") == 0
    assert kll.count("Scan ExistingRDD") >= 2
    theta = _plan(qs["ev_theta_user_overlap"](spark, TEST_SF_DIR))
    assert theta.count("Scan parquet") == 1  # one corpus pass, five answers


def test_ppm_decode_is_shuffle_free_arrow_stage(spark):
    """Real decode stays embarrassingly parallel: scan → Arrow-batched
    MapInPandas, zero exchanges, no row-at-a-time Python."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["multimodal_decode_ppm"](spark, TEST_SF_DIR))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_funnel_reuses_one_user_partitioning(spark):
    """ev_funnel_stages chains three conditional-min windows plus the
    per-user collapse over ONE user_id exchange; the only other exchange
    is the trivial single-row final reduce. Three separate shuffles here
    would triple the dominant cost at 100 TB."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_funnel_stages(spark, TEST_SF_DIR))
    assert plan.count("Exchange") <= 2
    assert "CartesianProduct" not in plan


def test_transition_matrix_single_sort_shuffle(spark):
    """The lead() window sorts within the user partitioning once; the
    (from, to) aggregate is bounded (|types|^2) and map-side partial."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_transition_matrix(spark, TEST_SF_DIR))
    assert plan.count("Exchange") <= 2
    assert "CartesianProduct" not in plan


def test_exists_subqueries_decorrelate_to_semi_anti_joins(spark):
    """Correlated EXISTS / NOT EXISTS must compile to left-semi /
    left-anti hash joins (Catalyst decorrelation) — a naive per-row
    re-execution shape would be unusable at scale."""
    plan = _plan(tq.q_exists_customers(spark, TEST_SF_DIR))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_scd2_single_custkey_exchange(spark):
    """orders_priority_scd2: the lag/run-sum windows hash-partition by
    o_custkey and the island-closing groupBy must REUSE that
    partitioning (grouping keys are a superset of the partitioning
    key) — a second exchange here would double the op's cost at scale."""
    from pinterest_data_pipeline400_spark.plans import profiling as pr

    plan = _plan(pr.orders_priority_scd2(spark, TEST_SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_profile_scale_mode_is_single_narrow_pass(spark, monkeypatch):
    """profile_orders in SPARK_GRAFT_DISTINCT_MODE=approx: every
    cardinality is a HyperLogLog++ sketch, so the plan must contain NO
    Expand (the exact-mode count-distinct row multiplier) and no
    shuffle wider than the 1-row final aggregate."""
    monkeypatch.setenv("SPARK_GRAFT_DISTINCT_MODE", "approx")
    from pinterest_data_pipeline400_spark.plans import profiling as pr

    plan = _plan(pr.profile_orders(spark, TEST_SF_DIR))
    assert "Expand" not in plan
    monkeypatch.delenv("SPARK_GRAFT_DISTINCT_MODE")
    exact_plan = _plan(pr.profile_orders(spark, TEST_SF_DIR))
    assert "Expand" in exact_plan  # the documented exact-mode tradeoff


def test_bounded_deciles_avoid_partition_sort(spark):
    """ev_value_deciles_bounded is the scale-safe decile form: decile
    thresholds are a tiny per-type aggregate broadcast back, bucketing
    is constant comparison — the plan must contain NO window (ntile's
    per-type full sort is exactly what this entry exists to avoid) and
    must broadcast the threshold side."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_value_deciles_bounded(spark, TEST_SF_DIR))
    assert "Window" not in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_pricing_summary_pushes_shipdate_and_single_shuffle(spark):
    """TPC-H Q1 shape: the shipdate cutoff reaches the parquet scan
    (row-group skipping at 100 TB) and the whole query is one
    partial-combined hash aggregate — a single exchange on the 6-value
    group key."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_pricing_summary(spark, TEST_SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert plan.count("Exchange") == 1


def test_dim_joins_broadcast_never_shuffle_fact(spark):
    """supplier/nation (and part) are broadcast dims: the lineitem fact
    side must stream through BroadcastHashJoins — zero SortMergeJoin,
    zero exchange before the aggregate's own shuffle."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    for fn, n_bhj in ((rx.q_supplier_nation_revenue, 2), (rx.q_part_brand_margins, 1)):
        plan = _plan(fn(spark, TEST_SF_DIR))
        assert plan.count("BroadcastHashJoin") >= n_bhj, fn.__name__
        assert "SortMergeJoin" not in plan, fn.__name__


def test_grouping_sets_is_one_expand_aggregate(spark):
    """GROUPING SETS must compile to a single Expand + hash aggregate
    (each row fans to its grains map-side), never one job per grain."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_grouping_sets_region_segment(spark, TEST_SF_DIR))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 3  # customer + the two dims, once each


def test_anti_join_compiles_left_anti(spark):
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_anti_join_customers(spark, TEST_SF_DIR))
    assert "LeftAnti" in plan


def test_knn_lsh_is_bucketed_not_all_pairs(spark):
    """LSH KNN candidates come from a band-key equi-join with the
    exploded query side broadcast — no cartesian/nested-loop product
    anywhere in the plan (the brute-force entry is the only permitted
    BroadcastNestedLoopJoin in the ANN family)."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.emb_knn_lsh(spark, TEST_SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_user_streaks_single_user_shuffle(spark):
    """Gaps-and-islands on the event calendar: the distinct, both
    windows, and both aggregates must all reuse ONE user_id exchange."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_user_streaks(spark, TEST_SF_DIR))
    assert plan.count("Exchange") <= 2  # user shuffle + AQE read leeway
    assert "CartesianProduct" not in plan


def test_tf_consumers_read_cached_aggregate_not_corpus(spark):
    """The tf-sharing entries (tf-idf, unigram LM, OOV) persist their
    (doc_id, token) aggregate so every downstream branch reads the
    cache: without it, column-pruning differences defeat exchange
    reuse and each branch re-scans + re-explodes the corpus (measured
    3-6 parquet scans per entry before the fix). Asserted: the tf
    consumers appear as InMemoryTableScan in the executed plan."""
    import __spark_entry__ as em

    qs = em.queries()
    for name in ("docs_tfidf_topk", "docs_unigram_logprob", "docs_oov_rate"):
        plan = _plan(qs[name](spark, TEST_SF_DIR))
        assert "InMemoryTableScan" in plan, f"{name} lost its tf cache"


def test_dedup_consumers_read_spine_cache_not_full_spine(spark):
    """The three cluster-spine consumers read the content-stamped
    dedup_spine disk cache instead of re-running shingle→minhash→
    band-join(→Pregel) each (VERDICT r5 task #3). Asserted on the
    physical plan: the consumers scan a dedup_spine parquet path and
    docs_cluster_keep_longest/docs_dup_clusters contain no minhash
    explode machinery (posexplode of shingles shows up as Generate)."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    td.cached_cc_labels(spark, TEST_SF_DIR)  # prime the cache
    plans = {
        "docs_dup_clusters": _plan(td.docs_dup_clusters(spark, TEST_SF_DIR)),
        "docs_cluster_keep_longest": _plan(
            td.docs_cluster_keep_longest(spark, TEST_SF_DIR)
        ),
        "docs_dedup_pr": _plan(td.docs_dedup_pr(spark, TEST_SF_DIR)),
    }
    for name, plan in plans.items():
        assert "dedup_spine" in plan, f"{name} does not read the spine cache"
    for name in ("docs_dup_clusters", "docs_cluster_keep_longest"):
        assert "Generate" not in plans[name], f"{name} re-runs the minhash spine"


def test_langid_entries_read_labeled_cache_not_training_pipeline(spark):
    """Both langid entries read the content-stamped langid/labeled disk
    cache instead of each re-running the self-training pipeline (bigram
    explode → vocab → profiles → argmax) — VERDICT r6 task #2, the same
    discipline as the dedup spine. Asserted on the physical plan: each
    entry scans a langid parquet path and contains no bigram explode
    (the transform+explode shows up as Generate)."""
    from pinterest_data_pipeline400_spark.plans import curation as cu

    cu._langid_labeled(spark, TEST_SF_DIR)  # prime the cache
    plans = {
        "docs_langid_ngram": _plan(cu.docs_langid_ngram(spark, TEST_SF_DIR)),
        "docs_langid_confusion": _plan(
            cu.docs_langid_confusion(spark, TEST_SF_DIR)
        ),
    }
    for name, plan in plans.items():
        assert "langid" in plan, f"{name} does not read the labeled cache"
        assert "Generate" not in plan, f"{name} re-runs the bigram training"


def test_round7_tpch_true_forms_plan_shapes(spark):
    """The five round-7 TPC-H true forms (Q2/Q7/Q9/Q16/Q20) compile to
    the geometry each exists to exercise: every dimension join is a
    broadcast hash join, nothing degenerates to a cartesian product or
    Python eval, and Q2's ordered top-100 is a TakeOrderedAndProject
    (never a global sort)."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    names = (
        "q_min_cost_supplier",
        "q_volume_shipping",
        "q_product_type_profit",
        "q_supplier_part_counts",
        "q_excess_stock_suppliers",
    )
    for name in names:
        plan = _plan(getattr(rx, name)(spark, TEST_SF_DIR))
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BatchEvalPython" not in plan, f"{name}: python eval"
    q2 = _plan(rx.q_min_cost_supplier(spark, TEST_SF_DIR))
    assert "TakeOrderedAndProject" in q2, "Q2 top-100 is a global sort"


def test_q4_exists_compiles_left_semi(spark):
    """The fact-side EXISTS (TPC-H Q4 analog) must decorrelate to a
    LEFT SEMI join — never an inner join + distinct (which would
    duplicate orders per matching line before deduping them again)."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_order_priority_exists(spark, TEST_SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q13_aggregates_orders_before_join(spark):
    """Q13 analog: the orders fact must reduce to one row per custkey
    BEFORE the join to customer — the join input carries counts, not
    raw orders. Asserted structurally: exactly one scan per table and
    a hash aggregate on the orders leg below the join."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_customer_order_distribution(spark, TEST_SF_DIR))
    assert plan.count("Scan parquet") == 2
    join_pos = plan.find("Join")
    agg_pos = plan.find("HashAggregate")
    assert join_pos != -1 and agg_pos != -1
    assert "CartesianProduct" not in plan


def test_q22_idle_rich_left_anti(spark):
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_idle_rich_customers(spark, TEST_SF_DIR))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_merge_upsert_single_full_outer_join(spark):
    """The MERGE-style batch upsert is ONE full-outer join over two
    pre-aggregated sides: both legs hash-aggregate below the join and
    the events parquet is scanned exactly twice (once per side)."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_merge_upsert_counts(spark, TEST_SF_DIR))
    assert "FullOuter" in plan
    assert plan.count("Scan parquet") == 2
    assert "CartesianProduct" not in plan


def test_bitmap_aggregate_is_one_combinable_pass(spark):
    """Activity bitmaps are ONE partial+final hash aggregate (bit_or
    combines map-side) — no window, no join, no pair expansion."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_bitmap_daily_active(spark, TEST_SF_DIR))
    assert "Window" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_ewma_window_partitions_by_user(spark):
    """The EWMA recency window must partition by user — never a global
    single-partition sort."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_ewma_value(spark, TEST_SF_DIR))
    assert "SinglePartition" not in plan


def test_yoy_aggregates_fact_before_window(spark):
    """orders_yoy_growth's lag window must sit ABOVE the year aggregate
    (plan prints root-first: Window before its HashAggregate child) —
    the single-partition window input is ~7 year rows, never the fact."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.orders_yoy_growth(spark, TEST_SF_DIR))
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_r6_index_entries_never_pair_join(spark):
    """CDC chunking, n-gram novelty, and dimension stats are inverted-
    index / aggregate shapes: no cartesian or nested-loop pair joins
    anywhere in their plans."""
    from pinterest_data_pipeline400_spark.plans import curation as cu
    from pinterest_data_pipeline400_spark.plans import training_data as td

    for fn in (cu.docs_cdc_chunks, td.docs_ngram_novelty, td.emb_dim_stats):
        plan = _plan(fn(spark, TEST_SF_DIR))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_q18_aggregates_lineitem_before_joins(spark):
    """q_large_volume_customers must aggregate the fact FIRST and join
    only the survivors: the joins sit above the lineitem aggregate in
    the plan, customer broadcasts, one scan per table."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_large_volume_customers(spark, TEST_SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # root-first print order: a join above, the quantity aggregate below
    assert plan.index("Join") < plan.index("HashAggregate")


def test_pareto_windows_partition_by_segment(spark):
    """orders_pareto_share's running sum partitions by segment — never a
    global single-partition sort."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.orders_pareto_share(spark, TEST_SF_DIR))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_containment_uses_postings_join_not_all_pairs(spark):
    """docs_dup_containment candidates come from the inverted-index
    postings self-join — no cartesian or nested-loop pair expansion."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.docs_dup_containment(spark, TEST_SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_langid_scoring_broadcasts_profiles(spark):
    """The langid training pipeline's per-doc scoring join against the
    5x200 profile grid must broadcast (never shuffle the doc side
    against a 1000-row table); no pair expansion anywhere. Asserted on
    the BUILD plan — the registered entries read the labeled disk
    cache, so the training shapes live behind it."""
    from pinterest_data_pipeline400_spark.plans import curation as cu

    plan = _plan(cu._langid_labeled_build(spark, TEST_SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the vocabulary and kept-bigram branches both read the persisted
    # explode-side aggregate instead of re-running the corpus explode
    assert "InMemoryTableScan" in plan


def test_promo_share_broadcasts_part_single_rollup(spark):
    """q_promo_revenue_share: part broadcasts onto the fact scan and the
    only aggregation is the month rollup (partial + final)."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_promo_revenue_share(spark, TEST_SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") == 2  # partial + final month rollup


def test_dq_report_one_aggregate_per_table_scan(spark):
    """dq_constraint_report: row-local checks ride one conditional
    aggregate per table scan (orders appears twice — once for its own
    checks + FK probe side, once as the FK dimension for lineitem);
    FK checks compile to LEFT ANTI joins, nothing cartesian."""
    from pinterest_data_pipeline400_spark.plans import profiling as pf

    plan = _plan(pf.dq_constraint_report(spark, TEST_SF_DIR))
    assert plan.count("LeftAnti") == 2
    assert "CartesianProduct" not in plan


def test_attribution_reads_corpus_once(spark):
    """ev_attribution_first_touch reads the events parquet exactly once:
    the share denominator is a window total over the bounded channel
    rollup, not a second aggregate branch (which re-scans — measured
    2 scans before the fix)."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_attribution_first_touch(spark, TEST_SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan


def test_waiting_suppliers_single_fact_pass(spark):
    """q_waiting_suppliers: Q21's doubly-correlated EXISTS/NOT-EXISTS
    collapses to ONE orderkey join + per-order aggregate — each table
    scanned once (lineitem, orders, supplier), supplier broadcast,
    nothing cartesian, top-20 as TakeOrderedAndProject."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_waiting_suppliers(spark, TEST_SF_DIR))
    assert plan.count("Scan parquet") == 3
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_small_qty_window_not_self_join(spark):
    """q_small_qty_revenue: the correlated per-part average is a
    partkey window over the brand-filtered join, NOT a second scan
    self-join — exactly two scans (lineitem + part), part broadcast."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_small_qty_revenue(spark, TEST_SF_DIR))
    assert plan.count("Scan parquet") == 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_disjunctive_filter_stays_one_stage(spark):
    """q_disjunctive_brand_revenue: the OR-of-ANDs spans both join
    sides but stays one broadcast join + filter + single-row aggregate
    — and Catalyst pushes the derived quantity hull (1..30) into the
    lineitem scan as a pushed filter."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_disjunctive_brand_revenue(spark, TEST_SF_DIR))
    assert plan.count("Scan parquet") == 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rake_consumers_read_cached_phrase_counts(spark):
    """docs_rake_keywords: the word explosion, rescoring join, and
    occurrence join all hang off the persisted phrase-count aggregate
    (InMemoryTableScan), so the documents parquet is scanned once."""
    from pinterest_data_pipeline400_spark.plans import curation as cu

    plan = _plan(cu.docs_rake_keywords(spark, TEST_SF_DIR))
    assert plan.count("InMemoryTableScan") == 3


def test_triplet_mining_broadcasts_anchors(spark):
    """emb_triplet_hard_negatives: the anchor set broadcasts and the
    corpus streams past once per branch (BroadcastNestedLoopJoin, same
    contract as emb_knn_bruteforce) — no shuffled cross join."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.emb_triplet_hard_negatives(spark, TEST_SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_seasonality_grid_single_scan(spark):
    """ev_seasonality_hourweek: weekday shares and ranks run as windows
    over the <=168-row aggregated grid — the events corpus is scanned
    ONCE (a second aggregate branch joined back would scan twice)."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_seasonality_hourweek(spark, TEST_SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan


def test_basket_pairs_shape(spark):
    """q_basket_lift_pairs: the pair generator is an orderkey equi-join
    (never a brand-vocabulary cross join), brand margins broadcast onto
    the bounded pair frame, and the top-20 is TakeOrderedAndProject."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_basket_lift_pairs(spark, TEST_SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_pq_codebook_broadcasts(spark):
    """emb_pq_error: the 8x16 sub-vector codebook broadcasts; the
    vector side is one explode pass with a map-side-combinable min —
    no shuffle of per-(vector, code) distances, nothing cartesian."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.emb_pq_error(spark, TEST_SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_centroid_table_broadcasts(spark):
    """emb_centroid_outliers: the finished |labels|-row centroid table
    broadcasts back onto the corpus for scoring — the corpus is never
    shuffled on label for the scoring pass."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.emb_centroid_outliers(spark, TEST_SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_adc_luts_broadcast(spark):
    """emb_knn_pq_adc: the codebook and the per-query ADC lookup
    tables broadcast; the encoded corpus joins them on (sub, code) —
    no shuffle of per-(query, vector) distances before the bounded
    per-query aggregation, nothing cartesian."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.emb_knn_pq_adc(spark, TEST_SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_psi_two_scans_thresholds_broadcast(spark):
    """ev_psi_value_drift: the reference deciles are one tiny
    PERSISTED aggregate — both consumers (row binning, grid synthesis)
    read the cache (2 InMemoryTableScans), so the corpus is physically
    scanned twice (binning pass + one cache fill; the fill plan prints
    inside each InMemoryTableScan, so the textual scan count
    overstates physical scans), everything downstream on the bounded
    types x 10 grid."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_psi_value_drift(spark, TEST_SF_DIR))
    assert plan.count("InMemoryTableScan") == 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_span_corruption_no_self_join(spark):
    """docs_span_corruption: the span-overlap union is a bounded
    ROWS-BETWEEN window, never a position self-join — one corpus scan,
    no join at all."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.docs_span_corruption(spark, TEST_SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_q8_market_share_single_conditional_pass(spark):
    """q_nation_market_share: numerator and denominator ride ONE
    aggregate pass (a CASE'd sum beside the unconditional sum), never
    two diffed scans — lineitem appears once; constant dims broadcast;
    nothing cartesian."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_nation_market_share(spark, TEST_SF_DIR))
    assert plan.count("lineitem.parquet") == 1  # one fact pass, not two
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_matryoshka_one_corpus_pass(spark):
    """emb_knn_recall_matryoshka: all truncation variants score in ONE
    corpus pass — the per-pair struct array explodes into the variant
    column; the embeddings parquet is scanned once per search side
    (pairs + the brute-force baseline + the query broadcasts), never
    once per truncation dim."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.emb_knn_recall_matryoshka(spark, TEST_SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # scans: pairs corpus + pairs queries + bf corpus + bf queries = 4;
    # one scan per truncation dim would push this to 8+
    assert plan.count("Scan parquet") <= 4


def test_stickiness_day_spine_broadcasts(spark):
    """ev_stickiness_dau_mau: the day spine broadcasts and the deduped
    user-day frame range-joins it (bounded 28x fan-out) — never a
    shuffled or cartesian user x day product."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_stickiness_dau_mau(spark, TEST_SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan  # range join, tiny side broadcast
    assert "CartesianProduct" not in plan


def test_cusum_windows_on_bounded_series(spark):
    """ev_changepoint_cusum: one hash aggregate collapses the corpus to
    the per-type day series; every window and the argmax run on that
    bounded frame — single corpus scan, no join."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_changepoint_cusum(spark, TEST_SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_cohort_ltv_single_fact_grid(spark):
    """orders_cohort_ltv: the first-order month attaches as a custkey
    WINDOW (not a join back to a min-aggregate branch, which would
    rescan the fact) and cohort sizes come from the grid's own age-0
    cells — orders is scanned exactly once and the plan is join-free."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.orders_cohort_ltv(spark, TEST_SF_DIR))
    assert plan.count("orders.parquet") == 1
    assert "Join" not in plan


def test_lsh_tuning_shares_signature_cache(spark):
    """docs_lsh_tuning_curve: the 12-hash signature aggregate computes
    ONCE (persisted) and all four banding configurations are key
    projections + banded equi-joins over the cache — never all-pairs."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.docs_lsh_tuning_curve(spark, TEST_SF_DIR))
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # the shared signature cache


def test_srm_check_is_one_rollup(spark):
    """ev_abtest_srm_check: assignment is a pure projection; the whole
    gate is one distinct-user aggregate + a 2-row rollup — single
    corpus scan, join-free."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_abtest_srm_check(spark, TEST_SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_audio_energy_is_arrow_batched_no_shuffle(spark):
    """multimodal_audio_energy: the real RIFF decode rides the designed
    Arrow/mapInPandas boundary, embarrassingly parallel — no exchange
    anywhere in the plan."""
    from pinterest_data_pipeline400_spark.plans import media_queries as mq

    plan = _plan(mq.multimodal_audio_energy(spark, TEST_SF_DIR))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_uplift_integer_rollup_shape(spark):
    """ev_abtest_uplift: one user-key shuffle for the metric rollup,
    then a 2-row arm rollup — the Welch algebra runs on a 1-row frame;
    nothing cartesian, no Python in the plan."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_abtest_uplift(spark, TEST_SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_image_stats_is_arrow_batched_no_shuffle(spark):
    """multimodal_image_stats: the real P6 decode rides the designed
    Arrow/mapInPandas boundary, exchange-free like its audio twin."""
    from pinterest_data_pipeline400_spark.plans import media_queries as mq

    plan = _plan(mq.multimodal_image_stats(spark, TEST_SF_DIR))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_seasonal_anomaly_single_scan(spark):
    """ev_seasonal_residual_anomaly: the seasonal baseline attaches as
    a window over the bounded hourly series — one corpus scan, no
    join back to a second aggregate branch."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_seasonal_residual_anomaly(spark, TEST_SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_pmi_doc_word_frame_cached(spark):
    """docs_pmi_collocations: the deduped doc-word frame persists once
    for its two consumers (InMemoryTableScan), the pair self-join is a
    doc_id equi-join (no cartesian), and the vocab/doc-count frames
    broadcast."""
    from pinterest_data_pipeline400_spark.plans import curation as cu

    plan = _plan(cu.docs_pmi_collocations(spark, TEST_SF_DIR))
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q6_predicates_all_pushed(spark):
    """q_forecast_revenue_change: the purest pushdown test — the
    quantity cap lands in PushedFilters at the single lineitem scan,
    and the plan is join- and wide-shuffle-free (one 1-row combine)."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_forecast_revenue_change(spark, TEST_SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "LessThan(l_quantity" in plan  # pushed to the reader


def test_q3_pre_join_filters_and_topn(spark):
    """q_shipping_priority: both date predicates and the segment cut
    prune BEFORE the joins; the top-10 is TakeOrderedAndProject."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_shipping_priority(spark, TEST_SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan


def test_q5_locality_filter_no_extra_scan(spark):
    """q_local_supplier_revenue: the cross-arm s_nationkey =
    c_nationkey equality is a filter on the join output, not another
    join or scan — each table scanned once, region-pruned nation
    broadcast."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.q_local_supplier_revenue(spark, TEST_SF_DIR))
    for t in ("lineitem", "orders", "customer", "supplier"):
        assert plan.count(f"{t}.parquet") == 1, t
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_bm25_topk_is_take_ordered_with_early_term_filter(spark):
    """docs_bm25_topk: the query-term filter must run BEFORE the
    (doc, term) aggregate (postings-scan shape, not a corpus-wide
    aggregate), the df/stats sides broadcast, and the top-K compiles
    to TakeOrderedAndProject — never a global sort."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.docs_bm25_topk(spark, TEST_SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_weighted_sample_no_shuffle_before_topk(spark):
    """docs_weighted_sample is a narrow key projection + bounded top-K:
    TakeOrderedAndProject with ZERO exchanges before it (the final
    ranking window runs over <= K rows post-limit)."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.docs_weighted_sample(spark, TEST_SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # the only exchange allowed is the single-partition one feeding the
    # <=K-row rank window after the limit
    assert plan.count("Exchange hashpartitioning") == 0


def test_hits_iteration_broadcasts_score_tables(spark):
    """ev_hits_bipartite: every per-round join against a score table
    must broadcast the (|event types|- or normalized-)small side; the
    edge list is the only corpus-sized relation and there is no
    cartesian anywhere in the unrolled two rounds."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    plan = _plan(eq.ev_hits_bipartite(spark, TEST_SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan


def test_ivf_pq_cell_restriction_is_join_key(spark):
    """emb_knn_ivf_pq: the cell restriction must live IN the equi-join
    (3-key hash join on sub/code/cell against the broadcast LUT), so
    un-restricted candidates never materialize; no cartesian."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.emb_knn_ivf_pq(spark, TEST_SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_hybrid_rrf_fusion_joins_bounded_frames(spark):
    """hybrid_search_rrf: both ranker legs broadcast the tiny query
    side (the deliberate BNLJ baseline, like emb_knn_bruteforce); the
    fusion's full-outer join runs over pool-bounded frames. No Python
    anywhere."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.hybrid_search_rrf(spark, TEST_SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the two broadcast-query legs


def test_dsir_one_tokenize_no_python(spark):
    """docs_dsir_resample: per-token ratio table broadcasts back onto
    the postings (BroadcastHashJoin), the resample is
    TakeOrderedAndProject, and nothing drops to Python."""
    from pinterest_data_pipeline400_spark.plans import training_data as td

    plan = _plan(td.docs_dsir_resample(spark, TEST_SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_survival_km_customer_window_then_bounded_curve(spark):
    """orders_survival_km: the first-two-orders window partitions by
    o_custkey (high cardinality, never single-partition); the ordered
    cumulative windows afterwards run on the bounded duration grid —
    the documented single-partition exception class."""
    from pinterest_data_pipeline400_spark.plans import relational_extra as rx

    plan = _plan(rx.orders_survival_km(spark, TEST_SF_DIR))
    assert "hashpartitioning(o_custkey" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_geo_near_pairs_exact_vs_bruteforce_and_equi_join(spark):
    """Spatial-join contracts: the grid-cell candidate generation must
    be candidate-COMPLETE (radius <= cell size), so the reported pair
    set equals a brute-force numpy recompute exactly — and each
    unordered pair exactly once; the plan is a cell equi-join, never
    a nested loop."""
    import numpy as np

    from pinterest_data_pipeline400_spark.generator import (
        ensure_fixtures,
        fixture_dir_for,
    )
    from pinterest_data_pipeline400_spark.plans import pinterest_queries as pq
    import pandas as pd

    ensure_fixtures("sf0.001")
    fx = fixture_dir_for(TEST_SF_DIR)
    geo = pd.read_parquet(f"{fx}/geo_raw.parquet")
    la = np.rint(geo.latitude.to_numpy() * 1e6).astype("int64")
    lo = np.rint(geo.longitude.to_numpy() * 1e6).astype("int64")
    ids = geo.ind.to_numpy()
    d2 = (la[:, None] - la[None, :]) ** 2 + (lo[:, None] - lo[None, :]) ** 2
    r2 = pq.GEO_RADIUS_MICRODEG**2
    ii, jj = np.where((d2 <= r2) & (ids[:, None] < ids[None, :]))
    want = {(int(ids[i]), int(ids[j])) for i, j in zip(ii, jj)}
    out = pq.geo_near_pairs(spark, TEST_SF_DIR).toPandas()
    got = list(zip(out.ind_a, out.ind_b))
    assert len(got) == len(set(got))  # exactly once per pair
    assert set(got) == want
    plan = _plan(pq.geo_near_pairs(spark, TEST_SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_lpa_and_perplexity_plans_are_hash_joins(spark):
    """Scale contracts for the round-10 additions that lack a
    dedicated plan test: LPA's per-round label join and the
    perplexity-bucket window must compile to hash joins / window
    exec — no cartesian, no broadcast nested loop, no Python on the
    path. (The SQ8/rerank family's broadcast crossJoin of the tiny
    query side is the designed BNLJ baseline, same as
    emb_knn_bruteforce, so it is exempt by design.)"""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq
    from pinterest_data_pipeline400_spark.plans import training_data as td
    from tests.conftest import TEST_SF_DIR

    plans = {}
    for key, df in (
        ("lpa", eq.ev_label_propagation(spark, TEST_SF_DIR)),
        ("ppl", td.docs_perplexity_buckets(spark, TEST_SF_DIR)),
    ):
        plans[key] = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plans[key]
        assert "PythonUDF" not in plans[key] and "MapInPandas" not in plans[key]
    assert "BroadcastNestedLoopJoin" not in plans["lpa"]

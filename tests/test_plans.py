"""Physical-plan contract tests: the optimizations the 100 TB design relies
on must be visible in the plans Catalyst produces (SURVEY.md §4.2)."""

from __future__ import annotations

from data_integration_spark.plans.explain import (
    count_shuffles,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)
from data_integration_spark.queries import QUERIES, load_all

load_all()
SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["q_filter_eq"](spark, SF)
    filters = " ".join(pushed_filters(df))
    assert "l_returnflag" in filters, f"filter not pushed: {filters}"


def test_column_pruning_reaches_scan(spark):
    df = QUERIES["q_scan_parquet"](spark, SF)
    schemas = read_schema_columns(df)
    assert schemas, "no parquet scan found"
    assert set(schemas[0]) == {
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
    }, f"scan reads extra columns: {schemas[0]}"


def test_dimension_join_broadcasts(spark):
    assert has_broadcast_join(QUERIES["q_broadcast_lookup"](spark, SF))


def test_report_final_broadcasts_dimensions(spark):
    plan = formatted_plan(QUERIES["q_report_final"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # per-area (≤25-row) result joins must never sort-merge
    assert plan.count("SortMergeJoin") == 0, plan


def test_semi_anti_join_physical_type(spark):
    for q in ("q_semi_join", "q_anti_join"):
        plan = formatted_plan(QUERIES[q](spark, SF))
        assert "LeftSemi" in plan or "LeftAnti" in plan


def test_weighted_mean_has_partial_aggregation(spark):
    plan = formatted_plan(QUERIES["q_weighted_mean_by_group"](spark, SF))
    # partial_ marks map-side combine before the exchange
    assert "partial_sum" in plan, plan


def test_grouped_agg_single_shuffle(spark):
    df = QUERIES["q_weighted_mean_by_group"](spark, SF)
    assert count_shuffles(df) <= 1, formatted_plan(df)


def test_ebp_and_pipeline_job_counts(spark, count_jobs):
    """Pin the Spark jobs of the post-EM stages, which work on collected
    area tables: the big survey's scoring cells are one query (2 jobs: the
    shuffle map stage and the result), EBP on them with its driver-made
    draw table runs none, and a whole pipeline plus the report collect
    runs 11, with 1 bootstrap replicate as with 10: 2 each for the small
    survey's outcome cells (which also give the direct estimates), the
    scoring cells, the bootstrap's simulated cells, its simulated truth
    and the report, and 1 for the actuals. The area draws are made on the
    driver and the bootstrap simulates all replicates in one aggregation.
    A new per-rep or per-estimator plan fails here instead of hiding in
    wall time."""
    import pandas as pd

    from data_integration_spark.stats.ebp import (
        draw_table,
        ebp_estimates,
        scoring_cells,
    )
    from data_integration_spark.stats.em import EMEstimator
    from data_integration_spark.stats.fixtures import make_fixtures
    from data_integration_spark.stats.pipeline import run_pipeline

    fx = make_fixtures(n_states=6, big_per_state=(50, 80))
    small, big, actuals = (
        spark.createDataFrame(fx[k]).cache()
        for k in ("survey_small", "survey_big", "actual_result")
    )
    for df in (small, big, actuals):
        df.count()  # materialize the caches outside the counted groups
    v_hat = pd.DataFrame(
        [(s, 0.1, 0.04) for s in fx["truth"]["v_state"]],
        columns=["state", "v_hat", "tau_hat_sq"],
    )

    def pipeline(bootstrap_reps):
        res = run_pipeline(
            spark, small, big, actuals,
            em=EMEstimator(n_reps=20, tol=0.0, max_iter=2, seed=1),
            ebp_draws=10,
            bootstrap_reps=bootstrap_reps,
            bootstrap_em=EMEstimator(n_reps=20, tol=0.0, max_iter=2, seed=2),
        )
        res.report.collect()

    cells = []
    try:
        assert count_jobs("pin_cells", lambda: cells.append(scoring_cells(big))) == 2
        ebp = lambda: ebp_estimates(cells[0], [0.0] * 8, draw_table(v_hat, 5, 3))
        assert count_jobs("pin_ebp", ebp) == 0
        for reps in (1, 10):
            assert count_jobs(f"pin_pipeline_{reps}", lambda: pipeline(reps)) == 11
    finally:
        for df in (small, big, actuals):
            df.unpersist()


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew handling: a join keyed 90% on one value must show
    skew-handled SMJ partitions (skew=true) in the executed plan once the
    skew thresholds are in range — the mechanism that saves the 100 TB
    join when one customer/domain dominates."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 150k rows on key 0 (with a fat payload), 100 rows elsewhere
        left = spark.range(150_000).select(
            F.when(F.col("id") < 149_900, 0).otherwise(F.col("id") % 100)
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pay"),
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        joined = left.join(right, "k")
        # collect through THIS DataFrame: .count() would build a new
        # Dataset whose execution never finalizes joined's adaptive plan
        assert len(joined.collect()) == 150_000
        executed = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed, executed[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_curation_pipeline_plan_shape(spark):
    """The curation flagship's scale contracts: the decontamination gram
    set joins as a broadcast (corpus side never shuffles for it), and the
    whole multi-stage pipeline is one Catalyst plan — no driver-side
    materialization between stages."""
    df = QUERIES["q_curation_pipeline"](spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan  # eval-gram + dedup-keep joins
    assert "CollectLimit" not in plan
    # the 50% sample is a FILTER on a hash expression, not a Sample node
    # (deterministic membership, pushdown-compatible)
    assert "Sample" not in plan


def test_tfidf_filter_pushed_through_aggregation(spark):
    """Catalyst pushes the doc_id bound through the tf aggregation into
    the scan on the tf branch (the df/idf branch must still read all
    docs — semantically required)."""
    df = QUERIES["q_tfidf"](spark, SF)
    filters = " ".join(pushed_filters(df))
    assert "doc_id" in filters


def test_no_data_proportional_broadcast_hints(spark):
    """Forced broadcast hints must only wrap BOUNDED frames (static dims,
    per-group aggregates) — never tables that grow with the data. A hint
    overrides Catalyst's size check, so a data-proportional hint
    driver-collects a fact-sized table at 100× (VERDICT r2). The expected
    counts pin exactly the bounded hints each query is allowed to keep."""
    expected_hints = {
        "q_revenue_by_nation": 2,   # nation + region dims; customer un-hinted
        "q_retention_cohorts": 0,   # cohort via MIN window — no join at all
        "q_ngram_jaccard": 7,       # all bounded (r8): stopword-sized hot
                                    # list (anti — appears 4x, once per
                                    # copy of the sh subtree in the
                                    # analyzed tree), candidate-set b side
                                    # + 2 per-doc size frames (doc_id < 60
                                    # by construction — this op runs
                                    # downstream of candidate generation)
        "q_report_final": 3,        # three per-NATION aggregate frames only
        "q_dedup_minhash": 0,       # per-doc sizes joins left to AQE
        "q_skyline": 0,             # frontier is #distinct-prices-sized — AQE decides
        # tpch_extra (VERDICT r3): part/supplier-derived frames grow with
        # the data — only nation/region dims and 1-row scalar aggregates
        # may keep forced hints.
        "q_tpch_q2": 2,             # nation + region
        "q_tpch_q4": 0,
        "q_tpch_q6": 0,
        "q_tpch_q7": 2,             # n1 + n2 (nation projections)
        "q_tpch_q8": 3,             # nation, region, supplier-side nation
        "q_tpch_q9": 1,             # nation inside supp
        "q_tpch_q10": 1,            # nation
        "q_tpch_q11": 3,            # nation (appears 2× — value_by_part subtree
                                    # repeats under the threshold branch) + 1-row
                                    # threshold agg
        "q_tpch_q12": 0,
        "q_tpch_q14": 0,            # part projection un-hinted
        "q_tpch_q15": 1,            # 1-row max-revenue agg
        "q_tpch_q16": 0,            # supplier blacklist + part subset un-hinted
        "q_tpch_q19": 0,            # part predicate subset un-hinted
        "q_tpch_q20": 2,            # 1-row half-avg agg + nation
        "q_tpch_q21": 0,            # full supplier un-hinted
    }
    for name, n in expected_hints.items():
        analyzed = (
            QUERIES[name](spark, SF)._jdf.queryExecution().analyzed().toString()
        )
        assert analyzed.count("ResolvedHint") == n, (
            f"{name}: expected {n} broadcast hints, plan has "
            f"{analyzed.count('ResolvedHint')}"
        )


def test_bucketed_join_query_is_exchange_free(spark):
    """q_bucketed_join writes both sides bucketed on the join key, so the
    sort-merge join must run with ZERO Exchanges — the co-located layout
    that replaces the repeated fact-fact shuffle at 100 TB."""
    df = QUERIES["q_bucketed_join"](spark, SF)
    assert count_shuffles(df) == 0, formatted_plan(df)


def test_sessionization_single_shuffle(spark):
    """Gap-sessionization: the lag window, running-sum window, and both
    downstream groupBys all ride ONE user_id exchange."""
    df = QUERIES["q_sessionization"](spark, SF)
    assert count_shuffles(df) == 1, formatted_plan(df)


def test_keep_latest_uses_window_group_limit(spark):
    """rn=1 over (key ORDER BY ts DESC) must run as WindowGroupLimit —
    per-key top-1 partial before the shuffle, never a full log sort."""
    df = QUERIES["q_keep_latest"](spark, SF)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert count_shuffles(df) == 1, plan


def test_tpch_q5_date_filter_pushed(spark):
    """Q5's order-date range must reach the orders parquet scan (row-group
    pruning is the 100 TB lever on the widest fact join)."""
    df = QUERIES["q_tpch_q5"](spark, SF)
    filters = " ".join(pushed_filters(df))
    assert "o_orderdate" in filters, filters


def test_quota_sample_uses_window_group_limit(spark):
    """Per-stratum cap must run as WindowGroupLimit (top-10 heaps), not a
    full per-group sort of the corpus."""
    df = QUERIES["q_quota_sample"](spark, SF)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert count_shuffles(df) == 1, plan


def test_zscore_probe_side_never_shuffles(spark):
    """The per-type stats frame broadcasts back onto the fact probe; the
    only exchange is the tiny stats aggregation itself."""
    df = QUERIES["q_zscore_outliers"](spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert count_shuffles(df) == 1, plan


def test_q17_correlated_subquery_is_decorrelated(spark):
    """Catalyst must rewrite the per-part AVG correlated subquery into an
    aggregate-plus-join — a physical plan still carrying a per-row
    Subquery would re-scan lineitem per row."""
    plan = formatted_plan(QUERIES["q_tpch_q17"](spark, SF))
    assert "Subquery" not in plan, plan


def test_not_in_plans_anti_join(spark):
    """NOT IN must plan as a (null-aware) LeftAnti join, not a nested-loop
    filter."""
    plan = formatted_plan(QUERIES["q_not_in_subquery"](spark, SF))
    assert "LeftAnti" in plan, plan


def test_lateral_topk_decorrelates_to_window(spark):
    """The LATERAL per-nation LIMIT must rewrite to window machinery, not
    a correlated re-execution per outer row."""
    plan = formatted_plan(QUERIES["q_lateral_topk"](spark, SF))
    assert "Window" in plan, plan


def test_tpch_q6_all_filters_pushed(spark):
    """Q6 is pure scan-filter-aggregate: every conjunct must reach the
    parquet scan, and the only exchange is the scalar-agg combine."""
    df = QUERIES["q_tpch_q6"](spark, SF)
    filters = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in filters, f"{col} not pushed: {filters}"
    assert count_shuffles(df) <= 1


def test_tpch_q19_degrades_gracefully_without_part_hint(spark):
    """Q19 carries NO forced hint on the part subset (data-proportional —
    VERDICT r3); at this SF Catalyst's own size estimate still elects a
    broadcast join, and at 100× the same plan degrades to a shuffle join
    instead of driver-collecting a fact-sized table."""
    df = QUERIES["q_tpch_q19"](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 0, analyzed
    assert has_broadcast_join(df)  # size-based election, not a hint


def test_fuzzy_match_blocking_carries_equi_join(spark):
    """The composite block key must plan as an EQUI join — a nested-loop
    or cartesian here means the blocking key fell out of the join
    condition and the Levenshtein comparison went all-pairs."""
    df = QUERIES["q_fuzzy_match"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cosine_pairs_corpus_never_shuffles(spark):
    """Vectorized pair scoring: the corpus streams straight from the scan
    into mapInPandas; the only rows that move are emitted matches."""
    df = QUERIES["q_cosine_pairs"](spark, SF)
    assert count_shuffles(df) == 0, formatted_plan(df)


def _assert_lint_clean(registry_walk, lint: str) -> None:
    """A query whose builder errors is NOT silently exempt — it fails by
    name. Offenders get fixed, not allowlisted, so the anti-patterns
    cannot come back."""
    _, failures, errored = registry_walk
    assert not failures[lint], failures[lint]
    assert not errored, (
        "query builders errored during the plan lints — fix them or add to "
        f"_PLAN_LINT_EXCLUDED deliberately: {errored}"
    )


def test_no_unexpected_nested_loop_joins(registry_walk):
    """Registry-wide all-pairs-join lint (see ``oracle_harness.lint_plans``)."""
    _assert_lint_clean(registry_walk, "all-pairs join")


def test_no_unbounded_global_windows(registry_walk):
    """Registry-wide unbounded-global-window lint (see
    ``oracle_harness.lint_plans``)."""
    _assert_lint_clean(registry_walk, "unbounded global window")


def test_plan_lints_flag_planted_violations(spark):
    """The registry walk's lints still fail on each planted anti-pattern:
    a CartesianProduct hidden behind a lineage cut, an unpartitioned
    window over an unbounded frame, and an allowlisted query that plans
    one BroadcastNestedLoopJoin more than its count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_integration_spark.dedup.components import _truncate_lineage
    from tests.oracle_harness import _BNLJ_ALLOWED, walk

    def hidden_cartesian(s, _sf):
        a = s.range(3).hint("shuffle_replicate_nl")
        b = s.range(3).withColumnRenamed("id", "id2")
        return _truncate_lineage(a.crossJoin(b)).groupBy().count()

    def global_window(s, _sf):
        rn = F.row_number().over(Window.orderBy("id"))
        return s.range(1000).withColumn("rn", rn)

    _, failures, errored = walk(
        spark,
        SF,
        [
            ("q_planted_cartesian", hidden_cartesian),
            ("q_planted_window", global_window),
        ],
        None,
    )
    assert not errored, errored
    assert failures["all-pairs join"] == [
        "q_planted_cartesian [subtree 0]: CartesianProduct"
    ], failures
    assert [f.split(":")[0] for f in failures["unbounded global window"]] == [
        "q_planted_window"
    ], failures

    def bnlj(s):
        bound = F.broadcast(s.range(3).withColumnRenamed("id", "k"))
        return s.range(10).join(bound, F.col("id") < F.col("k"))

    def one_bnlj_too_many(s, _sf):
        # as many checkpointed BNLJ subtrees as allowed, plus the final plan
        for _ in range(_BNLJ_ALLOWED["q_range_join"]):
            _truncate_lineage(bnlj(s))
        return bnlj(s)

    _, failures, errored = walk(
        spark, SF, [("q_range_join", one_bnlj_too_many)], None
    )
    assert not errored, errored
    assert [f.split(":")[0] for f in failures["all-pairs join"]] == [
        "q_range_join"
    ], failures


def test_lint_sees_through_checkpoint_boundaries(spark):
    """The subtree capture's positive proof: an all-pairs join hidden
    behind a lineage cut is INVISIBLE in the final plan (a blind spot for
    any lint that reads only final plans) but visible in the captured
    subtree plan — exactly what the registry walk's lints read."""
    from data_integration_spark.dedup.components import (
        _truncate_lineage,
        capture_truncated_subtrees,
    )

    a = spark.range(3)
    b = spark.range(3).withColumnRenamed("id", "id2")
    with capture_truncated_subtrees() as subtrees:
        hidden = _truncate_lineage(a.crossJoin(b))
    is_all_pairs = lambda p: (  # noqa: E731
        "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p
    )
    final = formatted_plan(hidden.groupBy().count())
    assert not is_all_pairs(final), "blind spot gone? update the lint docs"
    assert len(subtrees) == 1
    assert is_all_pairs(formatted_plan(subtrees[0])), formatted_plan(
        subtrees[0]
    )


def test_corpus_ops_narrow_queries_have_no_shuffle(spark):
    """The per-row corpus operators (norm filter, normalization) must stay
    narrow maps — any exchange here multiplies at 100 TB."""
    for name in ("q_embedding_norm_filter", "q_text_normalize"):
        df = QUERIES[name](spark, SF)
        assert count_shuffles(df) == 0, (name, formatted_plan(df))


def test_corpus_ops_aggregations_single_shuffle(spark):
    """Centroids and shard balance are one hash aggregation each (map-side
    partials + one exchange on the group key)."""
    for name in ("q_centroid_per_label", "q_shard_assign"):
        df = QUERIES[name](spark, SF)
        assert count_shuffles(df) == 1, (name, formatted_plan(df))


def test_corpus_ops_shuffle_budgets(spark):
    """Upper bounds for the multi-stage corpus operators — a regression
    adding an exchange (lost partial agg, lost partitioning reuse) trips
    these before it ships."""
    budgets = {
        "q_dataset_card": 2,       # distinct-sha expands to two-phase agg
        "q_kl_divergence": 3,      # token count, vocab join, 1-row fold
        "q_ngram_novelty": 3,      # firsts agg, shingle join, per-doc agg
        # bigram source-set agg, derived sizes, pair agg, size joins —
        # every exchange carries bounded rows (bigram sets ≤ |sources|)
        "q_source_overlap_matrix": 6,
        "q_cross_shard_dedup": 2,  # anti join (0 when broadcast at test SF)
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = count_shuffles(df)
        assert n <= budget, (name, n, formatted_plan(df))


def test_vocab_build_has_no_single_partition_funnel(spark):
    """Vocabulary id assignment must be range-partitioned ranking
    (operators/prefix.py::range_row_number), never a global
    Window/Sort that funnels the whole vocabulary through one task
    (VERDICT r5 #1): no Exchange SinglePartition anywhere in the plan."""
    df = QUERIES["q_vocab_build"](spark, SF)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" in plan.lower(), plan


def test_skyline_has_no_single_partition_funnel(spark):
    """The skyline frontier's exclusive running max must be
    range-partitioned (operators/prefix.py::range_prefix_max, r6) — the
    distinct-price frame is worst-case data-proportional, so a global
    Window here was the q_vocab_build wart class: no Exchange
    SinglePartition anywhere in the plan."""
    df = QUERIES["q_skyline"](spark, SF)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" in plan.lower(), plan


def test_tpch_q21_reuses_orderkey_partitioning(spark):
    """Q21's per-(order,supplier) agg and its order-level re-agg must ride
    the same l_orderkey exchange — the whole query stays under 4 shuffles
    (fact agg, re-agg join, supplier-name agg, top-k)."""
    df = QUERIES["q_tpch_q21"](spark, SF)
    assert count_shuffles(df) <= 4


def test_zorder_key_is_shuffle_free(spark):
    """The Morton key is a pure narrow map over the scan — any exchange
    here would be a regression (the write-time repartitionByRange is the
    caller's layout step, not the key computation's)."""
    df = QUERIES["q_zorder_key"](spark, SF)
    assert count_shuffles(df) == 0, formatted_plan(df)


def test_bigram_lm_shuffle_budget(spark):
    """The perplexity gate is two model aggregations + two unique-key
    joins: ≤4 exchanges (3 with AQE broadcast of the token tables at
    test scale). A 5th exchange means a lost map-side partial or a lost
    partitioning reuse."""
    df = QUERIES["q_bigram_lm_score"](spark, SF)
    assert count_shuffles(df) <= 4, formatted_plan(df)


def test_funnel_shuffle_budget(spark):
    """Three conditional-MIN stage aggregations + forward joins on
    user_id: ≤5 exchanges. The stage frames shrink monotonically, so no
    exchange carries more than the previous stage's users."""
    for name in ("q_funnel_analysis",):
        df = QUERIES[name](spark, SF)
        assert count_shuffles(df) <= 5, (name, formatted_plan(df))


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Runtime filter injection — the optimizer's semi-join pushdown for
    selective dim filters at 100 TB: with the size thresholds in test
    range, a fact⋈filtered-dim join must build a bloom filter on the
    build side (bloom_filter_agg in the plan) and probe it on the fact
    scan BEFORE the shuffle, and the filtered result must equal the
    unfiltered-config run."""
    from pyspark.sql import functions as F

    from data_integration_spark.sources.catalog import Catalog

    cat = Catalog(spark, SF)
    li, orders = cat["lineitem"], cat["orders"]

    def run():
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        j = li.join(sel, li["l_orderkey"] == sel["o_orderkey"]).agg(
            F.count("*").alias("n")
        )
        n = j.collect()[0]["n"]
        return n, j._jdf.queryExecution().executedPlan().toString()

    n_stock, _ = run()
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n_bloom, plan = run()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    assert "bloom_filter_agg" in plan, plan[:2000]
    assert n_bloom == n_stock > 0


def test_round7_late_additions_shuffle_budgets(spark):
    """Exchange upper bounds for the round-7 continuation queries. The
    single-digit counts on the certificate queries (anova/gini/
    association) include the 1-row SinglePartition exchanges of their
    scalar aggregates — bounded rows by construction; the bound exists
    to catch a DATA-sized exchange sneaking in (lost partial agg, lost
    window/groupBy exchange reuse)."""
    budgets = {
        "q_kfold_assign": 1,            # one k×|langs| aggregation
        "q_window_count_distinct": 2,   # (user,type) window + user window
        "q_rolling_regression": 1,      # both windows share the user key
        "q_event_paths": 2,             # user window+collect reuse, path agg
        "q_mode_per_group": 3,          # join, grouped count, k-row window
        "q_group_concat": 2,            # nation window, grouped collect
        "q_training_order_shuffle": 3,  # range exchange + offset job
        "q_anova": 8,                   # incl. 1-row scalar agg exchanges
        "q_association_rules": 9,       # incl. 1-row order-count exchange
        "q_gini": 9,                    # range rank + 1-row scalar aggs
        "q_time_gapfill": 2,            # daily agg + spine/fill on user key
        "q_interval_merge": 1,          # one user exchange for everything
        "q_dau_wau": 6,                 # activity dedup, dau, wau 2-phase
        "q_rfm_segments": 6,            # one cust agg, ONE range exchange
                                        # for all three NTILEs, wide pivot
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = count_shuffles(df)
        assert n <= budget, (name, n, formatted_plan(df))


def test_eval_metrics_shuffle_budgets(spark):
    """Exchange upper bounds for the eval-metrics / decomposition block
    (this continuation session). q_roc_auc includes the prefix family's
    range exchange + offsets job; q_seasonal_decompose's count covers
    the calendar-bounded daily frame (≤ a few thousand rows by
    construction) plus the 7-row seasonal broadcast."""
    budgets = {
        "q_roc_auc": 7,             # score agg, range prefix, 1-row fold
        "q_pr_curve": 7,            # score agg, shared 2-col range prefix
        "q_calibration_bins": 2,    # one ≤10-key hash aggregation
        "q_cohens_kappa": 2,        # one 1-row aggregation
        "q_seasonal_decompose": 7,  # daily agg, bounded day window, dow agg
        "q_linear_interpolation": 1,  # one user exchange, both sort passes
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = count_shuffles(df)
        assert n <= budget, (name, n, formatted_plan(df))


def test_er_retrieval_shuffle_budgets(spark):
    """Exchange upper bounds for the ER-blocking / retrieval block.
    q_setsim_prefix_join: gram-df agg + token join + per-doc sets agg +
    prefix self-join + candidate distinct + two verify joins — no bucket
    is unbounded (spec-level df-cap) and no side is force-broadcast.
    q_sorted_neighborhood / q_rank_fusion ride the prefix family (one
    range exchange per ordering — the fusion pays two, by design);
    q_welch_ttest's 1-row scalar crosses are BNLJ-allowlisted."""
    budgets = {
        # setsim's three set-table consumers each show the aggregation
        # subtree's exchanges in the plan, but identical subtrees EXECUTE
        # once via ReusedExchange (measured: lazy beats a scratch
        # materialization 2-3x) — the node count is an upper bound on
        # distinct executed exchanges
        "q_setsim_prefix_join": 12,
        "q_sorted_neighborhood": 5,
        "q_rank_fusion": 7,
        "q_welch_ttest": 6,
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = count_shuffles(df)
        assert n <= budget, (name, n, formatted_plan(df))


def test_trend_feature_shuffle_budgets(spark):
    """Exchange bounds for the trend/feature-engineering block: every
    window in q_changepoint / q_theil_sen rides the CALENDAR-bounded
    daily frame (the fact table is collapsed by one groupBy(day) with
    map-side partials first); q_target_encoding shuffles only for its
    two bounded aggregates; q_holt_linear is one user-keyed exchange."""
    budgets = {
        "q_changepoint": 6,
        "q_theil_sen": 8,
        "q_holt_linear": 2,
        "q_target_encoding": 4,
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = count_shuffles(df)
        assert n <= budget, (name, n, formatted_plan(df))


def test_cf_layout_shuffle_budgets(spark):
    """q_item_item_cf: basket self-join fans out at most C(7,2) per
    order (schema-bounded), denominators join by item key, per-item
    top-3 window; q_zorder_pruning: one range exchange carries BOTH
    NTILE orderings (range_ntile_multi), then two 32-row stat aggs;
    q_mutual_information: the fact table is scanned/shuffled ONCE —
    everything after runs on the driver-collapsed (<=40-row)
    contingency frame."""
    budgets = {
        "q_item_item_cf": 11,
        "q_zorder_pruning": 12,
        "q_mutual_information": 9,
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = count_shuffles(df)
        assert n <= budget, (name, n, formatted_plan(df))


def test_sparse_retrieval_salting_budgets(spark):
    """q_tfidf_knn accumulates dots through the postings join (its
    lineage re-derives the weights frame per branch — at deployment the
    postings table is materialized once, documented); multipass SN pays
    one range exchange per ordering inside a single multi call;
    q_salted_join is exactly: dim agg + salted fact exchange + salted
    dim exchange + final agg."""
    budgets = {
        "q_tfidf_knn": 16,
        "q_sorted_neighborhood_multipass": 13,
        "q_salted_join": 4,
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = count_shuffles(df)
        assert n <= budget, (name, n, formatted_plan(df))


def test_label_governance_shuffle_budgets(spark):
    """q_negative_sampling: positives join + anti-join + per-positive
    window; q_churn_labels: two window-filtered scans, one user agg,
    one user join; q_ndcg: TakeOrdered + one grade-count agg (the
    position window rides a 20-row bounded frame); q_k_anonymity: the
    canonical two-level aggregation."""
    budgets = {
        "q_negative_sampling": 5,
        "q_churn_labels": 3,
        "q_ndcg": 3,
        "q_k_anonymity": 2,
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = count_shuffles(df)
        assert n <= budget, (name, n, formatted_plan(df))


def test_governance_audit_shuffle_budgets(spark):
    """q_oov_rate: one vocab agg + one token-keyed left join + source
    agg; q_out_of_order_audit: one user window + 1-row fold;
    q_deletion_cascade: semi/anti joins down the key chain with 1-row
    count crosses; q_price_volume_mix: one year-pruned fact agg +
    flags-sized self-join."""
    budgets = {
        "q_oov_rate": 3,
        "q_out_of_order_audit": 2,
        "q_deletion_cascade": 6,
        "q_price_volume_mix": 3,
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = count_shuffles(df)
        assert n <= budget, (name, n, formatted_plan(df))


def test_experimentation_shuffle_budgets(spark):
    """q_raking_weights: two fact aggregations to bounded frames + the
    <=15-cell IPF windows; q_cuped: one user-keyed aggregation whose
    bounded means/theta collect to the driver, then two 1-row passes
    (no per-branch lineage re-derivation)."""
    budgets = {
        "q_raking_weights": 9,
        "q_cuped": 6,
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = count_shuffles(df)
        assert n <= budget, (name, n, formatted_plan(df))


def test_rank_corr_sweep_shuffle_budgets(spark):
    """q_spearman_rank_corr: one range exchange per ordering inside one
    multi call + a 1-row integer fold; q_semantic_threshold_sweep: the
    bounded probe-block cross (allowlisted) + one 6-key aggregation."""
    budgets = {
        "q_spearman_rank_corr": 7,
        "q_semantic_threshold_sweep": 2,
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = count_shuffles(df)
        assert n <= budget, (name, n, formatted_plan(df))


def test_skew_report_shuffle_budget(spark):
    """One key aggregation collapses the fact table; the median collects
    as one scalar; the summary is a 1-row fold over |keys| rows."""
    df = QUERIES["q_skew_report"](spark, SF)
    assert count_shuffles(df) <= 3, formatted_plan(df)


def test_calibration_funnel_latency_budgets(spark):
    """q_ece: one <=10-key aggregation + 1-row fold;
    q_time_to_convert: two conditional-MIN user aggregations joined
    forward + one distributed percentile fold."""
    budgets = {
        "q_ece": 2,
        "q_time_to_convert": 4,
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = count_shuffles(df)
        assert n <= budget, (name, n, formatted_plan(df))


def test_winnowing_registry_percrawl_plan_never_reads_archive_text(spark):
    """q_winnowing_registry_persist's plan contract (PLANS.md r11): the
    per-crawl pair subtree broadcasts the NEW batch (BuildLeft — a
    build-right would broadcast the archive-sized registry) and the
    registry side is a column-pruned (doc_id, h) parquet scan; the old
    corpus's TEXT column appears nowhere in the pair plan (text is read
    only by the once-per-release save step, which runs before this plan
    is built)."""
    df = QUERIES["q_winnowing_registry_persist"](spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    # the inner pair join builds the batch side (left in our construction)
    inner = [
        ln for ln in plan.splitlines()
        if "BroadcastHashJoin" in ln and "Inner" in ln
    ]
    assert inner and all("BuildLeft" in ln for ln in inner), inner
    # registry fingerprints scan reads exactly (doc_id, h); the archive
    # text column must be absent from every registry-artifact scan
    reg_scans = [
        s for s in read_schema_columns(df)
        if set(s) <= {"doc_id", "h", "df"} and "h" in s
    ]
    assert reg_scans, "no registry parquet scan found in the plan"
    # text appears only under the documents scan of the NEW batch (the
    # batch must be fingerprinted from text); it must carry the pushed
    # doc_id bound so the scan is |batch|, not |corpus|
    filters = " ".join(pushed_filters(df))
    assert "doc_id" in filters, f"batch bound not pushed: {filters}"


def test_ivf_self_join_plan_has_no_pair_space_rows(spark):
    """q_ann_ivf_self_join's plan contract: stage 2 is the cogrouped
    applyInPandas (FlatMapCoGroupsInPandas) — NO row-level join of probes
    × members materializing the candidate space, and the only window runs
    over the partial-top-k survivors."""
    df = QUERIES["q_ann_ivf_self_join"](spark, SF)
    plan = formatted_plan(df)
    assert "FlatMapCoGroupsInPandas" in plan, plan
    # the pair space must not appear as a join: the only joins allowed are
    # none at all (cogroup replaces them)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_ivfpq_self_join_plan_has_no_pair_space_rows(spark):
    """q_ann_ivfpq_self_join's plan contract (the IVF self-join contract
    on the compressed index): stage 2 is the cogrouped applyInPandas —
    no row-level probe × member join materializing the candidate space,
    and the final window ranks only partial-top-k survivors."""
    df = QUERIES["q_ann_ivfpq_self_join"](spark, SF)
    plan = formatted_plan(df)
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_countmin_sketch_plan_is_map_side_combinable(spark):
    """q_countmin_sketch's plan contract: the sketch groupBy runs as a
    partial (map-side) then final HashAggregate — the shuffle carries at
    most depth·width distinct keys, never the token stream."""
    df = QUERIES["q_countmin_sketch"](spark, SF)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "SortMergeJoin" not in plan, plan  # only the broadcast lookup


def test_bloom_semi_join_plan_prunes_before_join(spark):
    """q_bloom_semi_join's plan contract: the Bloom test compiles to a
    native IN-set on the fact scan (no UDF, no shuffle for the filter)
    and the only join is the broadcast truth lookup."""
    df = QUERIES["q_bloom_semi_join"](spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_top_orders_and_cooccurrence_use_take_ordered(spark):
    """The VERDICT r13 #2 refactors' positive contract: the top-k cut
    compiles to TakeOrderedAndProject (distributed partial top-k), and
    the only windows left run over already-bounded survivors."""
    from data_integration_spark.plans.explain import unbounded_global_windows

    for name in ("q_top_orders", "q_term_cooccurrence"):
        df = QUERIES[name](spark, SF)
        assert "TakeOrderedAndProject" in formatted_plan(df), name
        assert not unbounded_global_windows(df), name


def test_rowid_uses_range_partitioned_ranking(spark):
    """q_rowid_rownumber ids a FACT table, so it must ride
    range_row_number (range exchange + offsets), never an unpartitioned
    row_number window (r14 global-window sweep)."""
    from data_integration_spark.plans.explain import unbounded_global_windows

    df = QUERIES["q_rowid_rownumber"](spark, SF)
    assert not unbounded_global_windows(df), formatted_plan(df)
    assert "rangepartitioning" in formatted_plan(df).lower()


def test_boundedness_walk_semantics(spark):
    """The global-window lint's boundedness rule (r14 review hardening):
    a limit on ONE side of a join does NOT bound the join; a join/union
    of all-bounded inputs IS bounded; a Generate (explode) above a limit
    re-expands rows and voids it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_integration_spark.plans.explain import unbounded_global_windows

    df = spark.range(1000).withColumn("g", F.col("id") % 3)
    small = spark.range(100).orderBy("id").limit(10).withColumnRenamed("id", "sid")
    joined = df.join(small, df.id % 10 == small.sid)
    bad = joined.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert len(unbounded_global_windows(bad)) == 1
    j2 = small.crossJoin(
        spark.range(5).orderBy("id").limit(3).withColumnRenamed("id", "k")
    )
    ok = j2.withColumn("rn", F.row_number().over(Window.orderBy("sid")))
    assert not unbounded_global_windows(ok)
    ex = small.select(
        F.explode(F.array(*[F.lit(i) for i in range(3)])).alias("x")
    )
    bad2 = ex.withColumn("rn", F.row_number().over(Window.orderBy("x")))
    assert len(unbounded_global_windows(bad2)) == 1


def test_compression_ratio_and_edit_verify_plan_contracts(spark):
    """Plan contracts for two heavy curation queries:

    - q_compression_ratio is native end-to-end (no Python eval node —
      the regex token count must compile to the codegen builtin, not a
      UDF) and costs exactly ONE exchange (the map-side-combined
      groupBy(source)); the planted unions stay narrow.
    - q_dedup_edit_verify plans no Cartesian/broadcast-nested-loop
      join (every join in the LSH + verify + text-fetch chain is an
      equi-join) and computes lev via the levenshtein BUILTIN.
    """
    sf = "/root/testdata/sf0.001"

    comp = QUERIES["q_compression_ratio"](spark, sf)
    plan = formatted_plan(comp)
    assert "EvalPython" not in plan, "compression card fell off codegen"
    assert count_shuffles(comp) == 1, plan

    edit = QUERIES["q_dedup_edit_verify"](spark, sf)
    plan = formatted_plan(edit)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    assert "EvalPython" not in plan, "edit tier fell off codegen"

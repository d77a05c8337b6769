"""Statistical-layer t2 queries (SURVEY.md §2.10-2.12).

The EM / EBP / bootstrap pipelines run on survey-shaped fixtures (FIXTURES.md
family B) generated deterministically — their correctness is established by
pytest parameter-recovery and golden tests (tests/test_stats_*.py), the
reference's own validation style (SURVEY.md §5).

The entries here expose the deterministic relational skeletons of those
pipelines on the driver's TPC-H-ish tables so the t2 oracle covers the
dataflow shapes (the stochastic model outputs are rows-only by contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_integration_spark.functions.math import expit
from data_integration_spark.functions.rng import seeded_normal
from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog
from data_integration_spark.sources.local import local_table


@register(
    "q_ebp_scoring_skeleton",
    oracle="""
    WITH scored AS (
      SELECT c_custkey, c_nationkey,
             1.0 / (1.0 + EXP(-(-1.0 + 0.0002 * c_acctbal))) AS theta
      FROM customer
    )
    SELECT c_nationkey,
           ROUND(100.0 * SUM(theta) / COUNT(*), 6) AS ebp_est
    FROM scored GROUP BY c_nationkey
    """,
)
def q_ebp_scoring_skeleton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 EBP scoring skeleton (``Rmd:406-454``): expit(linear predictor) per
    unit → per-area mean ×100 — the deterministic core of EBP with v=0
    (the MC-draw average rides on top of this exact dataflow)."""
    cust = Catalog(spark, sf_dir)["customer"]
    scored = cust.select(
        "c_custkey",
        "c_nationkey",
        expit(F.lit(-1.0) + 0.0002 * F.col("c_acctbal")).alias("theta"),
    )
    return scored.groupBy("c_nationkey").agg(
        F.round(100.0 * F.sum("theta") / F.count("*"), 6).alias("ebp_est")
    )


# q_survey_pipeline and its certificate share ONE pipeline execution
# per Spark context (the EM + bootstrap fit is the expensive part; the
# certificate audits the SAME result the rows-only query returns).
_PIPELINE_MEMO: dict = {}


def _fixture_pipeline(spark: SparkSession):
    """Run the reference's full pipeline on the FIXTURES.md family-B
    surveys (parquet round-trip through the session's warehouse directory,
    like the reference reads its survey inputs); memoized per Spark
    context."""
    import os

    from data_integration_spark.stats.em import EMEstimator
    from data_integration_spark.stats.fixtures import make_fixtures
    from data_integration_spark.stats.pipeline import run_pipeline

    # applicationId, not id(sparkContext): a CPython id can be reused by a
    # NEW context allocated after the old one is stopped and collected,
    # which would serve DataFrames bound to a dead JVM context
    key = spark.sparkContext.applicationId
    if key in _PIPELINE_MEMO:
        return _PIPELINE_MEMO[key]
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    base = os.path.join(warehouse, "survey_fixtures")
    if not os.path.exists(os.path.join(base, "survey_small.parquet")):
        fx = make_fixtures()
        os.makedirs(base, exist_ok=True)
        for name in ("survey_small", "survey_big", "actual_result"):
            local_table(spark, fx[name]).write.mode("overwrite").parquet(
                os.path.join(base, f"{name}.parquet")
            )
    small = spark.read.parquet(os.path.join(base, "survey_small.parquet"))
    big = spark.read.parquet(os.path.join(base, "survey_big.parquet"))
    actuals = spark.read.parquet(os.path.join(base, "actual_result.parquet"))
    res = run_pipeline(
        spark,
        small,
        big,
        actuals,
        em=EMEstimator(n_reps=200, tol=0.02, max_iter=40, seed=42),
        ebp_draws=100,
        bootstrap_reps=2,
        bootstrap_em=EMEstimator(n_reps=80, tol=0.05, max_iter=10, seed=43),
    )
    _PIPELINE_MEMO.clear()
    _PIPELINE_MEMO[key] = (res, small)
    return _PIPELINE_MEMO[key]


@register("q_survey_pipeline")  # rows-only: full model pipeline output
def q_survey_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference pipeline end-to-end (``Rmd`` entire file): synthetic
    PEW/CPS/actuals fixtures → EM (adjusted ML) → EBP → direct estimates →
    comparison → bootstrap MSPE → final report — returned as the report
    table (state, name, actual_val, direct_est, EBP_est, direct_SE, EBP_SE).

    Deterministic end-to-end (hash RNG), but optimizer outputs are not
    SQL-expressible → rows-only. Statistical correctness is pinned by
    tests/test_stats_pipeline.py (parameter recovery, EBP-beats-direct,
    golden report) and by the full-oracle q_survey_pipeline_certificate."""
    res, _ = _fixture_pipeline(spark)
    return res.report


@register(
    "q_survey_pipeline_certificate",
    # FULL-ORACLE certificate for the reference's flagship end-to-end
    # (``Rmd:406-507``), mirroring q_em_convergence: the pipeline's report
    # values are optimizer outputs (rows-only in q_survey_pipeline), but
    # the INVARIANTS they must satisfy are engine-independent literals
    # under the driver hash. Fixture constants: 51 areas, 2 held out of
    # the small survey (stats/fixtures.py N_STATES / n_absent defaults,
    # seed 42).
    oracle="""
    SELECT CAST(51 AS BIGINT) AS n_areas,
           CAST(2 AS BIGINT) AS n_absent_direct,
           CAST(51 AS BIGINT) AS ebp_nonnull,
           CAST(0.0 AS DOUBLE) AS direct_recompute_resid,
           CAST(1 AS BIGINT) AS ebp_beats_direct_asd,
           CAST(1 AS BIGINT) AS ebp_beats_direct_aad,
           CAST(0 AS BIGINT) AS range_violations,
           CAST(0 AS BIGINT) AS mspe_violations
    """,
)
def q_survey_pipeline_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Invariant CERTIFICATE for the full survey pipeline (C1-C3 + report):

    - ``n_areas`` == 51, ``ebp_nonnull`` == 51: the comparison fold covers
      every area and the v=0 path (``Rmd:433-435``) scores the 2 areas
      absent from the small survey;
    - ``n_absent_direct`` == 2: exactly the held-out areas have NULL
      direct estimates (full-outer-join semantics, ``Rmd:466-472``);
    - ``direct_recompute_resid`` == 0.0: the pipeline's direct estimates
      (C2, survey_mean_se path) match an INDEPENDENT inline Hájek
      weighted mean ×100 on the small survey to 6dp (measured ~1e-12 —
      pure float-reduction noise);
    - ``ebp_beats_direct_asd`` / ``aad`` == 1: the paper's headline claim
      (``Rmd:481-507``) — model-based EBP beats the direct estimator on
      both error measures (deterministic under hash RNG);
    - ``range_violations`` == 0: every estimate is a valid percentage;
    - ``mspe_violations`` == 0: every area's bootstrap sqrt-MSPE (C3) is
      present and non-negative.

    One 8-scalar row reaches the driver; every audit is a DataFrame
    aggregation over the pipeline's comparison table (a local DataFrame of
    one row per area) or the small survey."""
    res, small = _fixture_pipeline(spark)
    comp = res.comparison  # unrounded: state, name, actual, direct,
    # direct_SE, EM_est
    stats = comp.agg(
        F.count("*").alias("n_areas"),
        F.sum(F.col("direct").isNull().cast("long")).alias("n_absent"),
        F.sum(F.col("EM_est").isNotNull().cast("long")).alias("ebp_nonnull"),
        F.sum(
            (
                ~F.col("EM_est").between(0.0, 100.0)
                | ~F.coalesce(F.col("direct"), F.lit(50.0)).between(
                    0.0, 100.0
                )
            ).cast("long")
        ).alias("range_violations"),
    ).collect()[0]
    # independent C2 recompute: inline Hájek weighted mean, not the
    # survey_mean_se helper the pipeline used
    inline = small.groupBy("state").agg(
        (
            F.lit(100.0)
            * F.sum(F.col("weight") * F.col("demvote"))
            / F.sum("weight")
        ).alias("direct_inline")
    )
    resid = (
        comp.join(inline, "state")
        .agg(
            F.round(
                F.max(F.abs(F.col("direct") - F.col("direct_inline"))), 6
            ).alias("r")
        )
        .collect()[0]["r"]
    )
    err = res.errors.set_index("estimator")
    mspe_violations = res.report.filter(
        F.col("EBP_SE").isNull() | (F.col("EBP_SE") < 0)
    ).count()
    return local_table(
        spark,
        [
            {
                "n_areas": stats["n_areas"],
                "n_absent_direct": stats["n_absent"],
                "ebp_nonnull": stats["ebp_nonnull"],
                "direct_recompute_resid": float(resid),
                "ebp_beats_direct_asd": int(
                    err.loc["EM_est", "asd"] < err.loc["direct", "asd"]
                ),
                "ebp_beats_direct_aad": int(
                    err.loc["EM_est", "aad"] < err.loc["direct", "aad"]
                ),
                "range_violations": stats["range_violations"],
                "mspe_violations": mspe_violations,
            }
        ],
        (
            "n_areas long, n_absent_direct long, ebp_nonnull long,"
            " direct_recompute_resid double, ebp_beats_direct_asd long,"
            " ebp_beats_direct_aad long, range_violations long, mspe_violations long"
        ),
    )


@register("q_bootstrap_skeleton")  # rows-only: contains seeded draws
def q_bootstrap_skeleton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 parametric-bootstrap skeleton (``Rmd:557-733``): per (rep, area)
    random effect draw + per-unit Bernoulli outcome simulation, long-form.
    Deterministic via hash-based RNG; stochastic values → rows-only."""
    cust = Catalog(spark, sf_dir)["customer"].select("c_custkey", "c_nationkey")
    reps = cust.select(
        "*", F.explode(F.sequence(F.lit(1), F.lit(5))).alias("rep")
    )
    v_b = seeded_normal("c_nationkey", "rep", mean=0.0, sd=0.5, salt=11)
    theta = expit(F.lit(-0.5) + v_b)
    return reps.select(
        "rep",
        "c_nationkey",
        "c_custkey",
        theta.alias("theta"),
    )


@register(
    "q_chi_square",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY event_type, dow
    ),
    tot AS (
      SELECT event_type, dow, o,
             SUM(o) OVER (PARTITION BY event_type) AS row_tot,
             SUM(o) OVER (PARTITION BY dow) AS col_tot,
             SUM(o) OVER () AS n
      FROM obs
    )
    SELECT ROUND(SUM((o - CAST(row_tot * col_tot AS DOUBLE) / n)
                     * (o - CAST(row_tot * col_tot AS DOUBLE) / n)
                     / (CAST(row_tot * col_tot AS DOUBLE) / n)), 6)
             AS chi2_stat,
           CAST((COUNT(DISTINCT event_type) - 1)
                * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof
    FROM tot
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    day-of-week — the categorical-association screen of the statistical
    extension block (same family as the Welch A/B test, ``q_ab_test``).
    Expected counts come from the margin products; the statistic and
    degrees of freedom are returned (p-value needs an incomplete-gamma,
    deliberately out of scope without SciPy).

    Scale shape: the contingency table is |types|×7 — the windows and the
    final reduction run over a cells-sized frame; only the initial count
    touches the fact table (one shuffle)."""
    ev = Catalog(spark, sf_dir)["events"]
    obs = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("long").alias("dow")
    ).agg(F.count("*").alias("o"))
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("dow")
    w_all = Window.partitionBy()
    tot = obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(w_row).alias("row_tot"),
        F.sum("o").over(w_col).alias("col_tot"),
        F.sum("o").over(w_all).alias("n"),
    )
    e = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("n")
    return tot.agg(
        F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias(
            "chi2_stat"
        ),
        (
            (F.count_distinct("event_type") - 1)
            * (F.count_distinct("dow") - 1)
        ).alias("dof"),
    )


@register(
    "q_mann_whitney",
    oracle="""
    WITH pooled AS (
      SELECT value, event_type FROM events
      WHERE event_type IN ('click', 'view')
    ),
    ranked AS (
      SELECT event_type,
             RANK() OVER (ORDER BY value)
               + (CAST(COUNT(*) OVER (PARTITION BY value) AS DOUBLE) - 1) / 2
               AS midrank
      FROM pooled
    ),
    stats AS (
      SELECT
        SUM(CASE WHEN event_type = 'click' THEN midrank END) AS r_a,
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM ranked
    )
    SELECT n_a, n_b,
           ROUND(r_a - CAST(n_a * (n_a + 1) AS DOUBLE) / 2, 2) AS u_stat,
           ROUND((r_a - CAST(n_a * (n_a + 1) AS DOUBLE) / 2)
                 / (CAST(n_a AS DOUBLE) * n_b), 6) AS auc
    FROM stats
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test comparing the value distribution of
    'click' vs 'view' events, with midranks for ties; also reports
    U/(n_a·n_b) — the nonparametric effect size (= AUC). The
    distribution-free alternative to the Welch test when normality is
    off the table.

    Scale shape (r6): midranks come from per-value tie collapse + a
    RANGE-PARTITIONED prefix count (operators/prefix.py::
    range_prefix_sum) — rank(v) = count-below + 1 and
    midrank(v) = count-below + (ties+1)/2, so the pooled FACT rows never
    funnel through a one-task global RANK window (the pre-r6 form, the
    q_vocab_build wart class on fact-sized frames). Ranks and tie
    counts are integers (+ halves), so the statistic is grid-exact across
    engines."""
    from data_integration_spark.operators.prefix import range_prefix_sum

    ev = Catalog(spark, sf_dir)["events"]
    pooled = ev.filter(F.col("event_type").isin("click", "view")).select(
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("in_a"),
    )
    per_val = pooled.groupBy("value").agg(
        F.count("*").alias("n_all"), F.sum("in_a").alias("a_cnt")
    )
    cum = range_prefix_sum(per_val, "value", "n_all", out_col="cum_n")
    below = F.col("cum_n") - F.col("n_all")
    midrank = below + (F.col("n_all") + 1).cast("double") / 2
    stats = cum.agg(
        F.sum(F.col("a_cnt") * midrank).alias("r_a"),
        F.sum("a_cnt").alias("n_a"),
        F.sum(F.col("n_all") - F.col("a_cnt")).alias("n_b"),
    )
    u = F.col("r_a") - (F.col("n_a") * (F.col("n_a") + 1)).cast("double") / 2
    return stats.select(
        "n_a",
        "n_b",
        F.round(u, 2).alias("u_stat"),
        F.round(
            u / (F.col("n_a").cast("double") * F.col("n_b")), 6
        ).alias("auc"),
    )


@register(
    "q_ks_test",
    oracle="""
    WITH pooled AS (
      SELECT value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS in_a,
             CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END AS in_b
      FROM events WHERE event_type IN ('click', 'view')
    ),
    cum AS (
      SELECT value,
             SUM(SUM(in_a)) OVER (ORDER BY value) AS ca,
             SUM(SUM(in_b)) OVER (ORDER BY value) AS cb,
             (SELECT SUM(in_a) FROM pooled) AS n_a,
             (SELECT SUM(in_b) FROM pooled) AS n_b
      FROM pooled GROUP BY value
    )
    SELECT ROUND(MAX(ABS(CAST(ca AS DOUBLE) / n_a
                         - CAST(cb AS DOUBLE) / n_b)), 6) AS ks_stat,
           CAST(MAX(n_a) AS BIGINT) AS n_a, CAST(MAX(n_b) AS BIGINT) AS n_b
    FROM cum
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic ('click' vs 'view' value
    distributions): the max ECDF gap, evaluated at every distinct value —
    the drift detector data-quality monitors run between a reference and
    a live sample. Counts are exact integers and each ECDF is one
    integer-ratio division, so the statistic is bit-stable across
    engines.

    Scale shape (r6): one shuffle groups by value (collapsing duplicates
    FIRST); BOTH ECDF cumulatives then ride ONE range-partitioned prefix
    pass (operators/prefix.py::range_prefix_sum, list form — one range
    exchange, one offsets job, one in-partition window), and the grand
    totals are a 1-row aggregate broadcast back — no single-partition
    window anywhere (the pre-r6 ordered-cum + Window.partitionBy() pair
    funneled the distinct-value frame, worst-case data-proportional,
    through one task)."""
    from data_integration_spark.operators.prefix import range_prefix_sum

    ev = Catalog(spark, sf_dir)["events"]
    pooled = ev.filter(F.col("event_type").isin("click", "view")).select(
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("in_a"),
        F.when(F.col("event_type") != "click", 1).otherwise(0).alias("in_b"),
    )
    per_val = pooled.groupBy("value").agg(
        F.sum("in_a").alias("a_cnt"), F.sum("in_b").alias("b_cnt")
    )
    totals = per_val.agg(
        F.sum("a_cnt").alias("n_a"), F.sum("b_cnt").alias("n_b")
    )
    cum = range_prefix_sum(
        per_val, "value", ["a_cnt", "b_cnt"], out_col=["ca", "cb"]
    ).crossJoin(F.broadcast(totals))
    return cum.agg(
        F.round(
            F.max(
                F.abs(
                    F.col("ca").cast("double") / F.col("n_a")
                    - F.col("cb").cast("double") / F.col("n_b")
                )
            ),
            6,
        ).alias("ks_stat"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    )


@register(
    "q_raking_weights",
    oracle="""
    WITH samp AS (
      SELECT o_orderpriority AS pr, o_orderstatus AS st
      FROM orders
      WHERE (('0x' || SUBSTR(MD5('S' || CAST(o_orderkey AS VARCHAR)), 1, 8))
             ::UBIGINT) / 4294967296.0
            < CASE WHEN o_orderpriority = '1-URGENT' THEN 0.3 ELSE 0.7 END
    ),
    cells AS (
      SELECT pr, st, CAST(COUNT(*) AS DOUBLE) AS n
      FROM samp GROUP BY pr, st
    ),
    tp AS (SELECT o_orderpriority AS pr, CAST(COUNT(*) AS DOUBLE) AS t
           FROM orders GROUP BY 1),
    ts AS (SELECT o_orderstatus AS st, CAST(COUNT(*) AS DOUBLE) AS t
           FROM orders GROUP BY 1),
    w0 AS (SELECT pr, st, n, 1.0 AS w FROM cells),
    r1 AS (
      SELECT w0.pr, w0.st, n,
             w * (tp.t / SUM(w * n) OVER (PARTITION BY w0.pr)) AS w
      FROM w0 JOIN tp ON tp.pr = w0.pr
    ),
    c1 AS (
      SELECT r1.pr, r1.st, n,
             w * (ts.t / SUM(w * n) OVER (PARTITION BY r1.st)) AS w
      FROM r1 JOIN ts ON ts.st = r1.st
    ),
    r2 AS (
      SELECT c1.pr, c1.st, n,
             w * (tp.t / SUM(w * n) OVER (PARTITION BY c1.pr)) AS w
      FROM c1 JOIN tp ON tp.pr = c1.pr
    ),
    c2 AS (
      SELECT r2.pr, r2.st, n,
             w * (ts.t / SUM(w * n) OVER (PARTITION BY r2.st)) AS w
      FROM r2 JOIN ts ON ts.st = r2.st
    ),
    r3 AS (
      SELECT c2.pr, c2.st, n,
             w * (tp.t / SUM(w * n) OVER (PARTITION BY c2.pr)) AS w
      FROM c2 JOIN tp ON tp.pr = c2.pr
    ),
    c3 AS (
      SELECT r3.pr, r3.st, n,
             w * (ts.t / SUM(w * n) OVER (PARTITION BY r3.st)) AS w
      FROM r3 JOIN ts ON ts.st = r3.st
    )
    SELECT pr AS o_orderpriority, st AS o_orderstatus,
           CAST(n AS BIGINT) AS n_sample,
           ROUND(w, 6) AS rake_weight
    FROM c3
    """,
)
def q_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking / iterative proportional fitting — the classic
    survey-statistics reweighting op (thematically the reference's home
    turf: its EBP pipeline consumes design weights exactly like these,
    ``Rmd:100-140``): a deterministically BIASED subsample of orders
    (md5-acceptance 0.3 for urgent, 0.7 otherwise — urgent orders
    underrepresented ~2.3x) is raked in three IPF iterations so its
    weighted margins match the FULL population's priority and status
    margins. Output = per-cell rake weights; after the closing column
    pass the status margins match exactly and the priority margins to
    IPF convergence.

    The sample membership is the portable md5 stream and the cell table
    is BOUNDED (|priorities| x |statuses| <= 15 cells), so the whole
    iteration is exact bounded-frame arithmetic: each scaling pass is
    one window-sum over <= 15 rows, identical float ops in both engines
    (the oracle unrolls the same three iterations as CTE steps).

    Scale shape: two fact passes (sample cells + population margins),
    both map-side-partial aggregations to bounded frames; the IPF loop
    itself never touches data-proportional state — which is exactly why
    raking deploys fine at 100 TB."""
    o = Catalog(spark, sf_dir)["orders"]
    accept = F.when(
        F.col("o_orderpriority") == "1-URGENT", F.lit(0.3)
    ).otherwise(F.lit(0.7))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("S"), F.col("o_orderkey").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / 4294967296.0
    )
    samp = o.filter(u < accept).select(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_orderstatus").alias("st"),
    )
    cells = samp.groupBy("pr", "st").agg(
        F.count("*").cast("double").alias("n")
    )
    tp = o.groupBy(F.col("o_orderpriority").alias("pr")).agg(
        F.count("*").cast("double").alias("t_pr")
    )
    ts = o.groupBy(F.col("o_orderstatus").alias("st")).agg(
        F.count("*").cast("double").alias("t_st")
    )
    cur = (
        cells.join(F.broadcast(tp), "pr")
        .join(F.broadcast(ts), "st")
        .withColumn("w", F.lit(1.0))
    )
    w_pr = Window.partitionBy("pr")
    w_st = Window.partitionBy("st")
    for _ in range(3):
        cur = cur.withColumn(
            "w",
            F.col("w")
            * (F.col("t_pr") / F.sum(F.col("w") * F.col("n")).over(w_pr)),
        )
        cur = cur.withColumn(
            "w",
            F.col("w")
            * (F.col("t_st") / F.sum(F.col("w") * F.col("n")).over(w_st)),
        )
    return cur.select(
        F.col("pr").alias("o_orderpriority"),
        F.col("st").alias("o_orderstatus"),
        F.col("n").cast("long").alias("n_sample"),
        F.round("w", 6).alias("rake_weight"),
    )


@register(
    "q_cuped",
    oracle="""
    WITH t0 AS (SELECT MIN(ts) AS t0 FROM events),
    per_user AS (
      SELECT user_id,
             SUM(CASE WHEN ts < t0.t0 + INTERVAL 15 DAY
                      THEN value ELSE 0 END) AS pre,
             SUM(CASE WHEN ts >= t0.t0 + INTERVAL 15 DAY
                      THEN value ELSE 0 END) AS post
      FROM events, t0 GROUP BY user_id
    ),
    m AS (
      SELECT AVG(pre) AS m_pre, AVG(post) AS m_post,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM per_user
    ),
    cv AS (
      SELECT SUM((pre - m.m_pre) * (post - m.m_post)) AS sxy,
             SUM((pre - m.m_pre) * (pre - m.m_pre)) AS sxx,
             SUM((post - m.m_post) * (post - m.m_post)) AS syy
      FROM per_user, m
    ),
    th AS (SELECT ROUND(cv.sxy / cv.sxx, 6) AS theta FROM cv),
    adj AS (
      SELECT SUM((post - th.theta * (pre - m.m_pre) - m.m_post)
                 * (post - th.theta * (pre - m.m_pre) - m.m_post)) AS sadj
      FROM per_user, m, th
    )
    SELECT m.n AS n_users,
           th.theta,
           ROUND(cv.syy / (m.n - 1), 4) AS var_post,
           ROUND(adj.sadj / (m.n - 1), 4) AS var_adjusted,
           ROUND(1.0 - adj.sadj / cv.syy, 6) AS var_reduction
    FROM m, cv, th, adj
    """,
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) — the experimentation
    platform's standard trick for sharper A/B metrics: adjust each
    user's post-period metric by their PRE-period activity
    (adjusted = post - theta*(pre - mean_pre), theta = cov/var), and
    report how much metric variance the adjustment removes. With
    theta at its OLS optimum the reduction equals the squared
    pre/post correlation — more user-level memory in the metric means
    smaller experiments. On THIS corpus users are memoryless (uniform
    activity, iid values), so the measured reduction is honestly small
    (~0.1%): the certificate quantifies that, which is exactly what an
    experimentation platform runs it for before trusting CUPED on a new
    metric (the pytest pins both the numpy match and the honest
    magnitude).

    Numerics: the two-pass sum-of-squares discipline throughout
    (q_anova); theta is ROUNDED at 6dp before the adjustment pass so
    both engines adjust with the identical scalar (decoupling the
    float paths — the q_theil_sen intercept discipline).

    Scale shape: one user-keyed aggregation builds (pre, post), then
    three 1-row passes over the per-user frame (means, cross-products,
    adjusted variance) — each a full-parallel aggregation with map-side
    partials; the windows are pushdown-friendly timestamp CASE filters
    inside ONE scan."""
    ev = Catalog(spark, sf_dir)["events"]
    t0 = ev.agg(F.min("ts")).collect()[0][0]
    split = F.lit(t0) + F.expr("INTERVAL 15 DAYS")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, F.col("value")).otherwise(0.0)).alias(
            "pre"
        ),
        F.sum(
            F.when(F.col("ts") >= split, F.col("value")).otherwise(0.0)
        ).alias("post"),
    )
    # the means / theta are BOUNDED scalars — collect them (the EM/EBP
    # driver-scalar precedent) so the per-user frame is aggregated in
    # exactly two further passes instead of re-deriving its lineage per
    # branch; IEEE doubles round-trip the driver exactly
    m_pre, m_post, n = per_user.agg(
        F.avg("pre"), F.avg("post"), F.count("*")
    ).collect()[0]
    # theta and var_post are rounded IN-ENGINE (F.round = HALF_UP, the
    # same rule as DuckDB's ROUND) and the rounded scalars collected —
    # Python round() is banker's (half-to-even) and would diverge from
    # the oracle on an exact 6dp/4dp tie (the q_theil_sen discipline)
    sxy_e = F.sum((F.col("pre") - m_pre) * (F.col("post") - m_post))
    sxx_e = F.sum((F.col("pre") - m_pre) * (F.col("pre") - m_pre))
    syy_e = F.sum((F.col("post") - m_post) * (F.col("post") - m_post))
    syy, theta, var_post = per_user.agg(
        syy_e,
        F.round(sxy_e / sxx_e, 6),
        F.round(syy_e / (n - 1), 4),
    ).collect()[0]
    adj_expr = (
        F.col("post") - F.lit(theta) * (F.col("pre") - m_pre) - m_post
    )
    return per_user.agg(
        F.lit(n).cast("long").alias("n_users"),
        F.lit(theta).alias("theta"),
        F.lit(var_post).alias("var_post"),
        F.round(F.sum(adj_expr * adj_expr) / (n - 1), 4).alias(
            "var_adjusted"
        ),
        F.round(
            1.0 - F.sum(adj_expr * adj_expr) / syy, 6
        ).alias("var_reduction"),
    )

"""Second analytics block: user-journey paths, revenue concentration,
market-basket association rules, and the grouped string/mode reshaping
ops every BI surface ends up needing. All full-oracle; every aggregate
deterministic (explicit tie-breaks, rounded ratios)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog
from data_integration_spark.sources.local import local_table


@register(
    "q_event_paths",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             STRING_AGG(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users FROM paths GROUP BY path
    """,
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey paths: each user's first three events (by time,
    event_id tie-break) joined into a '>' path string, counted across
    users — the onboarding-flow Sankey feed. Path cardinality is bounded
    by |event_types|³, so the final aggregation is tiny regardless of
    corpus size; the per-user window is user-keyed (never global).

    Scale shape: one shuffle on user_id (window + the per-user collect
    ride the same exchange), one tiny path aggregation."""
    ev = Catalog(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "q_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, SUM(o_totalprice) AS rev
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rev, o_custkey,
             ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rk
      FROM rev
    ),
    agg AS (
      SELECT COUNT(*) AS n, SUM(rev) AS total, SUM(rk * rev) AS weighted
      FROM ranked
    ),
    top AS (
      SELECT SUM(r.rev) AS top_rev
      FROM ranked r, agg
      WHERE r.rk > agg.n - agg.n // 10
    )
    SELECT agg.n AS n_customers,
           ROUND(2.0 * agg.weighted / (agg.n * agg.total)
                 - (agg.n + 1.0) / agg.n, 6) AS gini,
           ROUND(top.top_rev / agg.total, 6) AS top_decile_share
    FROM agg, top
    """,
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration certificate: the Gini coefficient of
    customer revenue (G = 2·Σ rank·y / (n·Σy) − (n+1)/n over the
    ascending-sorted revenues) plus the top-decile revenue share — the
    inequality read-out a marketplace team tracks. The global rank rides
    ``range_row_number`` (range exchange + per-partition windows, no
    single-task sort); everything after is two scalar aggregations.

    Tie-break (rev, custkey) makes the rank — and therefore the hash —
    a total order on both engines."""
    from data_integration_spark.operators.prefix import range_row_number

    rev = (
        Catalog(spark, sf_dir)["orders"]
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    ranked = range_row_number(
        rev, [F.col("rev"), F.col("o_custkey")], out_col="rk"
    )
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("rev").alias("total"),
        F.sum(F.col("rk") * F.col("rev")).alias("weighted"),
    )
    # one broadcast of the 1-row scalar aggregate, consumed once: the
    # top-decile sum rides the same pass that carries n/total/weighted
    # forward (max over a broadcast constant), instead of embedding the
    # aggregation subtree twice in the plan (review r7c2)
    return (
        ranked.crossJoin(F.broadcast(agg))
        .agg(
            F.max("n").alias("n"),
            F.max("total").alias("total"),
            F.max("weighted").alias("weighted"),
            F.sum(
                F.when(
                    F.col("rk") > F.col("n") - F.floor(F.col("n") / 10),
                    F.col("rev"),
                )
            ).alias("top_rev"),
        )
        .select(
            F.col("n").alias("n_customers"),
            F.round(
                2.0 * F.col("weighted") / (F.col("n") * F.col("total"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            ).alias("gini"),
            F.round(F.col("top_rev") / F.col("total"), 6).alias(
                "top_decile_share"
            ),
        )
    )


_MIN_BOTH = 5


@register(
    "q_association_rules",
    oracle=f"""
    WITH inc AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n FROM inc
    ),
    part_n AS (
      SELECT l_partkey, COUNT(*) AS n_part FROM inc GROUP BY l_partkey
    ),
    cop AS (
      SELECT l1.l_partkey AS a, l2.l_partkey AS b, COUNT(*) AS n_both
      FROM inc l1
      JOIN inc l2 ON l1.l_orderkey = l2.l_orderkey
                 AND l1.l_partkey <> l2.l_partkey
      GROUP BY l1.l_partkey, l2.l_partkey
      HAVING COUNT(*) >= {_MIN_BOTH}
    )
    SELECT cop.a AS antecedent, cop.b AS consequent, cop.n_both,
           ROUND(CAST(cop.n_both AS DOUBLE) / n_orders.n, 6) AS support,
           ROUND(CAST(cop.n_both AS DOUBLE) / pa.n_part, 6) AS confidence,
           ROUND(CAST(cop.n_both AS DOUBLE) * n_orders.n
                 / (pa.n_part * pb.n_part), 6) AS lift
    FROM cop
    JOIN part_n pa ON pa.l_partkey = cop.a
    JOIN part_n pb ON pb.l_partkey = cop.b
    CROSS JOIN n_orders
    """,
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-purchased parts:
    support / confidence / lift for every directed rule a→b whose pair
    appears in ≥ 5 orders — the Apriori first-level output,
    computed set-at-a-time instead of candidate-generation loops.

    Scale shape: the pair self-join fans out C(basket, 2) per order
    (basket-size bounded, never corpus-bounded); the HAVING floor prunes
    the long tail before the two part-count joins (unique right keys →
    skew is partition-size only, AQE-splittable); the global order count
    broadcasts as one scalar row."""
    inc = (
        Catalog(spark, sf_dir)["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = inc.select(
        F.countDistinct("l_orderkey").alias("n")
    )
    part_n = inc.groupBy("l_partkey").agg(F.count("*").alias("n_part"))
    both = (
        inc.select("l_orderkey", F.col("l_partkey").alias("a"))
        .join(
            inc.select("l_orderkey", F.col("l_partkey").alias("b")),
            "l_orderkey",
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= _MIN_BOTH)
    )
    return (
        both.join(
            part_n.select(
                F.col("l_partkey").alias("a"), F.col("n_part").alias("na")
            ),
            "a",
        )
        .join(
            part_n.select(
                F.col("l_partkey").alias("b"), F.col("n_part").alias("nb")
            ),
            "b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            "n_both",
            F.round(F.col("n_both").cast("double") / F.col("n"), 6).alias(
                "support"
            ),
            F.round(F.col("n_both").cast("double") / F.col("na"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_both").cast("double")
                * F.col("n")
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "q_mode_per_group",
    oracle="""
    SELECT c_mktsegment, o_orderpriority AS mode_priority, n FROM (
      SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS n,
             ROW_NUMBER() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY COUNT(*) DESC, o.o_orderpriority
             ) AS rk
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment, o.o_orderpriority
    ) WHERE rk = 1
    """,
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode with a DETERMINISTIC tie-break: the most common
    order priority per market segment (count desc, then priority asc).
    Built-in ``mode()`` is tie-nondeterministic on both engines — a
    hash-checked mode must be count + rank, which is also the form that
    scales (grouped count shuffles once; the rank window runs over
    |segments|×|priorities| rows)."""
    cat = Catalog(spark, sf_dir)
    counts = (
        cat["orders"]
        .join(
            cat["customer"].select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("n"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        )
    )


@register(
    "q_group_concat",
    oracle="""
    WITH ranked AS (
      SELECT n.n_name, c.c_name, c.c_acctbal,
             ROW_NUMBER() OVER (
               PARTITION BY n.n_name
               ORDER BY c.c_acctbal DESC, c.c_custkey
             ) AS rk
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    )
    SELECT n_name, STRING_AGG(c_name, ',' ORDER BY rk) AS top_customers
    FROM ranked WHERE rk <= 5 GROUP BY n_name
    """,
)
def q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered group concatenation: each nation's top-5 customers by
    account balance as one CSV cell — the LISTAGG/STRING_AGG reshaping
    op. Spark has no ordered string_agg; the deterministic form is
    collect_list of (rank, value) structs, array_sort (struct order =
    field order, rank first), transform to values, array_join — all
    in-row after the grouped collect of ≤5 elements per group."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("n_name").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cat["customer"]
        .join(
            cat["nation"].select("n_nationkey", "n_name"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rk", "c_name"))),
                    lambda s: s["c_name"],
                ),
                ",",
            ).alias("top_customers")
        )
    )


@register(
    "q_rfm_segments",
    oracle="""
    WITH c AS (
      SELECT o_custkey AS custkey,
             DATE_DIFF('day', DATE '1970-01-01', CAST(MAX(o_orderdate) AS DATE))
               AS r_v,
             CAST(COUNT(*) AS DOUBLE) AS f_v,
             ROUND(SUM(o_totalprice), 2) AS m_v
      FROM orders GROUP BY o_custkey
    )
    SELECT custkey,
           CAST(NTILE(5) OVER (ORDER BY r_v, custkey) AS INTEGER) AS r_score,
           CAST(NTILE(5) OVER (ORDER BY f_v, custkey) AS INTEGER) AS f_score,
           CAST(NTILE(5) OVER (ORDER BY m_v, custkey) AS INTEGER) AS m_score
    FROM c
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer quintile scores for Recency (last
    order day), Frequency (order count), and Monetary (total spend, on
    the 2dp money grid) — ascending NTILE(5), so 5 = most recent / most
    frequent / highest spend.

    Three exact global NTILEs would normally cost three global sorts
    (and the prefix family's cache contract forbids merging three
    sequential range_ntile calls into one plan). Instead the three
    metrics go to LONG format — (metric_idx, value, custkey), 3N narrow
    rows — and ONE ``range_row_number`` over (metric_idx, value,
    custkey) ranks all three at once; per-metric rank falls out
    arithmetically (rn − idx·N) and the exact SQL NTILE bucket
    (first N mod k buckets one element larger) is closed-form from the
    rank. One range exchange total; the pivot back to wide is a
    customer-keyed aggregation.

    Tie policy: (value, custkey) is a total order, so quintile
    assignment is deterministic on both engines; M rides the rounded
    money grid like every ranked revenue in this registry."""
    from data_integration_spark.operators.prefix import range_ntile_multi

    o = Catalog(spark, sf_dir)["orders"]
    c = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.max("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("double")
        .alias("r_v"),
        F.count("*").cast("double").alias("f_v"),
        F.round(F.sum("o_totalprice"), 2).alias("m_v"),
    )
    return range_ntile_multi(
        c, "custkey", ["r_v", "f_v", "m_v"], n_buckets=5
    ).select(
        "custkey",
        F.col("r_v_bucket").alias("r_score"),
        F.col("f_v_bucket").alias("f_score"),
        F.col("m_v_bucket").alias("m_score"),
    )


# Portable deterministic uniform shared by the model-evaluation queries:
# first 8 hex chars of md5(tag || doc_id) as a 32-bit integer scaled to
# [0, 1) — both engines share md5, so labels drawn from it are exactly
# recomputable by the oracle (the q_hash_sample / q_weighted_sample
# pattern; xxhash64 would be faster but has no DuckDB twin).
def _md5_uniform(tag: str, key):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(tag), key.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )


def _md5_uniform_sql(tag: str, key_sql: str) -> str:
    return (
        f"(('0x' || SUBSTR(MD5('{tag}' || CAST({key_sql} AS VARCHAR)), 1, 8))"
        f"::UBIGINT) / 4294967296.0"
    )


@register(
    "q_roc_auc",
    oracle=f"""
    WITH lab AS (
      SELECT n_chars AS score,
             CASE WHEN {_md5_uniform_sql('L', 'doc_id')}
                  < 1.0 / (1.0 + EXP(-(n_chars - 280) / 70.0))
                  THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    v AS (
      SELECT score, SUM(y) AS n_pos, SUM(1 - y) AS n_neg
      FROM lab GROUP BY score
    ),
    c AS (
      SELECT n_pos, n_neg,
             COALESCE(SUM(n_neg) OVER (
               ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_neg_lt
      FROM v
    )
    SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
           CAST(SUM(n_neg) AS BIGINT) AS n_neg,
           ROUND(SUM(n_pos * cum_neg_lt + 0.5 * n_pos * n_neg)
                 / (SUM(n_pos) * SUM(n_neg)), 6) AS auc
    FROM c
    """,
)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of a document-quality score against binary labels —
    the classifier-evaluation readout every curation-model iteration
    needs. Uses the rank statistic identity AUC = P(s⁺ > s⁻) + ½P(tie):
    scores collapse to DISTINCT values with per-class counts (ties get
    midrank credit exactly), the below-value negative count rides ONE
    range-partitioned prefix sum (``operators/prefix.py`` — distinct
    scores can be data-proportional, so no single-task cumulative
    window), and the final AUC is one scalar aggregation.

    Labels are hash-Bernoulli from a known monotone link (md5-portable,
    so the oracle recomputes them exactly); score = n_chars exercises
    heavy ties — the midrank half-credit term is value-live at every SF.

    Scale shape: groupBy(score) with map-side partials, one range
    exchange over distinct scores, one 1-row fold. Nothing
    data-proportional reaches the driver."""
    from data_integration_spark.operators.prefix import range_prefix_sum

    docs = Catalog(spark, sf_dir)["documents"]
    p_true = 1.0 / (
        1.0 + F.exp(-(F.col("n_chars") - 280) / F.lit(70.0))
    )
    lab = docs.select(
        F.col("n_chars").alias("score"),
        (_md5_uniform("L", F.col("doc_id")) < p_true)
        .cast("int")
        .alias("y"),
    )
    v = lab.groupBy("score").agg(
        F.sum("y").alias("n_pos"),
        F.sum(1 - F.col("y")).alias("n_neg"),
    )
    pref = range_prefix_sum(
        v, "score", "n_neg", out_col="cum_neg_incl"
    )
    cum_lt = F.coalesce(
        F.col("cum_neg_incl") - F.col("n_neg"), F.lit(0)
    )
    return pref.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.round(
            F.sum(
                F.col("n_pos") * cum_lt
                + 0.5 * F.col("n_pos") * F.col("n_neg")
            )
            / (F.sum("n_pos") * F.sum("n_neg")),
            6,
        ).alias("auc"),
    )


@register(
    "q_calibration_bins",
    oracle=f"""
    WITH scored AS (
      SELECT 1.0 / (1.0 + EXP(-(n_chars - 300) / 80.0)) AS p_pred,
             CASE WHEN {_md5_uniform_sql('L', 'doc_id')}
                  < 1.0 / (1.0 + EXP(-(n_chars - 280) / 70.0))
                  THEN 1 ELSE 0 END AS y
      FROM documents
    )
    SELECT CAST(FLOOR(p_pred * 10) AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(p_pred), 6) AS mean_pred,
           ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS obs_rate,
           ROUND(AVG(POW(p_pred - y, 2)), 6) AS brier
    FROM scored
    GROUP BY 1
    """,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-calibration audit (reliability diagram + per-bin Brier
    score): predictions from one sigmoid link are binned by predicted
    probability decile and compared with the observed label rate drawn
    from a DIFFERENT (sharper) link — so the miscalibration the table
    reports is real, deterministic, and engine-recomputable (md5
    labels, same uniform stream as q_roc_auc).

    Scale shape: one map-side expression per row, ONE hash aggregation
    on ≤10 bin keys. The classic single-pass model-monitoring query."""
    docs = Catalog(spark, sf_dir)["documents"]
    p_pred = 1.0 / (
        1.0 + F.exp(-(F.col("n_chars") - 300) / F.lit(80.0))
    )
    p_true = 1.0 / (
        1.0 + F.exp(-(F.col("n_chars") - 280) / F.lit(70.0))
    )
    scored = docs.select(
        p_pred.alias("p_pred"),
        (_md5_uniform("L", F.col("doc_id")) < p_true)
        .cast("int")
        .alias("y"),
    )
    return (
        scored.groupBy(
            F.floor(F.col("p_pred") * 10).cast("int").alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("p_pred"), 6).alias("mean_pred"),
            F.round(
                F.sum("y").cast("double") / F.count("*"), 6
            ).alias("obs_rate"),
            F.round(
                F.avg(F.pow(F.col("p_pred") - F.col("y"), 2)), 6
            ).alias("brier"),
        )
    )


@register(
    "q_cohens_kappa",
    oracle=f"""
    WITH ann AS (
      SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
             CASE WHEN n_chars
                       + ({_md5_uniform_sql('K', 'doc_id')} - 0.5) * 120.0
                       >= 300 THEN 1 ELSE 0 END AS b
      FROM documents
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb,
             SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
      FROM ann
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(CAST(agree AS DOUBLE) / n, 6) AS po,
           ROUND((CAST(sa AS DOUBLE) / n) * (CAST(sb AS DOUBLE) / n)
                 + (1.0 - CAST(sa AS DOUBLE) / n)
                   * (1.0 - CAST(sb AS DOUBLE) / n), 6) AS pe,
           ROUND((CAST(agree AS DOUBLE) / n
                  - ((CAST(sa AS DOUBLE) / n) * (CAST(sb AS DOUBLE) / n)
                     + (1.0 - CAST(sa AS DOUBLE) / n)
                       * (1.0 - CAST(sb AS DOUBLE) / n)))
                 / (1.0
                    - ((CAST(sa AS DOUBLE) / n) * (CAST(sb AS DOUBLE) / n)
                       + (1.0 - CAST(sa AS DOUBLE) / n)
                         * (1.0 - CAST(sb AS DOUBLE) / n))), 6) AS kappa
    FROM s
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (Cohen's κ) between two deterministic
    binary annotators over the corpus — the labeling-pipeline QA gate
    (is human/model agreement better than chance?). Annotator A
    thresholds document length; annotator B thresholds a hash-perturbed
    length (md5-portable noise), so the marginals differ and chance
    agreement p_e is non-trivial. κ = (p_o − p_e) / (1 − p_e) from the
    2×2 confusion counts.

    Scale shape: ONE map-side-combinable aggregation (4 sums) over the
    corpus; the κ arithmetic runs on a 1-row frame. All ratios are
    integer-count divisions — bit-identical on both engines before
    rounding."""
    docs = Catalog(spark, sf_dir)["documents"]
    a = (F.col("n_chars") >= 300).cast("int")
    b = (
        F.col("n_chars")
        + (_md5_uniform("K", F.col("doc_id")) - 0.5) * 120.0
        >= 300
    ).cast("int")
    s = docs.select(a.alias("a"), b.alias("b")).agg(
        F.count("*").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum((F.col("a") == F.col("b")).cast("int")).alias("agree"),
    )
    n = F.col("n").cast("double")
    pa = F.col("sa") / n
    pb = F.col("sb") / n
    po = F.col("agree") / n
    pe = pa * pb + (1.0 - pa) * (1.0 - pb)
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


@register(
    "q_pr_curve",
    oracle=f"""
    WITH lab AS (
      SELECT n_chars AS score,
             CASE WHEN {_md5_uniform_sql('L', 'doc_id')}
                  < 1.0 / (1.0 + EXP(-(n_chars - 280) / 70.0))
                  THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    v AS (
      SELECT score, SUM(y) AS n_pos, SUM(1 - y) AS n_neg
      FROM lab GROUP BY score
    ),
    c AS (
      SELECT score,
             SUM(n_pos) OVER (
               ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS tp,
             SUM(n_neg) OVER (
               ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS fp,
             SUM(n_pos) OVER () AS p_total
      FROM v
    )
    SELECT score AS threshold, CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
           ROUND(CAST(tp AS DOUBLE) / p_total, 6) AS recall,
           CASE WHEN tp > 0 THEN
             ROUND(2.0 * (CAST(tp AS DOUBLE) / (tp + fp))
                       * (CAST(tp AS DOUBLE) / p_total)
                   / (CAST(tp AS DOUBLE) / (tp + fp)
                      + CAST(tp AS DOUBLE) / p_total), 6)
           ELSE 0.0 END AS f1
    FROM c
    """,
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at EVERY operating point in one pass: treat
    each distinct score as a candidate threshold (predict positive when
    score ≥ t); cumulative TP/FP in descending-score order give the
    whole PR curve at once — the threshold-picking table that accompanies
    q_roc_auc's single summary number (same md5 label stream, so the two
    queries describe one classifier).

    Scale shape: scores collapse to distinct values first (groupBy with
    map-side partials), then BOTH cumulative counts share ONE
    range-partitioned prefix pass (list-form ``range_prefix_sum`` over
    the negated score — distinct thresholds can be data-proportional,
    so no single-task window); the positive total is one bounded driver
    scalar (the q_tfidf n_docs precedent). All ratios are exact integer
    divisions — bit-identical before rounding.

    F1 at a TP=0 threshold is defined as 0 (the 0/0 guard fires
    identically on both engines)."""
    from data_integration_spark.operators.prefix import range_prefix_sum

    docs = Catalog(spark, sf_dir)["documents"]
    p_true = 1.0 / (
        1.0 + F.exp(-(F.col("n_chars") - 280) / F.lit(70.0))
    )
    lab = docs.select(
        F.col("n_chars").alias("score"),
        (_md5_uniform("L", F.col("doc_id")) < p_true)
        .cast("int")
        .alias("y"),
    )
    v = (
        lab.groupBy("score")
        .agg(
            F.sum("y").alias("n_pos"),
            F.sum(1 - F.col("y")).alias("n_neg"),
        )
        .withColumn("neg_score", -F.col("score"))
    )
    p_total = float(v.agg(F.sum("n_pos")).collect()[0][0])
    c = range_prefix_sum(
        v, "neg_score", ["n_pos", "n_neg"], out_col=["tp", "fp"]
    )
    prec = F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
    rec = F.col("tp").cast("double") / F.lit(p_total)
    return c.select(
        F.col("score").alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.when(
            F.col("tp") > 0,
            F.round(2.0 * prec * rec / (prec + rec), 6),
        )
        .otherwise(0.0)
        .alias("f1"),
    )


@register(
    "q_target_encoding",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y_c
      FROM orders
    ),
    cat AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_cat,
             SUM(y_c) AS sum_c
      FROM o GROUP BY o_orderpriority
    ),
    gstats AS (SELECT SUM(y_c) AS tot_c, COUNT(*) AS n FROM o)
    SELECT o.o_orderkey, o.o_orderpriority,
           ROUND(CAST(cat.sum_c - o.y_c AS DOUBLE) / 100.0
                 / (cat.n_cat - 1), 6) AS te_loo,
           ROUND((CAST(cat.sum_c - o.y_c AS DOUBLE) / 100.0
                  + 10.0 * (CAST(gstats.tot_c AS DOUBLE) / 100.0 / gstats.n))
                 / (cat.n_cat - 1 + 10.0), 6) AS te_smooth
    FROM o
    JOIN cat ON cat.o_orderpriority = o.o_orderpriority
    CROSS JOIN gstats
    """,
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature — the
    feature-engineering staple for tree/linear models on high-cardinality
    categories: each order's priority is replaced by the mean total price
    of OTHER orders in that priority ((sum_cat - y_i)/(n_cat - 1), the
    leakage-free form), plus the m=10-smoothed variant that shrinks rare
    categories toward the global mean ((sum_cat - y_i + m*mu) /
    (n_cat - 1 + m)).

    Numerics: category sums snap to exact integer CENTS (a sum of 2dp
    money is an exact integer-cents quantity — the established grid
    trick), each row's own y likewise, so the LOO numerator is an exact
    integer difference and the encoding is one deterministic float
    division per row — no multi-row float reduction survives to the
    hash.

    Scale shape: one groupBy on the category key (map-side partials,
    |categories| rows), broadcast back onto the fact scan, one global
    1-row aggregate for the smoothing prior. The fact table is scanned
    twice and shuffled never; output is row-per-input (the encoder is a
    projection, applied at training-set scale)."""
    o = Catalog(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y_c"),
    )
    cat = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_cat"), F.sum("y_c").alias("sum_c")
    )
    glob = o.agg(
        F.sum("y_c").alias("tot_c"), F.count("*").alias("n")
    )
    mu = F.col("tot_c").cast("double") / 100.0 / F.col("n")
    return (
        o.join(F.broadcast(cat), "o_orderpriority")
        .crossJoin(F.broadcast(glob))
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(
                (F.col("sum_c") - F.col("y_c")).cast("double")
                / 100.0
                / (F.col("n_cat") - 1),
                6,
            ).alias("te_loo"),
            F.round(
                (
                    (F.col("sum_c") - F.col("y_c")).cast("double") / 100.0
                    + 10.0 * mu
                )
                / (F.col("n_cat") - 1 + 10.0),
                6,
            ).alias("te_smooth"),
        )
    )


@register(
    "q_item_item_cf",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ni AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
           FROM b GROUP BY l_partkey),
    co AS (
      SELECT a.l_partkey AS i, b2.l_partkey AS j, CAST(COUNT(*) AS BIGINT) AS c
      FROM b a JOIN b b2
        ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    sym AS (
      SELECT i, j, c FROM co
      UNION ALL
      SELECT j AS i, i AS j, c FROM co
    ),
    scored AS (
      SELECT s.i, s.j, s.c,
             s.c / SQRT(CAST(na.n AS DOUBLE) * nb.n) AS cosine
      FROM sym s
      JOIN ni na ON na.l_partkey = s.i
      JOIN ni nb ON nb.l_partkey = s.j
    ),
    ranked AS (
      SELECT i, j, c, cosine,
             ROW_NUMBER() OVER (PARTITION BY i
                                ORDER BY cosine DESC, j) AS rk
      FROM scored
    )
    SELECT i AS item, j AS neighbor, c AS n_co_orders,
           ROUND(cosine, 6) AS cosine, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def q_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering from co-purchase data — the
    Amazon-style "customers also bought" neighborhood model: items are
    binary vectors over orders, similarity = co-occurrence cosine
    c_ij / sqrt(n_i * n_j), top-3 neighbors per item among pairs
    co-purchased at least twice (c >= 2 kills the coincidence floor).

    Scale shape — why this formulation survives 100 TB: the pair space
    is generated by a self-join WITHIN orders, and basket size is
    schema-bounded (<= 7 lineitems), so the fan-out is a constant
    C(7,2) per order — candidate volume is O(|orders|), never
    O(|items|^2); hot items inflate partition sizes only
    (AQE-splittable), not per-row fan-out. The cosine denominators join
    by item key; the top-3 is a PER-ITEM window (never global). Every
    similarity is one float op on exact integers, so both engines agree
    bit-for-bit before the 6dp round; ranking ties break on the
    neighbor id."""
    b = (
        Catalog(spark, sf_dir)["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    ni = b.groupBy("l_partkey").agg(F.count("*").alias("n"))
    a2, b2 = b.alias("a"), b.alias("b")
    co = (
        a2.join(
            b2,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("i"), F.col("b.l_partkey").alias("j")
        )
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )
    sym = co.unionAll(
        co.select(F.col("j").alias("i"), F.col("i").alias("j"), "c")
    )
    scored = (
        sym.join(ni.select(F.col("l_partkey").alias("i"), F.col("n").alias("n_i")), "i")
        .join(ni.select(F.col("l_partkey").alias("j"), F.col("n").alias("n_j")), "j")
        .select(
            "i",
            "j",
            "c",
            (
                F.col("c")
                / F.sqrt(F.col("n_i").cast("double") * F.col("n_j"))
            ).alias("cosine"),
        )
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("i").orderBy(F.col("cosine").desc(), "j")
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("neighbor"),
            F.col("c").alias("n_co_orders"),
            F.round("cosine", 6).alias("cosine"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


@register(
    "q_mutual_information",
    oracle="""
    WITH lab AS (
      SELECT o_orderpriority, o_orderstatus,
             CAST(MONTH(o_orderdate) AS VARCHAR) AS om,
             CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    longf AS (
      SELECT 'priority' AS feature, o_orderpriority AS level, y FROM lab
      UNION ALL
      SELECT 'status' AS feature, o_orderstatus AS level, y FROM lab
      UNION ALL
      SELECT 'month' AS feature, om AS level, y FROM lab
    ),
    cells AS (
      SELECT feature, level, y, CAST(COUNT(*) AS DOUBLE) AS c
      FROM longf GROUP BY 1, 2, 3
    ),
    nx AS (SELECT feature, level, SUM(c) AS nx FROM cells GROUP BY 1, 2),
    ny AS (SELECT feature, y, SUM(c) AS ny FROM cells GROUP BY 1, 2),
    nt AS (SELECT feature, SUM(c) AS n FROM cells GROUP BY 1),
    mi AS (
      SELECT c.feature,
             SUM(c.c / nt.n * LN(c.c * nt.n / (nx.nx * ny.ny))) AS mi
      FROM cells c
      JOIN nx ON nx.feature = c.feature AND nx.level = c.level
      JOIN ny ON ny.feature = c.feature AND ny.y = c.y
      JOIN nt ON nt.feature = c.feature
      GROUP BY c.feature
    ),
    hy AS (
      SELECT ny.feature, -SUM(ny.ny / nt.n * LN(ny.ny / nt.n)) AS h
      FROM ny JOIN nt ON nt.feature = ny.feature
      GROUP BY ny.feature
    ),
    nl AS (SELECT feature, CAST(COUNT(*) AS BIGINT) AS n_levels
           FROM nx GROUP BY feature)
    SELECT mi.feature, nl.n_levels,
           ROUND(mi.mi, 6) AS mi, ROUND(mi.mi / hy.h, 6) AS nmi
    FROM mi JOIN hy ON hy.feature = mi.feature
    JOIN nl ON nl.feature = mi.feature
    """,
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature ranking against a binary high-value
    label — the model-free feature-selection readout (I(X;Y) =
    sum p(x,y) ln(p(x,y)/(p(x)p(y)))), plus the H(Y)-normalized NMI so
    features of different cardinality compare fairly. Three candidate
    features (order priority, status, month) score in one plan.

    All probabilities come from exact integer counts; the only float
    reduction is the final sum over <= |levels|*2 cells per feature
    (bounded by construction), far inside the 6dp round.

    Scale shape: ONE pass over the fact table builds the long
    (feature, level, y) frame in-row (3x bounded fan-out), one hash
    aggregation collapses it to contingency cells — everything after is
    algebra on |levels|-sized frames. The 100 TB cost is exactly one
    map + one shuffle of cell partials."""
    o = Catalog(spark, sf_dir)["orders"]
    lab = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
        F.month("o_orderdate").cast("string").alias("month"),
        (F.col("o_totalprice") > 250000).cast("int").alias("y"),
    )
    longf = lab.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("priority").alias("feature"),
                    F.col("priority").alias("level"),
                ),
                F.struct(
                    F.lit("status").alias("feature"),
                    F.col("status").alias("level"),
                ),
                F.struct(
                    F.lit("month").alias("feature"),
                    F.col("month").alias("level"),
                ),
            )
        ).alias("fl"),
        "y",
    ).select(
        F.col("fl.feature").alias("feature"),
        F.col("fl.level").alias("level"),
        "y",
    )
    cells_dist = longf.groupBy("feature", "level", "y").agg(
        F.count("*").cast("double").alias("c")
    )
    # the contingency table is BOUNDED by construction (|levels|*2 <= 40
    # rows at any corpus size) — collapse it to the driver ONCE and run
    # the MI algebra on a literal frame, so the fact table is scanned and
    # shuffled exactly once (without this, each marginal's lineage would
    # re-run the fact aggregation)
    cells = local_table(
        spark,
        cells_dist.collect(), "feature string, level string, y int, c double"
    )
    nx = cells.groupBy("feature", "level").agg(F.sum("c").alias("nx"))
    ny = cells.groupBy("feature", "y").agg(F.sum("c").alias("ny"))
    nt = cells.groupBy("feature").agg(F.sum("c").alias("n"))
    # nx/ny/nt are |levels|-bounded by construction (<= 20 rows for any
    # corpus size) — forced broadcast is the bounded-frame case the hint
    # lint allows
    mi = (
        cells.join(F.broadcast(nx), ["feature", "level"])
        .join(F.broadcast(ny), ["feature", "y"])
        .join(F.broadcast(nt), "feature")
        .groupBy("feature")
        .agg(
            F.sum(
                F.col("c")
                / F.col("n")
                * F.log(
                    F.col("c") * F.col("n") / (F.col("nx") * F.col("ny"))
                )
            ).alias("mi")
        )
    )
    hy = (
        ny.join(F.broadcast(nt), "feature")
        .groupBy("feature")
        .agg(
            (-F.sum(
                F.col("ny") / F.col("n") * F.log(F.col("ny") / F.col("n"))
            )).alias("h")
        )
    )
    nl = nx.groupBy("feature").agg(F.count("*").alias("n_levels"))
    return (
        mi.join(F.broadcast(hy), "feature")
        .join(F.broadcast(nl), "feature")
        .select(
            "feature",
            "n_levels",
            F.round("mi", 6).alias("mi"),
            F.round(F.col("mi") / F.col("h"), 6).alias("nmi"),
        )
    )


@register(
    "q_ndcg",
    oracle=f"""
    WITH rel AS (
      SELECT doc_id, n_chars,
             CASE WHEN {_md5_uniform_sql('R', 'doc_id')} < 0.5 THEN 0
                  WHEN {_md5_uniform_sql('R', 'doc_id')} < 0.85 THEN 1
                  ELSE 2 END AS rel
      FROM documents
    ),
    top20 AS (
      SELECT rel,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS pos
      FROM rel QUALIFY pos <= 20
    ),
    dcg AS (
      SELECT SUM((POW(2.0, rel) - 1) / LOG2(pos + 1)) AS dcg FROM top20
    ),
    cnt AS (
      SELECT SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS n2,
             SUM(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS n1
      FROM rel
    ),
    ideal AS (
      SELECT SUM(
               CASE WHEN p.p <= cnt.n2 THEN 3.0 / LOG2(p.p + 1)
                    WHEN p.p <= cnt.n2 + cnt.n1 THEN 1.0 / LOG2(p.p + 1)
                    ELSE 0.0 END) AS idcg
      FROM UNNEST(GENERATE_SERIES(1, 20)) AS p(p), cnt
    )
    SELECT CAST(cnt.n2 AS BIGINT) AS n_rel2,
           CAST(cnt.n1 AS BIGINT) AS n_rel1,
           ROUND(dcg.dcg, 6) AS dcg,
           ROUND(ideal.idcg, 6) AS idcg,
           ROUND(dcg.dcg / ideal.idcg, 6) AS ndcg
    FROM dcg, ideal, cnt
    """,
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@20 of a document ranking against graded relevance — the
    ranking-quality metric that completes the eval suite (q_roc_auc /
    q_pr_curve judge CLASSIFIERS; NDCG judges the ORDER a retrieval
    system returns): system ranking = n_chars desc (the same
    length-as-quality proxy the other eval queries probe), relevance =
    deterministic 0/1/2 grades from the portable md5 stream, DCG with
    the (2^rel - 1)/log2(pos+1) gain, IDCG from the corpus-wide grade
    counts (the best possible top-20 needs only n_rel2/n_rel1 — no
    second sort).

    Scale shape: top-20 is TakeOrderedAndProject (never a global
    window over the corpus; the position index is a window over the
    20-row bounded frame), grade counts are one aggregation with
    map-side partials, the ideal curve is a 20-row generated series."""
    docs = Catalog(spark, sf_dir)["documents"]
    rel = F.when(_md5_uniform("R", F.col("doc_id")) < 0.5, 0).when(
        _md5_uniform("R", F.col("doc_id")) < 0.85, 1
    ).otherwise(2)
    scored = docs.select("doc_id", "n_chars", rel.alias("rel"))
    top20 = (
        scored.orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(20)
        .withColumn(
            "pos",
            F.row_number().over(
                Window.orderBy(F.col("n_chars").desc(), "doc_id")
            ),
        )
    )
    dcg = top20.agg(
        F.sum(
            (F.pow(F.lit(2.0), F.col("rel")) - 1)
            / F.log2(F.col("pos") + 1)
        ).alias("dcg")
    )
    cnt = scored.agg(
        F.sum((F.col("rel") == 2).cast("int")).alias("n2"),
        F.sum((F.col("rel") == 1).cast("int")).alias("n1"),
    )
    series = cnt.select(
        "n2", "n1", F.explode(F.sequence(F.lit(1), F.lit(20))).alias("p")
    )
    ideal = series.agg(
        F.sum(
            F.when(
                F.col("p") <= F.col("n2"), 3.0 / F.log2(F.col("p") + 1)
            )
            .when(
                F.col("p") <= F.col("n2") + F.col("n1"),
                1.0 / F.log2(F.col("p") + 1),
            )
            .otherwise(0.0)
        ).alias("idcg")
    )
    return (
        dcg.crossJoin(ideal)
        .crossJoin(cnt)
        .select(
            F.col("n2").cast("long").alias("n_rel2"),
            F.col("n1").cast("long").alias("n_rel1"),
            F.round("dcg", 6).alias("dcg"),
            F.round("idcg", 6).alias("idcg"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        )
    )


@register(
    "q_ece",
    oracle=f"""
    WITH scored AS (
      SELECT 1.0 / (1.0 + EXP(-(n_chars - 300) / 80.0)) AS p_pred,
             CASE WHEN {_md5_uniform_sql('L', 'doc_id')}
                  < 1.0 / (1.0 + EXP(-(n_chars - 280) / 70.0))
                  THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    bins AS (
      SELECT CAST(FLOOR(p_pred * 10) AS INTEGER) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             AVG(p_pred) AS mean_pred,
             CAST(SUM(y) AS DOUBLE) / COUNT(*) AS obs_rate
      FROM scored GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS nt FROM bins)
    SELECT CAST(tot.nt AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(*) FROM bins) AS BIGINT) AS n_bins,
           ROUND(SUM(bins.n * ABS(bins.mean_pred - bins.obs_rate))
                 / tot.nt, 6) AS ece,
           ROUND(MAX(ABS(bins.mean_pred - bins.obs_rate)), 6) AS mce
    FROM bins, tot
    GROUP BY tot.nt
    """,
)
def q_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected / maximum calibration error — the one-number summary of
    q_calibration_bins' reliability table (same two sigmoid links, same
    md5 label stream, so the two queries describe one classifier): ECE
    = bin-weighted mean |predicted - observed|, MCE = the worst bin.
    The number a model-monitoring dashboard alerts on when the
    classifier drifts out of calibration.

    Scale shape: one map-side expression per row, one <=10-key hash
    aggregation, one 1-row fold over the bin table."""
    docs = Catalog(spark, sf_dir)["documents"]
    p_pred = 1.0 / (
        1.0 + F.exp(-(F.col("n_chars") - 300) / F.lit(80.0))
    )
    p_true = 1.0 / (
        1.0 + F.exp(-(F.col("n_chars") - 280) / F.lit(70.0))
    )
    scored = docs.select(
        p_pred.alias("p_pred"),
        (_md5_uniform("L", F.col("doc_id")) < p_true)
        .cast("int")
        .alias("y"),
    )
    bins = scored.groupBy(
        F.floor(F.col("p_pred") * 10).cast("int").alias("bin")
    ).agg(
        F.count("*").alias("n"),
        F.avg("p_pred").alias("mean_pred"),
        (F.sum("y").cast("double") / F.count("*")).alias("obs_rate"),
    )
    gap = F.abs(F.col("mean_pred") - F.col("obs_rate"))
    return bins.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_bins"),
        F.round(F.sum(F.col("n") * gap) / F.sum("n"), 6).alias("ece"),
        F.round(F.max(gap), 6).alias("mce"),
    )


@register(
    "q_time_to_convert",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT (EPOCH_US(p.t_purchase) - EPOCH_US(v.t_view)) / 1000000.0
               AS sec
      FROM v JOIN p ON p.user_id = v.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_viewers,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / (SELECT COUNT(*) FROM v), 6) AS conversion_rate,
           ROUND(QUANTILE_CONT(sec, 0.5), 2) AS p50_seconds,
           ROUND(QUANTILE_CONT(sec, 0.9), 2) AS p90_seconds
    FROM lat
    """,
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert latency profile: per user, first 'view' to the
    first SUBSEQUENT 'purchase', summarized as conversion rate and
    exact p50/p90 latency — the funnel metric
    q_funnel_conversion_window's step counts don't expose (how LONG
    conversion takes, which sets retargeting windows and attribution
    horizons).

    Latencies are exact integer-microsecond differences scaled once;
    the percentiles interpolate between two such values (round 2 —
    interpolation-formula ulps are far below centiseconds).

    Scale shape: the funnel discipline — two conditional-MIN
    aggregations joined forward on user_id (never a window over the
    raw stream), then ONE distributed percentile aggregation over the
    |converted-users| latency frame."""
    ev = Catalog(spark, sf_dir)["events"]
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    n_viewers = v.count()
    lat = (
        v.join(p, "user_id")
        .select(
            (
                (F.unix_micros("t_purchase") - F.unix_micros("t_view"))
                / 1e6
            ).alias("sec")
        )
    )
    return lat.agg(
        F.lit(n_viewers).cast("long").alias("n_viewers"),
        F.count("*").cast("long").alias("n_converted"),
        F.round(
            F.count("*").cast("double") / F.lit(n_viewers), 6
        ).alias("conversion_rate"),
        F.round(F.expr("percentile(sec, 0.5)"), 2).alias("p50_seconds"),
        F.round(F.expr("percentile(sec, 0.9)"), 2).alias("p90_seconds"),
    )

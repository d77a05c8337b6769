"""Advanced relational surface: the remaining TPC-H query shapes plus the
SQL features that exercise Catalyst's subquery machinery — correlated
scalar subqueries (decorrelation), NOT IN (null-aware anti join), LATERAL
correlated derived tables, and recursive CTEs (Spark 4).

SQL-native features run through ``spark.sql`` over ``register_views``
(reference S3 bridge, zero data movement); set-shaped queries stay in the
DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog, register_views


@register(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): LEFT join with a join-side
    predicate (kept in the ON clause — pushing it to WHERE would silently
    drop order-less customers), per-customer count, then the histogram of
    counts.

    Scale shape: shuffle on custkey, count, then a second tiny shuffle on
    the count value; COUNT(o_orderkey) not COUNT(*) so unmatched customers
    land in the 0 bucket on both engines."""
    cat = Catalog(spark, sf_dir)
    return (
        cat["customer"]
        .join(
            cat["orders"].filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@register(
    "q_tpch_q17",
    oracle="""
    SELECT ROUND(CAST(ROUND(SUM(l.l_extendedprice), 2) / 7.0 AS DOUBLE), 6)
             AS avg_weekly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): correlated scalar
    subquery — revenue from lineitems whose quantity is below 20% of the
    part's average. Runs through spark.sql so Catalyst performs the
    decorrelation: the per-part AVG becomes one aggregate joined back on
    partkey, not a per-row re-scan (RewriteCorrelatedScalarSubquery).

    Quantities are integers in doubles, so the 0.2*avg threshold carries
    no cross-engine last-ulp risk; the revenue SUM is rounded to the
    price grid before the /7 division (NOTES.md float rule)."""
    register_views(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(
        """
        SELECT ROUND(CAST(ROUND(SUM(l.l_extendedprice), 2) / 7.0 AS DOUBLE), 6)
                 AS avg_weekly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (
            SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey)
        """
    )


@register(
    "q_tpch_q18",
    oracle="""
    SELECT c.c_name, o.o_orderkey,
           STRFTIME(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_totalprice,
           SUM(l.l_quantity) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): the IN-subquery-with-HAVING
    shape — orders whose total quantity tops 300, joined back to customer
    detail. The DataFrame form makes the decorrelated plan explicit: the
    HAVING aggregate becomes a keys frame semi-joined into the fact chain.

    Scale shape: the keys frame reduces map-side before its shuffle; the
    semi join carries only orderkeys (AQE broadcasts the tiny survivor
    set); quantity totals are integer-valued doubles, so SUM is exact on
    both engines."""
    cat = Catalog(spark, sf_dir)
    big = (
        cat["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 300)
        .select("l_orderkey")
    )
    return (
        cat["orders"]
        .join(big.withColumnRenamed("l_orderkey", "bk"),
              F.col("o_orderkey") == F.col("bk"), "left_semi")
        .join(cat["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(cat["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
    )


@register(
    "q_tpch_q22",
    oracle="""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-customer sales opportunity): uncorrelated
    scalar subquery (global average balance) + NOT EXISTS (anti join) —
    above-average-balance customers with no urgent orders, rolled up by
    nation.

    Float note: the AVG threshold is scalar and both engines compare the
    same 2dp balances against their own avg; a customer within last-ulp
    of the global mean could in principle flip, so the comparison uses
    the grid-rounded average (exact on both engines)."""
    cat = Catalog(spark, sf_dir)
    cust = cat["customer"]
    # round(sum,2)/n: both engines do the same IEEE ops on the same grid
    avg_row = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg((F.round(F.sum("c_acctbal"), 2) / F.count("*")).alias("a"))
    )
    urgent = cat["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(F.broadcast(avg_row))  # 1-row scalar frame
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "q_not_in_subquery",
    oracle="""
    SELECT p_partkey, p_brand FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
                            WHERE l_quantity > 45.0)
    """,
)
def q_not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery: parts never shipped in bulk. Distinct from NOT
    EXISTS — NOT IN is NULL-aware (one NULL in the subquery empties the
    result), so Catalyst plans a null-aware anti join rather than a plain
    LeftAnti. Runs through spark.sql to exercise exactly that planner
    path."""
    register_views(spark, sf_dir, ("part", "lineitem"))
    return spark.sql(
        """
        SELECT p_partkey, p_brand FROM part
        WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
                                WHERE l_quantity > 45.0)
        """
    )


@register(
    "q_lateral_topk",
    oracle="""
    SELECT n.n_name, c.c_name, c.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
    """,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated derived table: top-2 customers per nation
    written as a per-row subquery. Catalyst decorrelates it into the same
    window/limit machinery as q_rank_window — the feature matters for SQL
    users porting TOP-N-per-group queries verbatim."""
    register_views(spark, sf_dir, ("nation", "customer"))
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM nation n, LATERAL (
          SELECT c_name, c_acctbal FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        """
    )


@register(
    "q_recursive_cte",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months
      WHERE m < DATE '1996-12-01'
    )
    SELECT STRFTIME(months.m, '%Y-%m') AS month,
           CAST(COALESCE(cnt, 0) AS BIGINT) AS n_orders
    FROM months LEFT JOIN (
      SELECT DATE_TRUNC('month', o_orderdate) AS mo, COUNT(*) AS cnt
      FROM orders GROUP BY 1
    ) o ON o.mo = months.m
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): generate a 24-month calendar spine by
    recursion, left-join monthly order counts so empty months survive —
    the gap-filling idiom reporting pipelines need and the litmus test of
    recursive-query support.

    Scale shape: the recursion produces 24 driver-side rows (bounded by
    the WHERE, not by data size); the only data-sized work is one
    month-truncated aggregate."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT m + INTERVAL '1' MONTH FROM months
          WHERE m < DATE '1996-12-01'
        )
        SELECT date_format(months.m, 'yyyy-MM') AS month,
               CAST(COALESCE(cnt, 0) AS BIGINT) AS n_orders
        FROM months LEFT JOIN (
          SELECT DATE_TRUNC('month', o_orderdate) AS mo, COUNT(*) AS cnt
          FROM orders GROUP BY 1
        ) o ON o.mo = CAST(months.m AS TIMESTAMP)
        """
    )

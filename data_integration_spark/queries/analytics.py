"""Classic analytics t2 queries (TPC-H-shaped) — end-user query coverage
beyond the reference's surface: multi-predicate aggregation reports, top-k
over joins, multi-way join rollups. Grid-stable float handling throughout
(rounded sums + IEEE division; see queries/__init__ conventions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog
from data_integration_spark.sources.local import local_table


@register(
    "q_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6)
             AS sum_charge,
           ROUND(SUM(l_quantity), 2) / COUNT(*) AS avg_qty,
           ROUND(SUM(l_discount), 2) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: date filter (pushed to the scan) +
    8-output grouped aggregation with map-side partials."""
    li = Catalog(spark, sf_dir)["lineitem"].filter(
        F.col("l_shipdate") <= F.lit("2024-09-01 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 6).alias("sum_charge"),
        (F.round(F.sum("l_quantity"), 2) / F.count("*")).alias("avg_qty"),
        (F.round(F.sum("l_discount"), 2) / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "q_top_orders",
    oracle="""
    SELECT o_orderkey, revenue, rnk FROM (
      SELECT o_orderkey, revenue,
             ROW_NUMBER() OVER (ORDER BY revenue DESC, o_orderkey) AS rnk
      FROM (
        SELECT o.o_orderkey,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'O'
        GROUP BY o.o_orderkey
      )
    ) WHERE rnk <= 10
    """,
)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped top-k: join + grouped revenue + deterministic top-10
    (grid-rounded revenue, key tie-break — stable under any engine).

    Scale shape (VERDICT r13 #2): the top-10 is ``orderBy().limit(10)`` —
    Catalyst compiles that to TakeOrderedAndProject, a DISTRIBUTED partial
    top-k (each task keeps its local 10, the driver merges ≤ 10·tasks
    rows) — and only the 10 surviving rows are numbered by the window.
    The previous shape (global ``row_number`` window, THEN filter rnk≤10)
    funneled the entire order-level aggregate — billions of rows at
    100 TB — through one `WindowExec: No Partition Defined` task. Same
    answer (the (revenue desc, o_orderkey) order is total), no funnel;
    result-preservation pinned in tests/test_topk_refactor_pins.py."""
    cat = Catalog(spark, sf_dir)
    rev = (
        cat["orders"]
        .filter(F.col("o_orderstatus") == "O")
        .join(cat["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    top = rev.orderBy(F.col("revenue").desc(), "o_orderkey").limit(10)
    # the window now sees ≤ 10 rows — numbering the survivors, not sorting
    # the corpus
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("o_orderkey", "revenue", "rnk")
    )


@register(
    "q_revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multi-join rollup: fact-fact shuffle join + broadcast
    dimension chain, one grouped aggregation."""
    cat = Catalog(spark, sf_dir)
    return (
        cat["lineitem"]
        .join(cat["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            # customer grows with the data — no forced broadcast (AQE decides);
            # nation/region below are genuinely bounded dims and keep the hint
            cat["customer"].select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(cat["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(cat["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "q_array_functions",
    oracle="""
    SELECT vec_id,
           LEN(embedding) AS dim,
           ROUND(LIST_SUM(LIST_TRANSFORM(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sq_norm,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val
    FROM embeddings
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native array-function surface over the embedding column (size /
    element access / transform-aggregate) — double-promoted like ann.py."""
    emb = Catalog(spark, sf_dir)["embeddings"]
    e = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(
            F.aggregate(e, F.lit(0.0), lambda a, x: a + x * x), 6
        ).alias("sq_norm"),
        F.round(F.element_at(e, 1), 6).alias("first_val"),
    )


@register(
    "q_tpch_q3",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           STRFTIME(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) on the testdata schema: selective
    segment/date filters pushed to all three scans, fact-fact shuffle join,
    grouped revenue, global top-10.

    Scale shape: both date filters reach the parquet scans (row-group
    pruning at 100 TB); the customer side reduces to one segment before the
    join so AQE sizes it for broadcast when it fits; top-10 is a
    TakeOrderedAndProject, never a full sort."""
    cat = Catalog(spark, sf_dir)
    cutoff = "1995-03-15"
    return (
        cat["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .join(
            cat["orders"].filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            cat["lineitem"].filter(
                F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_orderpriority").alias("priority"),
        )
    )


@register(
    "q_referential_integrity",
    oracle="""
    SELECT 'orders_orphan_custkey' AS check_name,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS violations
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'customer_orphan_nationkey',
           (SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'orders_null_keys',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderkey IS NULL OR o_custkey IS NULL)
    """,
)
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: orphan-foreign-key and null-key counts across the
    fact/dim graph — the pre-flight check a 100 TB ingest runs before
    training-data jobs trust the join keys.

    Scale shape: each check is a LEFT ANTI join (map-side when the dim
    side broadcasts, shuffle otherwise) reduced to a scalar count; the
    four scalars union into a 4-row report, so nothing fact-sized ever
    reaches the driver."""
    cat = Catalog(spark, sf_dir)
    orders, customer = cat["orders"], cat["customer"]
    lineitem, nation = cat["lineitem"], cat["nation"]

    def count_scalar(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count("*").alias("violations"),
        )

    checks = [
        count_scalar(
            "orders_orphan_custkey",
            orders.join(
                customer, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
            ),
        ),
        count_scalar(
            "lineitem_orphan_orderkey",
            lineitem.join(
                orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti"
            ),
        ),
        count_scalar(
            "customer_orphan_nationkey",
            customer.join(
                nation, F.col("c_nationkey") == F.col("n_nationkey"), "left_anti"
            ),
        ),
        count_scalar(
            "orders_null_keys",
            orders.filter(
                F.col("o_orderkey").isNull() | F.col("o_custkey").isNull()
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@register(
    "q_tpch_q5",
    oracle="""
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local-supplier volume): six-way join — two fact tables,
    three dimension hops, and the customer-supplier same-nation predicate —
    aggregated to per-nation revenue.

    Scale shape: the region/nation dims broadcast (bounded), the
    customer->orders and orders->lineitem joins shuffle on their keys, and
    the c_nationkey = s_nationkey co-location predicate rides along as a
    join condition (never a post-filter over a wider join). The date range
    is pushed to the orders scan for row-group pruning; per-nation partial
    aggregation happens map-side before the final 25-row shuffle."""
    cat = Catalog(spark, sf_dir)
    orders = cat["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    asia_nations = (
        cat["nation"]
        .join(
            cat["region"].filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    return (
        cat["customer"]
        .select("c_custkey", "c_nationkey")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            cat["lineitem"].select(
                "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            cat["supplier"].select("s_suppkey", "s_nationkey"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("nation"))
    )


@register(
    "q_funnel_analysis",
    oracle="""
    WITH a AS (
      SELECT user_id, MIN(ts) AS ta FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    b AS (
      SELECT a.user_id, MIN(e.ts) AS tb
      FROM a JOIN events e
        ON e.user_id = a.user_id AND e.event_type = 'click' AND e.ts > a.ta
      GROUP BY a.user_id
    ),
    c AS (
      SELECT b.user_id, MIN(e.ts) AS tc
      FROM b JOIN events e
        ON e.user_id = b.user_id AND e.event_type = 'purchase'
           AND e.ts > b.tb
      GROUP BY b.user_id
    )
    SELECT a.user_id,
           CAST(CASE WHEN c.user_id IS NOT NULL THEN 3
                     WHEN b.user_id IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT) AS reached_stage
    FROM a
    LEFT JOIN b ON b.user_id = a.user_id
    LEFT JOIN c ON c.user_id = a.user_id
    """,
)
def q_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-step funnel (view → click → purchase, strictly
    increasing event time): per user, the furthest stage reached — the
    product-analytics staple. Each stage is one conditional MIN
    aggregation joined forward (stage N's clock starts at stage N−1's
    first qualifying event), so the whole funnel is three hash
    aggregations + keyed joins — no window over the raw event stream,
    no per-user event collection; AQE broadcasts the shrinking stage
    frames as they fall under the threshold. Stage frames shrink
    monotonically, so at 100 TB the expensive join is always
    events×(previous stage), never events×events."""
    ev = Catalog(spark, sf_dir)["events"]
    a = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ta"))
    )
    b = (
        a.join(ev.withColumnRenamed("user_id", "u2"),
               (F.col("u2") == F.col("user_id"))
               & (F.col("event_type") == "click")
               & (F.col("ts") > F.col("ta")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tb"))
    )
    c = (
        b.join(ev.withColumnRenamed("user_id", "u3"),
               (F.col("u3") == F.col("user_id"))
               & (F.col("event_type") == "purchase")
               & (F.col("ts") > F.col("tb")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    reached = (
        F.when(F.col("tc").isNotNull(), 3)
        .when(F.col("tb").isNotNull(), 2)
        .otherwise(1)
    )
    return (
        a.join(b, "user_id", "left")
        .join(c, "user_id", "left")
        .select("user_id", reached.cast("long").alias("reached_stage"))
    )


@register(
    "q_funnel_conversion_window",
    oracle="""
    WITH a AS (
      SELECT user_id, MIN(ts) AS ta FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    b AS (
      SELECT a.user_id, MIN(e.ts) AS tb
      FROM a JOIN events e
        ON e.user_id = a.user_id AND e.event_type = 'click'
           AND e.ts > a.ta AND e.ts <= a.ta + INTERVAL 48 HOUR
      GROUP BY a.user_id
    ),
    c AS (
      SELECT b.user_id, MIN(e.ts) AS tc
      FROM b JOIN events e
        ON e.user_id = b.user_id AND e.event_type = 'purchase'
           AND e.ts > b.tb AND e.ts <= b.tb + INTERVAL 48 HOUR
      GROUP BY b.user_id
    )
    SELECT CAST(1 AS BIGINT) AS stage,
           CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_users,
           ROUND(1.0, 6) AS conversion
    UNION ALL
    SELECT 2, (SELECT COUNT(*) FROM b),
           ROUND(CAST((SELECT COUNT(*) FROM b) AS DOUBLE)
                 / (SELECT COUNT(*) FROM a), 6)
    UNION ALL
    SELECT 3, (SELECT COUNT(*) FROM c),
           ROUND(CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
                 / (SELECT COUNT(*) FROM a), 6)
    """,
)
def q_funnel_conversion_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with CONVERSION WINDOWS — each step must happen within 48
    hours of the previous step's first qualifying event (the form
    product analytics actually ships: unbounded funnels overcount).
    Emits the classic step table (stage, n_users, conversion vs stage
    1). Same shrinking-stage-frame shape as q_funnel_analysis — three
    conditional MIN aggregations joined forward with a time-band
    predicate; the step counts are three scalars assembled into the
    3-row report."""
    ev = Catalog(spark, sf_dir)["events"]
    a = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ta"))
    )
    b = (
        a.join(
            ev.withColumnRenamed("user_id", "u2"),
            (F.col("u2") == F.col("user_id"))
            & (F.col("event_type") == "click")
            & (F.col("ts") > F.col("ta"))
            & (F.col("ts") <= F.col("ta") + F.expr("INTERVAL 48 HOURS")),
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tb"))
    )
    c = (
        b.join(
            ev.withColumnRenamed("user_id", "u3"),
            (F.col("u3") == F.col("user_id"))
            & (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("tb"))
            & (F.col("ts") <= F.col("tb") + F.expr("INTERVAL 48 HOURS")),
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    na, nb, nc = a.count(), b.count(), c.count()

    return local_table(
        spark,
        [
            {"stage": 1, "n_users": na, "conversion": 1.0},
            {"stage": 2, "n_users": nb, "conversion": round(nb / na, 6)},
            {"stage": 3, "n_users": nc, "conversion": round(nc / na, 6)},
        ],
        "stage long, n_users long, conversion double",
    )


@register(
    "q_attribution",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts,
             'ch' || CAST(CAST(props->>'k' AS BIGINT) % 5 AS VARCHAR)
               AS channel
      FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    cand AS (
      SELECT p.event_id, p.value, c.channel,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts, c.channel) AS rn_first,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.channel) AS rn_last
      FROM purch p JOIN clicks c
        ON c.user_id = p.user_id AND c.ts <= p.ts
    )
    SELECT model, channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(SUM(value), 2) AS revenue
    FROM (
      SELECT 'first_touch' AS model, channel, value FROM cand WHERE rn_first = 1
      UNION ALL
      SELECT 'last_touch', channel, value FROM cand WHERE rn_last = 1
    ) GROUP BY model, channel
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: each purchase's value credited to the
    user's FIRST-touch and LAST-touch click channel (channel derived
    from the click's properties), aggregated to the
    (model, channel) revenue report — the event-analytics complement of
    the funnel queries. One user-keyed purchases×clicks join (fan-out
    bounded by clicks-per-user), a per-purchase rank window (partitioned
    by purchase id — never global), and one final aggregation. Revenue
    sums round on the data's 2dp grid."""
    ev = Catalog(spark, sf_dir)["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("c_ts"),
        F.concat(
            F.lit("ch"),
            (F.get_json_object("props", "$.k").cast("bigint") % 5).cast(
                "string"
            ),
        ).alias("channel"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    cand = purch.join(
        clicks,
        (F.col("c_uid") == F.col("user_id")) & (F.col("c_ts") <= F.col("ts")),
    )
    w_first = Window.partitionBy("event_id").orderBy("c_ts", "channel")
    w_last = Window.partitionBy("event_id").orderBy(
        F.col("c_ts").desc(), "channel"
    )
    ranked = cand.select(
        "event_id",
        "value",
        "channel",
        F.row_number().over(w_first).alias("rn_first"),
        F.row_number().over(w_last).alias("rn_last"),
    )
    first = ranked.filter(F.col("rn_first") == 1).select(
        F.lit("first_touch").alias("model"), "channel", "value"
    )
    last = ranked.filter(F.col("rn_last") == 1).select(
        F.lit("last_touch").alias("model"), "channel", "value"
    )
    return (
        first.unionByName(last)
        .groupBy("model", "channel")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
    )


@register(
    "q_ab_conversion_ztest",
    oracle="""
    WITH assign AS (
      SELECT DISTINCT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
      FROM events
    ),
    conv AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND value > 150
    ),
    per AS (
      SELECT a.variant,
             COUNT(*) AS n_users,
             SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
               AS n_converted
      FROM assign a LEFT JOIN conv c ON c.user_id = a.user_id
      GROUP BY a.variant
    ),
    wide AS (
      SELECT
        (SELECT n_users FROM per WHERE variant = 'A') AS na,
        (SELECT n_converted FROM per WHERE variant = 'A') AS ca,
        (SELECT n_users FROM per WHERE variant = 'B') AS nb,
        (SELECT n_converted FROM per WHERE variant = 'B') AS cb
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(ca AS BIGINT) AS conv_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(cb AS BIGINT) AS conv_b,
           ROUND(CAST(ca AS DOUBLE) / na, 6) AS rate_a,
           ROUND(CAST(cb AS DOUBLE) / nb, 6) AS rate_b,
           CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN NULL
                ELSE ROUND(
                  (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                  / SQRT(((ca + cb) / CAST(na + nb AS DOUBLE))
                         * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))
                         * (1.0 / na + 1.0 / nb)),
                  6
                ) END AS z_stat
    FROM wide
    """,
)
def q_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment read-out — the PROPORTION companion of q_ab_test's
    Welch means test: users deterministically bucketed into
    variants (hash-free id parity here; production uses the engine's
    hash-bucket primitives), per-variant conversion to 'purchase', and
    the pooled two-sample proportion z-statistic in closed form — the
    experimentation-platform core, and a statistics-layer op (the
    reference's comparison-of-proportions flavor) expressed as two
    aggregations + one 1-row assembly. All data-sized work is two
    distinct/count aggregations on user_id; the z arithmetic runs on
    four scalars."""
    ev = Catalog(spark, sf_dir)["events"]
    assign = ev.select("user_id").distinct().withColumn(
        "variant",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B"),
    )
    # conversion = a HIGH-VALUE purchase (> 150): on the synthetic events
    # every user makes some purchase, so a bare purchased-at-all flag
    # would be 100% in both arms and the z statistic a dead NULL path
    # (the r5 value-dead-path lesson) — the threshold keeps both
    # converted and unconverted users present at every SF
    conv = (
        ev.filter(
            (F.col("event_type") == "purchase") & (F.col("value") > 150)
        )
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    per = {
        r["variant"]: (r["n_users"], r["n_converted"])
        for r in assign.join(conv, "user_id", "left")
        .groupBy("variant")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.coalesce("converted", F.lit(0))).alias("n_converted"),
        )
        .collect()
    }
    na, ca = per["A"]
    nb, cb = per["B"]
    pooled = (ca + cb) / float(na + nb)
    import math as _math

    # degenerate experiments (0% or 100% pooled conversion) have no
    # defined z statistic — NULL on both engines, never a crash
    z = (
        None
        if pooled in (0.0, 1.0)
        else round(
            ((ca / na) - (cb / nb))
            / _math.sqrt(pooled * (1 - pooled) * (1.0 / na + 1.0 / nb)),
            6,
        )
    )

    return local_table(
        spark,
        [
            {
                "n_a": na,
                "conv_a": ca,
                "n_b": nb,
                "conv_b": cb,
                "rate_a": round(ca / na, 6),
                "rate_b": round(cb / nb, 6),
                "z_stat": z,
            }
        ],
        (
            "n_a long, conv_a long, n_b long, conv_b long, rate_a double,"
            " rate_b double, z_stat double"
        ),
    )


@register(
    "q_kaplan_meier",
    oracle="""
    WITH span AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
      FROM events GROUP BY user_id
    ),
    hit AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS dh
      FROM events WHERE event_type = 'purchase' AND value > 150
      GROUP BY user_id
    ),
    subj AS (
      SELECT s.user_id,
             CASE WHEN h.dh IS NOT NULL THEN DATE_DIFF('day', s.d0, h.dh)
                  ELSE DATE_DIFF('day', s.d0, s.d1) END AS dur,
             CASE WHEN h.dh IS NOT NULL THEN 1 ELSE 0 END AS observed
      FROM span s LEFT JOIN hit h ON h.user_id = s.user_id
    ),
    t AS (
      SELECT dur AS t, SUM(observed) AS d, COUNT(*) AS ending
      FROM subj GROUP BY dur
    ),
    km AS (
      SELECT t, d, SUM(ending) OVER (ORDER BY t DESC) AS n_at_risk FROM t
    )
    SELECT CAST(t AS BIGINT) AS duration_days,
           CAST(d AS BIGINT) AS n_events,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           ROUND(EXP(SUM(LN(1.0 - CAST(d AS DOUBLE) / n_at_risk))
                     OVER (ORDER BY t)), 6) AS survival
    FROM km WHERE d > 0 ORDER BY t
    """,
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator — survival analysis for
    time-to-first-high-value-purchase: subjects are users, duration runs
    from first activity to the first qualifying purchase (event
    OBSERVED) or to last activity (right-CENSORED — users who never
    qualify leave the risk set without an event; both branches are
    value-exercised at every SF). Ŝ(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) computed
    as exp of a running log-sum.

    Scale shape: the data-sized work is two per-user aggregations and a
    user-keyed left join; everything after runs on the DURATION-level
    table, whose size is bounded by the observation window in days
    (≤ 31 here, never by users/events) — the cumulative windows over it
    are the documented bounded-frame exception (q_mom_growth class), not
    a data-proportional global sort."""
    ev = Catalog(spark, sf_dir)["events"]
    span = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    hit = (
        ev.filter(
            (F.col("event_type") == "purchase") & (F.col("value") > 150)
        )
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("dh"))
    )
    subj = span.join(hit, "user_id", "left").select(
        F.datediff(
            F.coalesce("dh", "d1"), F.col("d0")
        ).alias("dur"),
        F.col("dh").isNotNull().cast("int").alias("observed"),
    )
    t = subj.groupBy("dur").agg(
        F.sum("observed").alias("d"), F.count("*").alias("ending")
    )
    w_desc = (
        Window.orderBy(F.col("dur").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_asc = (
        Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    km = t.withColumn("n_at_risk", F.sum("ending").over(w_desc))
    surv = F.round(
        F.exp(
            F.sum(
                F.log(1.0 - F.col("d").cast("double") / F.col("n_at_risk"))
            ).over(w_asc)
        ),
        6,
    )
    return (
        km.withColumn("survival", surv)
        .filter(F.col("d") > 0)
        .select(
            F.col("dur").cast("long").alias("duration_days"),
            F.col("d").cast("long").alias("n_events"),
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
            "survival",
        )
    )


@register(
    "q_ewma_smoothing",
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             LIST(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(LEN(vals) AS BIGINT) AS n_events,
           ROUND(REDUCE(vals,
                        (acc, x) -> acc * 0.9 + 0.1 * x), 6) AS ewma
    FROM ordered
    """,
)
def q_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values
    (α = 0.1, first-value initialization) — the time-series smoothing
    primitive behind anomaly baselines and engagement scores. EWMA is a
    sequential recurrence, which SQL windows cannot express directly;
    both engines run it as an in-row FOLD over the user's time-ordered
    value array (Spark ``F.aggregate``, DuckDB ``REDUCE`` — identical
    first-element initialization and left-to-right float operation
    order, so the doubles agree bit-for-bit before the 6dp round).

    Scale shape: one groupBy(user) collect + fold — per-user state is
    bounded by that user's event count (the same per-key-bounded
    argument as sessionization); no global ordering anywhere."""
    ev = Catalog(spark, sf_dir)["events"]
    vals = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
            )
        ),
        lambda s: s["value"].cast("double"),
    )
    per = ev.groupBy("user_id").agg(vals.alias("vals"))
    first = F.element_at("vals", 1)
    rest = F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0)))
    ewma = F.aggregate(
        rest, first, lambda acc, x: acc * F.lit(0.9) + F.lit(0.1) * x
    )
    return per.select(
        "user_id",
        F.size("vals").cast("long").alias("n_events"),
        F.round(ewma, 6).alias("ewma"),
    )


@register(
    "q_incremental_agg_maintenance",
    # equivalence certificate for incremental materialized-view
    # maintenance: merging a delta batch's PARTIAL aggregates into the
    # base MV must equal recomputing the aggregate from scratch —
    # count/sum merge is exact, so the mismatch count is a literal 0.
    oracle="""
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_groups,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM orders
    """,
)
def q_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance — the warehouse pattern
    that keeps a 100 TB aggregate fresh without rescanning history:
    the per-customer order MV (count, revenue) is built once on the
    history partition (orderkey % 10 < 8), a DELTA batch (% 10 ≥ 8)
    aggregates separately, and the two MERGE via a full-outer join +
    partial-aggregate addition (count/sum are commutative monoids — the
    merge is exact, not approximate). The certificate compares the
    maintained MV against a from-scratch recompute row-for-row:
    ``n_mismatch`` == 0 and group conservation are engine-independent
    literals; a merge bug (lost group, double-counted delta, NULL
    mishandling on one-sided groups) breaks the hash.

    Scale shape: history is scanned ONCE ever; each refresh costs one
    delta aggregation + one MV-keyed merge join. Float discipline: sums
    compare on the data's 2dp grid (rounded at comparison, the repo
    convention)."""
    orders = Catalog(spark, sf_dir)["orders"]
    base = (
        orders.filter(F.col("o_orderkey") % 10 < 8)
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n"),
            F.sum("o_totalprice").alias("rev"),
        )
    )
    delta = (
        orders.filter(F.col("o_orderkey") % 10 >= 8)
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("dn"),
            F.sum("o_totalprice").alias("drev"),
        )
    )
    merged = (
        base.join(delta, "o_custkey", "full")
        .select(
            "o_custkey",
            (
                F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))
            ).alias("n"),
            (
                F.coalesce("rev", F.lit(0.0)) + F.coalesce("drev", F.lit(0.0))
            ).alias("rev"),
        )
    )
    recomputed = orders.groupBy("o_custkey").agg(
        F.count("*").alias("rn"),
        F.sum("o_totalprice").alias("rrev"),
    )
    cmp = merged.join(recomputed, "o_custkey", "full")
    n_groups = cmp.count()
    n_mismatch = cmp.filter(
        F.col("n").isNull()
        | F.col("rn").isNull()
        | (F.col("n") != F.col("rn"))
        | (F.round("rev", 2) != F.round("rrev", 2))
    ).count()
    return local_table(
        spark,
        [{"n_groups": n_groups, "n_mismatch": n_mismatch}],
        "n_groups long, n_mismatch long",
    )


@register(
    "q_retention_value",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(DATE_TRUNC('week', ts)) AS cohort
      FROM events GROUP BY user_id
    ),
    cohort_sizes AS (
      SELECT cohort, COUNT(*) AS cohort_size FROM first_seen GROUP BY cohort
    ),
    weekly AS (
      SELECT f.cohort,
             DATE_DIFF('week', f.cohort, DATE_TRUNC('week', e.ts)) AS week_n,
             COUNT(DISTINCT e.user_id) AS purchasers,
             ROUND(SUM(e.value), 2) AS revenue
      FROM events e
      JOIN first_seen f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY f.cohort, DATE_DIFF('week', f.cohort, DATE_TRUNC('week', e.ts))
    )
    SELECT STRFTIME(w.cohort, '%Y-%m-%d') AS cohort_week,
           CAST(w.week_n AS INT) AS week_n,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(w.purchasers AS BIGINT) AS purchasers,
           w.revenue AS revenue
    FROM weekly w JOIN cohort_sizes s ON s.cohort = w.cohort
    """,
)
def q_retention_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-weighted cohort retention (the monetary half of
    q_retention_cohorts): per signup-week cohort and activity week,
    the revenue the cohort's purchases generated and how many of its
    users purchased — the LTV-curve input, where user-count retention
    alone hides whale concentration.

    Scale shape: first-seen is one MIN window over user_id (one shuffle
    of the events table, same as q_retention_cohorts — never a
    users-sized broadcast); purchase rows join the per-user cohort on
    user_id (co-partitioned with the window's exchange), then ONE hash
    aggregation on (cohort, week_n) with map-side partials; cohort sizes
    are a weeks-sized aggregate joined at the end (broadcast — bounded
    by calendar weeks, size-invariant in SF). Revenue is rounded at the
    SUM on the data's 2dp grid (cross-engine-stable per the float
    discipline in NOTES.md); no per-user ratio division is emitted."""
    ev = Catalog(spark, sf_dir)["events"].select(
        "user_id", "ts", "event_type", "value"
    )
    wk = F.date_trunc("week", F.col("ts"))
    w = Window.partitionBy("user_id")
    tagged = ev.select(
        "user_id", "event_type", "value", wk.alias("wk")
    ).withColumn("cohort", F.min("wk").over(w))
    cohort_sizes = (
        tagged.select("user_id", "cohort")
        .distinct()
        .groupBy("cohort")
        .agg(F.count("*").alias("cohort_size"))
    )
    weekly = (
        tagged.filter(F.col("event_type") == "purchase")
        .groupBy(
            "cohort",
            (
                F.datediff(
                    F.col("wk").cast("date"), F.col("cohort").cast("date")
                )
                / 7
            ).cast("int").alias("week_n"),
        )
        .agg(
            F.countDistinct("user_id").alias("purchasers"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
    )
    return weekly.join(F.broadcast(cohort_sizes), "cohort").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "week_n",
        "cohort_size",
        "purchasers",
        "revenue",
    )

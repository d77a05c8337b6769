"""Second-wave relational t2 queries: remaining source/sink formats, set
ops, pivot/cube, string & datetime scalar surface, vectorized pandas UDF,
range join, skew-mitigation (salted) aggregation, partitioned sink with
partition pruning."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog
from data_integration_spark.sources.local import local_table
from data_integration_spark.streaming.replay import (
    parity_halves,
    replay_source,
    run,
    scratch_dir,
)


@register(
    "q_csv_roundtrip",
    oracle="""
    SELECT n_nationkey AS nationkey, n_name AS nation_name, n_regionkey AS regionkey
    FROM nation
    """,
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 CSV sink (``write.csv``, ``Rmd:473,752-753``) + schema-preserving
    re-read: header + explicit schema (CSV is typeless on disk)."""
    out = Catalog(spark, sf_dir)["nation"].select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("nation_name"),
        F.col("n_regionkey").alias("regionkey"),
    )
    path = scratch_dir("csv_roundtrip")
    out.write.mode("overwrite").option("header", "true").csv(path)
    return spark.read.option("header", "true").schema(
        "nationkey int, nation_name string, regionkey int"
    ).csv(path)


@register(
    "q_partitioned_sink",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet write + partition-pruned read: the
    filter on the partition column prunes directories, not rows (the layout
    choice that makes 100 TB scans selective)."""
    path = scratch_dir("orders_by_status")
    Catalog(spark, sf_dir)["orders"].write.partitionBy("o_orderstatus").mode(
        "overwrite"
    ).parquet(path)
    return (
        spark.read.parquet(path)
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


@register(
    "q_intersect_except",
    oracle="""
    SELECT c_nationkey AS nationkey, 'both' AS which FROM customer
    INTERSECT SELECT s_nationkey, 'both' FROM supplier
    UNION ALL
    (SELECT c_nationkey, 'customer_only' FROM customer
     EXCEPT SELECT s_nationkey, 'customer_only' FROM supplier)
    """,
)
def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (absent from the reference; Catalyst built-ins)."""
    cat = Catalog(spark, sf_dir)
    c = cat["customer"].select(F.col("c_nationkey").alias("nationkey"))
    s = cat["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    both = c.intersect(s).withColumn("which", F.lit("both"))
    # subtract == SQL EXCEPT (distinct semantics); exceptAll would keep
    # per-row multiplicities and leak keys present on both sides
    only = c.subtract(s).withColumn("which", F.lit("customer_only"))
    return both.unionByName(only)


@register(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide-form grouped aggregate) with an explicit category list —
    semantically conditional aggregation, which is the oracle's spelling."""
    return (
        Catalog(spark, sf_dir)["lineitem"]
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


@register(
    "q_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 2^k subtotal combinations)."""
    return (
        Catalog(spark, sf_dir)["lineitem"]
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_string_functions",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           SUBSTR(c_name, 1, 8) AS name_prefix,
           LENGTH(c_name) AS name_len,
           c_name || '/' || c_mktsegment AS name_seg,
           REPLACE(c_name, 'Customer', 'C') AS name_short,
           CASE WHEN c_name LIKE '%0' THEN 1 ELSE 0 END AS ends_zero
    FROM customer
    """,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface (X4 generalized): case, substring, length,
    concat, replace, LIKE."""
    return Catalog(spark, sf_dir)["customer"].select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.concat_ws("/", "c_name", "c_mktsegment").alias("name_seg"),
        F.regexp_replace("c_name", "Customer", "C").alias("name_short"),
        F.when(F.col("c_name").like("%0"), 1).otherwise(0).alias("ends_zero"),
    )


@register(
    "q_datetime_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
           CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS dow,
           STRFTIME(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
           CAST(DATE_DIFF('day', TIMESTAMP '2024-01-01 00:00:00', o_orderdate) AS INT)
             AS days_since_y24
    FROM orders
    """,
)
def q_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar surface (absent as data ops in the reference —
    extension): extract, interval arithmetic, date difference.
    NB: DuckDB ``dow`` is 0=Sunday; Spark ``dayofweek`` is 1=Sunday."""
    o = Catalog(spark, sf_dir)["orders"]
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd"
        ).alias("due_date"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("2024-01-01").cast("date")
        ).alias("days_since_y24"),
    )


@register(
    "q_pandas_udf",
    oracle="""
    SELECT c_custkey,
           ROUND(1.0 / (1.0 + EXP(-(c_acctbal / 2000.0))), 6) AS score
    FROM customer
    """,
)
def q_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's user-UDF surface (SURVEY.md §2.13): an Arrow-vectorized
    ``pandas_udf`` (never row-at-a-time Python) — verified against the same
    math in SQL. Built-ins remain the default; this query certifies the
    escape hatch."""
    import numpy as np

    @pandas_udf("double")
    def sigmoid_score(bal: pd.Series) -> pd.Series:
        z = bal.to_numpy(float) / 2000.0
        return pd.Series(np.round(1.0 / (1.0 + np.exp(-z)), 6))

    return Catalog(spark, sf_dir)["customer"].select(
        "c_custkey", sigmoid_score("c_acctbal").alias("score")
    )


@register(
    "q_range_join",
    oracle="""
    WITH buckets AS (
      SELECT * FROM (VALUES
        (0, CAST(0.0 AS DOUBLE), CAST(50.0 AS DOUBLE)),
        (1, CAST(50.0 AS DOUBLE), CAST(150.0 AS DOUBLE)),
        (2, CAST(150.0 AS DOUBLE), CAST(300.0 AS DOUBLE)),
        (3, CAST(300.0 AS DOUBLE), CAST(1000.0 AS DOUBLE))
      ) AS t(bucket_id, lo, hi)
    )
    SELECT e.event_id, b.bucket_id
    FROM events e JOIN buckets b ON e.value >= b.lo AND e.value < b.hi
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join of a fact against interval buckets — broadcast
    nested-loop on the tiny interval side (the right physical choice; an
    O(N·B) scan with B≈4, not a shuffle)."""
    ev = Catalog(spark, sf_dir)["events"]
    buckets = local_table(
        ev.sparkSession,
        [(0, 0.0, 50.0), (1, 50.0, 150.0), (2, 150.0, 300.0), (3, 300.0, 1000.0)],
        "bucket_id int, lo double, hi double",
    )
    return ev.join(
        F.broadcast(buckets),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    ).select("event_id", "bucket_id")


_H4 = (
    "((STRPOS('0123456789abcdef', SUBSTR(h, 1, 1)) - 1) * 4096"
    " + (STRPOS('0123456789abcdef', SUBSTR(h, 2, 1)) - 1) * 256"
    " + (STRPOS('0123456789abcdef', SUBSTR(h, 3, 1)) - 1) * 16"
    " + STRPOS('0123456789abcdef', SUBSTR(h, 4, 1)) - 1)"
)


@register(
    "q_hash_sample",
    oracle=f"""
    WITH k AS (
      SELECT l_orderkey, l_linenumber,
             MD5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))
               AS h
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber FROM k WHERE {_H4} < 6554
    """,
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample via content hashing (md5 of the key →
    16-bit bucket < 6554/65536). Unlike ``df.sample`` (partition-dependent
    RNG), a hash sample is reproducible across runs, partitionings, and
    engines — the only defensible sampling at 100 TB, and it composes with
    incremental reruns (same rows stay sampled)."""
    li = Catalog(spark, sf_dir)["lineitem"]
    h = F.md5(
        F.concat_ws(":", F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"))
    )
    bucket = F.conv(F.substring(h, 1, 4), 16, 10).cast("int")
    return (
        li.withColumn("_b", bucket)
        .filter(F.col("_b") < 6554)
        .select("l_orderkey", "l_linenumber")
    )


@register(
    "q_stratified_sample",
    oracle=f"""
    WITH k AS (
      SELECT o_orderkey, o_orderpriority,
             MD5(CAST(o_orderkey AS VARCHAR)) AS h
      FROM orders
    )
    SELECT o_orderkey, o_orderpriority FROM k
    WHERE {_H4} < CASE o_orderpriority
                    WHEN '1-URGENT' THEN 32768 ELSE 6554 END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-stratum rates (50% of urgent
    orders, 10% otherwise) via the same content-hash bucketing as
    q_hash_sample — reproducible, engine-independent, and rerun-stable
    (the sampling every curriculum/eval split pipeline needs)."""
    o = Catalog(spark, sf_dir)["orders"]
    bucket = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4), 16, 10
    ).cast("int")
    rate = F.when(F.col("o_orderpriority") == "1-URGENT", 32768).otherwise(6554)
    return (
        o.withColumn("_b", bucket)
        .filter(F.col("_b") < rate)
        .select("o_orderkey", "o_orderpriority")
    )


@register(
    "q_conditional_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
           ROUND(SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
             AS discounted_value
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER clauses / count_if): several
    predicated statistics in ONE scan instead of one scan per predicate."""
    li = Catalog(spark, sf_dir)["lineitem"]
    disc = F.col("l_discount") > 0.05
    return li.groupBy("l_returnflag").agg(
        F.count_if(disc).alias("n_discounted"),
        F.count_if(F.col("l_quantity") >= 25).alias("n_bulk"),
        F.round(F.sum(F.when(disc, F.col("l_extendedprice"))), 2).alias(
            "discounted_value"
        ),
    )


@register(
    "q_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, c_name, 0.0 AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT c.c_custkey, c.c_name, c.c_acctbal
    FROM customer c WHERE c.c_custkey % 10 <> 0
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal FROM updates
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert ETL primitive (operators/merge.py): an updates feed
    (every 10th customer zeroed) merged into the target by key."""
    from data_integration_spark.operators.merge import merge_upsert

    cust = Catalog(spark, sf_dir)["customer"].select(
        "c_custkey", "c_name", "c_acctbal"
    )
    updates = cust.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.lit(0.0)
    )
    return merge_upsert(cust, updates, keys="c_custkey")


@register(
    "q_json_source",
    oracle="""
    SELECT event_id, event_type, value FROM events WHERE event_type = 'purchase'
    """,
)
def q_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source format (S1 extension): events exported to JSONL,
    re-read with an explicit schema, filtered — content equals the parquet
    path, proving the format adapter is lossless for these types."""
    ev = Catalog(spark, sf_dir)["events"].select("event_id", "event_type", "value")
    path = scratch_dir("events_jsonl")
    ev.write.mode("overwrite").json(path)
    return (
        spark.read.schema("event_id long, event_type string, value double")
        .json(path)
        .filter(F.col("event_type") == "purchase")
    )


@register(
    "q_salted_agg",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew mitigation: two-stage salted aggregation — stage 1 groups on
    (key, salt) spreading a hot key over 16 partitions, stage 2 merges the
    partials. Result is EXACTLY the plain groupBy (the oracle); the shape is
    what survives a 100 TB hot key when AQE's skew handling isn't enough
    (3-key groupBys like this one are the canonical worst case)."""
    li = Catalog(spark, sf_dir)["lineitem"].withColumn(
        "_salt", (F.xxhash64("l_orderkey", "l_linenumber") % 16).cast("int")
    )
    partial = li.groupBy("l_returnflag", "_salt").agg(
        F.count("*").alias("pn"), F.sum("l_quantity").alias("pq")
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"), F.round(F.sum("pq"), 2).alias("sum_qty")
    )


@register(
    "q_orc_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS acctbal
    FROM supplier
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 columnar-format breadth: ORC write + re-read (native Spark ORC
    datasource, same predicate-pushdown/column-pruning machinery as
    parquet). The oracle recomputes from the base table — the roundtrip
    must be lossless."""
    out = Catalog(spark, sf_dir)["supplier"].select(
        "s_suppkey", "s_name", "s_nationkey",
        F.round("s_acctbal", 2).alias("acctbal"),
    )
    path = scratch_dir("orc_roundtrip")
    out.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register(
    "q_jsonl_roundtrip",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 JSON-lines sink + schema'd re-read (the interchange format LLM
    data pipelines actually move documents in)."""
    out = Catalog(spark, sf_dir)["region"].select("r_regionkey", "r_name")
    path = scratch_dir("jsonl_roundtrip")
    out.write.mode("overwrite").json(path)
    return spark.read.schema("r_regionkey int, r_name string").json(path)


@register(
    "q_unpivot",
    oracle="""
    SELECT n_nationkey AS nationkey, m.metric, m.val
    FROM nation,
         LATERAL (VALUES ('regionkey', CAST(n_regionkey AS DOUBLE)),
                         ('name_len', CAST(LENGTH(n_name) AS DOUBLE)))
           AS m(metric, val)
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) via native ``unpivot`` — the inverse of
    q_pivot; long form is the shuffle-friendly shape for per-metric
    aggregation at scale (no per-metric column explosion)."""
    n = Catalog(spark, sf_dir)["nation"].select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_regionkey").cast("double").alias("regionkey"),
        F.length("n_name").cast("double").alias("name_len"),
    )
    return n.unpivot(
        ids=["nationkey"],
        values=["regionkey", "name_len"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "q_schema_evolution",
    oracle="""
    SELECT r_regionkey,
           CASE WHEN r_regionkey >= 3 THEN 'new' ELSE NULL END AS batch_tag
    FROM region
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches with different
    schemas (a column added later) merged by ``mergeSchema=true`` — old
    rows surface NULL for the new column. The lake-ingest reality every
    long-lived 100 TB table hits; without mergeSchema the scan would pin
    whichever footer it sampled."""
    path = scratch_dir("schema_evolution")
    region = Catalog(spark, sf_dir)["region"]
    region.filter(F.col("r_regionkey") < 3).select("r_regionkey").write.mode(
        "overwrite"
    ).parquet(path)
    region.filter(F.col("r_regionkey") >= 3).select(
        "r_regionkey", F.lit("new").alias("batch_tag")
    ).write.mode("append").parquet(path)
    return spark.read.option("mergeSchema", "true").parquet(path).select(
        "r_regionkey", "batch_tag"
    )


@register(
    "q_compaction",
    oracle="""
    SELECT p_partkey, p_name, ROUND(p_retailprice, 2) AS price
    FROM part
    """,
)
def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (sources/maintenance.py): a deliberately
    fragmented 40-file write rewritten to right-sized files via an atomic
    temp-dir swap — content must round-trip exactly. The layout-decay
    maintenance pass incremental ingest needs at 100 TB."""
    from data_integration_spark.sources.maintenance import compact_parquet

    out = Catalog(spark, sf_dir)["part"].select(
        "p_partkey", "p_name", F.round("p_retailprice", 2).alias("price")
    )
    path = scratch_dir("compaction_t2")
    out.repartition(40).write.parquet(path)
    compact_parquet(spark, path, target_rows_per_file=100_000)
    return spark.read.parquet(path)


@register(
    "q_bucketed_join",
    oracle="""
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 400000
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written ``bucketBy(8, custkey)``
    + ``sortBy`` into a managed warehouse in a scratch directory, then
    sort-merge-joined with ZERO exchanges — each bucket pair joins where it
    sits, the layout that replaces the fact-fact shuffle at 100 TB when one
    join key dominates the workload (write once bucketed, join forever
    shuffle-free). ``test_plans.py`` pins the no-Exchange property."""
    cat = Catalog(spark, sf_dir)
    db = "graft_bucketed"
    # the location is fresh per process, so no earlier session's table
    # directory can be left in it; DROP handles a same-session rerun
    loc = scratch_dir("bucketed_warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    for t in ("orders_b", "customer_b"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
    cat["orders"].write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
        "overwrite"
    ).saveAsTable(f"{db}.orders_b")
    cat["customer"].write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode(
        "overwrite"
    ).saveAsTable(f"{db}.customer_b")
    o = spark.table(f"{db}.orders_b").filter(F.col("o_totalprice") > 400000)
    c = spark.table(f"{db}.customer_b")
    # merge hint: demonstrate the bucket-aligned SMJ rather than letting the
    # small test-scale side broadcast (either is correct; the point here is
    # the exchange-free co-located plan)
    return (
        o.hint("merge")
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
    )


@register(
    "q_keep_latest",
    oracle="""
    SELECT user_id, event_type, event_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS latest_ts,
           value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-by-key: compact an append-only event/CDC log to the
    current snapshot — the canonical 'latest record per key' op every
    large-scale ingest runs before joining a mutable entity.

    Scale shape: one shuffle on the key; Spark 4 rewrites the rn=1 filter
    into WindowGroupLimit, so each map task keeps only its per-key leader
    before the shuffle (a top-1 partial aggregate, not a full sort of the
    log). Deterministic via the (ts, event_id) total order."""
    ev = Catalog(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
            "value",
        )
    )


@register(
    "q_salted_join",
    oracle="""
    WITH dim AS (
      SELECT event_type, AVG(value) AS type_avg
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(d.type_avg), 6) AS type_avg,
           ROUND(SUM((e.value - d.type_avg) * (e.value - d.type_avg))
                 / COUNT(*), 6) AS var_around_avg
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANUAL key-salting for a skewed shuffle join — the mitigation
    that applies where AQE skew-split cannot (Structured Streaming
    joins, engines without runtime re-planning, or a key so hot one
    reducer still OOMs after AQE's byte-based split): the fact side
    salts its join key with pmod(event_id, 8); the 5-row dim side
    REPLICATES 8x (explode over the salt domain) so every
    (type, salt) bucket finds its dim row; the join keys on BOTH
    columns, spreading each hot event_type over 8 reducers. The
    ``shuffle_hash`` hint forces the shuffled path (Catalyst would
    rightly broadcast a 5-row dim — the query demonstrates the salted
    SHUFFLE topology and certifies it returns the exact unsalted
    result, which is the oracle).

    Salt invariance is structural: the join output is identical row-set
    for any salt function, so the oracle is the PLAIN join — a salting
    bug (dim not fully replicated, salt domain mismatch) drops rows and
    breaks the count/hash. The variance-around-type-mean aggregate
    keeps the dim VALUES live in the hash (a stale dim row shifts
    var_around_avg), and its float path is second-order insensitive to
    the engines' avg reduction order (sum of (v - a)^2 with
    sum(v - a) = 0).

    Scale shape: one fact shuffle on (type, salt) — 8x more, 8x
    smaller partitions on hot keys; dim replication is |dim| * 8 rows.
    This plus AQE (test_plans.py::test_aqe_skew_join_splits_hot_partition)
    covers both skew regimes the 100 TB design needs."""
    ev = Catalog(spark, sf_dir)["events"].select(
        "event_id", "event_type", "value"
    )
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
    salted_fact = ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(8)))
    salted_dim = dim.select(
        "event_type",
        "type_avg",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("salt"),
    ).withColumn("salt", F.col("salt").cast("long"))
    joined = salted_fact.join(
        salted_dim.hint("shuffle_hash"), ["event_type", "salt"]
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.max("type_avg"), 6).alias("type_avg"),
        F.round(
            F.sum(
                (F.col("value") - F.col("type_avg"))
                * (F.col("value") - F.col("type_avg"))
            )
            / F.count("*"),
            6,
        ).alias("var_around_avg"),
    )


@register(
    "q_skew_report",
    oracle="""
    WITH k AS (
      SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_partkey
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             MAX(n) AS max_key_rows,
             MEDIAN(n) AS med,
             CAST(SUM(CASE WHEN n > 10 * (SELECT MEDIAN(n) FROM k)
                           THEN n ELSE 0 END) AS BIGINT) AS rows_on_hot
      FROM k
    )
    SELECT n_keys, n_rows, max_key_rows,
           ROUND(CAST(max_key_rows AS DOUBLE) / med, 4) AS skew_factor,
           rows_on_hot,
           CASE WHEN CAST(max_key_rows AS DOUBLE) / med > 10
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
             AS needs_mitigation
    FROM s
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the measurement that comes BEFORE
    choosing a mitigation (AQE skew-split, manual salting, broadcast):
    per-key row counts of the intended join key (l_partkey), summarized
    as max/median skew factor, the row mass sitting on hot keys
    (> 10x median), and a needs_mitigation flag at the 10x rule of
    thumb. Together with q_salted_join (the manual fix) and the AQE
    skew-split demonstration (test_plans) this closes the loop:
    measure -> decide -> mitigate -> verify.

    Scale shape: ONE hash aggregation on the key with map-side partials
    collapses the fact table to |keys| rows; every summary statistic
    (including the exact median via percentile over the key-count
    table) runs on that collapsed frame. A hot key inflates one
    GROUP's count cell, never a partition of raw rows."""
    li = Catalog(spark, sf_dir)["lineitem"]
    k = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count("*").alias("n")
    )
    # the median key-count is ONE bounded scalar over the collapsed
    # |keys| frame — collect it (the q_cuped driver-scalar discipline)
    # so the hot-key conditional does not nest aggregates
    med = float(
        k.agg(F.expr("percentile(n, 0.5)")).collect()[0][0]
    )
    return k.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
        F.round(F.max("n").cast("double") / F.lit(med), 4).alias(
            "skew_factor"
        ),
        F.sum(
            F.when(F.col("n") > 10 * F.lit(med), F.col("n")).otherwise(0)
        )
        .cast("long")
        .alias("rows_on_hot"),
        (F.max("n").cast("double") / F.lit(med) > 10)
        .cast("long")
        .alias("needs_mitigation"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning (r11): the classic runtime-filter
# pattern — build a tiny bit filter from the dim side's key set,
# broadcast it, and prune the fact scan BEFORE the join. md5-derived
# hash positions make the whole construction engine-portable, so the
# oracle recomputes the filter, every pass/fail decision, and the
# false-positive count value-for-value.
# ---------------------------------------------------------------------------
_BLOOM_M, _BLOOM_K = 2048, 3


def _bloom_pos(key_str, r: int):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(key_str, F.lit(f"#{r}"))), 1, 8
            ),
            16,
            10,
        )
        .cast("long")
        % _BLOOM_M
    )


_BLOOM_ORACLE = f"""
WITH keys AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
fpos AS (
  SELECT DISTINCT
         CAST('0x' || SUBSTRING(
             MD5(CAST(c_custkey AS VARCHAR) || '#' || r.r), 1, 8)
           AS BIGINT) % {_BLOOM_M} AS p
  FROM keys, UNNEST(GENERATE_SERIES(0, {_BLOOM_K - 1})) AS r(r)
),
op AS (
  SELECT o_orderkey, o_custkey,
         CAST('0x' || SUBSTRING(
             MD5(CAST(o_custkey AS VARCHAR) || '#' || r.r), 1, 8)
           AS BIGINT) % {_BLOOM_M} AS p
  FROM orders, UNNEST(GENERATE_SERIES(0, {_BLOOM_K - 1})) AS r(r)
),
passed AS (
  SELECT o.o_orderkey, o.o_custkey
  FROM op o JOIN fpos f ON f.p = o.p
  GROUP BY o.o_orderkey, o.o_custkey
  HAVING COUNT(*) = {_BLOOM_K}
),
truth AS (
  SELECT o_orderkey FROM orders o
  JOIN keys k ON k.c_custkey = o.o_custkey
)
SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_orders,
       CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true_match,
       CAST((SELECT COUNT(*) FROM passed) AS BIGINT) AS n_bloom_pass,
       CAST((SELECT COUNT(*) FROM passed)
            - (SELECT COUNT(*) FROM truth) AS BIGINT) AS n_false_positives,
       CAST((SELECT COUNT(*) FROM fpos) AS BIGINT) AS n_bits_set,
       CAST(1 AS BIGINT) AS no_false_negatives
"""


@register("q_bloom_semi_join", oracle=_BLOOM_ORACLE)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter SEMI-JOIN pruning — the runtime-filter pattern that
    makes big fact-dim joins cheap at 100 TB (Spark's own
    InjectRuntimeFilter applies it implicitly; this op is the EXPLICIT,
    auditable form a pipeline uses to prune a scan before an expensive
    downstream stage): the dim side's key set ('BUILDING' customers)
    hashes into a 2048-bit / k=3 filter (md5 positions), the filter
    broadcasts as a literal IN-set (KBs), and the fact side passes iff
    ALL k of its positions are set — a narrow map on the scan, no
    shuffle, no join until AFTER pruning. Emitted as a 1-row
    certificate: n_true_match (the exact semi-join), n_bloom_pass,
    n_false_positives (= pass − truth: Bloom never loses a match, so
    the difference IS the false-positive count — the no_false_negatives
    law is a THEOREM, verified value-level on Spark and pinned at 1),
    n_bits_set (filter load ~ k·|keys| minus hash collisions).

    FULL oracle: md5 positions are engine-portable; DuckDB rebuilds the
    filter and recomputes every decision bit-for-bit — the only
    engine-specific thing about a Bloom filter is its hash, and this
    one's hash is pinned."""
    cust = Catalog(spark, sf_dir)["customer"]
    keys = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .distinct()
    )
    key_str = F.col("c_custkey").cast("string")
    fpos = sorted(
        r["p"]
        for r in keys.select(
            F.explode(
                F.array(*[_bloom_pos(key_str, r) for r in range(_BLOOM_K)])
            ).alias("p")
        )
        .distinct()
        .collect()  # bounded: ≤ _BLOOM_M rows by construction
    )
    return _bloom_certificate(spark, sf_dir, keys, fpos)


def _bloom_certificate(spark, sf_dir, keys, fpos):
    """The q_bloom_semi_join certificate aggregation over a given filter
    position set — shared with the staged streaming-maintenance variant
    so the two can never drift on the membership-test arithmetic."""
    orders = Catalog(spark, sf_dir)["orders"]
    o_str = F.col("o_custkey").cast("string")
    passes = F.lit(True)
    for r in range(_BLOOM_K):
        passes = passes & _bloom_pos(o_str, r).isin(fpos)
    flagged = orders.select(
        "o_custkey",
        passes.alias("bloom_pass"),
    ).join(
        F.broadcast(keys.withColumn("is_true", F.lit(True))),
        F.col("o_custkey") == F.col("c_custkey"),
        "left",
    )
    agg = flagged.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.col("is_true").isNotNull().cast("long"))
        .cast("long")
        .alias("n_true_match"),
        F.sum(F.col("bloom_pass").cast("long"))
        .cast("long")
        .alias("n_bloom_pass"),
        (
            F.sum(F.col("bloom_pass").cast("long"))
            - F.sum(F.col("is_true").isNotNull().cast("long"))
        )
        .cast("long")
        .alias("n_false_positives"),
        F.lit(len(fpos)).cast("long").alias("n_bits_set"),
        # the theorem, verified value-level: every true match passed
        (
            F.sum(
                (F.col("is_true").isNotNull() & ~F.col("bloom_pass"))
                .cast("long")
            )
            == 0
        )
        .cast("long")
        .alias("no_false_negatives"),
    )
    return agg


@register("q_streaming_bloom", oracle=_BLOOM_ORACLE)
def q_streaming_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Bloom-filter maintenance. Dim keys
    ('BUILDING' customers) arrive as micro-batches (file replay, even
    then odd c_custkey); each ``foreachBatch`` hashes ONLY its own keys
    and APPENDS the bit positions to the filter store; the read side
    takes DISTINCT positions — Bloom bits are OR-mergeable, so the
    incrementally-maintained filter is VALUE-EQUAL to the one-pass
    batch filter, and the oracle is q_bloom_semi_join's oracle
    VERBATIM (the q_streaming_countmin linearity argument, on the OR
    monoid). The certificate aggregation is the SHARED
    ``_bloom_certificate`` helper — the streaming and batch paths
    cannot drift on membership arithmetic."""
    store = scratch_dir("bloom_stream_store")
    cust = Catalog(spark, sf_dir)["customer"]
    keys = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .distinct()
    )

    def update_filter(batch_df: DataFrame, batch_id: int) -> None:
        key_str = F.col("c_custkey").cast("string")
        (
            batch_df.select(
                F.explode(
                    F.array(
                        *[_bloom_pos(key_str, r) for r in range(_BLOOM_K)]
                    )
                ).alias("p")
            )
            .distinct()
            .write.mode("append")
            .parquet(store)
        )

    run(
        replay_source(spark, parity_halves(keys, "c_custkey"), max_files_per_trigger=1)
        .writeStream.foreachBatch(update_filter),
        "q_streaming_bloom",
    )

    # OR-merge on read: distinct positions over all appended partials
    fpos = sorted(
        r["p"] for r in spark.read.parquet(store).distinct().collect()
    )
    return _bloom_certificate(spark, sf_dir, keys, fpos)

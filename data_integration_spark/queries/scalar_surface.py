"""Nested-type and statistical-aggregate scalar surface: structs, array
explode with position, arg-min/max aggregates, correlation/covariance,
NULL-handling functions (reference F5 generalized)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog
from data_integration_spark.sources.local import local_table


@register(
    "q_struct_functions",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status,
           ROUND(o_totalprice * 0.5, 6) AS half_price
    FROM orders
    """,
)
def q_struct_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct create + field access (nested types the reference lacks):
    pack columns into a struct, project fields back out — the round-trip
    must be lossless."""
    o = Catalog(spark, sf_dir)["orders"]
    packed = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            (F.col("o_totalprice") * 0.5).alias("half_price"),
        ).alias("info"),
    )
    return packed.select(
        "o_orderkey",
        F.col("info.status").alias("status"),
        F.round("info.half_price", 6).alias("half_price"),
    )


@register(
    "q_explode_tokens",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
                 FROM documents WHERE doc_id < 20)
    SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, ts[u.i] AS token
    FROM tok, UNNEST(GENERATE_SERIES(1, LEN(ts))) AS u(i)
    """,
)
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: array → (row, position, element) — the UNNEST/flatten
    shape every tokenization pipeline starts with."""
    docs = Catalog(spark, sf_dir)["documents"].filter(F.col("doc_id") < 20)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )


@register(
    "q_minby_maxby",
    oracle="""
    SELECT o_custkey,
           ARG_MIN(o_orderkey, o_totalprice) AS cheapest_order,
           ARG_MAX(o_orderkey, o_totalprice) AS priciest_order,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders GROUP BY o_custkey
    """,
)
def q_minby_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-min/arg-max aggregates (min_by/max_by): 'which row achieves the
    extreme' without a self-join or window. Ties: o_totalprice values are
    2-dp doubles over ≤ dozens of orders per customer — distinct in this
    data; both engines pick the unique achiever."""
    return (
        Catalog(spark, sf_dir)["orders"]
        .groupBy("o_custkey")
        .agg(
            F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
            F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


@register(
    "q_corr_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / stddev aggregates — second-moment
    statistics (irrational values → round-6/4 is engine-stable)."""
    return (
        Catalog(spark, sf_dir)["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qty_price"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "covar_qty_price"
            ),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        )
    )


@register(
    "q_array_ops",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
               FROM documents WHERE doc_id < 30)
    SELECT doc_id,
           ts[1] AS first_token,
           ARRAY_TO_STRING(ts[2:4], ' ') AS head_slice,
           CAST(LIST_CONTAINS(ts, 'the') AS INT) AS has_the,
           ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(ts[1:5])), ' ') AS head_vocab
    FROM t
    """,
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-operator surface: element access, slice, containment, distinct
    + sort — over token arrays (bounded subset). DuckDB list slicing is
    1-based inclusive: ts[2:4] == Spark slice(ts, 2, 3). Array outputs are
    serialized to strings on BOTH sides (registry convention, same as
    timestamps) — the driver's canonicalizer sorts columns via pandas and
    cannot hash raw lists."""
    docs = Catalog(spark, sf_dir)["documents"].filter(F.col("doc_id") < 30)
    ts = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.try_element_at(ts, F.lit(1)).alias("first_token"),
        F.array_join(F.slice(ts, 2, 3), " ").alias("head_slice"),
        F.array_contains(ts, "the").cast("int").alias("has_the"),
        F.array_join(
            F.array_sort(F.array_distinct(F.slice(ts, 1, 5))), " "
        ).alias("head_vocab"),
    )


@register(
    "q_regexp_functions",
    oracle="""
    SELECT doc_id,
           REGEXP_EXTRACT(text, '([a-z]+) ([a-z]+)', 1) AS first_word,
           CAST(REGEXP_MATCHES(text, 'value.*table|table.*value') AS INT)
             AS has_value_table,
           LEN(REGEXP_EXTRACT_ALL(text, 'scan')) AS n_scan,
           REGEXP_REPLACE(text, '[0-9]+', '#', 'g') AS no_digits
    FROM documents WHERE doc_id < 40
    """,
)
def q_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar surface: extract (group), boolean match, match count,
    global replace — same RE2-compatible patterns on both engines."""
    docs = Catalog(spark, sf_dir)["documents"].filter(F.col("doc_id") < 40)
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+) ([a-z]+)", 1).alias("first_word"),
        F.col("text").rlike("value.*table|table.*value").cast("int").alias(
            "has_value_table"
        ),
        F.size(F.expr("regexp_extract_all(text, 'scan', 0)"))
        .cast("long")
        .alias("n_scan"),
        F.regexp_replace("text", "[0-9]+", "#").alias("no_digits"),
    )


@register(
    "q_approx_distinct",
    # FULL ORACLE (r8, was rows-only r3): the sketch VALUE is
    # engine-specific, but the exact counts and the 3·rsd bound flags are
    # not — the oracle recomputes the exacts and pins the flags at 1.
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
           CAST(1 AS BIGINT) AS parts_in_bound,
           CAST(1 AS BIGINT) AS supps_in_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts — the sketch that replaces
    exact countDistinct at 100 TB (no giant distinct shuffle) — emitted as
    a per-group BOUNDS CERTIFICATE: each group carries its exact distinct
    counts plus a flag that the HLL estimate (rsd=0.02) landed within
    3·rsd of exact (measured worst ≈ 1% at all SFs — 6× margin). A sketch
    regression flips a flag to 0 and the driver hash catches it.

    Scale shape: ONE distributed aggregation computes sketch and exact
    side by side (the exact is the certificate's spot-check cost, paid
    only when auditing); no driver collect at all."""
    li = Catalog(spark, sf_dir)["lineitem"]
    per = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("ap"),
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("asu"),
        F.count_distinct("l_suppkey").alias("exact_supps"),
    )
    return per.select(
        "l_returnflag",
        "exact_parts",
        "exact_supps",
        (
            F.abs(F.col("ap") - F.col("exact_parts"))
            <= 0.06 * F.col("exact_parts")
        )
        .cast("long")
        .alias("parts_in_bound"),
        (
            F.abs(F.col("asu") - F.col("exact_supps"))
            <= 0.06 * F.col("exact_supps")
        )
        .cast("long")
        .alias("supps_in_bound"),
    )


@register(
    "q_sketch_bounds",
    # whole-family error-bound certificate (since r8 q_approx_distinct /
    # q_approx_quantile / q_freq_items are each ALSO full-oracle
    # per-item certificates; q_hll_mergeable stays rows-only — sketch
    # VALUES are engine-specific, but every sketch ships a mathematical
    # guarantee, and guarantee violations are engine-independent
    # literal zeros under the driver hash).
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitem,
           CAST(0 AS BIGINT) AS n_hll_violations,
           CAST(1 AS BIGINT) AS hll_merge_ok,
           CAST(0 AS BIGINT) AS n_quantile_violations,
           CAST(0 AS BIGINT) AS n_missing_heavy
    FROM lineitem
    """,
)
def q_sketch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guarantee CERTIFICATE for the approximate-sketch family — the audit
    query a 100 TB deployment runs on a slice to certify its sketches
    (here on the full test tables; exact counterparts are the expensive
    side, which is the point of sketches — the certificate is the
    spot-check, not the hot path):

    - ``n_hll_violations`` == 0: every per-group approx_count_distinct
      (rsd=0.02) lands within 3·rsd of the exact count (measured worst
      ≈ 1% at all SFs — 6× margin);
    - ``hll_merge_ok``: the UNION of per-nation Datasketches HLL sketches
      estimates the global distinct within 5% (measured ≤ 1%); a merge
      bug (double-counted registers, lost sketch) lands far outside;
    - ``n_quantile_violations`` == 0: each percentile_approx value's true
      rank interval intersects target·n ± max(2n/accuracy, 2 rows) —
      the KLL/GK rank guarantee with granularity floor (measured ≤ 1 row
      off at every SF);
    - ``n_missing_heavy`` == 0: freqItems(support=0.1) returns a SUPERSET
      of all values with true frequency > 0.1·n (the Karp/Misra-Gries
      contract — deterministic, violations are hard bugs).

    All exact counterparts are single agg passes; five scalars reach the
    driver."""
    li = Catalog(spark, sf_dir)["lineitem"]

    # HLL per-group bound
    per = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("ap"),
        F.count_distinct("l_partkey").alias("ep"),
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("asu"),
        F.count_distinct("l_suppkey").alias("es"),
    )
    n_hll_violations = per.filter(
        (F.abs(F.col("ap") - F.col("ep")) > 0.06 * F.col("ep"))
        | (F.abs(F.col("asu") - F.col("es")) > 0.06 * F.col("es"))
    ).count()

    # Datasketches HLL mergeability (c_custkey unique -> global exact is
    # the sum of disjoint per-nation exacts)
    cust = Catalog(spark, sf_dir)["customer"]
    g = (
        cust.groupBy("c_nationkey")
        .agg(
            F.hll_sketch_agg("c_custkey").alias("sk"),
            F.count_distinct("c_custkey").alias("e"),
        )
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("ge"),
            F.sum("e").alias("ee"),
        )
        .collect()[0]
    )
    hll_merge_ok = int(abs(g["ge"] - g["ee"]) <= 0.05 * g["ee"])

    # quantile rank guarantee
    accuracy = 10_000
    n = li.count()
    slack = max(2.0 * n / accuracy, 2.0)
    qs = li.agg(
        *[
            F.percentile_approx("l_extendedprice", q, accuracy=accuracy).alias(
                f"p{int(q * 100)}"
            )
            for q in (0.25, 0.5, 0.75, 0.95)
        ]
    ).collect()[0]
    # one pass for all rank intervals: conditional counts per quantile
    rank_aggs = []
    for q in (25, 50, 75, 95):
        v = qs[f"p{q}"]
        rank_aggs.append(
            F.sum((F.col("l_extendedprice") < F.lit(v)).cast("long")).alias(f"lo{q}")
        )
        rank_aggs.append(
            F.sum((F.col("l_extendedprice") <= F.lit(v)).cast("long")).alias(f"hi{q}")
        )
    ranks = li.agg(*rank_aggs).collect()[0]
    n_quantile_violations = 0
    for q in (25, 50, 75, 95):
        target = q / 100.0 * n
        lo, hi = ranks[f"lo{q}"] + 1, ranks[f"hi{q}"]
        if not (lo - slack <= target <= hi + slack):
            n_quantile_violations += 1

    # freqItems superset guarantee
    o = Catalog(spark, sf_dir)["orders"]
    found = set(
        o.select("o_orderpriority")
        .freqItems(["o_orderpriority"], support=0.1)
        .collect()[0]["o_orderpriority_freqItems"]
    )
    n_orders = o.count()
    heavy = [
        r["o_orderpriority"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 0.1 * n_orders)
        .collect()
    ]
    n_missing_heavy = sum(1 for h in heavy if h not in found)

    return local_table(
        spark,
        [
            {
                "n_lineitem": n,
                "n_hll_violations": n_hll_violations,
                "hll_merge_ok": hll_merge_ok,
                "n_quantile_violations": n_quantile_violations,
                "n_missing_heavy": n_missing_heavy,
            }
        ],
        (
            "n_lineitem long, n_hll_violations long, hll_merge_ok long,"
            " n_quantile_violations long, n_missing_heavy long"
        ),
    )


@register(
    "q_map_functions",
    oracle="""
    SELECT o_orderkey,
           'priority:' || o_orderpriority || ',status:' || o_orderstatus AS props_str,
           o_orderstatus AS status_val
    FROM orders
    """,
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type surface: build a map column, access by key, flatten entries
    to a canonical string (sorted keys) — the oracle recomputes the string
    from base columns, proving the map round-trip is lossless."""
    o = Catalog(spark, sf_dir)["orders"]
    m = F.create_map(
        F.lit("priority"), F.col("o_orderpriority"),
        F.lit("status"), F.col("o_orderstatus"),
    )
    packed = o.select("o_orderkey", m.alias("props"))
    entries = F.array_sort(
        F.transform(
            F.map_entries("props"),
            lambda e: F.concat(e["key"], F.lit(":"), e["value"]),
        )
    )
    return packed.select(
        "o_orderkey",
        F.concat_ws(",", entries).alias("props_str"),
        F.element_at("props", "status").alias("status_val"),
    )


@register(
    "q_null_functions",
    oracle="""
    WITH j AS (
      SELECT c.c_custkey, c.c_acctbal, o.n_orders
      FROM customer c
      LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                 FROM orders GROUP BY o_custkey) o
        ON c.c_custkey = o.o_custkey
    )
    SELECT c_custkey,
           COALESCE(n_orders, 0) AS n_orders_filled,
           CAST(n_orders IS NULL AS INT) AS is_inactive,
           NULLIF(COALESCE(n_orders, 0), 0) AS n_orders_or_null,
           CASE WHEN n_orders IS NOT NULL THEN ROUND(c_acctbal / n_orders, 6) END
             AS bal_per_order
    FROM j
    """,
)
def q_null_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface (reference F5 generalized): coalesce, IS NULL
    indicators, nullif, and NULL-propagating arithmetic after an outer
    join — the exact semantics the comparison table relies on."""
    cat = Catalog(spark, sf_dir)
    per_cust = (
        cat["orders"].groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    )
    j = cat["customer"].join(
        per_cust, F.col("c_custkey") == F.col("o_custkey"), "left"
    )
    return j.select(
        "c_custkey",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders_filled"),
        F.col("n_orders").isNull().cast("int").alias("is_inactive"),
        F.nullif(F.coalesce("n_orders", F.lit(0)), F.lit(0)).alias(
            "n_orders_or_null"
        ),
        F.when(
            F.col("n_orders").isNotNull(),
            F.round(F.col("c_acctbal") / F.col("n_orders"), 6),
        ).alias("bal_per_order"),
    )


@register(
    "q_variant_json",
    oracle="""
    SELECT event_id,
           CAST(props::JSON ->> 'k' AS INT) AS k,
           CAST(props::JSON ->> 'k' AS VARCHAR) AS k_str,
           CAST(props::JSON ->> 'missing' AS VARCHAR) AS missing
    FROM events
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type: ``parse_json`` into a variant column, typed
    field extraction with ``variant_get`` — the semi-structured path that
    replaces repeated get_json_object string re-parsing (the variant is
    parsed once, fields decode from its binary encoding)."""
    ev = Catalog(spark, sf_dir)["events"]
    v = ev.select("event_id", F.parse_json("props").alias("v"))
    return v.select(
        "event_id",
        F.expr("variant_get(v, '$.k', 'int')").alias("k"),
        F.expr("variant_get(v, '$.k', 'string')").alias("k_str"),
        F.expr("variant_get(v, '$.missing', 'string')").alias("missing"),
    )


_SYNTH_WORDS_SQL = (
    "['alpha','bravo','charlie','delta','echo','foxtrot','golf','hotel',"
    "'india','juliet','kilo','lima','mike','november','oscar','papa',"
    "'quebec','romeo','sierra','tango']"
)


@register(
    "q_python_datasource",
    oracle=f"""
    WITH d AS (SELECT UNNEST(GENERATE_SERIES(0, 59)) AS doc_id),
    tok AS (
      SELECT d.doc_id, j.j,
             ({_SYNTH_WORDS_SQL})[((d.doc_id * 31 + j.j * 17) % 20) + 1] AS word
      FROM d, UNNEST(GENERATE_SERIES(0, 4 + d.doc_id % 7)) AS j(j)
    ),
    t AS (
      SELECT doc_id, STRING_AGG(word, ' ' ORDER BY j) AS text
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id, text, CAST(LENGTH(text) AS INT) AS n_chars FROM t
    """,
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source API: a custom ``synthetic_docs`` format
    whose partitions generate their id ranges executor-side (no driver
    materialization) — the synthetic/augmented-corpus ingestion shape. The
    oracle regenerates the same deterministic text arithmetically."""
    from data_integration_spark.sources.catalog import ensure_worker_imports
    from data_integration_spark.sources.python_datasource import (
        _HAS_PYDS,
        SyntheticDocs,
    )

    if not _HAS_PYDS:  # pragma: no cover — pyspark<4 fallback, not this env
        raise RuntimeError("pyspark.sql.datasource unavailable")
    ensure_worker_imports(spark)  # workers unpickle the DataSource class
    spark.dataSource.register(SyntheticDocs)
    return (
        spark.read.format("synthetic_docs")
        .option("n_docs", 60)
        .option("n_partitions", 4)
        .load()
    )


@register(
    "q_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS INT) AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram for data profiling: bucket arithmetic is a
    narrow map, counts are one partial-agg shuffle — the profile pass that
    sizes salting/bucketing decisions before a big job."""
    o = Catalog(spark, sf_dir)["orders"]
    b = F.floor(F.col("o_totalprice") / 50000.0).cast("int")
    return o.groupBy(b.alias("bucket")).agg(
        F.count("*").alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "q_profile_stats",
    oracle="""
    SELECT 'o_totalprice' AS col,
           COUNT(o_totalprice) AS n_non_null,
           COUNT(*) - COUNT(o_totalprice) AS n_null,
           ROUND(SUM(o_totalprice), 2) / COUNT(o_totalprice) AS mean,
           ROUND(MIN(o_totalprice), 2) AS min_v,
           ROUND(MAX(o_totalprice), 2) AS max_v,
           ROUND(STDDEV_SAMP(o_totalprice), 4) AS std
    FROM orders
    """,
)
def q_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile (describe-shape): null counts, mean on the rounded
    sum grid, min/max, sample stddev — ONE aggregation pass; the
    ingest-time profile every quality dashboard starts from."""
    o = Catalog(spark, sf_dir)["orders"]
    v = F.col("o_totalprice")
    return o.agg(
        F.lit("o_totalprice").alias("col"),
        F.count(v).alias("n_non_null"),
        (F.count("*") - F.count(v)).alias("n_null"),
        (F.round(F.sum(v), 2) / F.count(v)).alias("mean"),
        F.round(F.min(v), 2).alias("min_v"),
        F.round(F.max(v), 2).alias("max_v"),
        F.round(F.stddev_samp(v), 4).alias("std"),
    )


@register(
    "q_python_udtf",
    oracle="""
    SELECT doc_id, u.t AS token, CAST(LENGTH(u.t) AS INT) AS token_len
    FROM (SELECT doc_id, string_split(text, ' ') AS ts
          FROM documents WHERE doc_id < 30),
         UNNEST(ts) AS u(t)
    WHERE LENGTH(u.t) > 0
    """,
)
def q_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF: a table function (one input row → N output
    rows) registered and invoked FROM SQL with a LATERAL join — the
    user-extensible tokenizer shape. Distinct from mapInPandas: the UDTF
    composes inside SQL text, so analysts call it like a built-in."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, token_len int")
    class Tokenize:
        def eval(self, text: str):
            for t in (text or "").split(" "):
                if t:
                    yield t, len(t)

    spark.udtf.register("t2_tokenize", Tokenize)
    Catalog(spark, sf_dir)["documents"].filter(
        F.col("doc_id") < 30
    ).createOrReplaceTempView("t2_docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, t.token, t.token_len
        FROM t2_docs_udtf d, LATERAL t2_tokenize(d.text) t
        """
    )


@register(
    "q_map_in_arrow",
    oracle="""
    SELECT vec_id,
           CAST(LEN(embedding) AS INT) AS dim,
           ROUND(LIST_SUM(LIST_TRANSFORM(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sq_norm
    FROM embeddings
    """,
)
def q_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the zero-copy Arrow RecordBatch path (one step below
    mapInPandas — no pandas conversion at all). Squared norms computed
    with numpy over the Arrow buffers; double math so the oracle matches
    at 6 decimals."""
    import numpy as np
    import pyarrow as pa

    def sq_norms(batches):
        for batch in batches:
            d = batch.to_pydict()
            ids = d["vec_id"]
            embs = d["embedding"]
            dims = [len(e) for e in embs]
            sq = [
                round(float(np.square(np.asarray(e, dtype=np.float64)).sum()), 6)
                for e in embs
            ]
            yield pa.RecordBatch.from_pydict(
                {"vec_id": ids, "dim": dims, "sq_norm": sq},
                schema=pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("dim", pa.int32()),
                        ("sq_norm", pa.float64()),
                    ]
                ),
            )

    emb = Catalog(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    return emb.mapInArrow(
        sq_norms, "vec_id bigint, dim int, sq_norm double"
    )


@register(
    "q_try_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN (o_orderkey % 5) = 0 THEN NULL
                ELSE CAST(o_totalprice / (o_orderkey % 5) AS DOUBLE)
           END AS safe_div,
           TRY_CAST(o_orderpriority AS INT) AS bad_cast,
           TRY_CAST(SUBSTR(o_orderpriority, 1, 1) AS INT) AS prio_num
    FROM orders WHERE o_orderkey < 2000
    """,
)
def q_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode safety surface: Spark 4 runs with ANSI ON, so /0 and bad
    casts THROW by default — ``try_divide`` / ``try_cast`` are the
    explicit NULL-on-error escape hatches pipelines must use for dirty
    data. The oracle mirrors with CASE/TRY_CAST."""
    o = Catalog(spark, sf_dir)["orders"].filter(F.col("o_orderkey") < 2000)
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), (F.col("o_orderkey") % 5).cast("double")
        ).alias("safe_div"),
        F.expr("try_cast(o_orderpriority AS int)").alias("bad_cast"),
        F.expr(
            "try_cast(substring(o_orderpriority, 1, 1) AS int)"
        ).alias("prio_num"),
    )


@register(
    "q_explode_outer",
    oracle="""
    SELECT doc_id, u.t AS token
    FROM (SELECT doc_id,
                 CASE WHEN doc_id % 10 = 0 THEN []
                      ELSE string_split(text, ' ')[1:3] END AS ts
          FROM documents WHERE doc_id < 50),
         (SELECT 1) dummy
    LEFT JOIN LATERAL UNNEST(ts) AS u(t) ON TRUE
    """,
)
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-preserving explode (``explode_outer``): rows with empty arrays
    survive as (id, NULL) instead of vanishing — the difference between an
    inner and outer lateral view, and the one that silently loses
    documents in tokenization pipelines."""
    docs = Catalog(spark, sf_dir)["documents"].filter(F.col("doc_id") < 50)
    ts = F.when(
        F.col("doc_id") % 10 == 0, F.array().cast("array<string>")
    ).otherwise(F.slice(F.split("text", " "), 1, 3))
    return docs.select(
        "doc_id", F.explode_outer(ts).alias("token")
    )


@register(
    "q_bitwise_ops",
    oracle="""
    SELECT event_id,
           event_id & 255 AS low_byte,
           event_id >> 8 AS high_bits,
           XOR(event_id, 12345) AS xored,
           CAST(BIT_COUNT(CAST(event_id AS BIGINT)) AS INT) AS popcount
    FROM events WHERE event_id < 5000
    """,
)
def q_bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface (&, >>, xor, popcount) — flag packing and
    bucket arithmetic primitives."""
    ev = Catalog(spark, sf_dir)["events"].filter(F.col("event_id") < 5000)
    e = F.col("event_id")
    return ev.select(
        "event_id",
        e.bitwiseAND(F.lit(255)).alias("low_byte"),
        F.expr("shiftright(event_id, 8)").alias("high_bits"),
        e.bitwiseXOR(F.lit(12345)).alias("xored"),
        F.bit_count(e.cast("bigint")).alias("popcount"),
    )


@register(
    "q_approx_quantile",
    # FULL ORACLE (r8, was rows-only r3): the GK/KLL sketch value is
    # engine-specific, but its RANK GUARANTEE is not — per quantile the
    # certificate pins "the returned value's true rank interval
    # intersects target·n ± max(2n/accuracy, 2)" as a literal 1.
    oracle="""
    SELECT CAST(t.pct AS BIGINT) AS pct,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS rank_in_bound
    FROM (VALUES (25), (50), (75), (95)) AS t(pct)
    """,
)
def q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (``percentile_approx``, GK/KLL-style sketch):
    the single-pass mergeable-sketch path for percentiles over data too
    large to sort — emitted as a per-quantile RANK-GUARANTEE certificate
    (the q_sketch_bounds pattern): for each target percentile the true
    rank interval of the returned value must intersect
    target·n ± max(2n/accuracy, 2 rows) (measured ≤ 1 row off at every
    SF; the +2-row floor absorbs tied-value granularity).

    Scale shape: one sketch aggregation (4 quantiles share the pass),
    one conditional-count aggregation for all rank intervals; two 1-row
    collects reach the driver — the bounded-certificate-scalar pattern."""
    li = Catalog(spark, sf_dir)["lineitem"]
    accuracy = 10_000
    pcts = (25, 50, 75, 95)
    schema = "pct long, n_rows long, rank_in_bound long"
    row = li.agg(
        F.count("*").alias("n"),
        *[
            F.percentile_approx(
                "l_extendedprice", p / 100.0, accuracy=accuracy
            ).alias(f"p{p}")
            for p in pcts
        ],
    ).collect()[0]
    n = row["n"]
    if n == 0:
        # empty input: percentile_approx returns NULL and there is no rank
        # to violate — emit the vacuously-true certificate the oracle's
        # literal SELECT also produces (rows must exist either way)
        return local_table(
            spark,
            [{"pct": p, "n_rows": 0, "rank_in_bound": 1} for p in pcts],
            schema,
        )
    slack = max(2.0 * n / accuracy, 2.0)
    rank_aggs = []
    for p in pcts:
        v = row[f"p{p}"]
        rank_aggs.append(
            F.sum((F.col("l_extendedprice") < F.lit(v)).cast("long")).alias(
                f"lo{p}"
            )
        )
        rank_aggs.append(
            F.sum((F.col("l_extendedprice") <= F.lit(v)).cast("long")).alias(
                f"hi{p}"
            )
        )
    ranks = li.agg(*rank_aggs).collect()[0]
    out = []
    for p in pcts:
        target = p / 100.0 * n
        lo, hi = ranks[f"lo{p}"] + 1, ranks[f"hi{p}"]
        out.append(
            {
                "pct": p,
                "n_rows": n,
                "rank_in_bound": int(lo - slack <= target <= hi + slack),
            }
        )
    return local_table(spark, out, schema)


@register(
    "q_freq_items",
    # FULL ORACLE (r8, was rows-only r3): freqItems' CONTENTS are
    # implementation-specific (false positives allowed), but the
    # Karp/Misra-Gries SUPERSET contract is deterministic: every value
    # with true frequency > support·n MUST be returned. The certificate
    # emits the exact heavy hitters with found_by_sketch pinned at 1.
    oracle="""
    SELECT o_orderpriority AS frequent_value,
           CAST(COUNT(*) AS BIGINT) AS exact_count,
           CAST(1 AS BIGINT) AS found_by_sketch
    FROM orders
    GROUP BY o_orderpriority
    HAVING COUNT(*) > 0.1 * (SELECT COUNT(*) FROM orders)
    """,
)
def q_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters (``freqItems``, Karp et al. Misra-Gries
    style): the dominant-key detector for skew diagnosis and
    dominant-domain analysis — single pass, fixed memory — emitted as a
    SUPERSET-CONTRACT certificate: the exact heavy hitters
    (freq > 0.1·n), each flagged as found by the sketch. A missed heavy
    hitter is a hard bug (the contract is deterministic, not
    probabilistic) and flips the flag to 0 under the driver hash.

    Scale shape: the sketch is one fixed-memory pass; the exact side is
    one groupBy over a low-cardinality key; the sketch result (≤ 1/support
    values) and the total count are the only driver scalars."""
    o = Catalog(spark, sf_dir)["orders"]
    n = o.count()
    found = set(
        o.select("o_orderpriority")
        .freqItems(["o_orderpriority"], support=0.1)
        .collect()[0]["o_orderpriority_freqItems"]
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count("*").alias("exact_count"))
        .filter(F.col("exact_count") > 0.1 * n)
        .select(
            F.col("o_orderpriority").alias("frequent_value"),
            "exact_count",
            F.col("o_orderpriority")
            .isin(sorted(found))
            .cast("long")
            .alias("found_by_sketch"),
        )
    )


# ---------------------------------------------------------------------------
# count-min sketch (r11): the mergeable streaming heavy-hitter sketch the
# family was missing — and the ONLY sketch whose estimate is fully
# SQL-restatable: md5-derived row hashes are engine-portable, the sketch
# is one groupBy, and the estimate is a MIN over depth rows, so DuckDB
# recomputes sketch AND estimates bit-for-bit (no bounds-flag indirection
# needed, unlike HLL/quantile whose internals are engine-specific).
# ---------------------------------------------------------------------------
_CMS_W, _CMS_D = 128, 4


def _cms_bucket(tok, r: int):
    """Row-r bucket: first 8 md5 hex chars of 'token#r' as a 32-bit int,
    mod width — pure string/md5 arithmetic both engines share."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(tok, F.lit(f"#{r}"))), 1, 8), 16, 10
        )
        .cast("long")
        % _CMS_W
    )


_CMS_ORACLE = f"""
WITH toks AS (
  SELECT t AS tok FROM (
    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents
  ) WHERE t <> ''
),
buckets AS (
  SELECT tok, r.r AS depth,
         CAST('0x' || SUBSTRING(MD5(tok || '#' || r.r), 1, 8) AS BIGINT)
           % {_CMS_W} AS bucket
  FROM toks, UNNEST(GENERATE_SERIES(0, {_CMS_D - 1})) AS r(r)
),
sketch AS (
  SELECT depth, bucket, COUNT(*) AS c
  FROM buckets GROUP BY depth, bucket
),
exact AS (
  SELECT tok, COUNT(*) AS exact_count FROM toks GROUP BY tok
),
top AS (
  SELECT tok, exact_count FROM exact
  ORDER BY exact_count DESC, tok LIMIT 20
),
est AS (
  SELECT t.tok, t.exact_count, MIN(s.c) AS cms_estimate
  FROM top t
  JOIN buckets b ON b.tok = t.tok
  JOIN sketch s ON s.depth = b.depth AND s.bucket = b.bucket
  GROUP BY t.tok, t.exact_count
)
SELECT tok AS token, CAST(exact_count AS BIGINT) AS exact_count,
       CAST(cms_estimate AS BIGINT) AS cms_estimate,
       CAST(cms_estimate - exact_count AS BIGINT) AS overcount
FROM est
"""


@register("q_countmin_sketch", oracle=_CMS_ORACLE)
def q_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) — the mergeable
    fixed-memory frequency sketch a 100 TB streaming pipeline keeps per
    shard (the sketch is LINEAR: merging shards is elementwise addition,
    so per-partition partials combine exactly — partition invariance by
    construction, pinned in tests/test_sketches.py): depth=4 md5-derived
    hash rows × width=128 counters over the corpus token stream, then
    the classic point estimate min_r sketch[r][h_r(x)] for the top-20
    exact tokens. The one-sided guarantee (estimate ≥ true count, over
    by ≤ 2n/width with prob ≥ 1 − 2^-depth) is carried as the
    ``overcount`` column — non-negative by THEOREM, and value-exact
    under the FULL oracle: the md5 row hashes are engine-portable, so
    DuckDB recomputes the whole sketch and every estimate bit-for-bit
    (the only sketch in the family where the estimate itself, not just
    a bounds flag, survives cross-engine hashing).

    Scale shape: sketch = one map-side-combinable groupBy over (depth,
    bucket) — ≤ depth·width distinct keys regardless of corpus size;
    estimates join only the candidate tokens' d buckets. No driver
    collect beyond the bounded top-k."""
    docs = Catalog(spark, sf_dir)["documents"]
    # deliberately NOT cached: toks is scanned exactly twice (sketch
    # build + exact top-k), both as cheap scan-side explodes, and a
    # cached corpus-size token stream would outlive the query (the
    # returned DataFrame is lazy, so an unpersist-before-return would
    # defeat the cache anyway) — ADVICE r11
    toks = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    buckets = toks.select(
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("depth"),
                        _cms_bucket(F.col("tok"), r).alias("bucket"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("b"),
    ).select("tok", F.col("b.depth").alias("depth"), F.col("b.bucket").alias("bucket"))
    sketch = buckets.groupBy("depth", "bucket").agg(F.count("*").alias("c"))
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), F.col("tok"))
        .limit(20)
    )
    # candidate buckets re-derive from the 20 tokens directly (bucket is
    # a pure function of (tok, depth)) — never dedup the corpus-size
    # occurrence stream just to look up 80 sketch cells
    cand = top.select(
        "tok",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("depth"),
                        _cms_bucket(F.col("tok"), r).alias("bucket"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("b"),
    ).select(
        "tok", "exact_count",
        F.col("b.depth").alias("depth"), F.col("b.bucket").alias("bucket"),
    )
    est = (
        F.broadcast(cand)
        .join(sketch, ["depth", "bucket"])
        .groupBy("tok", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
    )
    out = est.select(
        F.col("tok").alias("token"),
        F.col("exact_count").cast("long"),
        F.col("cms_estimate").cast("long"),
        (F.col("cms_estimate") - F.col("exact_count"))
        .cast("long")
        .alias("overcount"),
    )
    return out


# ---------------------------------------------------------------------------
# Misra-Gries mergeable heavy hitters (staged for the r13 window)
# ---------------------------------------------------------------------------
_MG_K = 32

_MG_ORACLE = f"""
WITH toks AS (
  SELECT t.tok FROM documents,
       UNNEST(STRING_SPLIT(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
top AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM toks GROUP BY tok
  ORDER BY exact_count DESC, tok LIMIT 15
)
SELECT tok AS token, exact_count,
       (SELECT n FROM tot) AS n_tokens,
       CAST(1 AS BIGINT) AS guarantee_ok,
       CAST(1 AS BIGINT) AS summary_within_k
FROM top
"""


@register("q_heavy_hitters_mg", oracle=_MG_ORACLE)
def q_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries mergeable heavy hitters (Misra & Gries 1982; merge
    per Agarwal et al., "Mergeable Summaries", PODS 2012) — the
    DETERMINISTIC sibling of q_countmin_sketch in the sketch family
    (HLL = distinct, CMS = frequency overestimate, Bloom = membership,
    MG = frequency underestimate with a guaranteed-presence theorem):
    k=32 counters per partition, summaries merged as units on the
    driver. For every token, true − n/(k+1) ≤ est ≤ true, and any
    token with true > n/(k+1) is GUARANTEED in the summary.

    Counter VALUES are arrival-order dependent (no md5 portability
    trick exists for MG), so the certificate pins what is
    engine-independent: the exact top-15 tokens and counts (DuckDB
    recomputes), the token total, and the THEOREM columns —
    ``guarantee_ok`` (presence when above threshold + both bounds) and
    ``summary_within_k`` — which the oracle states as constants and a
    violating implementation would hash-break. Estimate-level laws are
    value-pinned against a sequential reference in
    tests/test_heavy_hitters.py (partition invariance of the theorem,
    exact equality at k > |vocabulary|).

    Scale shape (operators/heavy_hitters.py): one mapInPandas pass with
    ≤ k counters per task (the stream length n rides the same pass),
    a ≤ partitions·k-row driver fold, NO shuffle — strictly cheaper
    than the CMS groupBy at the same corpus;
    the same tokenization as q_countmin_sketch so the two sketches are
    comparable on identical streams."""
    from data_integration_spark.operators.heavy_hitters import (
        mg_certificate_rows,
        misra_gries_summary,
    )

    docs = Catalog(spark, sf_dir)["documents"]
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    summary, n = misra_gries_summary(toks, _MG_K)
    return mg_certificate_rows(spark, toks, summary, n, _MG_K)


# ---------------------------------------------------------------------------
# Mergeable quantile sketch certificate (staged for the r13 window)
# ---------------------------------------------------------------------------
_QS_PROBES = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
_QS_ACC = 1000  # relative rank error 1/accuracy (Greenwald-Khanna bound)

_QS_ORACLE = """
WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem)
SELECT CAST(p AS DOUBLE) AS p, (SELECT n FROM tot) AS n_rows,
       CAST(1 AS BIGINT) AS within_bound,
       CAST(1 AS BIGINT) AS est_is_member
FROM (VALUES (0.1), (0.25), (0.5), (0.75), (0.9), (0.99)) AS probes(p)
"""


@register("q_quantile_sketch", oracle=_QS_ORACLE)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate-quantile sketch — the QUANTILE member of
    the sketch family (Greenwald & Khanna 2001 as implemented by
    Spark's ``percentile_approx``; the aggregation buffer is map-side
    combinable, so per-shard sketches roll up a 1000-executor corpus
    scan in one pass — the same merge economics as HLL/CMS/MG).

    The estimates themselves are sketch-state dependent (no cross-engine
    value pin exists), so the certificate hash-checks the THEOREM per
    probe p over lineitem.l_extendedprice at accuracy 1000:

    - ``within_bound``: the exact rank of the estimate (recomputed
      distributed, two narrow aggregates) is within n/accuracy of p·n —
      the GK guarantee, stated tolerantly on both rank conventions
      (count(< est) and count(≤ est));
    - ``est_is_member``: the estimate is an actual element of the
      column (GK summaries store observed values, never interpolations);
    - ``n_rows``: conservation, recomputed by DuckDB.

    A broken sketch (wrong bound, interpolated value, dropped rows)
    breaks the hash; the bound margin at driver SFs is ≥ 10× the
    discreteness slack (pinned in tests/test_heavy_hitters.py)."""
    li = Catalog(spark, sf_dir)["lineitem"].select(
        F.col("l_extendedprice").cast("double").alias("v")
    )
    agg = li.agg(
        F.percentile_approx(
            "v", _QS_PROBES, F.lit(_QS_ACC)
        ).alias("ests"),
        F.count("*").alias("n"),
    ).collect()[0]  # 1 row
    ests, n = list(agg["ests"]), int(agg["n"])
    slack = n / _QS_ACC
    checks = li.agg(
        *[
            F.sum((F.col("v") <= F.lit(e)).cast("long")).alias(f"le_{i}")
            for i, e in enumerate(ests)
        ],
        *[
            F.sum((F.col("v") < F.lit(e)).cast("long")).alias(f"lt_{i}")
            for i, e in enumerate(ests)
        ],
        *[
            F.max((F.col("v") == F.lit(e)).cast("long")).alias(f"in_{i}")
            for i, e in enumerate(ests)
        ],
    ).collect()[0]  # 1 row
    rows = []
    for i, (p, e) in enumerate(zip(_QS_PROBES, ests)):
        rank_le, rank_lt = int(checks[f"le_{i}"]), int(checks[f"lt_{i}"])
        ok = int(
            rank_le >= p * n - slack and rank_lt <= p * n + slack
        )
        rows.append(
            {
                "p": float(p),
                "n_rows": n,
                "within_bound": ok,
                "est_is_member": int(checks[f"in_{i}"]),
            }
        )
    return local_table(
        spark,
        rows, "p double, n_rows long, within_bound long, est_is_member long"
    )

"""Training-data curation depth — rule-based quality gates
(Gopher-style), embedding quantization, overlapping context-window
chunking, and URL/crawl-frontier curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog

_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "for")
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@register(
    "q_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             STRING_SPLIT(text, ' ') AS words,
             CAST(LENGTH(text) AS DOUBLE) AS n_chars_d,
             CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9 ]', '', 'g'))
                  AS DOUBLE) AS n_sym
      FROM documents
    )
    SELECT doc_id,
           CAST(LEN(words) AS BIGINT) AS n_words,
           ROUND(CAST(LIST_SUM(LIST_TRANSFORM(words, w -> LENGTH(w)))
                      AS DOUBLE) / LEN(words), 6) AS mean_word_len,
           ROUND(n_sym / NULLIF(n_chars_d, 0), 6) AS symbol_ratio,
           ROUND(CAST(LEN(LIST_FILTER(words, w -> w IN ({_STOP_SQL})))
                      AS DOUBLE) / LEN(words), 6) AS stopword_frac,
           (LEN(words) BETWEEN 10 AND 5000
            AND CAST(LIST_SUM(LIST_TRANSFORM(words, w -> LENGTH(w)))
                     AS DOUBLE) / LEN(words) BETWEEN 2 AND 12
            AND CAST(LEN(LIST_FILTER(words, w -> w IN ({_STOP_SQL})))
                     AS DOUBLE) / LEN(words) >= 0.05) AS passes
    FROM t
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1 shape):
    word-count bounds, mean-word-length band, symbol-to-char ratio, and
    stopword fraction, plus the combined pass/fail flag. The reference has
    no text layer; this is the standard pre-training corpus filter.

    Scale shape: a pure narrow map over the documents scan — every rule is
    a JVM-side higher-order-function expression (no UDF, no shuffle), so
    the filter runs inside whole-stage codegen at scan speed and composes
    with predicate pushdown when used as a WHERE clause."""
    docs = Catalog(spark, sf_dir)["documents"]
    words = F.split("text", " ")
    n_words = F.size(words)
    n_words_d = n_words.cast("double")
    total_len = F.aggregate(
        F.transform(words, lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_word_len = total_len.cast("double") / n_words_d
    n_sym = F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast(
        "double"
    )
    symbol_ratio = n_sym / F.nullif(
        F.length("text").cast("double"), F.lit(0.0)
    )
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    stopword_frac = (
        F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).cast(
            "double"
        )
        / n_words_d
    )
    passes = (
        n_words.between(10, 5000)
        & mean_word_len.between(2.0, 12.0)
        & (stopword_frac >= 0.05)
    )
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(stopword_frac, 6).alias("stopword_frac"),
        passes.alias("passes"),
    )


@register(
    "q_int8_quantize",
    oracle="""
    WITH t AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), s AS (
      SELECT vec_id, e,
             NULLIF(LIST_MAX(LIST_TRANSFORM(e, x -> ABS(x))), 0) / 127.0
               AS scale
      FROM t
    )
    SELECT vec_id,
           ROUND(scale, 9) AS scale,
           ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(
             e, x -> POW(x - ROUND(x / scale) * scale, 2))) / LEN(e)), 6)
             AS rmse,
           CAST(LIST_MAX(LIST_TRANSFORM(e, x -> ABS(ROUND(x / scale))))
                AS BIGINT) AS max_q
    FROM s
    """,
)
def q_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    scale = max|x|/127, plus the reconstruction RMSE and the max
    quantized magnitude (must be <= 127 — symmetric scaling never clips).
    This is the storage/serving compression step of an embedding pipeline
    (4x smaller than float32 before any index build).

    An all-zero vector makes max|x| = 0; under Spark 4's default ANSI mode
    the unguarded x/scale raises DIVIDE_BY_ZERO, so the scale
    divisor is NULLIF-guarded — both engines emit NULL scale/rmse/max_q
    for degenerate vectors instead of diverging (crash vs inf).

    Scale shape: a narrow map over the embeddings scan — per-row lambda
    folds only, no shuffle, no UDF; at 100 TB this pipelines with the scan
    and writes straight back out."""
    emb = Catalog(spark, sf_dir)["embeddings"]
    e = F.transform("embedding", lambda x: x.cast("double"))
    max_abs = F.aggregate(
        e, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = F.nullif(max_abs, F.lit(0.0)) / F.lit(127.0)
    sq_err = F.aggregate(
        e,
        F.lit(0.0),
        lambda acc, x: acc + F.pow(x - F.round(x / scale, 0) * scale, 2),
    )
    rmse = F.sqrt(sq_err / F.size(F.col("embedding")).cast("double"))
    max_q = F.aggregate(
        e, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(F.round(x / scale, 0)))
    )
    return emb.select(
        "vec_id",
        F.round(scale, 9).alias("scale"),
        F.round(rmse, 6).alias("rmse"),
        # greatest() IGNORES nulls, so the fold would yield 0.0 (not NULL)
        # for a degenerate vector — force the NULL the oracle produces
        F.when(scale.isNull(), F.lit(None))
        .otherwise(max_q)
        .cast("bigint")
        .alias("max_q"),
    )


_CHUNK_W = 40  # tokens per chunk (context window)
_CHUNK_S = 30  # stride (W - S = 10 tokens of overlap)


@register(
    "q_doc_chunking",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS words,
             LEN(STRING_SPLIT(text, ' ')) AS n
      FROM documents
    ), c AS (
      SELECT doc_id, words, n,
             CAST(1 + CEIL(CAST(GREATEST(n - {_CHUNK_W}, 0) AS DOUBLE)
                           / {_CHUNK_S}) AS BIGINT) AS nc
      FROM t
    )
    SELECT doc_id,
           CAST(g.i AS BIGINT) AS chunk_id,
           CAST(LEN(words[g.i * {_CHUNK_S} + 1 :
                          g.i * {_CHUNK_S} + {_CHUNK_W}]) AS BIGINT)
             AS n_tokens,
           ARRAY_TO_STRING(words[g.i * {_CHUNK_S} + 1 :
                                 g.i * {_CHUNK_S} + {_CHUNK_W}], ' ')
             AS chunk_text
    FROM c, UNNEST(GENERATE_SERIES(0, nc - 1)) AS g(i)
    """,
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking: split each document into
    40-token chunks with stride 30 (10-token overlap), the context-window
    preparation step before tokenization/embedding. The final chunk is the
    ragged tail; every token lands in at least one chunk because the
    stride is smaller than the window.

    Scale shape: narrow map + explode — output rows ~ n/stride per doc,
    produced executor-side with no shuffle; chunk boundaries depend only
    on the row, so the op is embarrassingly parallel at any scale."""
    docs = Catalog(spark, sf_dir)["documents"]
    words = F.split("text", " ")
    n = F.size(words)
    nc = (
        F.lit(1)
        + F.ceil(
            F.greatest(n - F.lit(_CHUNK_W), F.lit(0)).cast("double")
            / F.lit(_CHUNK_S)
        )
    ).cast("bigint")
    exploded = docs.select(
        "doc_id",
        words.alias("words"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), nc - 1)).alias(
            "chunk_id"
        ),
    )
    chunk = F.slice(
        F.col("words"),
        (F.col("chunk_id") * _CHUNK_S + 1).cast("int"),
        _CHUNK_W,
    )
    return exploded.select(
        "doc_id",
        "chunk_id",
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@register(
    "q_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT o_orderpriority, o_orderstatus, CAST(o_orderdate AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS sz
      FROM orders GROUP BY 1, 2, 3
    )
    SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_classes,
           CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           MIN(sz) AS min_class_size,
           MAX(sz) AS max_class_size,
           ROUND(CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS DOUBLE)
                 / SUM(sz), 6) AS pct_at_risk
    FROM classes
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k = 10) over the quasi-identifier tuple
    (priority, status, order date) — the re-identification risk
    readout a training-data governance pass runs before release: any
    QI class smaller than k means those rows are re-identifiable by an
    adversary who knows the quasi-identifiers; the certificate reports
    the violating-class count, the rows at risk, and the risk fraction.
    Complements q_pii_redact (which removes direct identifiers — this
    measures the INDIRECT ones).

    Everything is integer counts off one grouped aggregation; the only
    float is the final risk ratio of two exact integers.

    Scale shape: ONE hash aggregation on the QI key with map-side
    partials, then a second aggregation over the class-size table
    (bounded by |QI cardinality|). The canonical two-level aggregation
    — nothing else touches the fact table."""
    o = Catalog(spark, sf_dir)["orders"]
    classes = o.groupBy(
        "o_orderpriority",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(F.count("*").alias("sz"))
    at_risk = F.sum(F.when(F.col("sz") < 10, F.col("sz")).otherwise(0))
    return classes.agg(
        F.sum("sz").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_classes"),
        F.sum((F.col("sz") < 10).cast("int"))
        .cast("long")
        .alias("n_violating_classes"),
        at_risk.cast("long").alias("rows_at_risk"),
        F.min("sz").alias("min_class_size"),
        F.max("sz").alias("max_class_size"),
        F.round(
            at_risk.cast("double") / F.sum("sz"), 6
        ).alias("pct_at_risk"),
    )


@register(
    "q_l_diversity",
    oracle="""
    WITH rows_q AS (
      SELECT o_orderpriority, o_orderstatus,
             CAST(o_orderdate AS DATE) AS d,
             CAST(FLOOR(o_totalprice / 100000) AS BIGINT) AS sens
      FROM orders
    ),
    cls AS (
      SELECT o_orderpriority, o_orderstatus, d,
             CAST(COUNT(*) AS BIGINT) AS sz,
             CAST(COUNT(DISTINCT sens) AS BIGINT) AS l
      FROM rows_q GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           MIN(l) AS min_l,
           CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_homogeneous_classes,
           CAST(SUM(CASE WHEN l < 2 THEN sz ELSE 0 END) AS BIGINT)
             AS rows_disclosed,
           ROUND(CAST(SUM(CASE WHEN l < 2 THEN sz ELSE 0 END) AS DOUBLE)
                 / SUM(sz), 6) AS pct_disclosed
    FROM cls
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the privacy failure k-anonymity misses: a QI
    class can be large (k-anonymous) yet HOMOGENEOUS in the sensitive
    attribute, disclosing it for every member anyway. Over the same
    quasi-identifier tuple as q_k_anonymity, count the distinct
    sensitive values (price band, 100k-wide) per class and report the
    classes with l < 2 — their rows' price band is disclosed by QI
    knowledge alone. The pair of certificates is the standard release
    gate (k for re-identification, l for attribute disclosure).

    Scale shape: one hash aggregation on (QI, sensitive) -> one on QI
    (the COUNT DISTINCT collapses to exact counting over the first
    aggregation's keys) -> a 1-row fold over the bounded class table."""
    o = Catalog(spark, sf_dir)["orders"]
    cls = o.groupBy(
        "o_orderpriority",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(
        F.count("*").alias("sz"),
        F.countDistinct(
            F.floor(F.col("o_totalprice") / 100000).cast("long")
        ).alias("l"),
    )
    disclosed = F.sum(F.when(F.col("l") < 2, F.col("sz")).otherwise(0))
    return cls.agg(
        F.count("*").cast("long").alias("n_classes"),
        F.min("l").alias("min_l"),
        F.sum((F.col("l") < 2).cast("int"))
        .cast("long")
        .alias("n_homogeneous_classes"),
        disclosed.cast("long").alias("rows_disclosed"),
        F.round(disclosed.cast("double") / F.sum("sz"), 6).alias(
            "pct_disclosed"
        ),
    )


# --- URL/host-level crawl curation ------------------------------------
# The second curation branch, alongside q_semdedup's content dedup:
# URL canonicalization + host-level dedup + frontier politeness stats,
# the curation layer that runs BEFORE content dedup in a crawl pipeline
# (CCNet §2). The documents table carries no URL
# column, so a deterministic synthetic manifest derives from
# (source, doc_id) with REAL canonicalization work injected (mixed-case
# scheme/host, default :443 ports, utm_* tracking params, fragments,
# trailing slashes — each varied by doc_id residues, all SQL-expressible
# so DuckDB rebuilds the identical raw manifest and re-runs the SAME
# string algebra). Canonical collisions are guaranteed at every driver
# SF by construction (path = doc_id % 23, ref = doc_id % 2: 500 docs →
# 486 canonical at sf0.001, 5000 → 920 at sf0.1 — measured before
# staging).

# the raw manifest builder, shared verbatim by both queries' docs CTE
_URL_RAW_SQL = """
      CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://'
      || CASE WHEN doc_id % 6 < 3 THEN UPPER(source) ELSE source END
      || '.Example.COM'
      || CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END
      || '/docs/' || CAST(doc_id % 23 AS VARCHAR)
      || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
      || CASE WHEN doc_id % 3 = 0
              THEN '?utm_source=feed&ref=' || CAST(doc_id % 2 AS VARCHAR)
              WHEN doc_id % 3 = 1
              THEN '?ref=' || CAST(doc_id % 2 AS VARCHAR)
              ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN '#sec-' || CAST(doc_id % 9 AS VARCHAR)
              ELSE '' END
"""

# the SQL restatement of functions/url.py::canonicalize_url — the oracle
# re-runs the ALGEBRA (regex parse → normalize → reassemble), not a
# shortcut to the known canonical form, so a canonicalizer bug on any
# component breaks the driver hash
_URL_CANON_SQL = """
  SELECT doc_id, raw_url,
         LOWER(REGEXP_EXTRACT(raw_url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         LOWER(REGEXP_EXTRACT(raw_url,
               '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) AS host,
         REGEXP_EXTRACT(raw_url,
               '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?[^/:?#]+:([0-9]+)(?:[/?#]|$)', 1) AS port,
         REGEXP_EXTRACT(raw_url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
         REGEXP_EXTRACT(raw_url, '^[^#?]*\\?([^#]*)', 1) AS query
  FROM raw
"""

_URL_ASSEMBLE_SQL = """
  SELECT doc_id, raw_url, host,
         scheme || '://' || host
         || CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
                      OR (scheme = 'http' AND port = '80')
                 THEN '' ELSE ':' || port END
         || CASE WHEN REGEXP_REPLACE(path, '/+$', '') = ''
                 THEN '/' ELSE REGEXP_REPLACE(path, '/+$', '') END
         || CASE WHEN COALESCE(ARRAY_TO_STRING(
                        LIST_FILTER(STRING_SPLIT(query, '&'),
                          p -> p <> '' AND NOT STARTS_WITH(p, 'utm_')
                               AND NOT STARTS_WITH(p, 'fbclid')), '&'), '') = ''
                 THEN ''
                 ELSE '?' || ARRAY_TO_STRING(
                        LIST_FILTER(STRING_SPLIT(query, '&'),
                          p -> p <> '' AND NOT STARTS_WITH(p, 'utm_')
                               AND NOT STARTS_WITH(p, 'fbclid')), '&') END
         -- ARRAY_TO_STRING of the EMPTY filtered list is NULL in DuckDB
         -- (|| would NULL the whole canon); the non-empty branch is safe
           AS canon_url
  FROM parts
"""

_URL_CANONICALIZE_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, ({_URL_RAW_SQL}) AS raw_url FROM documents
),
parts AS ({_URL_CANON_SQL}),
canon AS ({_URL_ASSEMBLE_SQL})
SELECT doc_id, raw_url, host, canon_url FROM canon
"""


def _raw_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, raw_url): the deterministic synthetic crawl manifest —
    the engine-side twin of ``_URL_RAW_SQL`` (a real deployment reads a
    url column off the crawl index instead)."""
    d = F.col("doc_id")
    raw = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(d % 6 < 3, F.upper("source")).otherwise(F.col("source")),
        F.lit(".Example.COM"),
        F.when(d % 7 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        (d % 23).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.concat(F.lit("?utm_source=feed&ref="), (d % 2).cast("string")),
        )
        .when(d % 3 == 1, F.concat(F.lit("?ref="), (d % 2).cast("string")))
        .otherwise(F.lit("")),
        F.when(
            d % 5 == 0, F.concat(F.lit("#sec-"), (d % 9).cast("string"))
        ).otherwise(F.lit("")),
    )
    return (
        Catalog(spark, sf_dir)["documents"]
        .select("doc_id", "source")
        .select("doc_id", raw.alias("raw_url"))
    )


@register("q_url_canonicalize", oracle=_URL_CANONICALIZE_ORACLE)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over the crawl manifest:
    per-doc (doc_id, raw_url, host, canon_url) — scheme/host lowercase,
    default port stripped, fragment dropped, utm_*/fbclid params
    filtered with survivor order preserved, trailing slashes collapsed
    (functions/url.py). Native expressions end-to-end: a narrow
    whole-stage-codegen map, no shuffle, no Python."""
    from data_integration_spark.functions.url import (
        canonicalize_url,
        url_host,
    )

    raw = _raw_manifest(spark, sf_dir)
    return raw.select(
        "doc_id",
        "raw_url",
        url_host(F.col("raw_url")).alias("host"),
        canonicalize_url(F.col("raw_url")).alias("canon_url"),
    )


_CRAWL_FRONTIER_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, ({_URL_RAW_SQL}) AS raw_url FROM documents
),
parts AS ({_URL_CANON_SQL}),
canon AS ({_URL_ASSEMBLE_SQL})
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(COUNT(DISTINCT canon_url) AS BIGINT) AS n_pages,
       ROUND(1.0 - COUNT(DISTINCT canon_url) * 1.0 / COUNT(*), 6)
         AS dup_rate,
       CAST(2 * COUNT(DISTINCT canon_url) AS BIGINT) AS crawl_sec,
       CASE WHEN COUNT(DISTINCT canon_url) >= 100 THEN 'deep'
            WHEN COUNT(DISTINCT canon_url) >= 20 THEN 'mid'
            ELSE 'shallow' END AS tier
FROM canon
GROUP BY host
"""


@register("q_crawl_frontier", oracle=_CRAWL_FRONTIER_ORACLE)
def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level frontier politeness stats: per host —
    raw manifest rows, DISTINCT canonical pages (the post-URL-dedup
    fetch set), the dedup rate, the serial crawl time at a 2 s/request
    politeness delay, and a depth tier for scheduler prioritization.
    One groupBy(host) over the canonicalized manifest: count-distinct
    expands to the standard two-phase aggregate, both map-side
    combined; output is |hosts|-sized — the frontier table a crawl
    scheduler actually consumes."""
    from data_integration_spark.functions.url import (
        canonicalize_url,
        url_host,
    )

    raw = _raw_manifest(spark, sf_dir)
    c = raw.select(
        url_host(F.col("raw_url")).alias("host"),
        canonicalize_url(F.col("raw_url")).alias("canon_url"),
    )
    return _politeness_stats(
        c, F.count("*"), F.count_distinct("canon_url")
    )


def _politeness_stats(df, n_raw, n_pages) -> DataFrame:
    """The per-host politeness aggregation, shared by the batch
    q_crawl_frontier and the streaming q_streaming_crawl_frontier (a
    drifted copy of the dup-rate formula / 2 s politeness
    delay / 100-20 tier thresholds in one of the two would silently
    break their batch==streaming equivalence between parity runs).
    ``n_raw`` / ``n_pages`` are the caller's aggregate EXPRESSIONS over
    its own grouped source (raw manifest rows vs the maintained
    counter table)."""
    return df.groupBy("host").agg(
        n_raw.cast("long").alias("n_raw"),
        n_pages.cast("long").alias("n_pages"),
        F.round(1.0 - n_pages * 1.0 / n_raw, 6).alias("dup_rate"),
        (2 * n_pages).cast("long").alias("crawl_sec"),
        F.when(n_pages >= 100, F.lit("deep"))
        .when(n_pages >= 20, F.lit("mid"))
        .otherwise(F.lit("shallow"))
        .alias("tier"),
    )


# --- streaming/incremental crawl-frontier maintenance ------------------


@register("q_streaming_crawl_frontier", oracle=_CRAWL_FRONTIER_ORACLE)
def q_streaming_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL crawl-frontier maintenance: the raw crawl manifest
    arrives as a STREAM (4-file replay, maxFilesPerTrigger=1 → ≥ 4 real
    micro-batches), each batch
    canonicalizes in-flight (functions/url.py — stateless narrow
    expressions, streaming-legal) and foreachBatch-merges into the
    per-(host, canon_url) frontier table with ADDITIVE counters
    (streaming/sinks.py::streaming_counter_merge_sink: count is a
    commutative monoid, so cross-batch merge is exact in any arrival
    order; a batch-id ledger committed atomically WITH the counters
    makes at-least-once redelivery a no-op instead of a double count).
    The registered output is the per-host politeness stats computed
    from the MAINTAINED table — after the availableNow replay it must
    equal the batch q_crawl_frontier answer, which is exactly what the
    shared oracle checks (n_raw = Σ per-key counters, n_pages = table
    key count per host).

    At 100 TB this is the operator that keeps the frontier fresh as
    crawl batches land: each refresh costs one batch-sized groupBy +
    one |frontier|-keyed merge join — history is never rescanned, and
    the scheduler reads the same host-tier table the batch query
    produces."""
    import json
    import os

    from data_integration_spark.functions.url import (
        canonicalize_url,
        url_host,
    )
    from data_integration_spark.streaming.replay import replay_source, scratch_dir
    from data_integration_spark.streaming.sinks import (
        streaming_counter_merge_sink,
    )

    table = scratch_dir("frontier_table")
    raw = _raw_manifest(spark, sf_dir)
    # 4 files → 4 micro-batches under maxFilesPerTrigger=1: the merge
    # path must actually merge (a single-batch run would certify only
    # the initial write)
    quarters = [raw.filter(F.pmod(F.hash("doc_id"), 4) == i) for i in range(4)]
    stream_in = replay_source(spark, quarters, max_files_per_trigger=1).select(
        url_host(F.col("raw_url")).alias("host"),
        canonicalize_url(F.col("raw_url")).alias("canon_url"),
    )
    # the sink replays to the end, so the table below is never read
    # mid-append
    streaming_counter_merge_sink(
        stream_in, table, keys=["host", "canon_url"], query_name="t2_frontier",
    )

    with open(os.path.join(table, "_last_batch.json")) as fh:
        applied = json.load(fh)["applied"]
    if len(applied) < 2:  # the multi-batch merge story must be exercised
        raise RuntimeError(
            f"frontier replay ran {len(applied)} batch(es); expected >= 2 "
            "(merge path untested — check maxFilesPerTrigger/source files)"
        )

    t = spark.read.parquet(table)
    # one table row per (host, canon_url) KEY — but a NULL canon_url
    # (NULL raw_url input) must not count as a page: the batch query's
    # count_distinct skips NULLs, and batch==streaming equivalence is
    # this query's contract. Its raw rows still count.
    return _politeness_stats(
        t,
        F.sum("n_raw"),
        F.sum(F.col("canon_url").isNotNull().cast("long")),
    )

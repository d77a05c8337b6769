"""Large-scale pipeline operators — quota sampling, snapshot diffing,
SCD2 builds, inverted indexing, outlier filtering, and sequence packing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_integration_spark.operators.packing import pack_documents
from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog
from data_integration_spark.sources.local import local_table


@register(
    "q_quota_sample",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
)
def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quota sampling: cap every language at 10 documents,
    chosen by content hash — the domain/language rebalancing step of a
    training-data mix (cap the over-represented stratum, keep the rest).

    Scale shape: one shuffle on the stratum key; the hash order makes the
    pick reproducible across runs, partitionings, and engines (same idiom
    as q_hash_sample), and Spark 4 runs the rn<=10 filter as
    WindowGroupLimit — per-task top-10 heaps, never a full per-group
    sort."""
    docs = Catalog(spark, sf_dir)["documents"]
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "lang", "source")
    )


@register(
    "q_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01'
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P'
                  THEN ROUND(o_totalprice * 1.1, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT CASE
               WHEN v1.o_orderkey IS NULL THEN 'added'
               WHEN v2.o_orderkey IS NULL THEN 'removed'
               WHEN v1.o_totalprice <> v2.o_totalprice THEN 'changed'
               ELSE 'unchanged' END AS change_type
      FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    ) GROUP BY change_type
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / change-data classification: full-outer join two
    versions of a table on the key and classify each row added / removed /
    changed / unchanged — the audit step between incremental ingest runs.

    The two versions here are deterministic slices of orders (date windows,
    v2 re-prices status-P rows) so the oracle sees identical inputs.

    Scale shape: one co-partitioned shuffle join on the key (at 100 TB both
    snapshots would be bucketed on it, making the diff exchange-free), then
    a 4-row aggregate; the comparison never leaves the executors."""
    orders = Catalog(spark, sf_dir)["orders"]
    v1 = orders.filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select(F.col("o_orderkey").alias("k1"), F.col("o_totalprice").alias("p1"))
    v2 = orders.filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    ).select(
        F.col("o_orderkey").alias("k2"),
        F.when(
            F.col("o_orderstatus") == "P",
            F.round(F.col("o_totalprice") * 1.1, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("p2"),
    )
    return (
        v1.join(v2, F.col("k1") == F.col("k2"), "full_outer")
        .select(
            F.when(F.col("k1").isNull(), "added")
            .when(F.col("k2").isNull(), "removed")
            .when(F.col("p1") != F.col("p2"), "changed")
            .otherwise("unchanged")
            .alias("change_type")
        )
        .groupBy("change_type")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_scd2_build",
    oracle="""
    SELECT user_id,
           event_type AS state,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(STRFTIME(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S'),
                    '9999-12-31 00:00:00') AS valid_to,
           CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: turn an event log into
    effective-dated state intervals (valid_from, valid_to, is_current) via
    LEAD over the per-key timeline — how a mutable entity's history is
    materialized for as-of joins.

    Scale shape: one shuffle on the entity key; both the LEAD and the
    is_current flag share the same window sort. The open interval is
    closed with a sentinel high date, so downstream range predicates
    (q_range_join / q_asof_join style) need no NULL branch."""
    ev = Catalog(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


@register(
    "q_inverted_index",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, t.tk
      FROM documents,
           UNNEST(STRING_SPLIT_REGEX(LOWER(text), '[^a-z]+')) AS t(tk)
      WHERE t.tk <> ''
    ),
    postings AS (
      SELECT tk AS token,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             ARRAY_TO_STRING(LIST(CAST(doc_id AS VARCHAR) ORDER BY doc_id)[:5], ',')
               AS first_docs
      FROM tok GROUP BY tk
    )
    SELECT token, n_docs, first_docs FROM postings
    WHERE n_docs BETWEEN 2 AND 50
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: token → document-frequency + capped posting
    list, with a document-frequency band (2..50) that drops both hapax
    noise and stopword-grade tokens — the retrieval-side sibling of
    q_tfidf and the shape BM25 / dedup-candidate stores are built on.

    Scale shape: explode → DISTINCT (map-side partial) → one shuffle on
    token; the posting list is capped at 5 doc ids BEFORE leaving the
    aggregation (slice of the sorted set), so a hot token ships a bounded
    payload — unbounded collect_list on text data is the classic 100 TB
    OOM."""
    docs = Catalog(spark, sf_dir)["documents"]
    tok = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z]+")
            ).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("n_docs"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.array_sort(F.collect_set("doc_id")), 1, 5),
                    lambda x: x.cast("string"),
                ),
            ).alias("first_docs"),
        )
        .filter(F.col("n_docs").between(2, 50))
    )


@register(
    "q_zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             AVG(value) AS mu,
             STDDEV_SAMP(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           ROUND((e.value - s.mu) / s.sigma, 6) AS z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE ABS((e.value - s.mu) / s.sigma) > 2.0
    """,
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection: flag events whose value sits
    more than 2 sigma from its event-type mean — the numeric-column
    cleaning pass of a data-quality pipeline.

    Scale shape: two fact scans (one reduced map-side to a per-type stats
    row, one as the probe side), but the PROBE side never shuffles — the
    tiny stats frame broadcasts back onto it and the sigma filter runs as
    a map-side expression."""
    ev = Catalog(spark, sf_dir)["events"]
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(stats, "event_type")
        .filter(F.abs(z) > 2.0)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("z"),
        )
    )


@register("q_doc_packing")  # rows-only: greedy packing is not SQL-expressible
def q_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: group documents into 96-token bins per
    content-hash shard via greedy first-fit-decreasing inside
    applyInPandas — the tokenize→pack step before training-batch
    assembly. Rows-only by contract (iterative/greedy, no SQL oracle);
    tests/test_packing.py carries the semantics: bins never exceed the
    budget except single-oversize-doc bins, every doc lands in exactly
    one bin, and the output is rerun-deterministic."""
    docs = Catalog(spark, sf_dir)["documents"].select(
        "doc_id",
        F.size(F.split(F.col("text"), "\\s+")).alias("token_count"),
    )
    return pack_documents(docs, budget=96, n_shards=8)


@register(
    "q_doc_packing_invariants",
    # conservation-law oracle (VERDICT r5 #3): the packing itself is
    # greedy/iterative (not SQL-expressible), but its VALIDITY is — every
    # doc lands in exactly one bin (n_docs, total_tokens conserved from
    # the raw corpus), every >budget doc gets a singleton bin, and NO
    # multi-doc bin may exceed the budget (the literal 0: if Spark's FFD
    # ever overfills, its count goes nonzero and the hash breaks).
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tc) AS BIGINT) AS total_tokens,
           CAST(COUNT(CASE WHEN tc > 96 THEN 1 END) AS BIGINT)
             AS n_oversize_bins,
           CAST(0 AS BIGINT) AS n_overfull_multi_bins
    FROM (
      SELECT LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS tc FROM documents
    )
    """,
)
def q_doc_packing_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level cross-check of the sequence-packing operator: run the
    REAL per-shard FFD packing (operators/packing.py), then collapse the
    bins to the invariants an independent engine can recompute from the
    raw corpus — doc count and token mass conserved, oversize-singleton
    count equals the count of >budget docs, zero overfull multi-doc bins.
    Together with q_doc_packing (the full bin table, rows-only) this
    gives the driver a hash-checked signal on the packing semantics
    without pretending FFD is SQL-expressible."""
    docs = Catalog(spark, sf_dir)["documents"].select(
        "doc_id",
        F.size(F.split(F.col("text"), "\\s+")).alias("token_count"),
    )
    packed = pack_documents(docs, budget=96, n_shards=8)
    over = F.col("total_tokens") > 96
    return packed.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("total_tokens").cast("long").alias("total_tokens"),
        F.sum(F.when(over & (F.col("n_docs") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_oversize_bins"),
        F.sum(F.when(over & (F.col("n_docs") > 1), 1).otherwise(0))
        .cast("long")
        .alias("n_overfull_multi_bins"),
    )


@register(
    "q_context_windows",
    oracle="""
    WITH d AS (
      SELECT doc_id, LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS n
      FROM documents
    ),
    w AS (
      SELECT doc_id, n,
             CAST(1 + GREATEST(0, CEIL((n - 64) / 48.0)) AS BIGINT)
               AS n_win
      FROM d
    )
    SELECT doc_id, CAST(u.w AS BIGINT) AS window_id,
           CAST(u.w * 48 AS BIGINT) AS start_pos,
           CAST(LEAST(64, n - u.w * 48) AS BIGINT) AS win_len
    FROM w, UNNEST(GENERATE_SERIES(0, n_win - 1)) AS u(w)
    """,
)
def q_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking — the step between tokenization and batch
    assembly: split each document into fixed-length training windows
    (length 64, stride 48 → 16-token overlap so no span is ever cut
    without context — parameters sized so the multi-window path is
    actually EXERCISED at signing scale: ~40% of testdata docs exceed one
    window; a 100 TB run would use e.g. 2048/1536 with identical plan
    shape), emitting (doc_id, window_id, start_pos, win_len).
    Window count is 1 + max(0, ceil((n−L)/stride)): the minimal set whose
    last window still reaches the end of the doc; the tail window is
    allowed short (win_len < L) rather than dropped. Pure integer
    arithmetic per row + one explode — embarrassingly parallel, no
    shuffle at any SF; downstream gather of the actual token spans is the
    q_vocab_encode join keyed (doc_id, pos) range-pruned by
    start_pos/win_len. Sibling of q_doc_chunking (curation_extra), which
    materializes overlapping TEXT chunks for embedding prep — this op
    instead PLANS windows over the token stream so q_window_gather can
    emit token-ID training sequences; same mechanics, different product,
    deliberately both surfaced."""
    docs = Catalog(spark, sf_dir)["documents"]
    L, S = 64, 48
    d = docs.select(
        "doc_id", F.size(F.split(F.col("text"), "\\s+")).alias("n")
    )
    n_win = F.lit(1) + F.greatest(
        F.lit(0).cast("long"), F.ceil((F.col("n") - L) / F.lit(float(S)))
    )
    w = d.withColumn("w", F.explode(F.sequence(F.lit(0), (n_win - 1).cast("int"))))
    return w.select(
        "doc_id",
        F.col("w").cast("long").alias("window_id"),
        (F.col("w") * S).cast("long").alias("start_pos"),
        F.least(F.lit(L), F.col("n") - F.col("w") * S)
        .cast("long")
        .alias("win_len"),
    )


@register(
    "q_window_gather",
    oracle="""
    WITH c AS (
      SELECT t, COUNT(*) AS freq
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents)
      WHERE t <> '' GROUP BY t HAVING COUNT(*) >= 5
    ),
    v AS (
      SELECT token_id, t FROM (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, t) AS BIGINT)
                 AS token_id, t
        FROM c
      ) WHERE token_id <= 24
    ),
    tok AS (
      SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, ts[u.i] AS t
      FROM (SELECT doc_id, string_split(text, ' ') AS ts
            FROM documents WHERE doc_id < 12) d,
           UNNEST(GENERATE_SERIES(1, LEN(ts))) AS u(i)
      WHERE ts[u.i] <> ''
    ),
    enc AS (
      SELECT tok.doc_id, tok.pos, COALESCE(v.token_id, 0) AS token_id
      FROM tok LEFT JOIN v ON v.t = tok.t
    ),
    d AS (
      SELECT doc_id, LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS n
      FROM documents WHERE doc_id < 12
    ),
    w AS (
      SELECT doc_id,
             CAST(u.w AS BIGINT) AS window_id,
             CAST(u.w * 48 AS BIGINT) AS start_pos,
             CAST(LEAST(64, n - u.w * 48) AS BIGINT) AS win_len
      FROM (SELECT doc_id, n,
                   CAST(1 + GREATEST(0, CEIL((n - 64) / 48.0)) AS BIGINT)
                     AS n_win
            FROM d) x,
           UNNEST(GENERATE_SERIES(0, n_win - 1)) AS u(w)
    )
    SELECT e.doc_id, w.window_id,
           e.pos - w.start_pos AS pos_in_window, e.token_id
    FROM enc e JOIN w ON w.doc_id = e.doc_id
    WHERE e.pos >= w.start_pos AND e.pos < w.start_pos + w.win_len
    """,
)
def q_window_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final assembly of the tokenize→chunk→gather chain: join the
    encoded token stream (q_vocab_encode semantics) to the context
    windows (q_context_windows semantics) and emit (doc_id, window_id,
    pos_in_window, token_id) — the materialized training sequences, with
    overlap tokens legitimately DUPLICATED into both covering windows
    (that is what stride < length means). Slice doc_id < 12 bounds the
    signed output.

    Scale shape: the gather is a doc-keyed equi-join with an in-row range
    predicate; fan-out per token row is the number of covering windows
    (≤ ceil(L/stride) = 2 by construction, never data-dependent), so the
    join output is ~1.33× the token stream — a narrow, well-bounded
    expansion that needs no range-join machinery. Both sides partition on
    doc_id: co-partitioned at scale, zero extra shuffle beyond the
    encode's vocab join."""
    from data_integration_spark.operators.prefix import range_row_number

    docs = Catalog(spark, sf_dir)["documents"]
    L, S = 64, 48
    c = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= 5)
    )
    vocab = (
        range_row_number(
            c, [F.col("freq").desc(), F.col("t")], out_col="token_id"
        )
        .filter(F.col("token_id") <= 24)
        .select("token_id", F.col("t").alias("_vt"))
    )
    sliced = docs.filter(F.col("doc_id") < 12)
    toks = (
        sliced.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "t")
        )
        .filter(F.col("t") != "")
    )
    enc = toks.join(vocab, toks["t"] == vocab["_vt"], "left").select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.coalesce("token_id", F.lit(0).cast("long")).alias("token_id"),
    )
    d = sliced.select(
        "doc_id", F.size(F.split(F.col("text"), "\\s+")).alias("n")
    )
    n_win = F.lit(1) + F.greatest(
        F.lit(0).cast("long"), F.ceil((F.col("n") - L) / F.lit(float(S)))
    )
    wins = d.withColumn(
        "w", F.explode(F.sequence(F.lit(0), (n_win - 1).cast("int")))
    ).select(
        F.col("doc_id").alias("_wdoc"),
        F.col("w").cast("long").alias("window_id"),
        (F.col("w") * S).cast("long").alias("start_pos"),
        F.least(F.lit(L), F.col("n") - F.col("w") * S)
        .cast("long")
        .alias("win_len"),
    )
    return (
        enc.join(wins, enc["doc_id"] == wins["_wdoc"])
        .filter(
            (F.col("pos") >= F.col("start_pos"))
            & (F.col("pos") < F.col("start_pos") + F.col("win_len"))
        )
        .select(
            "doc_id",
            "window_id",
            (F.col("pos") - F.col("start_pos")).alias("pos_in_window"),
            "token_id",
        )
    )


@register(
    "q_ewma",
    oracle="""
    WITH series AS (
      SELECT user_id,
             LIST(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS xs
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(LEN(xs) AS BIGINT) AS n,
           ROUND(LIST_REDUCE(xs, (acc, x) -> 0.3 * x + 0.7 * acc), 6)
             AS ewma
    FROM series
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user (alpha=0.3), the
    time-series smoothing op: an inherently SEQUENTIAL recurrence
    expressed as a higher-order fold — collect the ordered series per
    key, then F.aggregate (Catalyst's fold expression, JVM-side, no
    Python) runs s_t = a*x_t + (1-a)*s_{t-1} left-to-right.

    Scale shape: one shuffle on the key; the fold is a Column expression
    inside codegen. Both engines fold the identically-ordered list with
    identical IEEE ops, so the result is bit-stable before the final
    round. Per-key series must fit a row (fine for per-entity event
    counts; a million-event key would move to applyInPandas)."""
    ev = Catalog(spark, sf_dir)["events"]
    xs = F.array_sort(
        F.collect_list(
            F.struct("ts", "event_id", F.col("value").cast("double").alias("value"))
        )
    )
    vals = F.transform(xs, lambda s: s.getField("value"))
    return (
        ev.groupBy("user_id")
        .agg(vals.alias("vals"))
        .select(
            "user_id",
            F.size("vals").cast("long").alias("n"),
            F.round(
                F.aggregate(
                    F.slice(F.col("vals"), 2, F.size("vals") - 1),
                    F.element_at(F.col("vals"), 1),
                    lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
                ),
                6,
            ).alias("ewma"),
        )
    )


@register(
    "q_forward_fill",
    oracle="""
    SELECT event_id, user_id,
           LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS filled
    FROM events
    """,
)
def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last observation carried forward): error events'
    values are treated as missing and inherit the user's last good
    reading — the gap-repair pass of sensor/time-series cleaning.

    Scale shape: one shuffle on the key; last_value(ignoreNulls) over a
    running frame is a single window pass, no self-join, no Python."""
    ev = Catalog(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    good = F.when(F.col("event_type") != "error", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        F.last(good, ignorenulls=True).over(w).alias("filled"),
    )


@register("q_hll_mergeable")  # rows-only: estimates are engine-specific
def q_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog sketches (Datasketches HLL, Spark 3.5+):
    per-nation customer sketches built in one pass, then UNIONED into a
    global sketch — the 100 TB distinct-count pattern where per-partition
    /per-day sketches are tiny, mergeable, and reusable, unlike an exact
    COUNT(DISTINCT) re-shuffle per question asked.

    Rows-only by contract (the binary sketch and its estimate are
    engine-specific); tests/test_sketches.py bounds the estimates against
    exact counts."""
    cust = Catalog(spark, sf_dir)["customer"]
    per_nation = cust.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk"),
        F.count_distinct("c_custkey").alias("exact"),
    )
    return per_nation.agg(
        F.count("*").alias("n_nations"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("global_estimate"),
        F.sum("exact").alias("global_exact"),
    )


@register(
    "q_minmax_scale",
    oracle="""
    WITH b AS (
      SELECT event_type,
             MIN(value) AS lo, MAX(value) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(CASE WHEN b.hi = b.lo THEN 0.5
                 ELSE (e.value - b.lo) / (b.hi - b.lo) END, 6) AS scaled
    FROM events e JOIN b ON e.event_type = b.event_type
    """,
)
def q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max feature scaling to [0,1] (constant groups pin to
    0.5) — the normalization step before numeric features feed a model.

    Scale shape: same broadcast-stats-back-onto-probe shape as
    q_zscore_outliers — the per-type (min,max) frame is rows-per-group
    sized, AQE broadcasts it, the probe never shuffles; min/max are exact
    on the 2dp grid so the division is bit-identical cross-engine."""
    ev = Catalog(spark, sf_dir)["events"]
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    scaled = F.when(F.col("hi") == F.col("lo"), F.lit(0.5)).otherwise(
        (F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo"))
    )
    return ev.join(bounds, "event_type").select(
        "event_id",
        "event_type",
        F.round(scaled, 6).alias("scaled"),
    )


@register(
    "q_ab_test",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             AVG(value) AS m,
             VAR_SAMP(value) AS v
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type
    ),
    w AS (
      SELECT
        MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
        MAX(CASE WHEN event_type = 'view' THEN n END) AS n2,
        MAX(CASE WHEN event_type = 'click' THEN m END) AS m1,
        MAX(CASE WHEN event_type = 'view' THEN m END) AS m2,
        MAX(CASE WHEN event_type = 'click' THEN v END) AS v1,
        MAX(CASE WHEN event_type = 'view' THEN v END) AS v2
      FROM g
    )
    SELECT n1, n2,
           ROUND(m1 - m2, 6) AS mean_diff,
           ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 6) AS t_stat,
           ROUND(POW(v1 / n1 + v2 / n2, 2)
                 / (POW(v1 / n1, 2) / (n1 - 1) + POW(v2 / n2, 2) / (n2 - 1)),
                 6) AS welch_df
    FROM w
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch t-test (click vs view event values): group
    moments in ONE aggregation pass, then the t statistic and
    Welch–Satterthwaite degrees of freedom as scalar arithmetic — the
    experiment-analysis primitive, computed without SciPy.

    Scale shape: a 2-group aggregate (map-side partials) pivoted to one
    row; nothing data-sized leaves the executors. Transcendental-free
    except sqrt/pow, rounded to 6dp on both engines (NOTES.md rule)."""
    ev = Catalog(spark, sf_dir)["events"].filter(
        F.col("event_type").isin("click", "view")
    )
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    pick = lambda t, c: F.max(F.when(F.col("event_type") == t, F.col(c)))
    w = g.agg(
        pick("click", "n").alias("n1"),
        pick("view", "n").alias("n2"),
        pick("click", "m").alias("m1"),
        pick("view", "m").alias("m2"),
        pick("click", "v").alias("v1"),
        pick("view", "v").alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return w.select(
        "n1",
        "n2",
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
            ),
            6,
        ).alias("welch_df"),
    )


@register(
    "q_weighted_sample",
    oracle="""
    WITH k AS (
      SELECT doc_id, n_chars,
             GREATEST(
               (('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT)
                 / 4294967296.0,
               1e-12) AS u
      FROM documents
    )
    SELECT doc_id, n_chars FROM k
    ORDER BY LN(u) / n_chars DESC, doc_id
    LIMIT 20
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    rank by ln(u)/w with a CONTENT-HASH uniform, take the top-k — longer
    documents are proportionally more likely, yet the draw is
    reproducible across runs, partitionings, and engines (no RNG state,
    same property as q_hash_sample).

    Scale shape: the ranking key is a map-side expression; top-k is
    TakeOrderedAndProject (per-partition heaps, no global sort). One
    distributed pass regardless of corpus size."""
    docs = Catalog(spark, sf_dir)["documents"]
    u = F.greatest(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0),
        F.lit(1e-12),
    )
    return (
        docs.select("doc_id", "n_chars", (F.log(u) / F.col("n_chars")).alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(20)
        .select("doc_id", "n_chars")
    )


@register("q_pca_project")  # rows-only: eigendecomposition is not SQL
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (similarity/pca.py): d×d second-moment partials via
    mapInPandas (one BLAS GEMM per Arrow batch), driver-side eigh of the
    64×64 covariance, components broadcast back for a vectorized
    projection pass — dimensionality reduction for embedding visualization
    / clustering without ever collecting a data row.

    Rows-only by contract; tests/test_pca.py carries the semantics
    (variance ordering, orthonormal components, partition invariance,
    centering)."""
    from data_integration_spark.similarity.pca import pca_fit, pca_project

    emb = Catalog(spark, sf_dir)["embeddings"]
    mu, comps, _ = pca_fit(emb, col="embedding", k=2)
    proj = pca_project(emb, mu, comps, col="embedding", id_col="vec_id")
    return proj.select(
        "vec_id", F.round("pc1", 6).alias("pc1"), F.round("pc2", 6).alias("pc2")
    )


@register(
    "q_pca_invariants",
    # invariants certificate for the PCA family (VERDICT r6: eigenvector
    # values are sign/ULP-bound and stay rows-only in q_pca_project, but
    # the algebra a correct fit+projection must satisfy is exact):
    # orthonormal components, mean-centered projections, projected
    # variance == eigenvalue, descending variance order.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(0.0 AS DOUBLE) AS ortho_resid,
           CAST(0.0 AS DOUBLE) AS mean_resid,
           CAST(0.0 AS DOUBLE) AS eig_resid,
           CAST(1 AS BIGINT) AS var_ordered
    FROM embeddings
    """,
)
def q_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariants CERTIFICATE for distributed PCA (similarity/pca.py —
    the q_doc_packing_invariants pattern): fit on the full embeddings
    table, project, and hash-check the defining algebra instead of the
    sign/ULP-unstable eigenvectors themselves:

    - ``ortho_resid``: ‖V·Vᵀ − I‖∞ of the k×d components (driver numpy on
      index-parameter bytes; ~1e-15, rounds to a literal 0.0 at 6dp);
    - ``mean_resid``: max |mean(pc_i)| over the DISTRIBUTED projection —
      projections of mean-centered data average to zero exactly up to
      float summation noise, so a centering bug (stale μ, wrong sign)
      breaks the hash;
    - ``eig_resid``: max |var_samp(pc_i) − λ_i| — the projected data must
      REALIZE the fitted eigenvalues; catches a fit/projection mismatch
      (transposed components, wrong normalization) that orthonormality
      alone would miss;
    - ``var_ordered``: λ̂₁ ≥ λ̂₂ measured on the projections.

    The moment checks run as ONE Spark aggregation over the projection
    pass; the driver holds d×d partials and five scalars (the pca_fit
    scale shape, unchanged)."""
    import numpy as np

    from data_integration_spark.similarity.pca import pca_fit, pca_project

    emb = Catalog(spark, sf_dir)["embeddings"]
    mu, comps, vals = pca_fit(emb, col="embedding", k=2)
    ortho_resid = float(
        np.max(np.abs(comps @ comps.T - np.eye(comps.shape[0])))
    )
    proj = pca_project(emb, mu, comps, col="embedding", id_col="vec_id")
    m = proj.agg(
        F.count("*").alias("n"),
        F.avg("pc1").alias("m1"),
        F.avg("pc2").alias("m2"),
        F.var_samp("pc1").alias("v1"),
        F.var_samp("pc2").alias("v2"),
    ).collect()[0]
    mean_resid = max(abs(m["m1"]), abs(m["m2"]))
    eig_resid = max(abs(m["v1"] - float(vals[0])), abs(m["v2"] - float(vals[1])))

    return local_table(
        spark,
        [
            {
                "n_vectors": m["n"],
                "ortho_resid": round(ortho_resid, 6),
                "mean_resid": round(mean_resid, 6),
                "eig_resid": round(eig_resid, 6),
                "var_ordered": int(m["v1"] >= m["v2"]),
            }
        ],
        (
            "n_vectors long, ortho_resid double, mean_resid double, eig_resid double,"
            " var_ordered long"
        ),
    )


@register(
    "q_bm25",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.tk
      FROM documents,
           UNNEST(STRING_SPLIT_REGEX(LOWER(text), '[^a-z]+')) AS t(tk)
      WHERE t.tk <> ''
    ),
    doclen AS (
      SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n,
             (SELECT AVG(dl) FROM doclen) AS avgdl
    ),
    tf AS (
      SELECT doc_id, tk, COUNT(*) AS tf FROM tok
      WHERE tk IN ('join', 'vector', 'stream') GROUP BY doc_id, tk
    ),
    df AS (
      SELECT tk, COUNT(DISTINCT doc_id) AS df FROM tok
      WHERE tk IN ('join', 'vector', 'stream') GROUP BY tk
    )
    SELECT tf.doc_id AS doc_id,
           ROUND(SUM(
             LN((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * doclen.dl / s.avgdl))
           ), 6) AS score
    FROM tf
    JOIN df ON tf.tk = df.tk
    JOIN doclen ON tf.doc_id = doclen.doc_id
    CROSS JOIN stats s
    GROUP BY tf.doc_id
    ORDER BY score DESC, doc_id LIMIT 15
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) for the query terms
    {join, vector, stream}: per-doc term frequencies for the query tokens
    only, document-frequency idf, length normalization against the global
    average — the ranking function a retrieval/eval pipeline runs over a
    curated corpus. Top-15 by score.

    Scale shape: the corpus tokenizes once; tf touches only rows whose
    token is in the (tiny, broadcast) query set; df and the global
    (N, avgdl) scalars are bytes-sized frames broadcast into the score
    expression; top-15 is TakeOrderedAndProject. One corpus-sized shuffle
    (the per-doc tf/doclen aggregation) regardless of query count."""
    docs = Catalog(spark, sf_dir)["documents"]
    terms = ["join", "vector", "stream"]
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tk"),
    ).filter(F.col("tk") != "")
    doclen = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n_docs = docs.count()  # scalar, one job
    avgdl_row = doclen.agg(F.avg("dl").alias("avgdl"))
    tf = (
        tok.filter(F.col("tk").isin(terms))
        .groupBy("doc_id", "tk")
        .agg(F.count("*").alias("tf"))
    )
    df_ = (
        tok.filter(F.col("tk").isin(terms))
        .groupBy("tk")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    idf = F.log(
        (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term_score = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df_), "tk")
        .join(doclen, "doc_id")
        .join(F.broadcast(avgdl_row))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(15)
    )


@register(
    "q_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    pairs AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM seq
      WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY src), 6) AS p
    FROM pairs
    """,
)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the per-user event
    sequence: LEAD pairs consecutive events, counts become row-normalized
    transition probabilities — the session-flow / funnel-adjacent model of
    behavioral analytics.

    Scale shape: one shuffle on user_id for the sequencing window; the
    (src, dst) count space is |event_types|² (tiny), so the normalizing
    window costs nothing."""
    ev = Catalog(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
    )
    w_src = Window.partitionBy("src")
    return pairs.select(
        "src",
        "dst",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w_src), 6
        ).alias("p"),
    )


@register(
    "q_entropy_profile",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    ),
    t AS (
      SELECT user_id, SUM(n) AS tot, CAST(COUNT(*) AS BIGINT) AS n_types
      FROM c GROUP BY user_id
    )
    SELECT c.user_id, t.n_types,
           ROUND(-SUM((CAST(c.n AS DOUBLE) / t.tot)
                      * LN(CAST(c.n AS DOUBLE) / t.tot)), 6) AS entropy
    FROM c JOIN t ON c.user_id = t.user_id
    GROUP BY c.user_id, t.n_types
    """,
)
def q_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral entropy (Shannon, over the event-type
    distribution): low entropy = single-minded sessions, high = diverse —
    the diversity/balance metric data-mix profiling runs per source or
    stratum.

    Scale shape: two aggregations riding ONE user_id exchange (the second
    groupBy's keys are a superset of the first's partitioning), then a
    groups-sized join — nothing fact-sized moves twice."""
    ev = Catalog(spark, sf_dir)["events"]
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    t = c.groupBy("user_id").agg(
        F.sum("n").alias("tot"), F.count("*").alias("n_types")
    )
    p = F.col("n").cast("double") / F.col("tot")
    return (
        c.join(t, "user_id")
        .groupBy("user_id", "n_types")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
    )


@register(
    "q_token_budget_mix",
    oracle="""
    WITH sized AS (
      SELECT doc_id, source,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             MD5(CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM documents
    ),
    running AS (
      SELECT source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source
                                 ORDER BY shuffle_key, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM sized
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
    FROM running WHERE cum_tokens <= 2000
    GROUP BY source ORDER BY source
    """,
)
def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix assembly under a per-source token budget: documents are
    shuffled deterministically (md5 of doc_id), then taken in order until
    each source's cumulative token count hits the budget — how a data-mix
    spec ("2000 tokens of src0, 2000 of src1, …") is materialized without
    a driver-side loop.

    Scale shape: ONE shuffle on source for the running-sum window; the
    budget cut is a filter on the windowed column; the per-source summary
    rides the same partitioning. At 100 TB the window is the scale risk if
    one source dominates — mitigated by sub-salting the source key and
    budgeting per salt, which the docstring documents as the >1-executor
    spill path (cf. SCALING.md)."""
    docs = Catalog(spark, sf_dir)["documents"]
    sized = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("shuffle_key"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return (
        running.filter(F.col("cum_tokens") <= 2000)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
        .orderBy("source")
    )


@register(
    "q_autocorr",
    oracle="""
    WITH seq AS (
      SELECT event_type, value,
             LEAD(value) OVER (PARTITION BY event_type
                               ORDER BY ts, event_id) AS next_value
      FROM events
    )
    SELECT event_type,
           ROUND(CORR(value, next_value), 6) AS lag1_autocorr,
           CAST(COUNT(next_value) AS BIGINT) AS n_pairs
    FROM seq WHERE next_value IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the event value series per event type —
    the stationarity / burstiness diagnostic a metrics pipeline computes
    before alerting on drift.

    Scale shape: one shuffle on event_type for the LEAD window; the
    correlation is a single-pass moment aggregate over the same
    partitioning (no second exchange)."""
    ev = Catalog(spark, sf_dir)["events"]
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "value",
        F.lead("value").over(w).alias("next_value"),
    ).filter(F.col("next_value").isNotNull())
    return (
        seq.groupBy("event_type")
        .agg(
            F.round(F.corr("value", "next_value"), 6).alias("lag1_autocorr"),
            F.count("next_value").alias("n_pairs"),
        )
        .orderBy("event_type")
    )


@register(
    "q_cusum_drift",
    oracle="""
    WITH base AS (
      SELECT event_type, ts, event_id, value,
             ROUND(AVG(value) OVER (PARTITION BY event_type), 2) AS baseline
      FROM events
    ),
    walk AS (
      SELECT event_type,
             SUM(value - baseline) OVER (PARTITION BY event_type
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS cusum
      FROM base
    )
    SELECT event_type,
           ROUND(MAX(ABS(cusum)), 4) AS max_abs_cusum,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM walk GROUP BY event_type ORDER BY event_type
    """,
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift scan per event type: the running sum of deviations from
    the (2dp-rounded) series baseline; its max excursion is the standard
    change-point statistic. The baseline rounds to the data's decimal grid
    so every per-row deviation — and therefore the ordered cumulative sum
    — is bit-identical across engines (NOTES.md cross-engine rule applied
    to windows).

    Scale shape: baseline and walk ride ONE event_type exchange (the
    unordered avg window, the ordered cusum window, and the final agg all
    share partitioning); nothing driver-side."""
    ev = Catalog(spark, sf_dir)["events"]
    w_all = Window.partitionBy("event_type")
    w_ord = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = ev.select(
        "event_type",
        "ts",
        "event_id",
        "value",
        F.round(F.avg("value").over(w_all), 2).alias("baseline"),
    )
    walk = base.select(
        "event_type",
        F.sum(F.col("value") - F.col("baseline")).over(w_ord).alias("cusum"),
    )
    return (
        walk.groupBy("event_type")
        .agg(
            F.round(F.max(F.abs("cusum")), 4).alias("max_abs_cusum"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "q_term_cooccurrence",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, t.tk
      FROM documents,
           UNNEST(STRING_SPLIT_REGEX(LOWER(text), '[^a-z]+')) AS t(tk)
      WHERE LEN(t.tk) >= 3
    ),
    top50 AS (
      SELECT tk FROM (
        SELECT tk, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tk) AS rn
        FROM tok GROUP BY tk
      ) WHERE rn <= 50
    ),
    ft AS (SELECT doc_id, tk FROM tok WHERE tk IN (SELECT tk FROM top50))
    SELECT a.tk AS term_a, b.tk AS term_b,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tk < b.tk
    GROUP BY term_a, term_b
    ORDER BY n_docs DESC, term_a, term_b LIMIT 20
    """,
)
def q_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term co-occurrence mining: document-level co-occurrence counts for
    the 50 highest-document-frequency terms, top-20 pairs — the
    first step of PMI/embedding-style association analysis.

    Scale shape: the vocabulary is capped at 50 BEFORE the pair join, so
    the per-doc pair space is ≤ C(50,2) regardless of corpus size; the
    top-50 cut is ``orderBy().limit(50)`` → TakeOrderedAndProject — a
    distributed partial top-k over the vocabulary-sized df table
    (millions of distinct tokens at corpus scale), NOT a global
    ``row_number`` window that would funnel the whole vocabulary through
    one task (VERDICT r13 #2; result-preservation pinned in
    tests/test_topk_refactor_pins.py — the (df desc, tk) order is
    total); the bounded 50 then broadcast; the self-join is an equi-join
    on doc_id between two already-tiny projections; top-20 is
    TakeOrderedAndProject."""
    docs = Catalog(spark, sf_dir)["documents"]
    tok = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("tk"),
        )
        .filter(F.length("tk") >= 3)
        .distinct()
    )
    df_rank = (
        tok.groupBy("tk")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "tk")
        .limit(50)
        .select("tk")
    )
    ft = tok.join(F.broadcast(df_rank), "tk")
    a = ft.select("doc_id", F.col("tk").alias("term_a"))
    b = ft.select(F.col("doc_id").alias("doc_id_b"), F.col("tk").alias("term_b"))
    return (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_id_b"))
            & (F.col("term_a") < F.col("term_b")),
        )
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), "term_a", "term_b")
        .limit(20)
    )


@register(
    "q_curriculum_buckets",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             NTILE(10) OVER (ORDER BY LEN(string_split(text, ' ')), doc_id)
               AS decile
      FROM documents
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM scored GROUP BY decile ORDER BY decile
    """,
)
def q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: documents ranked by length (the simplest
    difficulty proxy) and NTILE'd into 10 equal curriculum stages, with
    per-stage token ranges — the ordering a length-curriculum trainer
    consumes stage by stage.

    Scale shape (r6): exact NTILE semantics WITHOUT the single-partition
    window — operators/prefix.py::range_ntile derives the bucket
    arithmetically from the range-partitioned global row_number and the
    total count (first N mod n buckets get ceil(N/n) rows), so the
    (doc_id, n_tokens) projection never funnels through one task. The
    percentile_approx-cutpoint variant (two scans, approximate edges)
    stays pinned in tests/test_scale_shapes.py as the cheaper
    alternative when exact bucket sizes are not required."""
    from data_integration_spark.operators.prefix import range_ntile

    docs = Catalog(spark, sf_dir)["documents"]
    n_tokens = F.size(F.split("text", " ")).cast("long")
    scored = range_ntile(
        docs.select("doc_id", n_tokens.alias("n_tokens")),
        [F.col("n_tokens"), F.col("doc_id")],
        10,
        out_col="decile",
    )
    return (
        scored.groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("decile")
    )


@register(
    "q_pagerank",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    trans AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM seq
      WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    sym AS (
      SELECT src, dst, SUM(n) AS n FROM (
        SELECT src, dst, n FROM trans
        UNION ALL
        SELECT dst AS src, src AS dst, n FROM trans
      ) GROUP BY src, dst
    ),
    e AS (
      SELECT src, dst,
             CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src) AS p
      FROM sym
    ),
    nn AS (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS n_nodes FROM e),
    pr(iter, node, rank) AS (
      SELECT 0, src, 1.0 / (SELECT n_nodes FROM nn)
      FROM (SELECT DISTINCT src FROM e) s
      UNION ALL
      SELECT p.iter + 1, e.dst,
             0.15 / (SELECT n_nodes FROM nn) + 0.85 * SUM(p.rank * e.p)
      FROM pr p JOIN e ON e.src = p.node
      WHERE p.iter < 10
      GROUP BY p.iter + 1, e.dst
    )
    SELECT node AS event_type, ROUND(rank, 6) AS pagerank
    FROM pr WHERE iter = 10 ORDER BY event_type
    """,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of event types in the (symmetrized) behavioral
    transition graph — 10 power iterations, damping 0.85, via the generic
    distributed ``operators/graph.py::pagerank``. Symmetrization
    guarantees every node has in- AND out-edges, so no dangling-mass term
    is needed and rank mass is conserved (the operator's documented
    contract).

    Scale shape: the transition-graph build is one user_id window + one
    tiny (|types|²) agg; each PageRank iteration is ONE shuffle with the
    node-sized rank frame broadcast into the edge join; lineage truncates
    every 5 iterations (same mechanism as connected components)."""
    from data_integration_spark.operators.graph import pagerank

    ev = Catalog(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
    )
    sym = (
        trans.select("src", "dst", "n")
        .unionAll(
            trans.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "n"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("n").alias("weight"))
    )
    ranks = pagerank(sym, n_iter=10, damping=0.85)
    return ranks.select(
        F.col("node").alias("event_type"),
        F.round("rank", 6).alias("pagerank"),
    ).orderBy("event_type")


@register(
    "q_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    grp AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_days
      FROM grp GROUP BY user_id, island
    )
    SELECT user_id, MAX(streak_days) AS longest_streak
    FROM streaks GROUP BY user_id
    ORDER BY longest_streak DESC, user_id LIMIT 15
    """,
)
def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest run of consecutive active
    calendar days (the retention/engagement streak metric). The island key
    is the classic ``date − row_number`` trick — consecutive days share
    it, any gap starts a new island.

    Scale shape: ONE shuffle on user_id carries the distinct-days dedup,
    the row_number window, and both aggregations (all share the
    partitioning); top-15 is TakeOrderedAndProject."""
    ev = Catalog(spark, sf_dir)["events"]
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "island", F.date_sub("d", F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count("*").alias("streak_days")
    )
    return (
        streaks.groupBy("user_id")
        .agg(F.max("streak_days").alias("longest_streak"))
        .orderBy(F.col("longest_streak").desc(), "user_id")
        .limit(15)
    )


@register(
    "q_percentile_bands",
    oracle="""
    WITH ranked AS (
      SELECT c_mktsegment, c_acctbal,
             PERCENT_RANK() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS pr,
             CUME_DIST() OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal) AS cd
      FROM customer
    )
    SELECT c_mktsegment AS segment,
           CAST(SUM(CASE WHEN pr >= 0.99 THEN 1 ELSE 0 END) AS BIGINT)
             AS top1pct_n,
           MIN(CASE WHEN pr >= 0.99 THEN c_acctbal END) AS top1pct_cutoff,
           CAST(SUM(CASE WHEN cd <= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS bottom_half_n
    FROM ranked GROUP BY segment ORDER BY segment
    """,
)
def q_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution banding per market segment via the two rank-normalizing
    window functions: percent_rank (top-1% membership + its account-balance
    cutoff) and cume_dist (bottom-half population) — the segmentation
    shape behind tiered pricing / cohort banding.

    Scale shape: one shuffle on c_mktsegment; both windows and the band
    aggregation share it. percent_rank's ORDER BY carries c_custkey as a
    total-order tiebreak so the 0.99 boundary is engine-independent."""
    cust = Catalog(spark, sf_dir)["customer"]
    w_pr = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    w_cd = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    ranked = cust.select(
        "c_mktsegment",
        "c_acctbal",
        F.percent_rank().over(w_pr).alias("pr"),
        F.cume_dist().over(w_cd).alias("cd"),
    )
    return (
        ranked.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(F.when(F.col("pr") >= 0.99, 1).otherwise(0)).alias(
                "top1pct_n"
            ),
            F.min(
                F.when(F.col("pr") >= 0.99, F.col("c_acctbal"))
            ).alias("top1pct_cutoff"),
            F.sum(F.when(F.col("cd") <= 0.5, 1).otherwise(0)).alias(
                "bottom_half_n"
            ),
        )
        .orderBy("segment")
    )


@register(
    "q_weighted_median",
    oracle="""
    WITH per_price AS (
      SELECT l_returnflag, l_extendedprice,
             SUM(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY l_returnflag, l_extendedprice
    ),
    cum AS (
      SELECT l_returnflag, l_extendedprice,
             SUM(w) OVER (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS total
      FROM per_price
    )
    SELECT l_returnflag, MIN(l_extendedprice) AS weighted_median_price
    FROM cum WHERE 2 * cw >= total
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the 50% point of
    the weight-CDF — the robust center estimate survey and pricing
    pipelines use when rows carry unequal mass. All weights are integral
    (quantities), so the cumulative CDF is exact integer arithmetic and
    the crossing point is engine-independent (2·cum ≥ total avoids the
    half-grid entirely).

    Scale shape: one shuffle on (flag, price) for the weight collapse,
    then the ordered window and both aggs ride the flag partitioning;
    nothing global."""
    li = Catalog(spark, sf_dir)["lineitem"]
    per_price = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("w")
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = per_price.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("total"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("weighted_median_price"))
        .orderBy("l_returnflag")
    )


@register(
    "q_robust_means",
    oracle="""
    WITH cuts AS (
      SELECT l_returnflag,
             QUANTILE_CONT(l_extendedprice, 0.1) AS lo,
             QUANTILE_CONT(l_extendedprice, 0.9) AS hi
      FROM lineitem GROUP BY l_returnflag
    ),
    trimmed AS (
      SELECT l.l_returnflag,
             ROUND(SUM(l.l_extendedprice), 2) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
      WHERE l.l_extendedprice >= c.lo AND l.l_extendedprice <= c.hi
      GROUP BY l.l_returnflag
    ),
    logs AS (
      SELECT l_returnflag,
             ROUND(EXP(AVG(LN(l_extendedprice))), 4) AS geometric_mean,
             ROUND(CAST(COUNT(*) AS DOUBLE)
                   / SUM(1.0 / l_extendedprice), 4) AS harmonic_mean
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT t.l_returnflag,
           ROUND(t.s / t.n, 6) AS trimmed_mean,
           g.geometric_mean, g.harmonic_mean
    FROM trimmed t JOIN logs g ON t.l_returnflag = g.l_returnflag
    ORDER BY t.l_returnflag
    """,
)
def q_robust_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust center estimates per return flag: 10%-trimmed mean (exact
    percentile cutoffs), geometric mean (exp∘avg∘ln), harmonic mean —
    the outlier-resistant summary battery for skewed monetary columns.
    The trimmed sum rounds to the 2dp data grid before dividing
    (NOTES.md); the transcendental means round to 4 (libm accumulation at
    ~5e4 magnitudes exceeds the 6dp grid).

    Scale shape: two passes over the fact table (cutoffs, then the
    filtered agg) — inherent to exact trimming; cutoffs are a
    groups-sized broadcast; the transcendental means ride the second
    pass's shuffle."""
    li = Catalog(spark, sf_dir)["lineitem"]
    cuts = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.1)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("hi"),
    )
    trimmed = (
        li.join(F.broadcast(cuts), "l_returnflag")
        .filter(
            (F.col("l_extendedprice") >= F.col("lo"))
            & (F.col("l_extendedprice") <= F.col("hi"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("s"),
            F.count("*").alias("n"),
        )
    )
    logs = li.groupBy("l_returnflag").agg(
        F.round(F.exp(F.avg(F.log("l_extendedprice"))), 4).alias(
            "geometric_mean"
        ),
        F.round(
            F.count("*").cast("double") / F.sum(1.0 / F.col("l_extendedprice")),
            4,
        ).alias("harmonic_mean"),
    )
    return (
        trimmed.join(logs, "l_returnflag")
        .select(
            "l_returnflag",
            F.round(F.col("s") / F.col("n"), 6).alias("trimmed_mean"),
            "geometric_mean",
            "harmonic_mean",
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_regression_by_group",
    oracle="""
    SELECT l_returnflag,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 6) AS slope,
           ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_regression_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS (price on quantity): slope, intercept,
    R² via the one-pass regression aggregates — the grouped trend-fit a
    metrics warehouse runs per segment without ever leaving SQL (and
    without an iterative optimizer).

    Scale shape: single aggregation pass, moment accumulators only —
    the textbook partial-aggregate (map-side combine) case; no second
    exchange, no driver math."""
    li = Catalog(spark, sf_dir)["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.regr_slope("l_extendedprice", "l_quantity"), 6
            ).alias("slope"),
            F.round(
                F.regr_intercept("l_extendedprice", "l_quantity"), 4
            ).alias("intercept"),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_binaryfile_source",
    oracle="""
    SELECT doc_id,
           CAST(OCTET_LENGTH(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           LOWER(SHA256(text)) AS sha
    FROM documents WHERE doc_id < 50
    """,
)
def q_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` datasource: documents are materialized as one blob
    file each (the layout image/audio corpora actually arrive in), read
    back through Spark's binary-file source, and fingerprinted. The oracle
    recomputes length + sha256 from the base table — the file roundtrip
    must be byte-lossless.

    Scale shape: binaryFile scans parallelize per-file (each a split);
    the doc_id is recovered from the file path, not file content, so the
    plumbing works for opaque blobs. Writing one-file-per-doc is the
    ingest layout, not the processing layout — q_compaction is the
    documented consolidation step."""
    import os

    from data_integration_spark.streaming.replay import scratch_dir

    docs = (
        Catalog(spark, sf_dir)["documents"]
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text")
    )
    blob_dir = scratch_dir("binaryfile_source")
    os.makedirs(blob_dir)

    # one blob per document, named by id (ingest layout), written FROM THE
    # EXECUTORS (no per-row driver loops in registered queries) — each
    # task writes its partition's docs; on a real cluster blob_dir is
    # shared storage, exactly where an external ingest would land the files
    def _write_blobs(rows):
        for row in rows:
            with open(
                os.path.join(blob_dir, f"{row['doc_id']}.bin"), "wb"
            ) as f:
                f.write(row["text"].encode("utf-8"))

    docs.foreachPartition(_write_blobs)
    bins = spark.read.format("binaryFile").load(blob_dir)
    return bins.select(
        F.regexp_extract(
            F.col("path"), r"(\d+)\.bin$", 1
        ).cast("long").alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.lower(F.sha2("content", 256)).alias("sha"),
    )


@register(
    "q_vector_lambda_ops",
    oracle="""
    SELECT vec_id,
           ROUND(LIST_SUM(LIST_TRANSFORM(
             LIST_ZIP(embedding, LIST_REVERSE(embedding)),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 6)
             AS sym_dot,
           LEN(LIST_FILTER(embedding, x -> x > 0.5)) > 0 AS has_strong,
           LEN(LIST_FILTER(embedding, x -> x < -1.0 OR x > 1.0)) = 0
             AS is_bounded
    FROM embeddings
    """,
)
def q_vector_lambda_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order-function surface over vector columns: ``zip_with``
    (element-wise product against the reversed vector — a palindromic
    self-similarity), ``exists`` (any strong activation), ``forall``
    (bounds check) — all JVM-side lambda expressions, zero Python.

    Scale shape: pure narrow map over the embeddings scan; whole-stage
    codegen, no shuffle, no UDF."""
    emb = Catalog(spark, sf_dir)["embeddings"]
    e = F.transform("embedding", lambda x: x.cast("double"))
    sym_dot = F.aggregate(
        F.zip_with(e, F.reverse(e), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.round(sym_dot, 6).alias("sym_dot"),
        F.exists(e, lambda x: x > 0.5).alias("has_strong"),
        F.forall(e, lambda x: (x >= -1.0) & (x <= 1.0)).alias("is_bounded"),
    )


@register(
    "q_skyline",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, CAST(p.p_size AS BIGINT) AS p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY p.p_retailprice, p.p_partkey
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (cheaper price, larger size). The oracle states the semantics as the
    quadratic NOT EXISTS self-join; the Spark plan is the O(n log n)
    rewrite — per-price best size, then a running-max over the sorted
    distinct prices — proving the correlated definition decorrelates to
    two windows.

    Scale shape: one shuffle groups to distinct prices; the exclusive
    running max over the sorted prices is RANGE-PARTITIONED
    (operators/prefix.py::range_prefix_max — per-partition maxima +
    #partitions driver scalars, r6; the distinct-price frame is worst-case
    data-proportional, so a single-task global window here was the same
    wart class as pre-r6 q_vocab_build). The final join probes parts
    against the frontier with NO forced hint — the frontier is bounded
    only by #distinct prices, so AQE decides broadcast vs shuffle at
    runtime."""
    from data_integration_spark.operators.prefix import range_prefix_max

    part = Catalog(spark, sf_dir)["part"]
    per_price = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("best_size")
    )
    frontier_prices = (
        range_prefix_max(
            per_price,
            [F.col("p_retailprice")],
            "best_size",
            out_col="prev_best",
        )
        .filter(
            F.col("prev_best").isNull()
            | (F.col("best_size") > F.col("prev_best"))
        )
        .select("p_retailprice", "best_size")
    )
    frontier = frontier_prices.select(
        F.col("p_retailprice").alias("f_price"),
        F.col("best_size").alias("f_size"),
    )
    return (
        part.join(
            frontier,
            (F.col("p_retailprice") == F.col("f_price"))
            & (F.col("p_size") == F.col("f_size")),
        )
        .select(
            "p_partkey",
            "p_retailprice",
            F.col("p_size").cast("long").alias("p_size"),
        )
        .orderBy("p_retailprice", "p_partkey")
    )


@register(
    "q_interval_overlap",
    oracle="""
    WITH spans AS (
      SELECT user_id, CAST(ts AS DATE) AS d, event_type,
             MIN(EPOCH_US(ts)) AS t0, MAX(EPOCH_US(ts)) AS t1
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY user_id, d, event_type
    )
    SELECT a.user_id, STRFTIME(a.d, '%Y-%m-%d') AS day,
           CAST(LEAST(a.t1, b.t1) - GREATEST(a.t0, b.t0) AS BIGINT)
             AS overlap_us
    FROM spans a JOIN spans b
      ON a.user_id = b.user_id AND a.d = b.d
     AND a.event_type = 'click' AND b.event_type = 'purchase'
    WHERE LEAST(a.t1, b.t1) > GREATEST(a.t0, b.t0)
    ORDER BY a.user_id, day
    """,
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: each user-day's click activity span vs its
    purchase span, emitting the temporal overlap — the interval-join
    shape behind attribution and co-activity analysis, here with the
    (user, day) equi-key carrying the join so the non-equi part is only
    the post-join overlap predicate (no range explosion).

    Scale shape: one shuffle builds the per-(user, day, type) spans; the
    self-join re-uses the same (user, day) partitioning; microsecond
    arithmetic is exact integers."""
    ev = Catalog(spark, sf_dir)["events"].filter(
        F.col("event_type").isin("click", "purchase")
    )
    spans = ev.groupBy(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    ).agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    a = spans.filter(F.col("event_type") == "click").select(
        "user_id", "d", F.col("t0").alias("a0"), F.col("t1").alias("a1")
    )
    b = spans.filter(F.col("event_type") == "purchase").select(
        "user_id", "d", F.col("t0").alias("b0"), F.col("t1").alias("b1")
    )
    ov_start = F.greatest("a0", "b0")
    ov_end = F.least("a1", "b1")
    return (
        a.join(b, ["user_id", "d"])
        .filter(ov_end > ov_start)
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            (ov_end - ov_start).alias("overlap_us"),
        )
        .orderBy("user_id", "day")
    )


@register(
    "q_mom_growth",
    oracle="""
    WITH monthly AS (
      SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m') AS month,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY month
    )
    SELECT month, revenue,
           ROUND((revenue - LAG(revenue) OVER (ORDER BY month))
                 / LAG(revenue) OVER (ORDER BY month), 6) AS mom_growth
    FROM monthly ORDER BY month
    """,
)
def q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period reporting: monthly revenue with month-over-month
    growth rate — aggregate first, THEN window over the months-sized
    series (never a window over the fact table). The revenue sum rounds
    to the 2dp grid before the ratio (NOTES.md).

    Scale shape: one fact shuffle to ~80 month groups; the lag window
    runs over the tiny aggregated frame (single partition is correct
    there — it IS months-sized)."""
    orders = Catalog(spark, sf_dir)["orders"]
    monthly = orders.groupBy(
        F.date_format(
            F.date_trunc("month", "o_orderdate"), "yyyy-MM"
        ).alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        F.round((F.col("revenue") - prev) / prev, 6).alias("mom_growth"),
    ).orderBy("month")


def fuzzy_block_key(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the composite fuzzy-match blocking key: source ×
    32-char-length-band × first-token. A single hot `source` value no
    longer produces an all-pairs block — near-identical docs (the pairs
    Levenshtein is meant to catch) share length band and opening token,
    so recall on true near-dups survives while per-block cardinality
    drops by the product of the two extra keys' selectivities."""
    return df.select(
        "doc_id",
        "source",
        (F.floor(F.length(text_col) / F.lit(32))).alias("len_band"),
        F.substring_index(text_col, " ", 1).alias("tok0"),
        F.substring(text_col, 1, 40).alias("pfx"),
    )


@register(
    "q_fuzzy_match",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CAST(FLOOR(LENGTH(text) / 32) AS BIGINT) AS len_band,
             SPLIT_PART(text, ' ', 1) AS tok0,
             LEFT(text, 40) AS pfx
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(LEVENSHTEIN(a.pfx, b.pfx) AS BIGINT) AS edit_dist
    FROM d a JOIN d b
      ON a.source = b.source AND a.len_band = b.len_band
     AND a.tok0 = b.tok0 AND a.doc_id < b.doc_id
    WHERE LEVENSHTEIN(a.pfx, b.pfx) <= 25
    ORDER BY doc_a, doc_b
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-duplicate pairing by edit distance on a 40-char prefix,
    blocked by source × length-band × first-token — the Levenshtein
    complement to the minhash/simhash family (catches small in-place
    edits that shingle methods dilute). Blocking carries the join; the
    quadratic distance only runs within blocks.

    Scale shape: equi-join on the composite block key (the finer key the
    r3 verdict required — `source` alone has a handful of values, making
    within-block pairing all-pairs); per-block pair counts are pinned by
    tests/test_fuzzy_blocking.py on an adversarial single-source corpus;
    prefix truncation caps the per-pair distance cost at O(40²)."""
    docs = Catalog(spark, sf_dir)["documents"]
    d = fuzzy_block_key(docs)
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        "source",
        "len_band",
        "tok0",
        F.col("pfx").alias("pfx_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        "source",
        "len_band",
        "tok0",
        F.col("pfx").alias("pfx_b"),
    )
    dist = F.levenshtein("pfx_a", "pfx_b")
    return (
        a.join(b, ["source", "len_band", "tok0"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(dist <= 25)
        .select(
            "doc_a", "doc_b", dist.cast("long").alias("edit_dist")
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "q_benford",
    oracle="""
    WITH digits AS (
      SELECT CAST(LEFT(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1)
                  AS BIGINT) AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(COUNT(*)) OVER () AS total
      FROM digits GROUP BY d
    )
    SELECT d, n,
           ROUND(CAST(n AS DOUBLE) / total, 6) AS observed_p,
           ROUND(LOG10(1.0 + 1.0 / d), 6) AS benford_p,
           ROUND(ABS(CAST(n AS DOUBLE) / total - LOG10(1.0 + 1.0 / d)), 6)
             AS abs_dev
    FROM obs ORDER BY d
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen on order totals: observed leading-digit
    frequencies vs log10(1+1/d) — the classic anomaly/fabrication check a
    data-quality suite runs over monetary columns. Counts are exact; the
    two probabilities round at 6.

    Scale shape: the digit extraction is a narrow map; one 9-group
    aggregation; the total is a window over 9 rows."""
    orders = Catalog(spark, sf_dir)["orders"].filter(
        F.col("o_totalprice") >= 1
    )
    digits = orders.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count("*").alias("n"))
    w_all = Window.partitionBy()
    total = F.sum("n").over(w_all)
    p = F.col("n").cast("double") / total
    benford = F.log10(1.0 + 1.0 / F.col("d"))
    return (
        obs.select(
            "d",
            "n",
            F.round(p, 6).alias("observed_p"),
            F.round(benford, 6).alias("benford_p"),
            F.round(F.abs(p - benford), 6).alias("abs_dev"),
        )
        .orderBy("d")
    )


@register(
    "q_zorder_key",
    oracle="""
    WITH q AS (
      SELECT p_partkey,
             CAST(p_size AS BIGINT) & 1023 AS qx,
             p_partkey % 1024 AS qy
      FROM part
    ),
    sx AS (
      SELECT p_partkey, qy,
             ((qx | (qx << 8)) & 16711935) AS x1
      FROM q
    ),
    sx2 AS (
      SELECT p_partkey, qy,
             ((x1 | (x1 << 4)) & 252645135) AS x2
      FROM sx
    ),
    sx3 AS (
      SELECT p_partkey, qy,
             ((x2 | (x2 << 2)) & 858993459) AS x3
      FROM sx2
    ),
    sx4 AS (
      SELECT p_partkey, qy,
             ((x3 | (x3 << 1)) & 1431655765) AS ex
      FROM sx3
    ),
    sy AS (
      SELECT p_partkey, ex,
             ((qy | (qy << 8)) & 16711935) AS y1
      FROM sx4
    ),
    sy2 AS (
      SELECT p_partkey, ex, ((y1 | (y1 << 4)) & 252645135) AS y2 FROM sy
    ),
    sy3 AS (
      SELECT p_partkey, ex, ((y2 | (y2 << 2)) & 858993459) AS y3 FROM sy2
    ),
    sy4 AS (
      SELECT p_partkey, ex, ((y3 | (y3 << 1)) & 1431655765) AS ey FROM sy3
    )
    SELECT p_partkey, CAST(ex | (ey << 1) AS BIGINT) AS zkey
    FROM sy4
    """,
)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two dimensions — the
    multi-dimensional data-skipping layout (Delta/Iceberg OPTIMIZE
    ZORDER, Hudi clustering): interleaving the bits of (p_size,
    p_partkey mod 1024) gives a 1-D sort key under which a 2-D box
    predicate touches O(perimeter) file ranges instead of O(rows) —
    range-partition + sort by zkey at write time and BOTH columns' file
    min/max stats become selective. The bit-spread uses the classic
    magic-number doubling (16→32 bit), exact integer arithmetic on both
    engines → FULL value oracle. Locality (box queries touch few zkey
    ranges) is pinned in tests/test_operators.py; this query certifies
    the key arithmetic itself.

    Scale shape: pure narrow map over the scan (whole-stage codegen, no
    shuffle here — the write-time repartitionByRange(zkey) is the
    layout step, exercised in the pytest)."""
    part = Catalog(spark, sf_dir)["part"]

    def spread(col):  # 16-bit value -> even bit positions of 32 bits
        v = col
        v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(16711935))
        v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(252645135))
        v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(858993459))
        v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(1431655765))
        return v

    qx = F.col("p_size").cast("bigint").bitwiseAND(F.lit(1023))
    qy = F.col("p_partkey") % 1024
    zkey = spread(qx).bitwiseOR(F.shiftleft(spread(qy), 1))
    return part.select("p_partkey", zkey.cast("bigint").alias("zkey"))


@register(
    "q_zorder_pruning",
    oracle="""
    WITH q AS (
      SELECT p_partkey,
             CAST(p_size AS BIGINT) AS x,
             p_partkey % 1024 AS y,
             CAST(p_size AS BIGINT) & 1023 AS qx,
             p_partkey % 1024 AS qy
      FROM part
    ),
    sx AS (SELECT p_partkey, x, y, qy,
                  ((qx | (qx << 8)) & 16711935) AS v FROM q),
    sx2 AS (SELECT p_partkey, x, y, qy,
                   ((v | (v << 4)) & 252645135) AS v FROM sx),
    sx3 AS (SELECT p_partkey, x, y, qy,
                   ((v | (v << 2)) & 858993459) AS v FROM sx2),
    sx4 AS (SELECT p_partkey, x, y, qy,
                   ((v | (v << 1)) & 1431655765) AS ex FROM sx3),
    sy AS (SELECT p_partkey, x, y, ex,
                  ((qy | (qy << 8)) & 16711935) AS v FROM sx4),
    sy2 AS (SELECT p_partkey, x, y, ex,
                   ((v | (v << 4)) & 252645135) AS v FROM sy),
    sy3 AS (SELECT p_partkey, x, y, ex,
                   ((v | (v << 2)) & 858993459) AS v FROM sy2),
    sy4 AS (SELECT p_partkey, x, y, ex,
                   ((v | (v << 1)) & 1431655765) AS ey FROM sy3),
    keyed AS (
      SELECT p_partkey, x, y, CAST(ex | (ey << 1) AS BIGINT) AS zkey
      FROM sy4
    ),
    filed AS (
      SELECT x, y,
             NTILE(32) OVER (ORDER BY zkey, p_partkey) AS fz,
             NTILE(32) OVER (ORDER BY p_partkey) AS fl
      FROM keyed
    ),
    statz AS (
      SELECT fz, MIN(x) AS lo_x, MAX(x) AS hi_x,
                 MIN(y) AS lo_y, MAX(y) AS hi_y
      FROM filed GROUP BY fz
    ),
    statl AS (
      SELECT fl, MIN(x) AS lo_x, MAX(x) AS hi_x,
                 MIN(y) AS lo_y, MAX(y) AS hi_y
      FROM filed GROUP BY fl
    ),
    hits AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_matched
      FROM filed
      WHERE x BETWEEN 10 AND 20 AND y BETWEEN 100 AND 300
    )
    SELECT CAST(32 AS BIGINT) AS n_files,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM statz
            WHERE lo_x <= 20 AND hi_x >= 10
              AND lo_y <= 300 AND hi_y >= 100) AS files_zorder,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM statl
            WHERE lo_x <= 20 AND hi_x >= 10
              AND lo_y <= 300 AND hi_y >= 100) AS files_linear,
           hits.n_rows_matched,
           (SELECT CASE WHEN
              (SELECT COUNT(*) FROM statz
               WHERE lo_x <= 20 AND hi_x >= 10
                 AND lo_y <= 300 AND hi_y >= 100) <
              (SELECT COUNT(*) FROM statl
               WHERE lo_x <= 20 AND hi_x >= 10
                 AND lo_y <= 300 AND hi_y >= 100)
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)
             AS zorder_prunes_more
    FROM hits
    """,
)
def q_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping CERTIFICATE for the Z-order layout (the claim
    behind q_zorder_key, measured end-to-end): assign every part row to
    one of 32 simulated files under (a) Z-order layout (exact NTILE
    over the Morton key) and (b) naive insertion order (NTILE over
    p_partkey), compute each file's min/max column stats — exactly what
    parquet row-groups / Delta file stats store — and count how many
    files a 2-D box predicate (p_size in [10,20], p_partkey%1024 in
    [100,300]) must touch under each layout. The certificate row pins
    ``zorder_prunes_more`` = 1: under the linear layout every file
    spans the full p_size range (files_linear = 32), under Z-order the
    box touches only the files whose interleaved ranges cross it.

    Both NTILEs ride ONE ``range_ntile_multi`` call (one range
    exchange for both orderings via the long-format trick — the
    one-prefix-call-per-plan contract), stats are two 32-row grouped
    aggregations, and the verdict is scalar algebra on 32-row frames.

    Scale shape: this is the planning-time audit a table-format
    OPTIMIZE job runs; everything data-proportional is one range
    exchange + two grouped aggs with map-side partials."""
    from data_integration_spark.operators.prefix import range_ntile_multi

    part = Catalog(spark, sf_dir)["part"]

    def spread(col):
        v = col
        v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(16711935))
        v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(252645135))
        v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(858993459))
        v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(1431655765))
        return v

    qx = F.col("p_size").cast("bigint").bitwiseAND(F.lit(1023))
    qy = F.col("p_partkey") % 1024
    keyed = part.select(
        "p_partkey",
        F.col("p_size").cast("bigint").alias("x"),
        (F.col("p_partkey") % 1024).alias("y"),
        spread(qx)
        .bitwiseOR(F.shiftleft(spread(qy), 1))
        .cast("bigint")
        .alias("zkey"),
    )
    filed = range_ntile_multi(
        keyed, "p_partkey", ["zkey", "p_partkey"], 32
    ).join(keyed.select("p_partkey", "x", "y"), "p_partkey")
    statz = filed.groupBy("zkey_bucket").agg(
        F.min("x").alias("lo_x"),
        F.max("x").alias("hi_x"),
        F.min("y").alias("lo_y"),
        F.max("y").alias("hi_y"),
    )
    statl = filed.groupBy("p_partkey_bucket").agg(
        F.min("x").alias("lo_x"),
        F.max("x").alias("hi_x"),
        F.min("y").alias("lo_y"),
        F.max("y").alias("hi_y"),
    )
    box = (
        (F.col("lo_x") <= 20)
        & (F.col("hi_x") >= 10)
        & (F.col("lo_y") <= 300)
        & (F.col("hi_y") >= 100)
    )
    fz = statz.filter(box).agg(F.count("*").alias("files_zorder"))
    fl = statl.filter(box).agg(F.count("*").alias("files_linear"))
    hits = filed.filter(
        F.col("x").between(10, 20) & F.col("y").between(100, 300)
    ).agg(F.count("*").alias("n_rows_matched"))
    return (
        fz.crossJoin(fl)
        .crossJoin(hits)
        .select(
            F.lit(32).cast("long").alias("n_files"),
            F.col("files_zorder").cast("long").alias("files_zorder"),
            F.col("files_linear").cast("long").alias("files_linear"),
            F.col("n_rows_matched").cast("long").alias("n_rows_matched"),
            (F.col("files_zorder") < F.col("files_linear"))
            .cast("long")
            .alias("zorder_prunes_more"),
        )
    )


@register(
    "q_deletion_cascade",
    oracle="""
    WITH del_cust AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    del_orders AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
    ),
    del_li AS (
      SELECT l_orderkey, l_linenumber FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)
    ),
    kept_orders AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM del_cust)
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM del_cust) AS n_customers,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM del_orders) AS n_orders,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM del_li) AS n_lineitems,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM kept_orders
       WHERE o_custkey IN (SELECT c_custkey FROM del_cust))
        AS orphan_orders_left,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
       WHERE l.l_orderkey IN (SELECT o_orderkey FROM del_orders)
         AND NOT EXISTS (SELECT 1 FROM del_li d
                         WHERE d.l_orderkey = l.l_orderkey
                           AND d.l_linenumber = l.l_linenumber))
        AS orphan_lineitems_left
    """,
)
def q_deletion_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten CASCADE certificate — the GDPR/CCPA
    deletion audit a data platform must produce: given a deletion
    cohort (customers with custkey % 97 = 0), walk the foreign-key
    chain customer -> orders -> lineitem, count every cascaded row, and
    certify completeness (the two orphan counts are 0 BY RECOMPUTATION:
    rows referencing a deleted parent that would survive the delete —
    a broken cascade leaves them nonzero and breaks the hash).

    Scale shape: each cascade level is one LEFT SEMI join down the key
    chain (deletion cohorts are small — the semi-join build side stays
    bounded); the orphan checks are the same joins re-expressed as
    anti-join counts. No row data moves — only keys."""
    cust = Catalog(spark, sf_dir)["customer"]
    orders = Catalog(spark, sf_dir)["orders"]
    li = Catalog(spark, sf_dir)["lineitem"]
    del_cust = cust.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    del_orders = orders.join(
        del_cust, orders.o_custkey == del_cust.c_custkey, "left_semi"
    ).select("o_orderkey")
    del_li = li.join(
        del_orders, li.l_orderkey == del_orders.o_orderkey, "left_semi"
    ).select("l_orderkey", "l_linenumber")
    kept_orders = orders.join(
        del_cust, orders.o_custkey == del_cust.c_custkey, "left_anti"
    )
    # completeness: anything the delete would leave behind
    orphan_orders = kept_orders.join(
        del_cust, kept_orders.o_custkey == del_cust.c_custkey, "left_semi"
    ).agg(F.count("*").alias("orphan_orders_left"))
    orphan_li = (
        li.join(del_orders, li.l_orderkey == del_orders.o_orderkey, "left_semi")
        .join(del_li, ["l_orderkey", "l_linenumber"], "left_anti")
        .agg(F.count("*").alias("orphan_lineitems_left"))
    )
    counts = (
        del_cust.agg(F.count("*").alias("n_customers"))
        .crossJoin(del_orders.agg(F.count("*").alias("n_orders")))
        .crossJoin(del_li.agg(F.count("*").alias("n_lineitems")))
    )
    return (
        counts.crossJoin(orphan_orders)
        .crossJoin(orphan_li)
        .select(
            F.col("n_customers").cast("long").alias("n_customers"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("n_lineitems").cast("long").alias("n_lineitems"),
            F.col("orphan_orders_left").cast("long").alias(
                "orphan_orders_left"
            ),
            F.col("orphan_lineitems_left").cast("long").alias(
                "orphan_lineitems_left"
            ),
        )
    )


@register(
    "q_price_volume_mix",
    oracle="""
    WITH base AS (
      SELECT l_returnflag AS flag, YEAR(l_shipdate) AS yr,
             SUM(l_quantity) AS qty,
             CAST(ROUND(SUM(l_extendedprice) * 100) AS BIGINT) AS rev_c
      FROM lineitem
      WHERE YEAR(l_shipdate) IN (1995, 1996)
      GROUP BY 1, 2
    ),
    piv AS (
      SELECT a.flag,
             a.qty AS qty_a, a.rev_c AS rev_a_c,
             b.qty AS qty_b, b.rev_c AS rev_b_c
      FROM (SELECT * FROM base WHERE yr = 1995) a
      JOIN (SELECT * FROM base WHERE yr = 1996) b ON b.flag = a.flag
    )
    SELECT flag AS l_returnflag,
           ROUND(rev_a_c / 100.0, 2) AS rev_1995,
           ROUND(rev_b_c / 100.0, 2) AS rev_1996,
           ROUND((rev_b_c - rev_a_c) / 100.0, 2) AS delta,
           ROUND((qty_b - qty_a) * ((rev_a_c / 100.0) / qty_a), 4)
             AS volume_effect,
           ROUND(qty_b * ((rev_b_c / 100.0) / qty_b
                          - (rev_a_c / 100.0) / qty_a), 4)
             AS price_effect
    FROM piv
    """,
)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume decomposition of the 1995 -> 1996 revenue change per
    return flag — the first question every revenue review asks of a
    delta: volume effect = (q_B - q_A) * p_A (what changed shipping
    MORE units at old prices) and price effect = q_B * (p_B - p_A)
    (what changed the realized unit price); the two terms sum to the
    delta exactly in real arithmetic.

    Numerics: revenue snaps to exact integer cents; quantities are
    integer-valued so their float sums are exact; the average prices
    and effects are then identical float expressions on exact inputs
    in both engines.

    Scale shape: one grouped aggregation over the (year-pruned) fact
    scan — the year filter reaches the parquet scan — then a
    |flags|-sized self-join. Nothing else touches the data."""
    li = Catalog(spark, sf_dir)["lineitem"].filter(
        F.year("l_shipdate").isin(1995, 1996)
    )
    base = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.year("l_shipdate").alias("yr"),
    ).agg(
        F.sum("l_quantity").alias("qty"),
        F.round(F.sum("l_extendedprice") * 100).cast("long").alias("rev_c"),
    )
    a = base.filter(F.col("yr") == 1995).select(
        "flag",
        F.col("qty").alias("qty_a"),
        F.col("rev_c").alias("rev_a_c"),
    )
    b = base.filter(F.col("yr") == 1996).select(
        "flag",
        F.col("qty").alias("qty_b"),
        F.col("rev_c").alias("rev_b_c"),
    )
    p_a = (F.col("rev_a_c") / 100.0) / F.col("qty_a")
    p_b = (F.col("rev_b_c") / 100.0) / F.col("qty_b")
    return a.join(b, "flag").select(
        F.col("flag").alias("l_returnflag"),
        F.round(F.col("rev_a_c") / 100.0, 2).alias("rev_1995"),
        F.round(F.col("rev_b_c") / 100.0, 2).alias("rev_1996"),
        F.round((F.col("rev_b_c") - F.col("rev_a_c")) / 100.0, 2).alias(
            "delta"
        ),
        F.round((F.col("qty_b") - F.col("qty_a")) * p_a, 4).alias(
            "volume_effect"
        ),
        F.round(F.col("qty_b") * (p_b - p_a), 4).alias("price_effect"),
    )

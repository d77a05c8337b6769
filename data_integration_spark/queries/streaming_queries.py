"""Streaming & event-time t2 queries (SURVEY.md §2.14 extension surface).

``q_streaming_tumbling`` runs a REAL Structured Streaming query
(file source → watermarked tumbling agg → parquet sink, availableNow) and
returns the sink contents; its oracle is the batch GROUP BY restricted to
windows the watermark has closed (append mode emits a window once
``watermark ≥ window_end``; with delay 0 that is ``window_end ≤ max(ts)`` —
verified empirically). Session/sliding windows get batch oracles via
gaps-and-islands / slide enumeration.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog
from data_integration_spark.sources.local import local_table
from data_integration_spark.streaming.joins import (
    clicks_before_purchase,
    dedupe_events,
)
from data_integration_spark.streaming.replay import (
    file_stream,
    parity_halves,
    replay_files,
    replay_source,
    run,
    scratch_dir,
)
from data_integration_spark.streaming.windows import (
    sessionize,
    sliding_counts,
    streaming_tumbling_agg,
)


@register(
    "q_streaming_tumbling",
    oracle="""
    WITH b AS (
      SELECT DATE_TRUNC('hour', ts) AS ws, event_type,
             COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT STRFTIME(ws, '%Y-%m-%d %H:%M') AS window_start, event_type, n, sum_value
    FROM b
    WHERE ws + INTERVAL 1 HOUR <= (SELECT MAX(ts) FROM events)
    """,
)
def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming: events replayed through a file
    source, watermarked tumbling aggregation, append-mode parquet sink."""
    src = replay_files([Catalog(spark, sf_dir)["events"]])
    out = scratch_dir("stream_out")
    streaming_tumbling_agg(
        spark, src, None, scratch_dir("stream_ck"), out,
        window_len="1 hour", watermark="0 seconds",
    )
    res = spark.read.parquet(out)
    return res.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm").alias("window_start"),
        "event_type",
        "n",
        F.round("sum_value", 2).alias("sum_value"),
    )


@register(
    "q_session_window",
    oracle="""
    WITH l AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    g AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM l
    )
    SELECT user_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS session_value
    FROM g GROUP BY user_id, sid
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (gap 30 min) per user — checked against the
    gaps-and-islands SQL formulation."""
    out = sessionize(Catalog(spark, sf_dir)["events"], gap="30 minutes")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
        F.round("session_value", 2).alias("session_value"),
    )


@register(
    "q_sliding_window",
    oracle="""
    WITH e AS (SELECT event_type, EPOCH_US(ts) AS eu FROM events),
    s AS (
      SELECT event_type, eu,
             ((eu // 900000000) - o.o) * 900000000 AS start_us
      FROM e, (SELECT UNNEST([0, 1, 2, 3]) AS o) o
      WHERE ((eu // 900000000) - o.o) * 900000000 <= eu
        AND ((eu // 900000000) - o.o) * 900000000 > eu - 3600000000
    )
    SELECT STRFTIME(MAKE_TIMESTAMP(start_us), '%Y-%m-%d %H:%M') AS window_start,
           event_type, COUNT(*) AS n
    FROM s GROUP BY 1, 2
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 15 min slide): each event lands in 4
    windows — oracle enumerates the slides arithmetically."""
    out = sliding_counts(
        Catalog(spark, sf_dir)["events"], window_len="1 hour", slide="15 minutes"
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm").alias("window_start"),
        "event_type",
        "n",
    )


@register(
    "q_streaming_dedup",
    oracle="""
    SELECT event_id, event_type FROM events
    """,
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: every event delivered TWICE through a
    file source, ``dropDuplicatesWithinWatermark(event_id)`` emits each
    exactly once — the deduped stream equals the original events table
    (streaming/joins.py::dedupe_events; batch/stream equivalence also in
    tests/test_streaming_joins.py)."""
    ev = Catalog(spark, sf_dir)["events"].select(
        "event_id", "user_id", "ts", "event_type"
    )
    stream_in = replay_source(spark, [ev, ev])
    run(
        dedupe_events(stream_in)
        .select("event_id", "event_type")
        .writeStream.format("memory")
        .outputMode("append"),
        "t2_dedup_stream",
    )
    return spark.sql("SELECT event_id, event_type FROM t2_dedup_stream")


@register(
    "q_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
           STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS c_ts,
           ROUND(c.value, 2) AS click_value
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (attribution shape): clicks within 1 h
    before each purchase, both sides replayed through a file source with
    watermarks. A single availableNow batch holds both sides' state fully,
    so the emitted inner-join pairs equal the batch join exactly — the
    incremental-replay variant (maxFilesPerTrigger=1, state eviction
    between batches) is certified separately in
    tests/test_streaming_joins.py."""
    ev = Catalog(spark, sf_dir)["events"].select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    stream_in = replay_source(spark, [ev])
    clicks = stream_in.filter(F.col("event_type") == "click")
    purchases = stream_in.filter(F.col("event_type") == "purchase")
    run(
        clicks_before_purchase(clicks, purchases, lookback="1 hour")
        .writeStream.format("memory")
        .outputMode("append"),
        "t2_ss_join",
    )
    return spark.sql(
        """
        SELECT purchase_id, user_id,
               DATE_FORMAT(p_ts, 'yyyy-MM-dd HH:mm:ss') AS p_ts,
               DATE_FORMAT(c_ts, 'yyyy-MM-dd HH:mm:ss') AS c_ts,
               ROUND(click_value, 2) AS click_value
        FROM t2_ss_join
        """
    )


@register(
    "q_stream_static_join",
    oracle="""
    SELECT o.o_orderkey, c.c_nationkey,
           ROUND(o.o_totalprice, 2) AS totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 150000
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: an orders stream (file-source replay)
    joined to the static customer dimension — the dimension side is a plain
    batch frame Spark broadcasts to every micro-batch, the canonical
    stream-enrichment shape. Inner stream-static joins emit immediately
    (no watermark needed), so availableNow replay equals the batch join
    exactly → full oracle."""
    cat = Catalog(spark, sf_dir)
    orders = cat["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    stream_in = replay_source(spark, [orders])
    dim = cat["customer"].select("c_custkey", "c_nationkey")
    joined = (
        stream_in.filter(F.col("o_totalprice") > 150000)
        # no forced broadcast: customer is data-proportional; Spark's own
        # size-based planning broadcasts the static side per micro-batch
        # while it fits and degrades to a shuffle join when it doesn't
        .join(dim, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "o_orderkey",
            "c_nationkey",
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )
    run(joined.writeStream.format("memory").outputMode("append"), "t2_ss_static")
    return spark.sql("SELECT * FROM t2_ss_static")


@register(
    "q_stateful_stream",
    oracle="""
    SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 2) AS total,
           ROUND(ROUND(SUM(value), 2) / COUNT(*), 6) AS mean
    FROM events GROUP BY user_id
    """,
)
def q_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    (n, total, mean) folded in the state store. Replayed availableNow in
    one batch, each user's single update-mode emission IS the final state,
    which must equal the batch GROUP BY — a stream/batch equivalence the
    oracle checks directly. The evicting (ProcessingTimeTimeout) variant is
    certified in tests/test_stateful_streaming.py."""
    from data_integration_spark.streaming.stateful import (
        running_user_stats_replay,
    )

    ev = Catalog(spark, sf_dir)["events"].select("user_id", "ts", "value")
    run(
        running_user_stats_replay(replay_source(spark, [ev]))
        .writeStream.format("memory")
        .outputMode("update"),
        "t2_stateful",
    )
    # grid-round the float total (reduction orders differ across engines),
    # derive the mean from the rounded total so both engines do identical
    # IEEE ops
    return spark.sql(
        """
        SELECT user_id, n, ROUND(total, 2) AS total,
               ROUND(ROUND(total, 2) / n, 6) AS mean
        FROM t2_stateful
        """
    )


@register(
    "q_streaming_upsert",
    oracle="""
    SELECT k, event_id, value FROM (
      SELECT event_id % 100 AS k, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_id % 100
                                ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch-maintained keyed table: the stream upserts a parquet
    table with per-key latest-wins semantics (streaming/sinks.py) — the
    CDC/materialized-table pattern on plain files. After an availableNow
    replay the table must equal the batch per-key argmax — checked by the
    oracle. Multi-batch convergence is certified in
    tests/test_streaming_joins.py."""
    from data_integration_spark.streaming.sinks import streaming_upsert_sink

    ev = Catalog(spark, sf_dir)["events"].select(
        (F.col("event_id") % 100).alias("k"), "event_id", "value"
    )
    table = scratch_dir("upsert_table")
    streaming_upsert_sink(
        replay_source(spark, [ev]), table, keys=["k"], latest_by="event_id",
        query_name="t2_upsert",
    )
    return spark.read.parquet(table)


@register(
    "q_streaming_minhash_dedup",
    # full oracle: the query uses the PORTABLE md5-sourced minhash
    # (dedup/minhash.py::with_minhash_signature base="md5"), so DuckDB
    # recomputes the TRUE k=16 minhash class partition value-for-value —
    # hash_j(s) = int64(md5(f"{1000+j}:{s}")[:15 hex]), per-doc min over
    # the distinct-bigram set, docs grouped by their 16-min tuple.
    # Distinct shingle sets legitimately merge at p ≈ J^16 (that IS
    # minhash-collapse semantics — the first oracle draft grouped by the
    # raw shingle set and failed 440 vs 499, proving those merges are
    # real); empty-set docs have all-NULL mins → one shared class on both
    # engines. Survivors canonicalized to min(doc_id) per class.
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] AS s
      FROM tok, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ts) - 1, 1))) AS u(i)
      WHERE ts[i + 1] IS NOT NULL
    ),
    mins AS (
      SELECT doc_id, v.j,
             MIN(CAST('0x' || SUBSTRING(
                   MD5(CAST(1000 + v.j AS VARCHAR) || ':' || s), 1, 15)
                 AS BIGINT)) AS m
      FROM sh, UNNEST(GENERATE_SERIES(0, 15)) AS v(j)
      GROUP BY doc_id, v.j
    ),
    cls AS (
      SELECT t.doc_id, LIST(m.m ORDER BY m.j) AS key
      FROM tok t LEFT JOIN mins m ON m.doc_id = t.doc_id
      GROUP BY t.doc_id
    )
    SELECT MIN(doc_id) AS doc_id FROM cls GROUP BY key
    """,
)
def q_streaming_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup dedup over a growing corpus: documents arrive
    as a stream (file-source replay, every doc delivered TWICE), each row
    computes its STATELESS MinHash signature in-line
    (dedup/minhash.py::with_minhash_signature — array expressions only, no
    shuffle, streaming-legal), and ``dropDuplicates`` on the signature
    keeps the first arrival per near-dup class. The dedup operator's state
    IS the incremental signature registry: at 100 TB it lives in the
    RocksDB state store and new crawl batches dedup against everything
    ever seen without rescanning the corpus. The signature collides only
    when ALL k min-hashes agree — exact/ultra-near duplicate collapse
    (identical shingle sets), not banded near-dup recall (the banded
    class lives in q_dedup_minhash / q_minhash_cross_dedup).
    Stream-vs-batch signature equivalence and exact-copy collapse are
    pinned in tests/test_index_persist.py. FULL oracle: the
    signature's hash family is the PORTABLE md5-sourced one, so DuckDB
    recomputes the true minhash class partition engine-independently —
    see the oracle comment (xxhash64 stays the throughput default of
    with_minhash_signature for non-verified production runs).

    Determinism: WHICH row dropDuplicates keeps per signature class is
    arrival-order-dependent, so the returned survivor id is canonicalized
    to min(doc_id) over each signature class the STREAM emitted — same row
    count, arrival-order-independent values (safe for driver re-runs even
    if a future SF gains degenerate multi-doc classes)."""
    from data_integration_spark.dedup.minhash import with_minhash_signature

    docs = Catalog(spark, sf_dir)["documents"].select("doc_id", "text")
    deduped = (
        with_minhash_signature(
            replay_source(spark, [docs, docs]), "text", "sig", k=16, base="md5"
        )
        .dropDuplicates(["sig"])
        .select("doc_id", "sig")
    )
    run(deduped.writeStream.format("memory").outputMode("append"), "t2_mh_dedup")
    seen_sigs = spark.sql("SELECT DISTINCT sig FROM t2_mh_dedup")
    canonical = (
        with_minhash_signature(docs, "text", "sig", k=16, base="md5")
        .groupBy("sig")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    # sig itself is engine-internal (xxhash64) — the verified output is
    # WHICH docs survive, i.e. the class partition
    return canonical.join(seen_sigs, "sig").select("doc_id")


try:  # transformWithStateInPandas needs protobuf (absent in this container)
    # — gate the registration so the operator surfaces wherever the dep
    # exists; streaming/stateful.py::UserExtremes is the implementation
    # either way and tests/test_stateful_streaming.py skips without it.
    import google.protobuf  # noqa: F401

    _HAS_PROTOBUF = True
except ImportError:
    _HAS_PROTOBUF = False

if _HAS_PROTOBUF:

    @register(
        "q_transform_with_state",
        oracle="""
        SELECT user_id, COUNT(*) AS n,
               MIN(value) AS lo, MAX(value) AS hi
        FROM events GROUP BY user_id
        """,
    )
    def q_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Spark 4 transformWithStateInPandas: per-user running value
        extremes kept in a named ValueState
        (streaming/stateful.py::UserExtremes) — the new arbitrary-state
        API that supersedes applyInPandasWithState (named Value/List/Map
        state variables, store-managed TTL, timers).

        Replayed availableNow in one batch, each user's single update-mode
        emission IS its final state, which must equal the batch GROUP BY —
        the same stream/batch equivalence contract as q_stateful_stream."""
        from data_integration_spark.streaming.stateful import (
            user_extremes_stream,
        )

        ev = Catalog(spark, sf_dir)["events"].select("user_id", "value")
        run(
            user_extremes_stream(replay_source(spark, [ev]))
            .writeStream.format("memory")
            .outputMode("update"),
            "t2_tws",
        )
        return spark.sql("SELECT user_id, n, lo, hi FROM t2_tws")


@register(
    "q_streaming_index_append",
    # stream/batch-equivalence certificate for incremental ANN-index
    # maintenance: cell assignment is a PURE function of (vector, frozen
    # centroids), so the streamed foreachBatch append must reproduce the
    # batch append row-for-row — an engine-independent literal-zero
    # mismatch count (centroid VALUES stay engine-internal, as in the
    # IVF family).
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_new_vectors,
           CAST(0 AS BIGINT) AS n_batch_mismatch,
           CAST(0 AS BIGINT) AS n_out_of_range
    FROM embeddings WHERE vec_id < 50
    """,
)
def q_streaming_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding-index maintenance from a STREAM — the shape
    a production vector pipeline runs nightly/hourly: the released IVF
    index (fit once on the existing corpus, centroids frozen, persisted)
    receives new embedding micro-batches via ``foreachBatch``; each batch
    is assigned with the LOADED index's own arithmetic and appended to
    the inverted-list table. ``maxFilesPerTrigger=1`` forces multiple
    micro-batches so the append really exercises incremental state, and
    the certificate checks:

    - ``n_new_vectors``: every streamed vector landed exactly once
      (conservation across micro-batches + restarts — the parquet sink
      is idempotent per batch via the checkpoint);
    - ``n_batch_mismatch`` == 0: the streamed assignments EQUAL the
      direct batch ``assign`` of the same vectors — stream/batch
      equivalence of the index update (the q_streaming_* family's
      availableNow==batch discipline applied to index maintenance);
    - ``n_out_of_range`` == 0: every assigned cell is a valid quantizer
      cell.

    At 100 TB: the old corpus is never re-scanned (the index loads from
    the release artifact), each micro-batch is one narrow
    broadcast-centroids map, and the sink appends partition-local files
    — no shuffle anywhere in the maintenance loop."""
    from data_integration_spark.similarity.ann import as_double_array
    from data_integration_spark.similarity.ivf import IVFIndex
    from data_integration_spark.similarity.persist import (
        load_ivf_index,
        save_ivf_index,
    )

    n_cells = 8
    emb = Catalog(spark, sf_dir)["embeddings"].select(
        "vec_id", as_double_array("embedding", "e")
    )
    old = emb.filter(F.col("vec_id") >= 50)
    new = emb.filter(F.col("vec_id") < 50)

    index = IVFIndex(n_cells=n_cells, seed=11).fit(old)
    idx_path = scratch_dir("ivf_stream_idx")
    save_ivf_index(index, idx_path)
    out = scratch_dir("ivf_stream_out")

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        loaded = load_ivf_index(batch_df.sparkSession, idx_path)
        loaded.assign(batch_df, id_col="vec_id", vec_col="e").select(
            "mid", "cell"
        ).write.mode("append").parquet(out)

    # replay the new batch as a 2-file stream (maxFilesPerTrigger=1 →
    # at least 2 micro-batches)
    run(
        replay_source(spark, parity_halves(new, "vec_id"), max_files_per_trigger=1)
        .writeStream.foreachBatch(append_batch),
        "q_streaming_index_append",
    )

    streamed = spark.read.parquet(out)
    direct = index.assign(new).select("mid", F.col("cell").alias("cell_b"))
    n_new = streamed.count()
    n_mismatch = (
        streamed.select("mid", F.col("cell").alias("cell_a"))
        .join(direct, "mid", "full")
        .filter(
            F.col("cell_a").isNull()
            | F.col("cell_b").isNull()
            | (F.col("cell_a") != F.col("cell_b"))
        )
        .count()
    )
    n_oor = streamed.filter(
        (F.col("cell") < 0) | (F.col("cell") >= n_cells)
    ).count()
    return local_table(
        spark,
        [
            {
                "n_new_vectors": n_new,
                "n_batch_mismatch": n_mismatch,
                "n_out_of_range": n_oor,
            }
        ],
        "n_new_vectors long, n_batch_mismatch long, n_out_of_range long",
    )


@register(
    "q_streaming_pq_encode",
    # stream/batch-equivalence certificate for incremental PQ encoding
    # (the q_streaming_index_append pattern on the codes table): encoding
    # is a pure function of (vector, frozen codebooks), so the streamed
    # foreachBatch appends must reproduce the batch encode row-for-row.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_new_vectors,
           CAST(0 AS BIGINT) AS n_batch_mismatch,
           CAST(0 AS BIGINT) AS n_code_range_violations
    FROM embeddings WHERE vec_id < 50
    """,
)
def q_streaming_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PQ-code maintenance from a STREAM — the compressed
    sibling of q_streaming_index_append: the released PQ codebooks
    (fit once on the existing corpus, persisted) encode new embedding
    micro-batches via ``foreachBatch`` into the append-only codes table
    (the 16-bytes-per-vector representation that IS the searchable index
    at 100 TB). ``maxFilesPerTrigger=1`` forces multiple real
    micro-batches. Certificate: conservation across batches, streamed
    codes == direct batch encode row-for-row (pure function of vector ×
    frozen codebooks), every code in range."""
    from data_integration_spark.similarity.ann import as_double_array
    from data_integration_spark.similarity.pq import PQIndex
    from data_integration_spark.similarity.persist import (
        load_pq_index,
        save_pq_index,
    )

    emb = Catalog(spark, sf_dir)["embeddings"].select(
        "vec_id", as_double_array("embedding", "e")
    )
    old = emb.filter(F.col("vec_id") >= 50)
    new = emb.filter(F.col("vec_id") < 50)
    index = PQIndex(m=16, k_codes=64, seed=13).fit(old)
    idx_path = scratch_dir("pq_stream_idx")
    save_pq_index(index, idx_path)
    out = scratch_dir("pq_stream_out")

    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        loaded = load_pq_index(batch_df.sparkSession, idx_path)
        loaded.encode(batch_df, id_col="vec_id", vec_col="e").write.mode(
            "append"
        ).parquet(out)

    run(
        replay_source(spark, parity_halves(new, "vec_id"), max_files_per_trigger=1)
        .writeStream.foreachBatch(encode_batch),
        "q_streaming_pq_encode",
    )

    streamed = spark.read.parquet(out)
    direct = index.encode(new).select("mid", F.col("codes").alias("cb"))
    n_new = streamed.count()
    n_mismatch = (
        streamed.select("mid", F.col("codes").alias("ca"))
        .join(direct, "mid", "full")
        .filter(
            F.col("ca").isNull()
            | F.col("cb").isNull()
            | (F.col("ca") != F.col("cb"))
        )
        .count()
    )
    n_range = streamed.filter(
        F.exists("codes", lambda c: (c < 0) | (c >= F.lit(index.k_codes)))
    ).count()
    return local_table(
        spark,
        [
            {
                "n_new_vectors": n_new,
                "n_batch_mismatch": n_mismatch,
                "n_code_range_violations": n_range,
            }
        ],
        "n_new_vectors long, n_batch_mismatch long, n_code_range_violations long",
    )


@register(
    "q_streaming_late_drop",
    oracle="""
    WITH e AS (
      SELECT ts, EPOCH_US(ts) // 1000 AS t_ms,
             CAST(('0x' || SUBSTR(MD5('B' || CAST(event_id AS VARCHAR)),
                           1, 2))::UBIGINT % 4 AS BIGINT) AS b
      FROM events
    ),
    bm AS (SELECT b, MAX(t_ms) AS mx FROM e GROUP BY b),
    wm AS (
      -- watermark IN EFFECT for batch b's late filter: event-time stats
      -- through batch b-2 (ms) minus the 30-minute delay. Empirically
      -- verified against StreamingQueryProgress: the watermark computed
      -- from batch k-1's max is COMMITTED at batch k's start but takes
      -- filtering effect one batch later, so batches 0 AND 1 run under
      -- the initial watermark
      SELECT bm.b,
             COALESCE((SELECT MAX(b2.mx) FROM bm b2 WHERE b2.b <= bm.b - 2),
                      0) - 1800000 AS wm_ms
      FROM bm
    ),
    surv AS (
      SELECT e.ts, e.t_ms, DATE_TRUNC('hour', e.ts) AS ws
      FROM e JOIN wm ON wm.b = e.b
      WHERE EPOCH_US(DATE_TRUNC('hour', e.ts) + INTERVAL 1 HOUR) // 1000
              > wm.wm_ms
    ),
    fin AS (SELECT MAX(t_ms) - 1800000 AS final_wm FROM e),
    emitted AS (
      SELECT ws, CAST(COUNT(*) AS BIGINT) AS n
      FROM surv GROUP BY ws
      HAVING EPOCH_US(ws + INTERVAL 1 HOUR) // 1000
               <= (SELECT final_wm FROM fin)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_source_events,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM emitted)
             AS n_windows_emitted,
           CAST(COALESCE((SELECT SUM(n) FROM emitted), 0) AS BIGINT) AS n_rows_emitted,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) -
             (SELECT CAST(COUNT(*) AS BIGINT) FROM surv)
             AS n_rows_dropped_late
    """,
)
def q_streaming_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data DROP accounting — the streaming behavior the
    rest of the suite never exercises (ordered replays drop nothing):
    events stream in FOUR micro-batches keyed by a portable md5 hash
    (batch = md5(event_id) % 4 — a sharded ingest whose shards arrive
    sequentially, so each batch carries event-times from the whole
    corpus span), through ``withWatermark("ts", "30 minutes")`` and an
    append-mode 1-hour tumbling count. Rows whose window already closed
    under the watermark in effect for their batch are dropped by the
    engine; windows still open at termination are withheld by append
    mode. The certificate row pins all four conservation numbers.

    The ORACLE replays Spark's MEASURED semantics in SQL: the filter
    watermark for batch k derives from event-time stats through batch
    k-2 (the update computed from batch k-1 is committed at batch k's
    start but takes filtering effect one batch later — established
    empirically against StreamingQueryProgress, where batch 1 reports
    the advanced watermark yet keeps its late rows), a row survives iff
    its window END (ms) > that watermark, and a window is emitted iff
    its end <= the final watermark. The hash match certifies the
    engine's late-drop behavior against this spec, batch by batch —
    this is the number that tells you what a 30-minute watermark COSTS
    in silently dropped data on an out-of-order feed
    (q_out_of_order_audit measures the lateness distribution; this
    measures the consequence).

    Determinism: batch membership is the portable md5 stream; batch
    ORDER is forced by explicit mtimes on the four source files
    (FileStreamSource processes oldest-first); maxFilesPerTrigger=1
    makes each file one micro-batch.

    Scale shape: the streaming job is the production shape (state =
    open windows only, bounded by windows-per-watermark-horizon);
    the certificate aggregations are two 1-row folds."""
    src, out = scratch_dir("late_src"), scratch_dir("late_out")
    os.makedirs(src)
    ev = Catalog(spark, sf_dir)["events"].select(
        "event_id",
        "ts",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("B"), F.col("event_id").cast("string"))),
                    1,
                    2,
                ),
                16,
                10,
            ).cast("long")
            % 4
        ).alias("b"),
    )
    n_source = ev.count()
    t0 = time.time()
    for k in range(4):
        batch_dir = replay_files([ev.filter(F.col("b") == k).select("event_id", "ts")])
        dst = f"{src}/batch-{k}.parquet"
        shutil.copyfile(glob.glob(f"{batch_dir}/part-*.parquet")[0], dst)
        # force oldest-first processing order: batch k is k seconds older
        os.utime(dst, (t0 - 100 + k, t0 - 100 + k))
    stream = (
        file_stream(spark, src, max_files_per_trigger=1)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    run(
        stream.writeStream.format("parquet").option("path", out).outputMode("append"),
        "q_streaming_late_drop",
    )
    sink = spark.read.parquet(out)
    emitted = sink.agg(
        F.count("*").alias("n_windows_emitted"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows_emitted"),
    )
    # dropped = rows the engine filtered as too late; recomputed from the
    # spec Spark documents (window end <= in-effect watermark) so the
    # certificate is self-contained — the oracle independently rebuilds
    # the same number from the raw table
    t_ms = (F.unix_micros("ts") / 1000).cast("long")
    bm = ev.select("b", t_ms.alias("t_ms")).groupBy("b").agg(
        F.max("t_ms").alias("mx")
    )
    rows = bm.orderBy("b").collect()
    # filter watermark for batch b derives from stats through batch b-2
    # (one-batch commit lag — see the oracle comment; verified against
    # StreamingQueryProgress watermarks)
    maxes = {r["b"]: r["mx"] for r in rows}
    wm_of_batch = {}
    for b in sorted(maxes):
        upto = [maxes[b2] for b2 in maxes if b2 <= b - 2]
        wm_of_batch[b] = (max(upto) - 1800000) if upto else -1800000
    wm_col = F.create_map(
        *[F.lit(x) for kv in wm_of_batch.items() for x in kv]
    )
    win_end_ms = (
        F.unix_micros(
            F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR")
        )
        / 1000
    ).cast("long")
    dropped = ev.filter(
        win_end_ms <= F.element_at(wm_col, F.col("b"))
    ).agg(F.count("*").alias("n_rows_dropped_late"))
    return (
        emitted.crossJoin(dropped)
        .select(
            F.lit(n_source).cast("long").alias("n_source_events"),
            F.col("n_windows_emitted").cast("long"),
            F.col("n_rows_emitted").cast("long"),
            F.col("n_rows_dropped_late").cast("long"),
        )
    )


# The winnowing window-minimum re-derivation (the corpus_ops oracle CTEs)
# + the STREAMING pair policy: every new doc (< 60) pairs against the old
# corpus (>= 60), and new docs pair with each other across the two
# replayed micro-batches (even ids = one file, odd ids = the other) but
# never within one — emitted canonically as (d1 < d2). The boilerplate
# cap is the FROZEN release hot-list (document frequency computed over
# the OLD corpus only, > 45), applied identically to every batch — the
# production shape: a crawl applies the release's hot-list, it does not
# re-count the archive per micro-batch.
_WINNOW_STREAM_ORACLE = """
WITH w AS (SELECT doc_id, STR_SPLIT(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id, CAST(u.i AS INT) AS pos,
         CAST('0x' || SUBSTRING(
             MD5(ARRAY_TO_STRING(ws[u.i:u.i+3], ' ')), 1, 15)
           AS BIGINT) AS h,
         LEN(ws) - 3 AS ng
  FROM w, UNNEST(GENERATE_SERIES(1, LEN(ws) - 3)) AS u(i)
  WHERE LEN(ws) >= 4
),
starts AS (SELECT doc_id, pos AS s FROM g WHERE pos <= ng - 3),
winmin AS (
  SELECT st.doc_id, st.s, MIN(g2.h) AS mh
  FROM starts st
  JOIN g g2 ON g2.doc_id = st.doc_id
            AND g2.pos BETWEEN st.s AND st.s + 3
  GROUP BY st.doc_id, st.s
),
fp AS (SELECT DISTINCT doc_id, mh AS h FROM winmin),
hot AS (
  SELECT h FROM fp WHERE doc_id >= 60 GROUP BY h HAVING COUNT(*) > 45
),
capped AS (SELECT * FROM fp WHERE h NOT IN (SELECT h FROM hot))
SELECT n.doc_id AS d1, o.doc_id AS d2,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM capped n JOIN capped o ON n.h = o.h
WHERE n.doc_id < 60
  AND (o.doc_id >= 60
       OR (o.doc_id < 60 AND n.doc_id < o.doc_id
           AND n.doc_id % 2 <> o.doc_id % 2))
GROUP BY n.doc_id, o.doc_id
HAVING COUNT(*) >= 2
"""


@register("q_streaming_winnowing_dedup", oracle=_WINNOW_STREAM_ORACLE)
def q_streaming_winnowing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental winnowing dedup — the production crawl loop
    the persisted registry exists for (the winnowing sibling of
    q_streaming_ivf_append's index-maintenance pattern): the release job
    fingerprints + saves the old corpus ONCE
    (similarity/persist.py::save_winnowing_registry); new documents
    arrive as micro-batches (file replay, maxFilesPerTrigger=1 → two
    batches: even then odd doc ids); each ``foreachBatch`` (1)
    fingerprints ONLY the batch, (2) joins it against the CURRENT
    registry — old corpus plus every earlier batch — emitting pairs
    sharing ≥ 2 fingerprints, then (3) APPENDS the batch's fingerprints
    (``append_winnowing_registry``, cost ∝ |batch|), so later batches
    dedup against everything ever seen without any archive re-scan.

    Boilerplate control uses the FROZEN release hot-list (registry df >
    45, computed once at load): a crawl applies the release's hot-list
    rather than re-counting the archive per micro-batch. Pairs are
    emitted canonically as (d1 < d2), which makes the output independent
    of micro-batch ORDER (whichever parity file replays first, the same
    unordered cross-batch pairs exist); within-batch pairs are
    structurally impossible (a batch joins only the registry, which
    never contains itself). FULL oracle: DuckDB re-derives fingerprints
    by range join, applies the same frozen hot-list, and enumerates
    new×old plus cross-parity new×new pairs.

    At 100 TB: the registry is a column-pruned parquet scan (never
    text), each micro-batch's extraction is ∝ |batch|, the append is
    partition-local files, and the hot-list is a broadcast anti —
    measured sf10 economics in SCALING.md."""
    from data_integration_spark.queries.corpus_ops import winnow_fingerprints
    from data_integration_spark.similarity.persist import (
        append_winnowing_registry,
        load_winnowing_registry,
        save_winnowing_registry,
    )

    K, W, DF_CAP = 4, 4, 45
    reg, out = scratch_dir("winnow_stream_reg"), scratch_dir("winnow_stream_out")

    docs = Catalog(spark, sf_dir)["documents"].select("doc_id", "text")
    # once per release: fingerprint + save the old corpus, freeze the
    # hot-list from the release's own df table
    save_winnowing_registry(
        winnow_fingerprints(docs.filter(F.col("doc_id") >= 60), k=K, w=W),
        reg, k=K, w=W,
    )
    _, release_df = load_winnowing_registry(spark, reg, k=K, w=W)
    hot = release_df.filter(F.col("df") > DF_CAP).select("h")
    hot.cache().count()  # freeze NOW — appended partials must not move it

    new = docs.filter(F.col("doc_id") < 60)

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch_fp = winnow_fingerprints(batch_df, k=K, w=W)
        reg_fp, _ = load_winnowing_registry(s, reg, k=K, w=W)
        batch_kept = batch_fp.join(F.broadcast(hot), "h", "left_anti")
        reg_kept = reg_fp.join(F.broadcast(hot), "h", "left_anti")
        pairs = (
            batch_kept.select(F.col("doc_id").alias("b"), "h")
            .join(reg_kept.select(F.col("doc_id").alias("r"), "h"), "h")
            .groupBy(
                F.least("b", "r").alias("d1"),
                F.greatest("b", "r").alias("d2"),
            )
            .agg(F.count("*").cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= 2)
        )
        pairs.write.mode("append").parquet(out)
        # append AFTER pairing: a batch never pairs with itself
        append_winnowing_registry(batch_fp, reg, k=K, w=W)

    run(
        replay_source(spark, parity_halves(new, "doc_id"), max_files_per_trigger=1)
        .writeStream.foreachBatch(dedup_batch),
        "q_streaming_winnowing_dedup",
    )
    return spark.read.parquet(out).select("d1", "d2", "n_shared")


# Pinned-centroid oracle for the STREAMING semantic dedup: DuckDB restates
# the literal centroid grid, every vector's cell + nprobe=3 probed cells,
# and the SYMMETRIC co-probe candidate condition (x probes y's cell OR y
# probes x's cell) — symmetric so the emitted pair set cannot depend on
# which micro-batch replays first (an asymmetric "later batch probes
# earlier" rule would flip with file order). Pairs: new (vec_id < 60) ×
# (old ∪ cross-parity new), cosine >= 0.92, canonical d1 < d2.
_SEM_STREAM_ORACLE = """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
cents AS (
  SELECT CAST(c.c AS INT) AS cell, CAST(j.j AS INT) AS j,
         CAST((c.c * 7 + (j.j - 1) * 13) % 11 - 5 AS DOUBLE) / 10.0 AS cv
  FROM UNNEST(GENERATE_SERIES(0, 7)) AS c(c),
       UNNEST(GENERATE_SERIES(1, 64)) AS j(j)
),
d2 AS (
  SELECT e.vec_id, cents.cell,
         SUM((CAST(e.embedding[cents.j] AS DOUBLE) - cents.cv)
             * (CAST(e.embedding[cents.j] AS DOUBLE) - cents.cv)) AS dd
  FROM e, cents
  GROUP BY e.vec_id, cents.cell
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd, cell) AS rn
    FROM d2
  ) WHERE rn = 1
),
probe AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd, cell) AS crank
    FROM d2
  ) WHERE crank <= 3
),
cand AS (
  SELECT n.vec_id AS x, o.vec_id AS y
  FROM e n JOIN e o ON n.vec_id < 60
   AND (o.vec_id >= 60 OR n.vec_id % 2 <> o.vec_id % 2)
   AND n.vec_id <> o.vec_id
  WHERE EXISTS (SELECT 1 FROM probe p JOIN assigned a
                ON p.vec_id = n.vec_id AND a.vec_id = o.vec_id
                   AND p.cell = a.cell)
     OR EXISTS (SELECT 1 FROM probe p JOIN assigned a
                ON p.vec_id = o.vec_id AND a.vec_id = n.vec_id
                   AND p.cell = a.cell)
),
norms AS (
  SELECT vec_id,
         SQRT(SUM(CAST(embedding[u.i] AS DOUBLE)
                  * CAST(embedding[u.i] AS DOUBLE))) AS nrm
  FROM e, UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS u(i)
  GROUP BY vec_id
),
dots AS (
  SELECT c.x, c.y,
         SUM(CAST(q.embedding[u.i] AS DOUBLE)
             * CAST(m.embedding[u.i] AS DOUBLE)) AS dot
  FROM cand c
  JOIN e q ON q.vec_id = c.x
  JOIN e m ON m.vec_id = c.y,
  UNNEST(GENERATE_SERIES(1, LEN(q.embedding))) AS u(i)
  GROUP BY c.x, c.y
),
cos AS (
  SELECT d.x, d.y, ROUND(d.dot / (nx.nrm * ny.nrm), 6) AS cosine
  FROM dots d
  JOIN norms nx ON nx.vec_id = d.x
  JOIN norms ny ON ny.vec_id = d.y
)
SELECT DISTINCT LEAST(x, y) AS d1, GREATEST(x, y) AS d2, cosine
FROM cos WHERE cosine >= 0.92
"""


# Candidate rows per micro-batch above which the vectorized pair-frame
# kernel (one einsum per Arrow batch — similarity/ann.py::
# cosine_score_pair_frame) replaces the per-row expression cosine.
# Below the gate the interpreted expression is cheaper than a Python
# worker round-trip; above it the per-row HOF fold is the slow form.
# Equivalence across the gate is pinned in
# tests/test_streaming_semantic_planted.py.
_SEM_GEMM_GATE = 4096


def _sem_stream_pairs(
    spark: SparkSession,
    emb: DataFrame,
    name: str = "sem_stream",
    *,
    odd_first: bool = False,
    gemm_gate: int = _SEM_GEMM_GATE,
    tau: float = 0.92,
) -> DataFrame:
    """The streaming semantic-dedup loop, shared by
    ``q_streaming_semantic_dedup`` (natural corpus), its PLANTED sibling
    (non-vacuous certificate), and the order-independence pytest: the
    release job assigns the OLD corpus (vec_id ≥ 60) to the
    pinned-centroid index and persists the inverted-list registry WITH
    each vector's probed-cell set; new embeddings (vec_id < 60) arrive
    as micro-batches (file replay, one parity per file,
    maxFilesPerTrigger=1; ``odd_first`` controls which parity file is
    listed first); each ``foreachBatch`` (1) assigns + probes ONLY the
    batch, (2) forms candidates against the current registry under the
    SYMMETRIC co-probe rule — batch vector x meets registry vector y iff
    x probes y's cell OR y probed x's cell (the stored probe set makes
    the OR evaluable without ever re-scoring the registry) — (3) scores
    candidates and emits pairs at cosine ≥ ``tau`` canonicalized
    d1 < d2, then (4) appends the batch's rows + probe sets to the
    registry.

    The SYMMETRY is what makes the streamed output a pure function of
    the data, not of the replay order: an asymmetric "newcomer probes
    incumbent" rule would emit a different pair set depending on which
    parity file replays first (pinned by
    tests/test_streaming_semantic_planted.py::test_order_independence).

    Scale shape: per batch, assignment/probing is the narrow GEMM map
    (∝ |batch|), candidates come from two cell-keyed hash joins (batch
    probes × registry cells; registry probes × batch cells), and the
    append is partition-local parquet. Candidate scoring is GATED on the
    candidate count: ≤ ``gemm_gate`` rows ride the per-row expression
    cosine, above it the Arrow-batched vectorized kernel
    (``cosine_score_pair_frame``) scores the same frame — identical
    rounded values by pin test, so the gate is a pure physical choice."""
    from data_integration_spark.similarity.ann import (
        _dot,
        _norm,
        cosine_score_pair_frame,
    )
    from data_integration_spark.similarity.ivf import IVFIndex
    from data_integration_spark.queries.similarity_queries import (
        _PIN_CELLS,
        _set_pinned_centroids,
    )

    reg, out = scratch_dir(f"{name}_reg"), scratch_dir(f"{name}_out")
    index = IVFIndex(n_cells=_PIN_CELLS, seed=0)
    _set_pinned_centroids(index, spark)

    def write_registry(vectors: DataFrame, mode: str) -> None:
        assigned = index.assign(vectors)  # (mid, me, cell)
        assigned.write.mode(mode).parquet(os.path.join(reg, "members"))
        index._probe(vectors, nprobe=3).select(
            F.col("qid").alias("mid"), F.col("cell").alias("pcell")
        ).write.mode(mode).parquet(os.path.join(reg, "probes"))

    # once per release: the old corpus's inverted lists + probe sets
    write_registry(emb.filter(F.col("vec_id") >= 60), "overwrite")

    new = emb.filter(F.col("vec_id") < 60)

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        members = s.read.parquet(os.path.join(reg, "members"))
        reg_probes = s.read.parquet(os.path.join(reg, "probes"))
        b_assigned = index.assign(batch_df).withColumnRenamed(
            "mid", "qid"
        ).withColumnRenamed("me", "qe")
        b_probes = index._probe(batch_df, nprobe=3)  # (qid, qe, cell)
        # symmetric co-probe candidates, both directions cell-keyed joins
        cand_a = b_probes.select("qid", "cell").join(
            members.select("mid", "cell"), "cell"
        ).select("qid", "mid")
        cand_b = b_assigned.select("qid", "cell").join(
            reg_probes.select("mid", F.col("pcell").alias("cell")), "cell"
        ).select("qid", "mid")
        # persist the candidate id-pair frame for the batch: the gate
        # count and the scoring join both consume it, and without the
        # persist the two cell-keyed joins + distinct would execute
        # twice per micro-batch
        cand = cand_a.unionByName(cand_b).distinct().persist()
        # zero-norm vectors are dropped BEFORE the gate branch so both
        # physical scorers see the same pair set (the expression path's
        # 0/0 would otherwise make a NaN that Spark orders ABOVE tau
        # while the kernel path raises — and the SQL oracle's NaN fails
        # the threshold; drop-the-pair matches the oracle on all paths)
        pair_frame = (
            cand.join(b_assigned.select("qid", "qe"), "qid")
            .join(members.select("mid", "me"), "mid")
            .filter(
                (_norm(F.col("qe")) != 0.0) & (_norm(F.col("me")) != 0.0)
            )
        )
        # the gate count runs on the two-id candidate frame (no vector
        # columns) — one cheap job per micro-batch, the price of picking
        # the physical scorer; at corpus-batch sizes the same count is a
        # metric any production loop records anyway
        if cand.count() > gemm_gate:
            scored = cosine_score_pair_frame(pair_frame, "qe", "me", 6)
        else:
            scored = pair_frame.select(
                "qid",
                "mid",
                F.round(
                    _dot(F.col("qe"), F.col("me"))
                    / (_norm(F.col("qe")) * _norm(F.col("me"))),
                    6,
                ).alias("cosine"),
            )
        (
            scored.filter(F.col("cosine") >= tau)
            .select(
                F.least("qid", "mid").alias("d1"),
                F.greatest("qid", "mid").alias("d2"),
                "cosine",
            )
            .write.mode("append")
            .parquet(out)
        )
        cand.unpersist()
        # append AFTER pairing: a batch never pairs with itself
        write_registry(batch_df.select("vec_id", "e"), "append")

    halves = parity_halves(new, "vec_id", odd_first)
    run(
        replay_source(spark, halves, max_files_per_trigger=1)
        .writeStream.foreachBatch(dedup_batch),
        name,
    )
    return spark.read.parquet(out).select("d1", "d2", "cosine").distinct()


@register("q_streaming_semantic_dedup", oracle=_SEM_STREAM_ORACLE)
def q_streaming_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING semantic dedup — the embedding-space member of the
    incremental-dedup family (exact: q_cross_shard_dedup; minhash:
    q_streaming_minhash_dedup; winnowing: q_streaming_winnowing_dedup;
    now IVF-pruned cosine) — see ``_sem_stream_pairs`` for the loop and
    its scale shape. FULL oracle: pinned literal centroids let DuckDB
    recompute assignment, probing, the symmetric candidate condition,
    and the thresholded cosines end-to-end. At driver SFs the natural
    corpus has no pair at τ=0.92, so this oracle passes on the EMPTY
    set; the PLANTED sibling (``q_streaming_semantic_dedup_planted``)
    carries the non-vacuous certificate over the same loop."""
    from data_integration_spark.similarity.ann import as_double_array

    emb = Catalog(spark, sf_dir)["embeddings"].select(
        "vec_id", as_double_array("embedding", "e")
    )
    return _sem_stream_pairs(spark, emb, "q_streaming_semantic_dedup")


# Deterministic near-dup planting for the NON-VACUOUS streaming
# certificate: four new vectors (ids 0-3, split across the two parity
# replay files) take EXACT copies of two old-corpus embeddings (ids
# 60/61), so the loop MUST emit (0,60) (1,60) (2,61) (3,61) at cosine
# 1.0 from the new×old direction and the cross-parity new×new pairs
# (0,1) (2,3) once the second file's batch meets the first's registry
# rows — six guaranteed rows at ANY SF, plus whatever natural pairs
# clear τ. A copy (not a perturbation) keeps the certificate
# margin-free: round(cos, 6) is exactly 1.0 in both engines.
_SEM_PLANT_MAP = [(0, 60), (1, 60), (2, 61), (3, 61)]

_SEM_PLANTED_ORACLE = _SEM_STREAM_ORACLE.replace(
    "WITH e AS (SELECT vec_id, embedding FROM embeddings),",
    """WITH e AS (
  SELECT b.vec_id, COALESCE(s.embedding, b.embedding) AS embedding
  FROM embeddings b
  LEFT JOIN (VALUES (0, 60), (1, 60), (2, 61), (3, 61)) AS m(pid, src)
    ON b.vec_id = m.pid
  LEFT JOIN embeddings s ON s.vec_id = m.src
),""",
)
assert _SEM_PLANTED_ORACLE != _SEM_STREAM_ORACLE  # replace() must have hit


def _planted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with ``_SEM_PLANT_MAP`` applied — new id →
    exact copy of its donor old-corpus embedding (both broadcast joins:
    the map is 4 rows, the donor side is keyed by 2 distinct ids)."""
    from data_integration_spark.similarity.ann import as_double_array

    emb = Catalog(spark, sf_dir)["embeddings"].select(
        "vec_id", as_double_array("embedding", "e")
    )
    pmap = local_table(spark, _SEM_PLANT_MAP, "vec_id long, src long")
    donors = emb.select(
        F.col("vec_id").alias("src"), F.col("e").alias("src_e")
    )
    return (
        emb.join(F.broadcast(pmap), "vec_id", "left")
        .join(F.broadcast(donors), "src", "left")
        .select("vec_id", F.coalesce("src_e", "e").alias("e"))
    )


@register("q_streaming_semantic_dedup_planted", oracle=_SEM_PLANTED_ORACLE)
def q_streaming_semantic_dedup_planted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The NON-VACUOUS streaming semantic-dedup certificate (the natural
    corpus emits 0 pairs at τ=0.92 at driver SFs, so its row attests the
    loop only on the empty set):
    the SAME ``_sem_stream_pairs`` loop over ``_planted_embeddings`` —
    four exact-copy near-dups planted across the parity replay files —
    guarantees ≥ 6 emitted pairs at ANY SF, exercising the symmetric
    co-probe candidate rule, the cosine scorer, the canonicalization,
    and the registry append path on a NON-empty set. FULL oracle: the
    natural oracle with the identical planting applied to its ``e`` CTE."""
    return _sem_stream_pairs(
        spark,
        _planted_embeddings(spark, sf_dir),
        "q_streaming_semantic_dedup_planted",
    )


# The dHash planted-bit contract (multimodal_queries._DHASH_ORACLE's f
# CTE) + the streaming pair policy shared with the winnowing/semantic
# streams: every new image (< 60) pairs against the old corpus (>= 60),
# and new images pair with each other across the two replayed
# micro-batches (even ids = one file, odd ids = the other) but never
# within one; within-group planted distances make the cross-parity
# in-group pairs ((0,1) d=1 ... (0,3) d=3) the guaranteed signal.
_IMAGE_STREAM_ORACLE = """
WITH v AS (
  SELECT doc_id,
         CAST('0x' || SUBSTRING(MD5(CAST(doc_id // 4 AS VARCHAR)), 1, 14)
              AS BIGINT) AS base
  FROM documents
),
f AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN ((base >> u.k) & 1 = 1) <> (u.k < doc_id % 4)
                       THEN CAST(1 AS BIGINT) << u.k
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS dh
  FROM v, UNNEST(GENERATE_SERIES(0, 55)) AS u(k)
  GROUP BY doc_id
)
SELECT n.doc_id AS d1, o.doc_id AS d2,
       CAST(BIT_COUNT(XOR(n.dh, o.dh)) AS BIGINT) AS distance
FROM f n JOIN f o
  ON n.doc_id < 60
 AND (o.doc_id >= 60
      OR (o.doc_id < 60 AND n.doc_id < o.doc_id
          AND n.doc_id % 2 <> o.doc_id % 2))
WHERE BIT_COUNT(XOR(n.dh, o.dh)) <= 3
"""


@register("q_streaming_image_dedup", oracle=_IMAGE_STREAM_ORACLE)
def q_streaming_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING perceptual IMAGE dedup — the MULTIMODAL member of the
    streaming dedup matrix (exact/minhash/winnowing/semantic, now
    perceptual): the release job fingerprints the old image corpus ONCE
    into a (item_id, dhash) hash registry (hashes only — payload bytes
    are never re-read); new images arrive as micro-batches (file
    replay, maxFilesPerTrigger=1 → two batches: even then odd ids);
    each ``foreachBatch`` (1) dHashes ONLY the batch's payloads, (2)
    pairs it against the CURRENT registry via the two-sided pigeonhole
    block join (``dedup/simhash.py::hamming_cross_pairs`` — exact
    recall by theorem, candidates only on block collisions, never
    |batch|×|registry|), (3) APPENDS the batch's hashes (cost ∝
    |batch|), so later batches dedup against everything ever seen.
    Pairs are canonicalized (d1 < d2), making the output independent of
    micro-batch replay order; within-batch pairs are structurally
    impossible (a batch joins only the registry, which never contains
    itself).

    FULL oracle: the planted dHash bit contract is md5 arithmetic both
    engines share, so DuckDB restates the hashes and enumerates new×old
    plus cross-parity new×new pairs at Hamming ≤ 3.

    At 100 TB: the registry is a 16-byte-per-image parquet (partition
    by a block prefix for pruning), per-batch decode work rides the
    batch's scan partitions, the append is file-local — the crawl-loop
    economics the winnowing/semantic streams already measure, on the
    image modality."""
    from data_integration_spark.dedup.simhash import hamming_cross_pairs
    from data_integration_spark.multimodal.binary_ops import image_dhash
    from data_integration_spark.queries.multimodal_queries import (
        _dhash_bmp_payload_df,
    )

    reg, out = scratch_dir("img_stream_reg"), scratch_dir("img_stream_out")
    images = _dhash_bmp_payload_df(spark, sf_dir)
    # once per release: hash the old corpus, persist hashes only
    image_dhash(images.filter(F.col("item_id") >= 60)).filter(
        F.col("ok")
    ).select("item_id", "dhash").write.mode("overwrite").parquet(reg)

    new = images.filter(F.col("item_id") < 60)

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        sig = (
            image_dhash(batch_df)
            .filter(F.col("ok"))
            .select("item_id", "dhash")
        )
        sig.cache().count()  # hash once: pairing AND append reuse it
        registry = s.read.parquet(reg)
        pairs = hamming_cross_pairs(
            sig, registry, bits=56, max_distance=3,
            id_col="item_id", sig_col="dhash",
        )
        (
            pairs.select(
                F.least("d1", "d2").alias("d1"),
                F.greatest("d1", "d2").alias("d2"),
                F.col("distance").cast("long").alias("distance"),
            )
            .write.mode("append")
            .parquet(out)
        )
        # append AFTER pairing: a batch never pairs with itself
        sig.write.mode("append").parquet(reg)
        sig.unpersist()

    run(
        replay_source(spark, parity_halves(new, "item_id"), max_files_per_trigger=1)
        .writeStream.foreachBatch(dedup_batch),
        "q_streaming_image_dedup",
    )
    return spark.read.parquet(out).select("d1", "d2", "distance")


@register(
    "q_streaming_countmin",
    # the BATCH count-min oracle, verbatim: the sketch is LINEAR, so a
    # correct incremental maintenance loop must land on the exact same
    # cells — and therefore the exact same estimates — as one batch pass
    oracle=None,  # set below to the batch oracle (import-order safe)
)
def q_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING count-min maintenance — the shape a 100 TB ingest keeps
    its frequency sketch in: micro-batches (file replay, even then odd
    doc ids) each aggregate their OWN tokens into (depth, bucket,
    partial-count) rows and APPEND them to the sketch store
    (merge-on-read partials, the winnowing-registry df-partial
    pattern); the read side re-aggregates cells on load. Because the
    sketch is LINEAR, the incrementally-maintained sketch is
    VALUE-EQUAL to the one-pass batch sketch — so the oracle is
    q_countmin_sketch's oracle VERBATIM, and the driver hash proves the
    maintenance loop exact, not approximately right. Candidate top-20
    selection is the audit-side batch derivation (same as the batch
    query); the sketch store never sees it.

    Scale: each micro-batch's shuffle carries ≤ depth·width keys; the
    append is file-local; the store grows by ≤ 512 rows per batch until
    compaction (re-aggregate and rewrite — same cells by linearity)."""
    from data_integration_spark.queries.scalar_surface import (
        _CMS_D,
        _cms_bucket,
    )

    store = scratch_dir("cms_stream_store")
    docs = Catalog(spark, sf_dir)["documents"].select("doc_id", "text")

    def bucketize(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.explode(F.split("text", " ")).alias("tok")
        ).filter(F.col("tok") != "")
        return toks.select(
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
            ).alias("b")
        ).select(F.col("b.depth").alias("depth"), F.col("b.bucket").alias("bucket"))

    def update_sketch(batch_df: DataFrame, batch_id: int) -> None:
        (
            bucketize(batch_df)
            .groupBy("depth", "bucket")
            .agg(F.count("*").alias("c"))
            .write.mode("append")
            .parquet(store)
        )

    run(
        replay_source(spark, parity_halves(docs, "doc_id"), max_files_per_trigger=1)
        .writeStream.foreachBatch(update_sketch),
        "q_streaming_countmin",
    )

    # merge-on-read: per-batch partials re-aggregate to the final cells
    sketch = (
        spark.read.parquet(store)
        .groupBy("depth", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), F.col("tok"))
        .limit(20)
    )
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
    return (
        F.broadcast(cand)
        .join(sketch, ["depth", "bucket"])
        .groupBy("tok", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            F.col("tok").alias("token"),
            F.col("exact_count").cast("long"),
            F.col("cms_estimate").cast("long"),
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("long")
            .alias("overcount"),
        )
    )


def _fs_stream_oracle() -> str:
    from data_integration_spark.queries.er_retrieval import _FS_PAIRS_SQL

    # The decision boundary of the release-fit F-S weights on this data
    # is EXACTLY "name agrees OR balance in band" (the two negative
    # patterns are (0,0,0) and (0,1,0) — segment agreement alone cannot
    # outweigh name + balance disagreement; sign analysis pinned in
    # tests/test_fs_linkage.py and re-derived by the query itself, which
    # RAISES if the fitted signs ever disagree with the rule the oracle
    # states). That makes the frozen-weight APPLY path fully
    # SQL-restatable even though the weights are not.
    return f"""
WITH {_FS_PAIRS_SQL}
SELECT a_key, b_key, g_name, g_seg, g_bal, is_true
FROM pairs
WHERE b_key < 60 AND (g_name = 1 OR g_bal = 1)
"""


@register("q_streaming_linkage", oracle=_fs_stream_oracle())
def q_streaming_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Fellegi-Sunter linkage — the incremental member of the
    linkage family and the production apply pattern: the model (π, m,
    u) is fit ONCE at release time on the full blocked pair table
    (stats/fs_linkage.py — its only input is the ≤ 2^F pattern table),
    then new CRM records arrive as micro-batches (file replay, even
    then odd custkeys < 60) and each ``foreachBatch`` blocks ONLY the
    batch against the static clean side, attaches the comparison
    vector and the FROZEN log-likelihood-ratio weight (native column
    expressions — no Python in the scan), and appends the declared
    matches. FULL oracle: the weights are EM-state, but their DECISION
    BOUNDARY on this data is exactly the pattern rule ``g_name = 1 OR
    g_bal = 1`` — the query re-derives the fitted pattern signs and
    raises loudly if they ever disagree with that rule, so the oracle's
    restatement is guarded, not assumed.

    Scale: per batch one (nation × hash-bucket)-blocked equi-join
    ∝ |batch|·block_size; the fit is once-per-release; nothing driver-
    side ever exceeds the 2^F table."""
    from itertools import product as _product

    from data_integration_spark.queries.er_retrieval import (
        _FS_GAMMA,
        _fs_gamma_pairs,
        _fs_nb,
        _fs_pairs,
        _fs_sides,
    )
    from data_integration_spark.stats.fs_linkage import (
        fs_em,
        fs_weights,
        pattern_table,
        score_pairs,
    )

    out = scratch_dir("fs_stream_out")
    # release-time fit on the full blocked pair table; nb computed ONCE
    # and shared with the per-batch joins (no second count)
    nb = _fs_nb(spark, sf_dir)
    _pi, m, u, _lls = fs_em(
        pattern_table(_fs_pairs(spark, sf_dir, nb=nb), _FS_GAMMA)
    )
    agree, disagree = fs_weights(m, u)

    # guard the oracle's decision-rule restatement: the fitted weight of
    # every pattern must be positive iff (g_name or g_bal) — else the
    # frozen-weight decision and the SQL rule would silently diverge
    for g in _product((0, 1), repeat=3):
        w = sum(agree[f] if g[f] else disagree[f] for f in range(3))
        if (w > 0) != (g[0] == 1 or g[2] == 1):
            raise AssertionError(
                f"fitted F-S decision boundary moved: pattern {g} has "
                f"weight {w:.3f}, breaking the oracle's pattern rule"
            )

    a, b = _fs_sides(spark, sf_dir)
    a = a.withColumn("bk", F.col("a_key") % nb)

    new_crm = b.filter(F.col("b_key") < 60)

    def link_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the SHARED γ builder — fit and apply cannot drift on the
        # comparison semantics
        pairs = _fs_gamma_pairs(
            a, batch_df.withColumn("bk", F.col("b_key") % nb)
        )
        (
            score_pairs(pairs, _FS_GAMMA, m, u)
            .filter(F.col("weight") > 0)
            .drop("weight")
            .write.mode("append")
            .parquet(out)
        )

    run(
        replay_source(spark, parity_halves(new_crm, "b_key"), max_files_per_trigger=1)
        .writeStream.foreachBatch(link_batch),
        "q_streaming_linkage",
    )
    return spark.read.parquet(out).select(
        "a_key", "b_key", *_FS_GAMMA, "is_true"
    )


def _mg_stream_oracle() -> str:
    from data_integration_spark.queries.scalar_surface import _MG_ORACLE

    return _MG_ORACLE


@register("q_streaming_heavy_hitters", oracle=_mg_stream_oracle())
def q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Misra-Gries maintenance — the heavy-hitters member of
    the incremental-sketch family (count-min: q_streaming_countmin;
    Bloom: q_streaming_bloom): micro-batches (file replay, even then
    odd doc ids) each compute their OWN ≤ k-counter MG summary
    (``misra_gries_summary`` — per-partition mapInPandas + driver fold)
    and APPEND it to the summary store as (batch_id, tok, c) rows; the
    read side folds the per-batch summaries IN BATCH ORDER with the
    PODS-2012 ``mg_merge``. Unlike count-min the sketch is NOT linear —
    the merged counters differ from the one-pass batch counters — but
    the THEOREM is merge-stable (per-batch error ≤ n_b/(k+1) sums to
    ≤ n/(k+1) through any merge tree), so the certificate is the batch
    query's oracle VERBATIM: same exact top-15, same n, same theorem
    booleans. The driver hash proves the maintenance loop keeps the
    guarantee, which is the contract a rolling ingest actually needs.

    Scale: each batch's cost is one bounded-counter pass over its own
    tokens; the store grows ≤ k rows per batch; the fold is
    ≤ batches·k driver work."""
    from data_integration_spark.operators.heavy_hitters import (
        mg_certificate_rows,
        mg_merge,
        misra_gries_summary,
    )
    from data_integration_spark.queries.scalar_surface import _MG_K

    store = scratch_dir("mg_stream_store")
    docs = Catalog(spark, sf_dir)["documents"].select("doc_id", "text")

    def update_summary(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        toks = batch_df.select(
            F.explode(F.split("text", " ")).alias("tok")
        ).filter(F.col("tok") != "")
        summary, bn = misra_gries_summary(toks, _MG_K)
        # gate on the stream LENGTH, not the counter dict: a final MG
        # decrement step can empty every counter while n_b > 0, and the
        # tok-NULL stream-length rider must still reach the store or the
        # read-side n (and the n/(k+1) certificate threshold) undercounts
        if bn:
            # the batch's stream length rides the store as a tok-NULL
            # row (the misra_gries_summary rider pattern), so the read
            # side recovers the total n WITHOUT a second corpus scan
            local_table(
                s,
                [
                    {"batch_id": int(batch_id), "tok": t, "c": int(c)}
                    for t, c in summary.items()
                ]
                + [{"batch_id": int(batch_id), "tok": None, "c": int(bn)}],
                "batch_id long, tok string, c long",
            ).write.mode("append").parquet(store)

    run(
        replay_source(spark, parity_halves(docs, "doc_id"), max_files_per_trigger=1)
        .writeStream.foreachBatch(update_summary),
        "q_streaming_heavy_hitters",
    )

    # fold the per-batch summaries in batch order (bounded ≤ batches·k);
    # the tok-NULL rider rows sum to the total stream length
    by_batch: dict[int, dict[str, int]] = {}
    n = 0
    for r in spark.read.parquet(store).collect():
        if r["tok"] is None:
            n += int(r["c"])
            continue
        by_batch.setdefault(int(r["batch_id"]), {})[r["tok"]] = int(r["c"])
    summary: dict[str, int] = {}
    for bid in sorted(by_batch):
        summary = mg_merge(summary, by_batch[bid], _MG_K)

    # the ONLY remaining corpus pass is the audit-side exact top-15 the
    # certificate needs — production would stop at the folded summary
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return mg_certificate_rows(spark, toks, summary, n, _MG_K)


# linearity: the streaming-maintained sketch must equal the batch one —
# bind the batch oracle after both modules are importable
from data_integration_spark.queries import ORACLES as _ORACLES  # noqa: E402
from data_integration_spark.queries.scalar_surface import (  # noqa: E402
    _CMS_ORACLE as _CMS_BATCH_ORACLE,
)

_ORACLES["q_streaming_countmin"] = _CMS_BATCH_ORACLE

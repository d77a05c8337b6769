"""Streaming sinks beyond the built-ins: ``foreachBatch`` table maintenance.

``foreachBatch`` hands each micro-batch to arbitrary BATCH logic with a
batch id — the bridge that lets a stream maintain a keyed parquet table
via merge/upsert (no Delta in this container; the same callback targets
any ACID table format in production). Spark guarantees at-least-once
callback delivery with a stable ``batch_id``; the merge is idempotent per
(key, batch), so redelivery converges instead of duplicating — the
exactly-once-table recipe on plain files.

Scale notes: each micro-batch merge is a batch job (anti-join + union +
atomic directory swap here; a real MERGE INTO on table formats). State is
the TABLE, not the stream — nothing accumulates in the state store.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from data_integration_spark.operators.merge import merge_upsert
from data_integration_spark.sources.atomic import atomic_replace_dir, recover_dir
from data_integration_spark.streaming.replay import run


def streaming_upsert_sink(
    stream: DataFrame,
    table_path: str,
    keys: list[str],
    checkpoint: str | None = None,
    query_name: str = "upsert_sink",
    latest_by: str | None = None,
):
    """Maintain ``table_path`` (parquet) as the keyed upsert of every
    micro-batch: latest batch wins per key. Replays ``stream`` to its end
    (streaming/replay.py::run) and returns the finished query.

    ``latest_by``: when a micro-batch itself carries several rows per key
    (redeliveries, rapid updates), keep only the row with the max value of
    this column per key before merging — the within-batch "latest wins"
    reduction. Without it, all of a key's batch rows replace the target's
    (multi-row-payload semantics).

    The swap is write-to-temp + atomic rename, so a crash mid-merge leaves
    the previous table intact; rerunning the batch (at-least-once) merges
    to the same result.
    """
    spark = stream.sparkSession

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if latest_by is not None:
            from pyspark.sql import Window
            from pyspark.sql import functions as F

            w = Window.partitionBy(*keys).orderBy(F.col(latest_by).desc())
            batch_df = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        recover_dir(table_path)  # restore the table if a prior merge crashed
        if os.path.exists(table_path):
            target = spark.read.parquet(table_path)
            merged = merge_upsert(target, batch_df, keys)
        else:
            merged = batch_df
        tmp = f"{table_path}__m{batch_id}_{uuid.uuid4().hex[:6]}"
        merged.write.mode("overwrite").parquet(tmp)
        atomic_replace_dir(tmp, table_path)

    return run(stream.writeStream.foreachBatch(merge_batch), query_name, checkpoint)


def streaming_counter_merge_sink(
    stream: DataFrame,
    table_path: str,
    keys: list[str],
    checkpoint: str | None = None,
    query_name: str = "counter_merge_sink",
    count_col: str = "n_raw",
):
    """Maintain ``table_path`` (parquet) as the ADDITIVE per-key counter
    of every micro-batch: each batch groups to (keys, COUNT(*)) and the
    counts MERGE BY ADDITION into the table (full-outer coalesce-add —
    count is a commutative monoid, so the merge is exact in any arrival
    order). Replays ``stream`` to its end (streaming/replay.py::run) and
    returns the finished query.

    The latest-wins upsert sink above is naturally idempotent under
    foreachBatch's at-least-once redelivery; an ADDITIVE merge is not —
    a redelivered batch would double-count. The standard recipe applies:
    the table carries a ``_last_batch.json`` ledger (underscore-prefixed
    → invisible to Spark's parquet reader), written into the SAME temp
    dir that the atomic swap publishes, so "counters include batch N"
    and "ledger says N" commit together; a redelivered batch_id ≤ ledger
    is skipped. batch_ids are monotone per checkpoint, which is what
    makes the ≤ test sufficient. On a real deployment the same contract
    is MERGE INTO + the table format's transaction log.

    Scale shape: each micro-batch costs one map-side-combined groupBy of
    the BATCH (not the history) + one key-equi full-outer merge join
    against the table — the table is |distinct keys|-sized, never
    |stream|-sized, and history is never rescanned."""
    spark = stream.sparkSession

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        counter_merge_batch(
            spark, batch_df, batch_id, table_path, keys, count_col
        )

    return run(stream.writeStream.foreachBatch(merge_batch), query_name, checkpoint)


def counter_merge_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    keys: list[str],
    count_col: str = "n_raw",
) -> bool:
    """One additive merge step (the ``streaming_counter_merge_sink``
    callback body, module-level so the idempotency contract is directly
    unit-testable). Returns True if the batch was applied, False if the
    ledger showed it already committed (redelivery no-op)."""
    import json

    from pyspark.sql import functions as F

    recover_dir(table_path)
    ledger = os.path.join(table_path, "_last_batch.json")
    applied: list[int] = []
    if os.path.exists(ledger):
        with open(ledger) as fh:
            applied = json.load(fh)["applied"]
        if applied and batch_id <= applied[-1]:
            return False  # at-least-once redelivery of a committed batch
    delta = batch_df.groupBy(*keys).agg(
        F.count("*").cast("long").alias(count_col)
    )
    if os.path.exists(table_path):
        old = spark.read.parquet(table_path)
        merged = (
            old.join(
                delta.select(
                    *[F.col(k).alias(f"_d_{k}") for k in keys],
                    F.col(count_col).alias("_d_n"),
                ),
                [F.col(k).eqNullSafe(F.col(f"_d_{k}")) for k in keys],
                "full",
            )
            .select(
                *[
                    F.coalesce(F.col(k), F.col(f"_d_{k}")).alias(k)
                    for k in keys
                ],
                (
                    F.coalesce(F.col(count_col), F.lit(0))
                    + F.coalesce(F.col("_d_n"), F.lit(0))
                ).alias(count_col),
            )
        )
    else:
        merged = delta
    tmp = f"{table_path}__m{batch_id}_{uuid.uuid4().hex[:6]}"
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_last_batch.json"), "w") as fh:
        json.dump({"applied": applied + [batch_id]}, fh)
    atomic_replace_dir(tmp, table_path)
    return True

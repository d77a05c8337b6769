"""applyInPandasWithState: custom stateful operator driven end-to-end
through a real streaming query (memory sink), state carried across
triggers."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from data_integration_spark.sources.catalog import load_table
from data_integration_spark.streaming.stateful import running_user_stats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def scratch(tmp_path_factory):
    return str(tmp_path_factory.mktemp("test_stateful"))


def test_running_stats_stateful(spark, scratch):
    ev = (
        load_table(spark, SF, "events")
        .select("user_id", "ts", "value")
        .filter(F.col("user_id") < 40)
    )
    shutil.rmtree(scratch, ignore_errors=True)
    src = f"{scratch}/src"
    # two single-file batches → state must carry across the two triggers
    first = ev.filter(F.col("ts") < F.lit("2024-01-15"))
    second = ev.filter(F.col("ts") >= F.lit("2024-01-15"))
    first.coalesce(1).write.mode("overwrite").parquet(src)
    second.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # ProcessingTimeTimeout keeps the query alive to fire timers, so it may
    # not self-terminate: poll the sink for completeness, then stop.
    import time

    expected_users = ev.select("user_id").distinct().count()
    deadline = time.time() + 240
    while time.time() < deadline:
        done = (
            spark.sql("SELECT COUNT(DISTINCT user_id) c FROM running_stats")
            .collect()[0]
            .c
            == expected_users
        )
        if done and not q.status["isDataAvailable"]:
            break
        time.sleep(2)
    q.stop()

    # last update per user must equal the batch aggregate
    got = {
        r.user_id: (r.n, round(r.total, 6))
        for r in spark.sql(
            """
            SELECT user_id, n, total FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC) rk
              FROM running_stats
            ) WHERE rk = 1
            """
        ).collect()
    }
    want = {
        r.user_id: (r.n, round(r.total, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want


def test_transform_with_state_requires_protobuf(spark):
    """transformWithStateInPandas (Spark 4 arbitrary-state API) needs
    protobuf; the q_transform_with_state registration is gated on it.
    Where the dep exists, the query must satisfy the batch-equivalence
    oracle like every other streaming entry."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        from data_integration_spark.queries import QUERIES, load_all

        load_all()
        assert "q_transform_with_state" not in QUERIES
        pytest.skip("protobuf absent: transformWithState gated off")
    from data_integration_spark.queries import QUERIES, load_all

    load_all()
    out = QUERIES["q_transform_with_state"](spark, SF).collect()
    assert len(out) > 0

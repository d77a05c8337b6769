"""Error-injection robustness: corrupt files, malformed records, null keys.

The 100 TB reality: some fraction of a petabyte-scale ingest is always
damaged. These tests pin the engine's containment behavior — bad inputs are
quarantined or skipped by POLICY (explicit reader options), never by
silently wrong results.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def scratch(tmp_path_factory):
    return str(tmp_path_factory.mktemp("errinj"))


def _fresh(scratch: str, name: str) -> str:
    p = f"{scratch}/{name}"
    shutil.rmtree(p, ignore_errors=True)
    return p


def test_malformed_csv_permissive_quarantine(spark, scratch):
    """PERMISSIVE + columnNameOfCorruptRecord: damaged rows land in a
    quarantine column instead of poisoning the load."""
    p = _fresh(scratch, "csv")
    os.makedirs(p)
    with open(f"{p}/part.csv", "w") as f:
        f.write("a,b\n1,2\n3,4\nnot_an_int,5\n6,7\n")
    df = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema("a int, b int, _corrupt string")
        .csv(p)
    ).cache()
    good = df.filter(F.col("_corrupt").isNull())
    bad = df.filter(F.col("_corrupt").isNotNull())
    assert good.count() == 3
    assert bad.count() == 1
    assert "not_an_int" in bad.collect()[0]["_corrupt"]


def test_malformed_csv_dropmalformed(spark, scratch):
    p = _fresh(scratch, "csv_drop")
    os.makedirs(p)
    with open(f"{p}/part.csv", "w") as f:
        f.write("a,b\n1,2\nbroken_row_only_one_field\n3,4\n")
    df = (
        spark.read.option("header", "true")
        .option("mode", "DROPMALFORMED")
        .schema("a int, b int")
        .csv(p)
    )
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, 2), (3, 4)]


def test_malformed_jsonl_permissive(spark, scratch):
    p = _fresh(scratch, "jsonl")
    os.makedirs(p)
    with open(f"{p}/part.json", "w") as f:
        f.write('{"k": 1}\nTHIS IS NOT JSON\n{"k": 3}\n')
    df = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema("k int, _corrupt string")
        .json(p)
    )
    rows = df.collect()
    assert sorted(r.k for r in rows if r.k is not None) == [1, 3]
    assert sum(1 for r in rows if r._corrupt is not None) == 1


def test_corrupt_parquet_file_skipped_by_policy(spark, scratch):
    """A garbage file inside a parquet directory: default read FAILS
    (loud), ignoreCorruptFiles=true reads the healthy files (explicit
    policy) — both behaviors pinned."""
    p = _fresh(scratch, "pq")
    spark.createDataFrame([Row(x=i) for i in range(10)]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    with open(f"{p}/part-zz-garbage.parquet", "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer")
    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.parquet(p).count()
    ok = spark.read.option("ignoreCorruptFiles", "true").parquet(p)
    assert ok.count() == 10


def test_null_join_keys_never_match(spark):
    """SQL NULL semantics in every join flavor the engine exposes: NULL
    keys match nothing (inner/left), and anti-join keeps NULL-key rows."""
    left = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=None, v="b"), Row(k=2, v="c")]
    )
    right = spark.createDataFrame([Row(k=1, w="x"), Row(k=None, w="y")])
    assert left.join(right, "k").count() == 1
    lj = left.join(right, "k", "left").collect()
    assert {r.v: r.w for r in lj} == {"a": "x", "b": None, "c": None}
    anti = left.join(right, "k", "left_anti")
    assert sorted(r.v for r in anti.collect()) == ["b", "c"]


def test_null_group_keys_aggregate_into_null_group(spark):
    from data_integration_spark.functions.stats import weighted_mean_by_group

    df = spark.createDataFrame(
        [Row(g="a", y=1.0, w=1.0), Row(g=None, y=5.0, w=2.0),
         Row(g=None, y=7.0, w=2.0)]
    )
    out = {r.g: r.wmean for r in weighted_mean_by_group(df, "g", "y", "w").collect()}
    assert out["a"] == 1.0
    assert abs(out[None] - 6.0) < 1e-12  # NULL keys form ONE group (SQL)


def test_empty_directory_scan(spark, tmp_path):
    """Zero-file scan with an explicit schema: empty frame, not an error —
    the empty-partition shape a date-partitioned lake hits daily."""
    p = str(tmp_path / "empty")
    os.makedirs(p)
    df = spark.read.schema("a int, b string").parquet(p)
    assert df.count() == 0
    assert df.groupBy("b").agg(F.sum("a")).count() == 0

"""Unit tests for the expression library on tiny hand-computed frames
(SURVEY.md §5.2.3)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_integration_spark.functions.math import expit, linear_predictor, logit
from data_integration_spark.functions.rng import (
    bernoulli,
    driver_normal,
    driver_uniform,
    driver_xxhash64,
    hash_uniform,
    replicate_normals,
    replicate_numbers,
    seeded_normal,
)
from data_integration_spark.functions.stats import (
    error_measures,
    mspe_by_group,
    survey_mean_se,
    weighted_mean_by_group,
)


def test_logit_expit_roundtrip(spark):
    df = spark.createDataFrame([Row(p=0.1), Row(p=0.5), Row(p=0.9)])
    out = df.select(expit(logit("p")).alias("rt")).collect()
    for r, p in zip(out, [0.1, 0.5, 0.9]):
        assert abs(r.rt - p) < 1e-12


def test_logit_matches_qlogis(spark):
    # qlogis(0.25) = log(1/3)
    df = spark.createDataFrame([Row(p=0.25)])
    val = df.select(logit("p").alias("v")).collect()[0].v
    assert abs(val - math.log(0.25 / 0.75)) < 1e-15


def test_expit_stable_for_large_negative(spark):
    # reference form exp(x)/(1+exp(x)) overflows for x=800; ours must not
    df = spark.createDataFrame([Row(x=-800.0), Row(x=800.0)])
    out = {r.x: r.v for r in df.select("x", expit("x").alias("v")).collect()}
    assert out[-800.0] == 0.0
    assert out[800.0] == 1.0


def test_linear_predictor(spark):
    df = spark.createDataFrame([Row(x1=1.0, x2=2.0)])
    val = (
        df.select(
            linear_predictor(0.5, [("x1", 2.0), ("x2", -1.0)]).alias("v")
        ).collect()[0].v
    )
    assert abs(val - (0.5 + 2.0 - 2.0)) < 1e-15


def test_weighted_mean_by_group(spark):
    # group a: (y=1,w=1),(y=3,w=3) -> (1+9)/4 = 2.5 ; scale 100 -> 250
    df = spark.createDataFrame(
        [Row(g="a", y=1.0, w=1.0), Row(g="a", y=3.0, w=3.0), Row(g="b", y=2.0, w=5.0)]
    )
    out = {
        r.g: r.wm
        for r in weighted_mean_by_group(df, "g", "y", "w", "wm", scale=100.0).collect()
    }
    assert abs(out["a"] - 250.0) < 1e-12
    assert abs(out["b"] - 200.0) < 1e-12


def test_survey_mean_se_hand_computed(spark):
    # y=[1,2], w=[1,1]: mean=1.5 ;
    # SE = sqrt(n/(n-1) * ((1*(1-1.5))^2 + (1*(2-1.5))^2))/2 (svymean's
    # finite-sample factor, n=2)
    df = spark.createDataFrame([Row(g="a", y=1.0, w=1.0), Row(g="a", y=2.0, w=1.0)])
    r = survey_mean_se(df, "g", "y", "w").collect()[0]
    assert abs(r["mean"] - 1.5) < 1e-12
    assert abs(r["se"] - math.sqrt(2.0 * (0.25 + 0.25)) / 2) < 1e-12


def test_survey_mean_se_awkward_column_names(spark):
    """The two-pass rework's internal working columns must not collide
    with caller columns: a group key literally named '_mean' (or
    '_y'/'_w'/'_mk_0') has to keep working — the helper picks fresh
    internal names around whatever the caller brought."""
    rows = [
        Row(**{"_mean": "a", "_y": 1.0, "_w": 1.0}),
        Row(**{"_mean": "a", "_y": 2.0, "_w": 1.0}),
        Row(**{"_mean": "b", "_y": 5.0, "_w": 2.0}),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r["_mean"]: (r["mean"], r["se"])
        for r in survey_mean_se(df, "_mean", "_y", "_w").collect()
    }
    assert abs(out["a"][0] - 1.5) < 1e-12
    assert abs(out["a"][1] - math.sqrt(2.0 * 0.5) / 2) < 1e-12
    assert out["b"] == (5.0, 0.0)
    # group key named like an internal mk slot
    df2 = df.withColumnRenamed("_mean", "_mk_0")
    r2 = {
        r["_mk_0"]: r["mean"]
        for r in survey_mean_se(df2, "_mk_0", "_y", "_w").collect()
    }
    assert r2 == {"a": 1.5, "b": 5.0}
    # Spark resolves names case-INsensitively by default, so a group
    # column differing from an internal name only in case ("_Y" vs the
    # helper's "_y") collides too — fresh() must compare lowercased
    rows3 = [
        Row(**{"_Y": "a", "yy": 1.0, "_w": 1.0}),
        Row(**{"_Y": "a", "yy": 2.0, "_w": 1.0}),
        Row(**{"_Y": "b", "yy": 5.0, "_w": 2.0}),
    ]
    df3 = spark.createDataFrame(rows3)
    r3 = {
        r["_Y"]: r["mean"]
        for r in survey_mean_se(df3, "_Y", "yy", "_w").collect()
    }
    assert r3 == {"a": 1.5, "b": 5.0}


def test_error_measures_hand_computed(spark):
    df = spark.createDataFrame([Row(e=1.0, a=0.0), Row(e=3.0, a=1.0)])
    r = error_measures(df, "e", "a").collect()[0]
    assert abs(r.asd - (1 + 4) / 2) < 1e-12
    assert abs(r.rasd - math.sqrt(2.5)) < 1e-12
    assert abs(r.aad - 1.5) < 1e-12


def test_error_measures_skips_nulls(spark):
    df = spark.createDataFrame(
        [Row(e=1.0, a=0.0), Row(e=None, a=5.0), Row(e=2.0, a=None)]
    )
    r = error_measures(df, "e", "a").collect()[0]
    assert abs(r.asd - 1.0) < 1e-12  # only the (1,0) pair counts


def test_mspe_by_group(spark):
    df = spark.createDataFrame(
        [Row(g="a", est=1.0, t=0.0), Row(g="a", est=3.0, t=0.0)]
    )
    r = mspe_by_group(df, "g", "est", "t").collect()[0]
    assert abs(r.sqrt_mspe - math.sqrt((1 + 9) / 2)) < 1e-12


def test_hash_uniform_deterministic_and_partition_invariant(spark):
    df = spark.createDataFrame([Row(k=i) for i in range(1000)])
    a = sorted(
        r.u for r in df.repartition(2).select(hash_uniform("k", salt=1).alias("u")).collect()
    )
    b = sorted(
        r.u for r in df.repartition(7).select(hash_uniform("k", salt=1).alias("u")).collect()
    )
    assert a == b  # bit-identical across partitionings
    assert all(0.0 < u < 1.0 for u in a)
    # roughly uniform
    assert abs(sum(a) / len(a) - 0.5) < 0.05


def test_seeded_normal_varies_by_key_and_salt(spark):
    """The reference's seed bug (Rmd:569-571) made all states draw identical
    noise; our per-key seeding must NOT (SURVEY.md §5.3)."""
    df = spark.createDataFrame([Row(state=s, r=r) for s in "ab" for r in (1, 2)])
    vals = {
        (row.state, row.r): row.v
        for row in df.select(
            "state", "r", seeded_normal("state", "r", salt=3).alias("v")
        ).collect()
    }
    assert len(set(vals.values())) == 4  # all distinct draws


def test_seeded_normal_moments(spark):
    df = spark.createDataFrame([Row(k=i) for i in range(20000)])
    stats = df.select(
        seeded_normal("k", mean=2.0, sd=3.0, salt=9).alias("v")
    ).agg(F.avg("v"), F.stddev("v")).collect()[0]
    assert abs(stats[0] - 2.0) < 0.1
    assert abs(stats[1] - 3.0) < 0.1


#: string keys for the driver twin: empty, non-ASCII, null, and around the
#: 32-byte stripe of xxhash64's long-input path (é is 2 bytes, 中 3, 🙂 4)
_HASH_STRINGS = [
    "", "S00", "é", "中文", "🙂x", "a" * 31, "b" * 32, "c" * 33, "é" * 16,
    "中" * 11, "d" * 64, "e" * 71, "🙂" * 9, "mixé中🙂 key", None,
]
_HASH_INTS = [1, 2, 7, 1000, 0, -1, -(2**31), 2**31 - 1]
_HASH_SALTS = [-5, 0, 1, 85, 100000, 2**31, -(2**40)]  # the last two are long


def test_driver_draws_equal_spark_draws(spark):
    """The driver's xxhash64 and uniforms equal Spark's ``xxhash64`` and
    ``hash_uniform`` bit for bit on (string, int, salt) keys, int and long
    salts included; its normals agree with ``seeded_normal`` to 4e-15
    (the JVM's log and cos are not the C library's), also as the (r, area)
    matrix of ``replicate_normals`` against ``replicate_numbers``."""
    import numpy as np

    rows = [(s, r) for s in _HASH_STRINGS for r in _HASH_INTS]
    df = spark.createDataFrame(rows, "s string, r int")
    cols = []
    for i, salt in enumerate(_HASH_SALTS):
        cols += [
            F.xxhash64("s", "r", F.lit(salt)).alias(f"h{i}"),
            hash_uniform("s", "r", salt=salt).alias(f"u{i}"),
            seeded_normal("s", "r", salt=salt).alias(f"z{i}"),
        ]
    got = df.select("s", "r", *cols).toPandas()
    keys = (got["s"].to_numpy(object), got["r"].to_numpy(np.int32))
    for i, salt in enumerate(_HASH_SALTS):
        h = driver_xxhash64(*keys, salt).astype(np.int64)
        np.testing.assert_array_equal(h, got[f"h{i}"].to_numpy())
        np.testing.assert_array_equal(
            driver_uniform(*keys, salt=salt), got[f"u{i}"].to_numpy()
        )
        z = driver_normal(*keys, salt=salt)
        np.testing.assert_allclose(z, got[f"z{i}"].to_numpy(), rtol=0, atol=4e-15)

    states = ["S00", "S01", "中"]
    spark_draws = (
        spark.createDataFrame([(s,) for s in states], "state string")
        .select("state", replicate_numbers(5, "n").alias("r"))
        .select("state", "r", seeded_normal("state", "r", salt=42).alias("z"))
        .toPandas()
    )
    want = np.zeros((5, len(states)))
    col = spark_draws["state"].map(states.index)
    want[spark_draws["r"] - 1, col] = spark_draws["z"]
    got_m = replicate_normals(states, 5, 42, "n")
    np.testing.assert_allclose(got_m, want, rtol=0, atol=4e-15)


def test_bernoulli_rate(spark):
    df = spark.createDataFrame([Row(k=i) for i in range(20000)])
    rate = (
        df.select(bernoulli(F.lit(0.3), "k", salt=5).alias("y"))
        .agg(F.avg("y"))
        .collect()[0][0]
    )
    assert abs(rate - 0.3) < 0.02


def test_approx_quantile_within_tolerance(spark):
    """percentile_approx at accuracy=10000 lands within 1% relative of the
    exact percentile on 50k skewed values."""
    from pyspark.sql import functions as F

    df = spark.range(50_000).select(
        (F.col("id") * F.col("id") % 9973).cast("double").alias("v")
    )
    approx = df.agg(
        F.percentile_approx("v", 0.5, accuracy=10_000).alias("m")
    ).collect()[0]["m"]
    exact = df.agg(F.expr("percentile(v, 0.5)").alias("m")).collect()[0]["m"]
    assert abs(approx - exact) <= 0.01 * max(1.0, abs(exact))


def test_freq_items_finds_planted_heavy_hitter(spark):
    from pyspark.sql import functions as F

    df = spark.range(10_000).select(
        F.when(F.col("id") % 3 != 0, F.lit("dominant"))
        .otherwise(F.concat(F.lit("rare_"), F.col("id").cast("string")))
        .alias("k")
    )
    hits = df.freqItems(["k"], support=0.5).collect()[0]["k_freqItems"]
    assert "dominant" in hits

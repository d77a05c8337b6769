"""The vectorized ANN scorers claim bit-identical results to the
pure-expression paths (same double math, same rounding, same tie-break).
These tests pin that claim — including the r4 batch-local partial top-k
(lossless cut) — on clustered random data with deliberate duplicate
vectors so cosine TIES exercise the (−cosine, mid) tie-break across batch
boundaries.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_integration_spark.similarity.ann import (
    as_double_array,
    cosine_pairs,
    cosine_pairs_vectorized,
    cosine_topk,
    cosine_topk_vectorized,
)


def _corpus_pd(n=400, d=16, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(5, d))
    vecs = centers[np.arange(n) % 5] + 0.05 * rng.normal(size=(n, d))
    # duplicate vectors → exact cosine ties that must break on mid
    vecs[50] = vecs[10]
    vecs[51] = vecs[10]
    if n > 200:
        vecs[200] = vecs[120]
    return pd.DataFrame({"vec_id": range(n), "e": [list(map(float, v)) for v in vecs]})


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = _corpus_pd()
    df = spark.createDataFrame(pdf).select(
        "vec_id", as_double_array("e", "e")
    )
    # multiple partitions → the partial top-k cut happens per batch and the
    # engine-side window must merge across batches
    return df.repartition(7).cache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_topk_vectorized_matches_expression_path(spark, corpus):
    q_pd = _corpus_pd().iloc[:15]
    expr = cosine_topk(
        corpus.filter(F.col("vec_id") < 15), corpus, k=5, max_queries=None
    )
    vec = cosine_topk_vectorized(q_pd, corpus, k=5)
    assert _rows(expr) == _rows(vec)


def test_pairs_vectorized_matches_expression_path(spark, corpus):
    q_pd = _corpus_pd().iloc[:15]
    expr = cosine_pairs(
        corpus.filter(F.col("vec_id") < 15), corpus, threshold=0.25
    )
    vec = cosine_pairs_vectorized(q_pd, corpus, threshold=0.25)
    assert _rows(expr) == _rows(vec)


def test_round_half_up_matches_spark_at_half_boundaries(spark):
    """ADVICE r4: np.round (half-to-even) vs Spark F.round (HALF_UP over the
    shortest decimal repr) diverge exactly at 6th-decimal halves. The numpy
    helper must match Spark element-for-element on a boundary grid."""
    from data_integration_spark.similarity.kernel import _np_round_half_up

    vals = [
        0.1234565,    # np.round → …456 (even), Spark → …457
        0.1234575,    # np.round → …458, Spark → …458 (agree)
        -0.1234565,   # HALF_UP is away-from-zero: → -0.123457
        0.9999995,
        -0.9999995,
        0.5e-6,
        -0.5e-6,
        0.25,         # off-boundary: all modes agree
        0.123456489,
        1.0,
        -1.0,
        0.0,
    ]
    got = _np_round_half_up(np.array(vals), 6)
    spark_side = spark.createDataFrame(
        [(v,) for v in vals], "x double"
    ).select(F.round("x", 6).alias("r")).collect()
    expected = [r.r for r in spark_side]
    assert list(got) == expected


def test_round_half_up_matches_spark_on_bulk_random_and_boundaries(spark):
    """Bulk agreement: 4k random doubles in [-1, 1] (cosine range) plus
    every constructed 6th/7th-decimal half-boundary — the numpy helper and
    Spark F.round must agree element-for-element in one pass."""
    from data_integration_spark.similarity.kernel import _np_round_half_up

    rng = np.random.default_rng(17)
    vals = list(rng.uniform(-1, 1, 4000))
    # constructed boundaries: k.5 at the 7th decimal, both signs
    vals += [round(k * 1e-6 + 5e-7, 10) for k in range(-50, 50)]
    vals += [v + 5e-7 for v in (0.1, 0.25, 0.999999, -0.123456)]
    arr = np.array(vals, dtype=float)
    got = _np_round_half_up(arr, 6)
    spark_side = spark.createDataFrame(
        [(float(v),) for v in vals], "x double"
    ).select(F.round("x", 6).alias("r")).collect()
    expected = np.array([r.r for r in spark_side])
    mismatch = np.nonzero(got != expected)[0]
    assert mismatch.size == 0, [
        (vals[i], got[i], expected[i]) for i in mismatch[:5]
    ]


def test_round_half_up_passes_nan_inf_through():
    from data_integration_spark.similarity.kernel import _np_round_half_up

    out = _np_round_half_up(np.array([np.nan, np.inf, -np.inf, 0.1234565]), 6)
    assert np.isnan(out[0]) and out[1] == np.inf and out[2] == -np.inf
    assert out[3] == 0.123457


def test_vectorized_scorers_reject_zero_norm_vectors(spark, corpus):
    """ADVICE r4: zero-norm vectors must fail loudly (NaN cosine ordering
    differs between NumPy and Spark SQL — silent divergence otherwise)."""
    import pyspark.errors

    bad_q = pd.DataFrame({"vec_id": [0, 1], "e": [[1.0] * 16, [0.0] * 16]})
    with pytest.raises(ValueError, match="zero-norm"):
        cosine_topk_vectorized(bad_q, corpus, k=3)
    with pytest.raises(ValueError, match="zero-norm"):
        cosine_pairs_vectorized(bad_q, corpus, threshold=0.25)

    ok_q = bad_q.iloc[:1]
    bad_corpus = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [10, 11], "e": [[1.0] * 16, [0.0] * 16]}
        )
    ).select("vec_id", as_double_array("e", "e"))
    # corpus-side zero norm is detected inside the Arrow batch → task failure
    with pytest.raises(Exception, match="zero-norm"):
        cosine_topk_vectorized(ok_q, bad_corpus, k=3).collect()


def test_topk_partial_cut_is_lossless_with_tiny_batches(spark):
    """Force many tiny Arrow batches so the per-batch cut is exercised hard:
    every batch holds fewer rows than k, and the duplicate-vector ties span
    batches."""
    pdf = _corpus_pd(n=60)
    df = (
        spark.createDataFrame(pdf)
        .select("vec_id", as_double_array("e", "e"))
        .repartition(20)
    )
    q_pd = pdf.iloc[:8]
    expr = cosine_topk(
        df.filter(F.col("vec_id") < 8), df, k=5, max_queries=None
    )
    vec = cosine_topk_vectorized(q_pd, df, k=5)
    assert _rows(expr) == _rows(vec)


def test_pairs_eval_order_raw_dot_matches_normalized(spark, corpus):
    """ADVICE r13: eval_order="raw_dot" (the SQL oracles' dot-then-ONE-divide
    order) and the historical normalize-then-GEMM order agree to ~1 ulp, so
    on a fixture with no 6th-decimal .5 ties the emitted pair sets are
    identical — and raw_dot is what full-oracle callers that hash cosine
    VALUES near the threshold (q_crossmodal_dedup) ride."""
    q_pd = _corpus_pd().iloc[:15]
    norm = cosine_pairs_vectorized(
        q_pd, corpus, threshold=0.25, eval_order="normalized"
    )
    raw = cosine_pairs_vectorized(
        q_pd, corpus, threshold=0.25, eval_order="raw_dot"
    )
    assert _rows(norm) == _rows(raw)


def test_pairs_eval_order_validated(spark, corpus):
    import pytest as _pytest

    q_pd = _corpus_pd().iloc[:3]
    with _pytest.raises(ValueError, match="eval_order"):
        cosine_pairs_vectorized(q_pd, corpus, eval_order="fused")

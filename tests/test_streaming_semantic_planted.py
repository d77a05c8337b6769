"""The streaming semantic-dedup certificates.

1. NON-VACUOUS recovery: the planted near-dups (exact copies across the
   parity replay files — ``_SEM_PLANT_MAP``) are recovered as a
   non-empty pair set, so the foreachBatch cosine expression, the
   symmetric OR-candidate rule, and the pair-emission path are attested
   on real rows (the natural corpus's row is 0 = 0).
2. ORDER INDEPENDENCE: the same pair set comes back under BOTH
   file-replay orders (even-file-first and odd-file-first) — the
   symmetry claim the loop's docstring argues.
3. GATE EQUIVALENCE: the candidate-count-gated scorer emits identical
   rounded cosines on both sides of the gate — ``gemm_gate=0`` forces
   every batch through the vectorized pair-frame kernel
   (``cosine_score_pair_frame``), a huge gate forces the per-row
   expression, on a fixture whose batches straddle any realistic gate.
"""

from __future__ import annotations

import pytest

from data_integration_spark.queries.streaming_queries import (
    _planted_embeddings,
    _sem_stream_pairs,
)

SF = "/root/testdata/sf0.001"

_EXPECTED_PLANTED = {
    (0, 1, 1.0),
    (0, 60, 1.0),
    (1, 60, 1.0),
    (2, 3, 1.0),
    (2, 61, 1.0),
    (3, 61, 1.0),
}


def _pairs(spark, tag: str, **kw) -> set[tuple]:
    df = _sem_stream_pairs(spark, _planted_embeddings(spark, SF), f"sem_test_{tag}", **kw)
    return {(r["d1"], r["d2"], r["cosine"]) for r in df.collect()}


@pytest.fixture(scope="module")
def even_first(spark) -> set[tuple]:
    return _pairs(spark, "even")


def test_planted_pairs_recovered_nonvacuously(even_first):
    assert _EXPECTED_PLANTED <= even_first
    assert len(even_first) >= 6


def test_order_independence(spark, even_first):
    odd_first = _pairs(spark, "odd", odd_first=True)
    assert odd_first == even_first


def test_gate_equivalence(spark, even_first):
    """Both physical scorers emit the SAME rounded pair set: gate 0
    forces the vectorized kernel for every batch, the default/huge gate
    keeps every batch on the expression path (even_first fixture)."""
    gemm = _pairs(spark, "gemm", gemm_gate=0)
    assert gemm == even_first

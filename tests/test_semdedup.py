"""Laws for the SemDeDup cluster-then-dedup mapping
(similarity/semdedup.py, staged q_semdedup):

1. NumPy from-scratch reference match — assignment, centroid cosine,
   and the keep rule reproduced independently of the kernel's chunking;
2. non-vacuity at the driver SFs: every planted exact copy forms a
   relation and exactly one member of each planted pair is dropped
   (the original, vec_id tie-break) — AND natural same-cell pairs at
   τ = 0.4 drop at least one non-planted vector (the op isn't
   planted-only);
3. partition/chunk invariance: the decision is a pure function of the
   corpus multiset (tiny chunk_bytes forces many GEMM chunks);
4. the per-cell guard fails loudly on an over-coarse clustering.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_integration_spark.queries import QUERIES, load_all
from data_integration_spark.queries.similarity_queries import (
    pinned_centroid_grid,
)
from data_integration_spark.similarity.ann import as_double_array
from data_integration_spark.similarity.kernel import _np_round_half_up
from data_integration_spark.similarity.semdedup import semdedup_decisions

load_all()
SF = "/root/testdata/sf0.01"
TAU = 0.40


def _corpus_np():
    import duckdb

    pdf = duckdb.sql(
        f"""
        SELECT vec_id, embedding FROM '{SF}/embeddings.parquet'
        UNION ALL
        SELECT vec_id + 1000000, embedding
        FROM '{SF}/embeddings.parquet' WHERE vec_id % 23 = 5
        """
    ).df()
    ids = pdf["vec_id"].to_numpy().astype(np.int64)
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return ids, X


def _reference(ids, X):
    C = np.array(pinned_centroid_grid())
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    cell = d2.argmin(1)
    nrm = np.linalg.norm(X, axis=1)
    cn = np.linalg.norm(C, axis=1)
    cc = _np_round_half_up(
        (X * C[cell]).sum(1) / (nrm * cn[cell]), 6
    )
    keep = np.ones(len(ids), dtype=np.int64)
    for c in set(cell.tolist()):
        idx = np.where(cell == c)[0]
        cos = _np_round_half_up(
            (X[idx] @ X[idx].T) / (nrm[idx][:, None] * nrm[idx][None, :]), 6
        )
        for a in range(len(idx)):
            for b in range(len(idx)):
                if a == b or cos[a, b] < TAU:
                    continue
                ka = (cc[idx[a]], ids[idx[a]])
                kb = (cc[idx[b]], ids[idx[b]])
                if ka < kb:
                    keep[idx[b]] = 0
    return cell, cc, keep


def test_matches_numpy_reference(spark):
    fn = QUERIES["q_semdedup"]  # live since the r15 flip
    got = {
        r["vec_id"]: (r["cell"], r["cent_cos"], r["keep"])
        for r in fn(spark, SF).collect()
    }
    ids, X = _corpus_np()
    cell, cc, keep = _reference(ids, X)
    assert set(got) == set(ids.tolist())
    for i, vid in enumerate(ids.tolist()):
        assert got[vid] == (cell[i], cc[i], keep[i]), vid


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_non_vacuous_planted_and_natural(spark, sf):
    fn = QUERIES["q_semdedup"]  # live since the r15 flip
    rows = fn(spark, sf).collect()
    by_id = {r["vec_id"]: r for r in rows}
    planted = [v for v in by_id if v >= 1_000_000]
    assert planted, "no planted copies at this SF"
    for p in planted:
        orig = p - 1_000_000
        # exact copies: same cell, same cent_cos, and the pair resolves
        # one kept / one dropped with the ORIGINAL (smaller id) kept
        assert by_id[p]["cell"] == by_id[orig]["cell"]
        assert by_id[p]["cent_cos"] == by_id[orig]["cent_cos"]
        assert (by_id[orig]["keep"], by_id[p]["keep"]) == (1, 0), p
    natural_dropped = [
        v for v, r in by_id.items() if r["keep"] == 0 and v < 1_000_000
    ]
    assert natural_dropped, "tau=0.4 caught no natural pairs"


def test_chunk_and_partition_invariance(spark):
    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", as_double_array("embedding", "e"))
        .filter(F.col("vec_id") < 300)
    )
    a = sorted(
        map(
            tuple,
            semdedup_decisions(
                emb, pinned_centroid_grid(), TAU
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            semdedup_decisions(
                emb.repartition(13),
                pinned_centroid_grid(),
                TAU,
                chunk_bytes=8 * 300,  # ~1-row GEMM chunks
            ).collect(),
        )
    )
    assert a == b and a


def test_max_cell_guard_fails_loudly(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", as_double_array("embedding", "e")
    )
    with pytest.raises(Exception, match="too coarse"):
        semdedup_decisions(
            emb, pinned_centroid_grid(), TAU, max_cell=10
        ).collect()


def test_zero_norm_rejected(spark):
    bad = spark.createDataFrame(
        [(1, [0.0] * 64), (2, [1.0] + [0.0] * 63)],
        "vec_id long, e array<double>",
    )
    with pytest.raises(Exception, match="zero-norm"):
        semdedup_decisions(bad, pinned_centroid_grid(), TAU).collect()

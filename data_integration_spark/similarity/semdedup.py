"""SemDeDup-style cluster-then-dedup corpus mapping (Abbas et al. 2023,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication"): k-means-cluster the embedding corpus, then deduplicate
WITHIN each cluster only — every pair of same-cluster vectors with
cosine ≥ τ forms a duplicate relation, and each relation keeps the
member with the LOWEST cosine similarity to its centroid (the paper's
keep-farthest rule: extreme points preserve diversity; the near-centroid
copy is the redundant one). Clustering bounds the pair space the way
LSH bands bound MinHash: no cross-cluster pair is ever scored.

Exactness design (full-oracle contract, the pinned-centroid IVF
discipline of similarity_queries.py):

- centroids are the PINNED integer-grid formula both engines restate
  bit-identically (a release deployment loads trained k-means centroids
  here, K ≈ √N; the pinned 8-cell grid keeps the oracle
  engine-independent);
- cell assignment is squared-Euclidean argmin with (distance, cell)
  tie-break — decision margins on this grid/testdata are pinned ≥ 1e-5
  (tests/test_index_persist.py), eight orders above reduction-order noise,
  and planted exact copies inherit their original's distances so they
  can never split cells;
- the pairwise cosine and the centroid cosine are rounded on the
  registry's 6-decimal grid, evaluated dot-then-ONE-divide (the SQL
  oracles' order); every DECISION (≥ τ, the keep rule's
  lexicographic (cent_cos, vec_id) compare) reads only grid-rounded
  values plus integer ids.

Scale shape (100 TB): pass 1 is a narrow mapInPandas — the centroid
matrix rides the closure and each Arrow batch takes ONE GEMM for all
distances + the assigned-cell cosine; no shuffle, output |corpus| rows.
Pass 2 is ONE shuffle on the cell id, then a per-cell applyInPandas
chunked GEMM that emits per-vector KEEP DECISIONS directly — the
quadratic pair space lives and dies inside BLAS, no pair row is ever
materialized into the engine. Per-cell size is guarded loudly
(``max_cell``): at production scale the operator runs over trained
K ≈ √N centroids so cells stay GEMM-sized, exactly the IVF family's
premise (similarity/ivf.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_spark.similarity.kernel import (
    Vectors,
    _np_round_half_up,
    cosine_blocks,
    threshold_pairs,
)

#: per-cell row guard: a cell past this is a misconfigured clustering
#: (K far too small for the corpus), not a bigger GEMM to grind through
DEFAULT_MAX_CELL = 200_000


def semdedup_decisions(
    vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "e",
    round_decimals: int = 6,
    max_cell: int = DEFAULT_MAX_CELL,
    chunk_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Per-vector SemDeDup decisions: ``(vec_id, cell, cent_cos, keep)``.

    ``keep = 0`` iff some same-cell vector u has round(cos(u, v)) ≥
    ``threshold`` and (cent_cos_u, id_u) < (cent_cos_v, id_v)
    lexicographically — within every duplicate relation the member with
    the SMALLEST rounded centroid cosine survives (= farthest from the
    centroid, the paper's diversity-preserving keep rule; vec_id breaks
    exact grid ties, so planted exact copies resolve deterministically).
    Zero-norm vectors are rejected loudly (cosine undefined — the
    library contract)."""
    C = np.ascontiguousarray(np.array(centroids, dtype=np.float64))
    c_norms = np.linalg.norm(C, axis=1)
    if (c_norms == 0.0).any():
        raise ValueError("semdedup: zero-norm centroid")
    import pandas as pd

    def assign_and_centcos(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.ascontiguousarray(
                np.stack(pdf["e"].to_numpy()), dtype=np.float64
            )
            x_norms = np.linalg.norm(X, axis=1)
            if (x_norms == 0.0).any():
                bad = pdf["vid"].to_numpy()[x_norms == 0.0][0]
                raise ValueError(
                    f"semdedup: zero-norm vector id={bad} — cosine dedup "
                    "is undefined; clean the corpus first"
                )
            # ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖² : one GEMM for all cells
            dots = X @ C.T  # (n, K)
            d2 = (
                (x_norms**2)[:, None] - 2.0 * dots + (c_norms**2)[None, :]
            )
            cell = d2.argmin(axis=1)  # first-min = lowest cell id
            cc = _np_round_half_up(
                dots[np.arange(len(X)), cell]
                / (x_norms * c_norms[cell]),
                round_decimals,
            )
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"],
                    "e": pdf["e"],
                    "cell": cell.astype("int32"),
                    "cent_cos": cc,
                }
            )

    v = vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("e"))
    assigned = v.mapInPandas(
        assign_and_centcos,
        "vid long, e array<double>, cell int, cent_cos double",
    )

    def decide_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        out_cols = ["vid", "cell", "cent_cos", "keep"]
        if not m:
            return pd.DataFrame(columns=out_cols)
        if m > max_cell:
            raise ValueError(
                f"semdedup: cell {int(pdf['cell'].iloc[0])} holds {m} > "
                f"{max_cell} vectors — the clustering is too coarse for "
                "this corpus; fit finer centroids (K ≈ √N, the IVF "
                "family's premise) or raise max_cell deliberately"
            )
        # sort by the keep rule's total order (cent_cos, id): a vector is
        # dropped iff ANY EARLIER vector in this order is ≥ τ similar
        order = np.lexsort(
            (pdf["vid"].to_numpy(), pdf["cent_cos"].to_numpy())
        )
        p = pdf.iloc[order]
        X = Vectors(p["e"].to_numpy(), "semdedup cell")
        pos = np.arange(m)
        dropped = np.zeros(m, dtype=bool)
        # oracle evaluation order: raw dot, ONE divide, then round
        for sl, cos in cosine_blocks(X, X, round_decimals, "raw_dot", chunk_bytes):
            ri, ci = threshold_pairs(cos, pos[sl], pos, threshold)
            # a hit drops its column iff its row sorts EARLIER
            dropped[ci[pos[sl][ri] < ci]] = True
        return pd.DataFrame(
            {
                "vid": p["vid"].to_numpy(),
                "cell": p["cell"].to_numpy(),
                "cent_cos": p["cent_cos"].to_numpy(),
                "keep": (~dropped).astype("int64"),
            }
        )

    return (
        assigned.groupBy("cell")
        .applyInPandas(
            decide_cell, "vid long, cell int, cent_cos double, keep long"
        )
        .select(
            F.col("vid").alias(id_col), "cell", "cent_cos", "keep"
        )
    )

"""Cross-modal near-duplicate retrieval: image features projected into
the text-embedding space by a pinned linear map, then scored against the
embedding corpus with the guarded cosine machinery (the CLIP-style
retrieval shape — Radford et al. 2021 — with the learned encoders
replaced by the repo's attested deterministic stand-ins: the REAL
decode→DCT pHash pipeline on the image side, a pinned integer projection
in place of the trained alignment head; the Spark-side plumbing —
feature extraction, GEMM projection, union with a planted caption side,
broadcast cosine join — is the production shape).

Exactness design (full-oracle contract):

- the image feature is the ±1 DCT-SIGN vector — bit k of the attested
  63-bit pHash (multimodal/binary_ops.py::_phash_bits recovers the
  planted coefficient signs EXACTLY; tests/test_multimodal_property.py)
  mapped to ±1, so the feature is integer-exact on both engines;
- the projection matrix W is a pinned INTEGER grid (entries in
  [-100, 100] from a modular formula both engines evaluate in 64-bit
  integer arithmetic), so the projected vector y = fᵀW is an exact
  int64 — immune to BLAS/reduction order by construction (|y_j| ≤
  63·100, squares sum < 2^53: even the norm numerators stay exact);
- only the final cosine touches float division/sqrt, rounded on the
  registry's 6-decimal grid like every other cosine in the registry.

Scale shape (100 TB): feature unpack + GEMM are one mapInPandas pass
over the image scan (no shuffle); the corpus side never shuffles (the
bounded query side is broadcast by ``cosine_pairs``, whose query-side
guard this path inherits); at retrieval scale the cosine stage swaps
for the IVF probe path (similarity/ivf.py) exactly like the
text-to-text semantic-dedup family.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: pinned projection grid (see pinned_projection): modular constants
_MULT = 2_654_435_761  # Knuth's multiplicative-hash constant (public)
_MOD1 = 1_000_003
_SPAN = 201  # -> entries in [-100, 100]

N_FEATURES = 63  # pHash AC-sign bits
N_OUT = 64  # text-embedding dimensionality of the testdata corpus


def pinned_projection(
    n_in: int = N_FEATURES, n_out: int = N_OUT
) -> np.ndarray:
    """The pinned integer alignment map W (n_in × n_out), entry
    W[k, j] = (((k·n_out + j + 1) · 2654435761) mod 1000003) mod 201
    − 100 — exact in int64 on every engine (max intermediate ≈ 1.1e13).
    A release deployment would load a TRAINED alignment head here; the
    pinned grid keeps the certificate engine-independent."""
    k = np.arange(n_in, dtype=np.int64)[:, None]
    j = np.arange(n_out, dtype=np.int64)[None, :]
    return (((k * n_out + j + 1) * _MULT) % _MOD1) % _SPAN - 100


def project_hashes(hashes: np.ndarray, W: np.ndarray) -> np.ndarray:
    """y = f·W for each packed pHash: bit k of the hash (k < W.shape[0])
    becomes the feature f_k = 2·bit − 1 ∈ {−1, +1}, and the product is one
    int64 GEMM. Returned as float64 rows, integer-valued and exact by
    range (see the module docstring), so every caller gets the same bits."""
    h = np.asarray(hashes, dtype=np.int64)
    bits = (h[:, None] >> np.arange(W.shape[0], dtype=np.int64)) & 1
    return ((2 * bits - 1) @ W).astype(np.float64)


def project_phash_features(
    sig: DataFrame,
    id_col: str = "item_id",
    hash_col: str = "phash",
    n_in: int = N_FEATURES,
    n_out: int = N_OUT,
) -> DataFrame:
    """(id, y array<double>): unpack the packed pHash into the ±1
    DCT-sign feature vector and project through the pinned map
    (``project_hashes``) — one int64 GEMM per Arrow batch inside
    mapInPandas, no shuffle."""
    W = pinned_projection(n_in, n_out)

    def proj(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            y = project_hashes(pdf[hash_col].to_numpy(dtype=np.int64), W)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "y": list(y)})

    return sig.select(id_col, hash_col).mapInPandas(
        proj, f"{id_col} long, y array<double>"
    )

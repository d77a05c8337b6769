"""Reproducible distributed randomness (SURVEY.md §2.8 R1-R4, §4.3.4).

Two tiers:

1. ``F.rand(seed)`` / ``F.randn(seed)`` — fast, partition-dependent: values
   change if partitioning changes. Fine for MC draws where only the
   distribution matters.
2. Hash-based deterministic RNG (``hash_uniform``/``seeded_normal``): maps
   ``xxhash64(key-cols, salt)`` to (0,1) uniforms, then Box-Muller for
   normals. Bit-stable across runs, partitionings, and cluster sizes —
   required for test reproducibility and for the per-(replicate, state)
   seeding that fixes the reference's seed bug (``Method_code.Rmd:569-571``
   sets the seed INSIDE the per-state function, so every state and every
   bootstrap replicate draws identical noise; SURVEY.md §5.3 documents our
   deliberate deviation).

All expressions are native Columns — no Python in the hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def hash_uniform(*key_cols: Column | str, salt: int = 0) -> Column:
    """Deterministic Uniform(0,1) from key columns: xxhash64 → 53-bit mantissa.

    Distinct (key, salt) → independent-looking uniform; same (key, salt) →
    same value on any cluster/partitioning.
    """
    h = F.xxhash64(*[_c(c) for c in key_cols], F.lit(salt))
    # map int64 to [0,1): shift to 53 usable mantissa bits
    u = (F.shiftrightunsigned(h, 11)).cast("double") / F.lit(float(1 << 53))
    # avoid exact 0 (log(0) in Box-Muller)
    return F.greatest(u, F.lit(1e-300))


def seeded_normal(
    *key_cols: Column | str, mean: Column | float = 0.0, sd: Column | float = 1.0,
    salt: int = 0,
) -> Column:
    """Deterministic N(mean, sd²) via Box-Muller over two hash uniforms
    (reference R1 ``rnorm``, ``Rmd:282-284,571`` — with per-key seeding)."""
    u1 = hash_uniform(*key_cols, salt=salt * 2 + 1)
    u2 = hash_uniform(*key_cols, salt=salt * 2 + 2)
    z = F.sqrt(-2.0 * F.log(u1)) * F.cos(F.lit(2.0 * math.pi) * u2)
    mean_c = F.lit(float(mean)) if isinstance(mean, (int, float)) else mean
    sd_c = F.lit(float(sd)) if isinstance(sd, (int, float)) else sd
    return mean_c + sd_c * z


def bernoulli(theta: Column | str, *key_cols: Column | str, salt: int = 0) -> Column:
    """Deterministic Bernoulli(theta) 0/1 indicator (reference R2
    ``rbinom(1,1,θ)`` per row, ``Rmd:576-579``)."""
    u = hash_uniform(*key_cols, salt=salt)
    return (u < _c(theta)).cast("int")


def replicate_numbers(n: int, name: str) -> Column:
    """``explode`` of the replicate numbers 1..n as ``int``: one row each.
    The type is part of every draw keyed by it, since xxhash64 hashes int
    and long keys differently. Raises ``ValueError`` naming ``name`` when
    n < 1, because ``sequence(1, 0)`` counts down to replicates 1 and 0."""
    if n < 1:
        raise ValueError(f"{name} must be >= 1, got {n}")
    return F.explode(F.sequence(F.lit(1), F.lit(int(n))))

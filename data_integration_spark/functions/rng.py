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

The Spark expressions are native Columns — no Python in the hot path.
Draws keyed by area and replicate alone (no survey row) are made on the
driver by their NumPy twins, ``driver_uniform``/``driver_normal``: the same
xxhash64 (Spark's ``XXH64`` ported for string and integer keys), salts,
53-bit uniform and floor, so hashes and uniforms equal Spark's bit for
bit. The normals may differ in the last bit or two (within 4e-15): the
JVM's ``LOG``/``COS`` are not the C library's, and no port of them is
attempted.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

#: The seed Spark's ``xxhash64`` function hashes with.
XXHASH_SEED = 42
#: hash → uniform: the top 53 bits of the hash over 2**53, floored away from
#: 0 so Box-Muller never takes log(0).
UNIFORM_SHIFT = 11
UNIFORM_SCALE = float(1 << 53)
UNIFORM_FLOOR = 1e-300


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _normal_salts(salt: int) -> tuple[int, int]:
    """The salts of Box-Muller's two uniforms for a normal of ``salt``."""
    return salt * 2 + 1, salt * 2 + 2


def _box_muller(u1, u2, xp):
    """Box-Muller's first normal of two uniforms; ``xp`` is ``F`` for
    Columns or ``np`` for arrays, so both tiers share one formula."""
    return xp.sqrt(-2.0 * xp.log(u1)) * xp.cos(2.0 * math.pi * u2)


def hash_uniform(*key_cols: Column | str, salt: int = 0) -> Column:
    """Deterministic Uniform(0,1) from key columns: xxhash64 → 53-bit mantissa.

    Distinct (key, salt) → independent-looking uniform; same (key, salt) →
    same value on any cluster/partitioning.
    """
    h = F.xxhash64(*[_c(c) for c in key_cols], F.lit(salt))
    u = F.shiftrightunsigned(h, UNIFORM_SHIFT).cast("double") / F.lit(UNIFORM_SCALE)
    return F.greatest(u, F.lit(UNIFORM_FLOOR))


def seeded_normal(
    *key_cols: Column | str, mean: Column | float = 0.0, sd: Column | float = 1.0,
    salt: int = 0,
) -> Column:
    """Deterministic N(mean, sd²) via Box-Muller over two hash uniforms
    (reference R1 ``rnorm``, ``Rmd:282-284,571`` — with per-key seeding)."""
    s1, s2 = _normal_salts(salt)
    z = _box_muller(
        hash_uniform(*key_cols, salt=s1), hash_uniform(*key_cols, salt=s2), F
    )
    mean_c = F.lit(float(mean)) if isinstance(mean, (int, float)) else mean
    sd_c = F.lit(float(sd)) if isinstance(sd, (int, float)) else sd
    return mean_c + sd_c * z


def bernoulli(theta: Column | str, *key_cols: Column | str, salt: int = 0) -> Column:
    """Deterministic Bernoulli(theta) 0/1 indicator (reference R2
    ``rbinom(1,1,θ)`` per row, ``Rmd:576-579``)."""
    u = hash_uniform(*key_cols, salt=salt)
    return (u < _c(theta)).cast("int")


def _count(n: int, name: str) -> int:
    if n < 1:
        raise ValueError(f"{name} must be >= 1, got {n}")
    return int(n)


def replicate_numbers(n: int, name: str) -> Column:
    """``explode`` of the replicate numbers 1..n as ``int``: one row each.
    The type is part of every draw keyed by it, since xxhash64 hashes int
    and long keys differently. Raises ``ValueError`` naming ``name`` when
    n < 1, because ``sequence(1, 0)`` counts down to replicates 1 and 0."""
    return F.explode(F.sequence(F.lit(1), F.lit(_count(n, name))))


# --------------------------------------------------------------- driver twin
# Spark's XXH64 (org.apache.spark.sql.catalyst.expressions.XXH64). The
# helpers take Python ints or uint64 arrays: arrays wrap at 64 bits by
# themselves, and the mask does it for Python ints.
_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x, r: int):
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h):
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    return h ^ (h >> 32)


def _round8(v):
    return (_rotl((v * _P2) & _M, 31) * _P1) & _M


def _mix8(h, k):
    return (_rotl(h ^ _round8(k), 27) * _P1 + _P4) & _M


def _mix4(h, k):
    return (_rotl(h ^ ((k * _P1) & _M), 23) * _P2 + _P3) & _M


def _hash_bytes(data: bytes, seed: int) -> int:
    """``XXH64.hashUnsafeBytes``: a UTF8String key's hash."""
    n, off = len(data), 0

    def word(at: int, size: int = 8) -> int:
        return int.from_bytes(data[at : at + size], "little")

    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while off + 32 <= n:
            for i in range(4):
                v[i] = (_rotl((v[i] + word(off + 8 * i) * _P2) & _M, 31) * _P1) & _M
            off += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round8(x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while off + 8 <= n:
        h, off = _mix8(h, word(off)), off + 8
    if off + 4 <= n:
        h, off = _mix4(h, word(off, 4)), off + 4
    for b in data[off:]:
        h = (_rotl(h ^ ((b * _P5) & _M), 11) * _P1) & _M
    return _fmix(h)


def driver_xxhash64(*cols) -> np.ndarray:
    """``F.xxhash64(*cols)`` on the driver, as uint64, for string and
    integer key columns broadcast together. A column of ``str`` (None is
    null and, as in Spark, leaves the hash unchanged) hashes as a string;
    an integer value hashes as Spark's ``int`` when it fits one and as
    ``long`` otherwise, the types ``F.lit`` gives a Python int."""
    shape = np.broadcast_shapes(*(np.shape(c) for c in cols))
    h = np.full(1, XXHASH_SEED, dtype=np.uint64)  # ≥ 1-d: array arithmetic wraps
    for col in cols:
        col = np.atleast_1d(np.asarray(col))
        if col.dtype.kind in "OU":
            h, col = np.broadcast_arrays(h, col)
            h = np.array(
                [
                    hi if s is None else _hash_bytes(str(s).encode("utf-8"), hi)
                    for hi, s in zip(h.ravel().tolist(), col.ravel().tolist())
                ],
                dtype=np.uint64,
            ).reshape(h.shape)
        else:
            k = col.astype(np.int64)
            as_int = _fmix(_mix4(h + (_P5 + 4), k.astype(np.uint64) & 0xFFFFFFFF))
            as_long = _fmix(_mix8(h + (_P5 + 8), k.astype(np.uint64)))
            h = np.where((k >= -(2**31)) & (k < 2**31), as_int, as_long)
    return h.reshape(shape)


def driver_uniform(*cols, salt: int = 0) -> np.ndarray:
    """``hash_uniform(*cols, salt=salt)`` on the driver, bit for bit."""
    h = driver_xxhash64(*cols, salt)
    return np.maximum((h >> UNIFORM_SHIFT).astype(float) / UNIFORM_SCALE, UNIFORM_FLOOR)


def driver_normal(*cols, salt: int = 0) -> np.ndarray:
    """``seeded_normal(*cols, salt=salt)`` (mean 0, sd 1) on the driver,
    from bit-identical uniforms; the last bits may differ from Spark's."""
    s1, s2 = _normal_salts(salt)
    return _box_muller(
        driver_uniform(*cols, salt=s1), driver_uniform(*cols, salt=s2), np
    )


def replicate_normals(keys, n: int, salt: int, name: str) -> np.ndarray:
    """(n, len(keys)) standard normals: row r−1, column j holds
    ``seeded_normal(key_j, r, salt=salt)`` for the ``int`` replicate
    number r of ``replicate_numbers(n, name)``, whose check it shares."""
    reps = np.arange(1, _count(n, name) + 1, dtype=np.int32)[:, None]
    return driver_normal(np.asarray(list(keys), dtype=object)[None, :], reps, salt=salt)

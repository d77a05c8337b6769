"""Multimodal-column t2 queries: binary payload plumbing over synthetic
binary columns (the container has no real media files; the Spark-side
schema/batch/UDF mechanics are the real thing).

``q_multimodal_decode`` exercises the REAL pure-Python BMP codec
end-to-end: documents are encoded Spark-side into genuine 24-bit BMP files
whose dimensions and constant fill derive from SQL-expressible column
arithmetic, then decoded back by parsing the actual headers and pixel rows
— so DuckDB reproduces the expected decode output from the base table.
The metadata/features/frames queries keep UTF-8 text payloads (their
oracles ride DuckDB's sha256 hex arithmetic).

Every synthesized fixture is one ``_fixture_payloads`` pass: a per-row
encoder over a narrow projection of ``documents``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_spark.dedup.components import _truncate_lineage
from data_integration_spark.dedup.simhash import hamming_near_pairs
from data_integration_spark.multimodal.binary_ops import (
    _dct_matrix,
    _encode_bmp_pixels,
    attach_binary_metadata,
    audio_features,
    audio_fingerprint,
    audio_fingerprint_spectral,
    decode_images,
    encode_bmp,
    encode_bmp_gradient,
    encode_video,
    encode_wav,
    extract_features,
    image_dhash,
    image_phash,
    resize_images,
    sample_frames,
    sample_video_frames,
)
from data_integration_spark.queries import register
from data_integration_spark.sources.catalog import Catalog, spread_scan
from data_integration_spark.sources.local import local_table


def _fixture_payloads(docs: DataFrame, make: Callable[..., bytes]) -> DataFrame:
    """(item_id long, payload binary): one synthesized payload per row of
    ``docs``, a projection of ``documents`` with ``doc_id`` first;
    ``make(*row)`` builds the row's payload from its column values.
    The payload is generated FROM the narrow id columns, so the scan is
    spread first (``spread_scan``): only those few bytes per row cross the
    exchange, and the codec kernels downstream run on every core instead
    of in the single scan task a small one-file table gives."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "item_id": pdf["doc_id"],
                    "payload": [
                        make(*row) for row in pdf.itertuples(index=False, name=None)
                    ],
                }
            )

    return spread_scan(docs).mapInPandas(enc, "item_id long, payload binary")


def _hexbyte_sql(h: str, i: int) -> str:
    """SQL for byte i (0-based) of a lowercase hex digest string ``h``."""
    c1 = f"SUBSTR({h}, {2 * i + 1}, 1)"
    c2 = f"SUBSTR({h}, {2 * i + 2}, 1)"
    return (
        f"((STRPOS('0123456789abcdef', {c1}) - 1) * 16"
        f" + STRPOS('0123456789abcdef', {c2}) - 1)"
    )


# the BMP payload parameters are SQL-expressible column arithmetic, so
# DuckDB predicts the REAL decoder's output from the base table alone
_DECODE_ORACLE = """
SELECT doc_id AS item_id,
       CAST(4 + doc_id % 29 AS INT) AS width,
       CAST(4 + n_chars % 23 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       CAST(doc_id % 256 AS DOUBLE) AS mean_pixel,
       TRUE AS ok
FROM documents
"""


def _payload_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir)["documents"]
    return docs.select(
        F.col("doc_id").alias("item_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )


def _bmp_payload_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode each document as a genuine 24-bit BMP whose (width, height,
    fill) derive from column arithmetic — the encode half of the real
    codec path."""
    return _fixture_payloads(
        Catalog(spark, sf_dir)["documents"].select("doc_id", "n_chars"),
        lambda d, n: encode_bmp(4 + d % 29, 4 + n % 23, d % 256),
    )


@register("q_multimodal_decode", oracle=_DECODE_ORACLE)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: encode each
    document into an actual 24-bit BMP (mapInPandas), then decode by
    parsing the real headers + pixel rows (``_decode_bmp``). The decoded
    dims come from the BITMAPINFOHEADER and the mean pixel from the pixel
    array — the constant-fill mean equals the fill EXACTLY only if the
    decoder honors the 4-byte row padding, so a padding bug breaks the
    driver hash."""
    return decode_images(_bmp_payload_df(spark, sf_dir))


@register(
    "q_multimodal_metadata",
    oracle="""
    SELECT doc_id AS item_id,
           'image' AS media_type,
           CAST(LENGTH(text) AS INT) AS n_bytes,
           SHA256(text) AS sha256
    FROM documents
    """,
)
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed binary metadata struct (media_type, n_bytes, sha256) — computed
    natively, no Python; flattened for the oracle compare."""
    with_meta = attach_binary_metadata(
        _payload_df(spark, sf_dir), "payload", "image"
    )
    return with_meta.select(
        "item_id",
        F.col("payload_meta.media_type").alias("media_type"),
        F.col("payload_meta.n_bytes").alias("n_bytes"),
        F.col("payload_meta.sha256").alias("sha256"),
    )


# Each feature element j is (byte[2j] + byte[2j+1]) / 2 / 255 of the payload's
# sha256 (binary_ops.extract_features), so round(feature[j]*510) recovers the
# exact integer byte-pair sum — DuckDB reproduces it with hex-digit arithmetic.
_FEATURES_ORACLE = f"""
WITH h AS (SELECT doc_id AS item_id, SHA256(text) AS hx FROM documents)
SELECT item_id,
       CAST(16 AS INT) AS dim,
       CAST({' + '.join(_hexbyte_sql('hx', i) for i in range(32))}
            AS BIGINT) AS byte_sum,
       CAST({_hexbyte_sql('hx', 0)} + {_hexbyte_sql('hx', 1)}
            AS BIGINT) AS first_pair
FROM h
"""


@register("q_multimodal_features", oracle=_FEATURES_ORACLE)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction → fixed-dim array<float> (ann-ready),
    projected to a canonical scalar form for the cross-engine compare: the
    driver's canonicalizer cannot hash raw list columns, so the registered
    query emits (dim, exact integer checksums) instead.
    ``extract_features`` keeps the raw ``array<float>`` output for
    programmatic use (similarity/ann.py consumes it directly).

    The checksum is exact, not approximate: float32 holds each element with
    ≤3e-5 absolute error after the ×510 rescale, so ``round`` recovers the
    integer byte-pair sums bit-identically on both engines."""
    feats = extract_features(_payload_df(spark, sf_dir))
    ints = F.transform(
        "feature", lambda x: F.round(x.cast("double") * 510.0).cast("long")
    )
    return feats.select(
        "item_id",
        F.size("feature").alias("dim"),
        F.aggregate(ints, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "byte_sum"
        ),
        F.element_at(ints, 1).alias("first_pair"),
    )


# payload text is pure ASCII in the testdata (byte == char), so DuckDB can
# reproduce the byte slicing with SUBSTR and hash each frame chunk itself
_FRAMES_ORACLE = """
SELECT doc_id AS item_id,
       CAST(u.i AS INT) AS frame_index,
       SUBSTR(SHA256(SUBSTR(text, u.i * 64 + 1, 64)), 1, 16) AS frame_sha
FROM documents,
     UNNEST(GENERATE_SERIES(
       0, LEAST(8, GREATEST(1, LENGTH(text) // 64)) - 1)) AS u(i)
"""


@register("q_multimodal_frames", oracle=_FRAMES_ORACLE)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video-shaped payloads — the mapInPandas UDTF
    shape (1 input row → ≤8 frame rows). 64-byte frames so the testdata
    actually fans out (1–8 frames per doc); the oracle re-slices and
    re-hashes the same chunks in SQL."""
    return sample_frames(_payload_df(spark, sf_dir), every_n_bytes=64)


# --- the multimodal LIBRARY ops as registry-grade t2 queries with
# arithmetic oracles.
# Same fixture discipline as q_multimodal_decode: payload parameters are
# SQL-expressible column arithmetic, the op runs the REAL codec path, and
# DuckDB predicts the decoder's output from the base table alone.


# nearest-neighbor resample: out pixel (i, j) reads source pixel
# ((i*h)//5, (j*w)//7), whose gradient value is (doc_id + row + 2*col) %
# 256 — the resized mean is exact integer arithmetic over BOTH halves of
# the index map (equal rationals ⇒ equal IEEE doubles on both sides)
_RESIZE_ORACLE = """
SELECT doc_id AS item_id,
       CAST(7 AS INT) AS width,
       CAST(5 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       ROUND(SUM(CAST((doc_id + (u.i * (4 + n_chars % 23)) // 5
                       + 2 * ((v.j * (4 + doc_id % 29)) // 7)) % 256
                      AS DOUBLE)) / 35.0, 6) AS mean_pixel,
       TRUE AS ok
FROM documents,
     UNNEST(GENERATE_SERIES(0, 4)) AS u(i),
     UNNEST(GENERATE_SERIES(0, 6)) AS v(j)
GROUP BY doc_id
"""


def _gradient_bmp_payload_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode each document as a genuine 24-bit BMP with a 2-D GRADIENT
    (top-down pixel (r, c) holds gray ``(doc_id + r + 2*c) % 256``) —
    non-constant on both axes so the resize certificate sees WHICH rows
    AND columns the resampler chose, not just that bytes survived."""
    return _fixture_payloads(
        Catalog(spark, sf_dir)["documents"].select("doc_id", "n_chars"),
        lambda d, n: encode_bmp_gradient(4 + d % 29, 4 + n % 23, d % 256),
    )


@register("q_multimodal_resize", oracle=_RESIZE_ORACLE)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize end-to-end (``binary_ops.resize_images``): encode
    a 2-D-gradient BMP per document, nearest-neighbor resample to 7×5
    (decode pixels → index-map resample → re-encode), then DECODE the
    RESIZED payload with the real parser — three codec passes chained, all
    inside scan partitioning (two mapInPandas stages, no shuffle, no
    driver traffic). The decoded mean is exact arithmetic over which
    source rows ``(i*h)//5`` AND columns ``(j*w)//7`` were selected
    (asymmetric 1·row + 2·col coefficients), so an off-by-one or
    transposition on either axis of the resample index map — or a padding
    bug in the re-encode, 7×3 bytes = a non-multiple-of-4 stride — breaks
    the oracle hash."""
    src = _gradient_bmp_payload_df(spark, sf_dir)
    resized = resize_images(src, width=7, height=5)
    out = decode_images(resized.select("item_id", "payload"))
    return out.select(
        "item_id",
        "width",
        "height",
        "n_channels",
        F.round("mean_pixel", 6).alias("mean_pixel"),
        "ok",
    )


# synthesized pure tone at bin k = 4*(doc_id%8)+2 — the Hann main lobe
# (k±1) sits strictly inside band doc_id%8 of the 8 equal bands over the
# 33 rfft bins, so the peak band is exact integer arithmetic; frame count
# is (n_samples − n_fft)/hop + 1 with n_samples = 64 + 32*(doc_id%5)
_AUDIO_ORACLE = """
SELECT doc_id AS item_id,
       CAST(1 + doc_id % 5 AS INT) AS n_frames,
       CAST(8 AS INT) AS dim,
       CAST(doc_id % 8 AS INT) AS peak_band,
       TRUE AS ok
FROM documents
"""


def _tone_wav_payload_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode each document as a genuine 16-bit PCM WAV holding a pure
    sine at an exact FFT bin: k = 4*(doc_id%8)+2 cycles per 64-sample
    frame, so every analysis frame sees the identical spectrum and the
    tone's Hann main lobe lands wholly inside one predicted band."""

    def tone(d: int) -> bytes:
        k = 4 * (d % 8) + 2
        t = np.arange(64 + 32 * (d % 5))
        return encode_wav(0.5 * np.sin(2.0 * np.pi * k * t / 64.0))

    return _fixture_payloads(
        Catalog(spark, sf_dir)["documents"].select("doc_id"), tone
    )


@register("q_multimodal_audio_features", oracle=_AUDIO_ORACLE)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL spectral audio features end-to-end
    (``binary_ops.audio_features``): encode a pure tone per document as a
    genuine PCM WAV, decode through the stdlib RIFF parser, Hann-window +
    rFFT + band-average (numpy, inside the Arrow batch — no shuffle), and
    emit the certificate projection: frame count (exact hop arithmetic)
    and argmax band (the tone's band — spectral leakage stays inside it
    by construction). A wrong hop, window length, rfft bin count, or band
    edge map moves n_frames or peak_band and breaks the oracle hash; the
    float band ENERGIES stay pytest-pinned (tone-peak test), since their
    exact values are FFT-implementation arithmetic no SQL engine
    reproduces."""
    feats = audio_features(
        _tone_wav_payload_df(spark, sf_dir), n_fft=64, hop=32, n_bands=8
    )
    return feats.select(
        "item_id",
        "n_frames",
        F.size("feature").alias("dim"),
        (F.array_position("feature", F.array_max("feature")) - 1)
        .cast("int")
        .alias("peak_band"),
        "ok",
    )


# every_n=2 over n = 1 + doc_id%5 frames ⇒ sampled indices are exactly
# GENERATE_SERIES(0, doc_id%5, 2); each frame's constant fill is
# (doc_id + index) % 256, so a walk that miscounts the length-prefixed
# frame table surfaces as a fill/index mismatch
_VIDEO_ORACLE = """
SELECT doc_id AS item_id,
       CAST(u.i AS INT) AS frame_index,
       CAST(4 + doc_id % 13 AS INT) AS width,
       CAST(3 + doc_id % 7 AS INT) AS height,
       CAST((doc_id + u.i) % 256 AS DOUBLE) AS mean_pixel,
       TRUE AS ok
FROM documents, UNNEST(GENERATE_SERIES(0, doc_id % 5, 2)) AS u(i)
"""


def _video_payload_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode each document as a VID0 length-prefixed container of
    1 + doc_id%5 genuine BMP frames (per-frame constant fill varies with
    the frame index, dims with the doc)."""
    return _fixture_payloads(
        Catalog(spark, sf_dir)["documents"].select("doc_id"),
        lambda d: encode_video(
            [encode_bmp(4 + d % 13, 3 + d % 7, (d + i) % 256) for i in range(1 + d % 5)]
        ),
    )


# Fixture bit-pattern contract (shared by the Spark encoder and the SQL
# oracle): docs form groups of 4 (g = doc_id // 4, member m = doc_id % 4);
# the 56 target bits are md5(g)'s first 14 hex chars with member m
# flipping bits k < m — so within-group Hamming distances are EXACTLY
# |m1 − m2| ∈ {1, 2, 3} and cross-group distances are md5-random (~28).
# Pixels realize the bits as a ±10 random walk from 100 (range [30, 170]),
# so the REAL decode → gray → resample → compare pipeline must recover
# every bit for the pair table to hash-match.
_DHASH_ORACLE = """
WITH v AS (
  SELECT doc_id,
         CAST('0x' || SUBSTRING(MD5(CAST(doc_id // 4 AS VARCHAR)), 1, 14)
              AS BIGINT) AS base
  FROM documents
),
f AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN ((base >> u.k) & 1 = 1) <> (u.k < doc_id % 4)
                       THEN CAST(1 AS BIGINT) << u.k
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS dh
  FROM v, UNNEST(GENERATE_SERIES(0, 55)) AS u(k)
  GROUP BY doc_id
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(BIT_COUNT(XOR(a.dh, b.dh)) AS BIGINT) AS distance
FROM f a JOIN f b ON a.doc_id < b.doc_id
WHERE BIT_COUNT(XOR(a.dh, b.dh)) <= 3
"""


def _dhash_bmp_payload_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode each document as a genuine 8×8 BMP whose dHash bits are the
    PLANNED pattern (see _DHASH_ORACLE contract): bit (r, c) drives the
    ±10 step from pixel (r, c) to (r, c+1), so the image realizes the
    target difference structure exactly."""

    def planted(d: int) -> bytes:
        g, m = d // 4, d % 4
        base = int(hashlib.md5(str(g).encode()).hexdigest()[:14], 16)
        arr = np.zeros((8, 8), dtype=np.int64)
        arr[:, 0] = 100
        for r in range(8):
            for c in range(7):
                k = r * 7 + c
                bit = ((base >> k) & 1 == 1) != (k < m)
                arr[r, c + 1] = arr[r, c] + (10 if bit else -10)
        return _encode_bmp_pixels(np.repeat(arr.astype(np.uint8)[:, :, None], 3, axis=2))

    return _fixture_payloads(
        Catalog(spark, sf_dir)["documents"].select("doc_id"), planted
    )


@register("q_image_dedup_dhash", oracle=_DHASH_ORACLE)
def q_image_dedup_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual IMAGE near-dup pairing — the multimodal×dedup
    intersection (image dedup was byte-sha exact only): REAL 56-bit
    dHash per image (``binary_ops.image_dhash`` — decode → gray →
    NN-resample to 7×8 differences), then ALL pairs within Hamming
    distance 3 via the generic pigeonhole block join
    (``dedup/simhash.py::hamming_near_pairs`` — exact recall by theorem,
    4 blocks of 14 bits, never O(N²)). The fixture plants groups of 4
    near-identical images with within-group distances EXACTLY
    {1, 2, 3}; the oracle recomputes the planned bit pattern (md5
    arithmetic both engines share), the hashes, and the all-pairs
    answer — so a wrong gray conversion, resample index, comparison
    direction, bit packing, block split, OR a recall-losing pair join
    all break the driver hash."""
    sig = image_dhash(_dhash_bmp_payload_df(spark, sf_dir))
    # materialize the 16-byte (id, hash) rows ONCE before the self-join —
    # the pigeonhole join otherwise duplicates the whole
    # synth→decode→hash lineage on BOTH sides (decide on small rows).
    # Fresh per invocation (localCheckpoint never caches across runs).
    fp = _truncate_lineage(
        sig.filter(F.col("ok")).select(F.col("item_id"), F.col("dhash"))
    )
    pairs = hamming_near_pairs(
        fp,
        bits=56,
        max_distance=3,
        id_col="item_id",
        sig_col="dhash",
    )
    return pairs.select(
        "d1", "d2", F.col("distance").cast("long").alias("distance")
    )


# Fixture bit-pattern contract for pHash (shared by the Spark IDCT
# fixture and the SQL oracle): docs form groups of 4 (g = doc_id // 4,
# member m = doc_id % 4). The 63 target bits come from md5(g)'s first 8
# hex chars (32 bits b_0..b_31) in a BALANCED mirror — p_k = b_k for
# k < 31, p_k = ¬b_{k−31} for 31 ≤ k < 62, p_62 = b_31 — so the +M/−M
# coefficient counts stay within 31±1 of each other and every bit's
# margin against the AC mean is ≥ 0.89·M (quantization noise is ~0.3);
# member m flips bits k < m, keeping within-group Hamming distances
# EXACTLY |m1 − m2| ∈ {1, 2, 3}. Pixels are the INVERSE orthonormal DCT
# of the planned ±M coefficient block (DC pinned to gray 128), rounded
# to uint8 — so the REAL decode → gray → resample → DCT → mean-threshold
# pipeline must recover every planted bit for the pair table to
# hash-match (recovery verified exact over 3k+ ids and all in-group
# distances in tests/test_multimodal_property.py).
_PHASH_ORACLE = """
WITH v AS (
  SELECT doc_id,
         CAST('0x' || SUBSTRING(MD5(CAST(doc_id // 4 AS VARCHAR)), 1, 8)
              AS BIGINT) AS base
  FROM documents
),
f AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN (
                    CASE WHEN u.k < 31 THEN ((base >> u.k) & 1) = 1
                         WHEN u.k < 62 THEN ((base >> (u.k - 31)) & 1) = 0
                         ELSE ((base >> 31) & 1) = 1 END
                  ) <> (u.k < doc_id % 4)
                  THEN CAST(1 AS BIGINT) << u.k
                  ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ph
  FROM v, UNNEST(GENERATE_SERIES(0, 62)) AS u(k)
  GROUP BY doc_id
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(BIT_COUNT(XOR(a.ph, b.ph)) AS BIGINT) AS distance
FROM f a JOIN f b ON a.doc_id < b.doc_id
WHERE BIT_COUNT(XOR(a.ph, b.ph)) <= 3
"""


def _phash_planned_bits(doc_id: int) -> list[bool]:
    """The oracle's planned 63-bit pattern, as pure Python (see the
    contract comment above _PHASH_ORACLE)."""
    g, m = doc_id // 4, doc_id % 4
    base = int(hashlib.md5(str(g).encode()).hexdigest()[:8], 16)
    bits = []
    for k in range(63):
        if k < 31:
            b = (base >> k) & 1 == 1
        elif k < 62:
            b = (base >> (k - 31)) & 1 == 0
        else:
            b = (base >> 31) & 1 == 1
        bits.append(b != (k < m))
    return bits


def _phash_bmp_payload_df(
    spark: SparkSession, sf_dir: str, max_doc_id: int | None = None
) -> DataFrame:
    """Encode each document as a genuine 32×32 BMP whose pHash bits are
    the PLANNED pattern: pixels are the inverse orthonormal DCT of a
    coefficient matrix holding ±30 at the 63 low-frequency AC slots
    (sign = planned bit) and gray-128 DC — the REAL DCT pipeline must
    recover the structure exactly. ``max_doc_id`` bounds the fixture
    BEFORE the encode pass (the cross-modal query's bounded image side)
    so no payload is synthesized just to be filtered."""
    docs = Catalog(spark, sf_dir)["documents"].select("doc_id")
    if max_doc_id is not None:
        # prune at the scan (PushedFilters), THEN spread for the encode
        docs = docs.filter(F.col("doc_id") < max_doc_id)

    def planted(d: int) -> bytes:
        bits = _phash_planned_bits(d)
        C = np.zeros((32, 32))
        C[0, 0] = 128.0 * 32.0
        for k in range(63):
            C[(k + 1) // 8, (k + 1) % 8] = 30.0 if bits[k] else -30.0
        D = _dct_matrix(32)
        arr = np.clip(np.rint(D.T @ C @ D), 0, 255).astype(np.uint8)
        return _encode_bmp_pixels(np.repeat(arr[:, :, None], 3, axis=2))

    return _fixture_payloads(docs, planted)


@register("q_image_dedup_phash", oracle=_PHASH_ORACLE)
def q_image_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual IMAGE near-dup pairing via pHash — the DCT sibling of
    q_image_dedup_dhash, completing both standard perceptual-hash
    constructions: REAL 63-bit DCT hash per image
    (``binary_ops.image_phash`` — decode → gray → NN-resample to 32² →
    orthonormal 2-D DCT-II → top-left 8×8 low-frequency block →
    sign-vs-AC-mean), then ALL pairs within Hamming distance 3 via the
    generic pigeonhole block join (``dedup/simhash.py::
    hamming_near_pairs`` — exact recall by theorem, never O(N²)). The
    fixture plants balanced-mirror md5 bit patterns as ±30 DCT
    coefficients and synthesizes pixels by INVERSE DCT, so a wrong DCT
    normalization, block selection, DC handling, mean threshold, bit
    packing, or a recall-losing pair join all break the driver hash."""
    sig = image_phash(_phash_bmp_payload_df(spark, sf_dir))
    # decode once, self-join the materialized 16-byte rows (see
    # q_image_dedup_dhash)
    fp = _truncate_lineage(
        sig.filter(F.col("ok")).select(F.col("item_id"), F.col("phash"))
    )
    pairs = hamming_near_pairs(
        fp,
        bits=63,
        max_distance=3,
        id_col="item_id",
        sig_col="phash",
    )
    return pairs.select(
        "d1", "d2", F.col("distance").cast("long").alias("distance")
    )


# Fixture bit-pattern contract (shared by the Spark WAV encoder and the
# SQL oracle) — the image-dHash contract re-used for audio: docs form
# groups of 4 (g = doc_id // 4, member m = doc_id % 4); the 56 target
# bits are md5(g)'s first 14 hex chars with member m flipping bits
# k < m, so within-group Hamming distances are EXACTLY |m1 − m2| ∈
# {1, 2, 3} and cross-group distances are md5-random (~28). The clip
# realizes bit k as the ±0.005 amplitude step from frame k to k+1
# (constant-amplitude frames, energy = amp² exactly), so the REAL
# decode → mono → frame-energy → compare pipeline must recover every
# bit for the pair table to hash-match.
_AFP_ORACLE = """
WITH v AS (
  SELECT doc_id,
         CAST('0x' || SUBSTRING(MD5(CAST(doc_id // 4 AS VARCHAR)), 1, 14)
              AS BIGINT) AS base
  FROM documents
),
f AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN ((base >> u.k) & 1 = 1) <> (u.k < doc_id % 4)
                       THEN CAST(1 AS BIGINT) << u.k
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS afp
  FROM v, UNNEST(GENERATE_SERIES(0, 55)) AS u(k)
  GROUP BY doc_id
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(BIT_COUNT(XOR(a.afp, b.afp)) AS BIGINT) AS distance
FROM f a JOIN f b ON a.doc_id < b.doc_id
WHERE BIT_COUNT(XOR(a.afp, b.afp)) <= 3
"""

_AFP_FRAME_LEN = 8  # samples per fingerprint frame in the fixture clips


def _afp_wav_payload_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode each document as a genuine 16-bit PCM WAV whose
    energy-difference fingerprint bits are the PLANNED pattern (see
    _AFP_ORACLE contract): 57 constant-amplitude frames; bit k drives
    the ±0.005 amplitude step from frame k to k+1 (walk from 0.5, range
    [0.22, 0.78] — each step is ~164 int16 quantization levels, so the
    decoded energy comparisons can never flip)."""

    def planted(d: int) -> bytes:
        g, m = d // 4, d % 4
        base = int(hashlib.md5(str(g).encode()).hexdigest()[:14], 16)
        amps = [0.5]
        for k in range(56):
            bit = ((base >> k) & 1 == 1) != (k < m)
            amps.append(amps[-1] + (0.005 if bit else -0.005))
        samples = np.repeat(np.asarray(amps, dtype=np.float64), _AFP_FRAME_LEN)
        return encode_wav(samples, rate=8000)

    return _fixture_payloads(
        Catalog(spark, sf_dir)["documents"].select("doc_id"), planted
    )


@register("q_audio_dedup_fingerprint", oracle=_AFP_ORACLE)
def q_audio_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO near-dup pairing — the last modality×dedup
    intersection (audio dedup was byte-sha exact only): REAL 56-bit energy-difference fingerprint per clip
    (``binary_ops.audio_fingerprint`` — stdlib RIFF decode → mono →
    frame energies → sign-of-gradient bits, the Haitsma–Kalker
    construction), then ALL pairs within Hamming distance 3 via the
    generic pigeonhole block join (``dedup/simhash.py::
    hamming_near_pairs`` — exact recall by theorem, 4 blocks of 14 bits,
    never O(N²)). The fixture plants groups of 4 near-identical clips
    with within-group distances EXACTLY {1, 2, 3}; the oracle recomputes
    the planned bit pattern (md5 arithmetic both engines share), the
    fingerprints, and the all-pairs answer — so a wrong channel mix,
    frame split, energy formula, comparison direction, bit packing,
    block split, OR a recall-losing pair join all break the driver
    hash."""
    sig = audio_fingerprint(
        _afp_wav_payload_df(spark, sf_dir),
        frame_len=_AFP_FRAME_LEN,
        n_bits=56,
    )
    # decode once, self-join the materialized 16-byte rows (see
    # q_image_dedup_dhash)
    fp = _truncate_lineage(
        sig.filter(F.col("ok")).select(F.col("item_id"), F.col("afp"))
    )
    pairs = hamming_near_pairs(
        fp,
        bits=56,
        max_distance=3,
        id_col="item_id",
        sig_col="afp",
    )
    return pairs.select(
        "d1", "d2", F.col("distance").cast("long").alias("distance")
    )


@register("q_multimodal_video_frames", oracle=_VIDEO_ORACLE)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL parsed frame extraction end-to-end
    (``binary_ops.sample_video_frames``): pack per-document BMP frames
    into the VID0 length-prefixed container Spark-side, then walk the
    frame table, sample every 2nd frame, and fully DECODE each sampled
    frame (real BMP parse → dims + exact constant-fill mean). One row per
    sampled frame (UDTF shape); the oracle re-derives the sampled index
    set and each frame's dims/fill from the base table, so a walk that
    misreads a length prefix, samples the wrong stride, or decodes the
    wrong byte span breaks the hash."""
    return sample_video_frames(
        _video_payload_df(spark, sf_dir), every_n=2, max_frames=8
    )


# Multi-band spectral fingerprint fixture: per document, 9 non-overlapping
# 64-sample frames; frame t carries ALL 8 band tones (bin 4b+2 — main lobe
# wholly inside band b, the q_multimodal_audio_features trick) at
# amplitude 0.1·2^(−j/2) with j = (doc_id + 3t + 7b) mod 8 — so every
# band's energy in every frame is a DISTINCT power-of-two step (≈8e−5 at
# the weakest, ≫ int16 quantization noise) and every one of the 56
# double-difference signs has a real margin: the offsets {+3, +7} vs
# {0, +10} can never make the 4-energy combination cancel exactly. The
# whole fixture scales linearly with master volume, so the fingerprint's
# volume invariance is exact end-to-end (independent int16 quantization
# at each volume included).
def _chirp_wav_payload_df(
    spark: SparkSession, sf_dir: str, volume: float = 1.0
) -> DataFrame:
    s = np.arange(64)
    tones = np.stack(
        [np.sin(2.0 * np.pi * (4 * b + 2) * s / 64.0) for b in range(8)]
    )  # (8 bands, 64 samples)

    def chirp(d: int) -> bytes:
        frames = []
        for t in range(9):
            amps = np.asarray(
                [0.1 * 2.0 ** (-((d + 3 * t + 7 * b) % 8) / 2.0) for b in range(8)]
            )
            frames.append(volume * (amps @ tones))
        return encode_wav(np.concatenate(frames), rate=8000)

    return _fixture_payloads(
        Catalog(spark, sf_dir)["documents"].select("doc_id"), chirp
    )


_SPECTRAL_PARAMS = dict(n_fft=64, hop=64, n_bands=8, t_steps=8)


@register("q_audio_spectral_fingerprint")  # rows-only: FFT bit values are
# not SQL-restatable (the 1-band energy form q_audio_dedup_fingerprint
# remains the full-oracle member of the family);
# q_audio_spectral_invariants carries this construction's full-oracle
# certificate.
def q_audio_spectral_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-band spectral audio fingerprint (the FULL Haitsma & Kalker
    2002 construction — ``binary_ops.audio_fingerprint_spectral``): per
    clip, stdlib RIFF decode → Hann/rFFT band energies E[t, b] → bit
    (t, b) = sign of the time×band double difference, 56 bits at the
    registered parameters — the production-grade robust hash the 1-band
    energy form (q_audio_dedup_fingerprint) approximates. Emits one
    (item_id, afp, ok) row per document over the deterministic chirp
    fixture (every band's energy steps through distinct powers of two per
    frame, so all 56 bits carry signal).

    Scale shape: identical to every codec op here — one Arrow-batched
    mapInPandas riding the scan partitioning, no shuffle, no driver
    traffic; the output feeds the same pigeonhole Hamming join as the
    1-band/dHash forms. Registered rows-only, with the invariants
    certificate as the full-oracle sibling."""
    return audio_fingerprint_spectral(
        _chirp_wav_payload_df(spark, sf_dir), **_SPECTRAL_PARAMS
    )


@register(
    "q_audio_spectral_invariants",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(COUNT(*) AS BIGINT) AS n_ok,
           CAST(0 AS BIGINT) AS width_violations,
           CAST(0 AS BIGINT) AS volume_mismatch,
           CAST(0 AS BIGINT) AS determinism_mismatch,
           CAST(1 AS BIGINT) AS varied
    FROM documents
    """,
)
def q_audio_spectral_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ORACLE certificate for the multi-band spectral fingerprint
    (the q_bpe_invariants pattern: run the real construction, emit a
    1-row table of laws it must satisfy, hash-checked against
    independently-computable values):

    - n_items / n_ok: every document's chirp clip decodes and
      fingerprints (DuckDB recomputes the count from the corpus — a
      decode regression surfaces as ok=False and breaks the hash);
    - width_violations == 0: every fingerprint fits the declared
      (n_bands−1)·t_steps = 56 bits (a packing bug that sets bit ≥ 56
      breaks it);
    - volume_mismatch == 0: fingerprints of the SAME clips synthesized
      at 1× and 0.25× master volume are identical — the Haitsma–Kalker
      invariance, exercised END-TO-END (independent int16 quantization
      at each volume, real decode, real FFT);
    - determinism_mismatch == 0: two independent fingerprint runs agree
      row-for-row (no hidden RNG/order dependence in the batch path);
    - varied == 1: the fingerprints are not collapsing to one value
      (>1 distinct across the corpus — guards a degenerate fixture or a
      construction that ignores its input)."""
    fp1 = audio_fingerprint_spectral(
        _chirp_wav_payload_df(spark, sf_dir), **_SPECTRAL_PARAMS
    )
    fp2 = audio_fingerprint_spectral(
        _chirp_wav_payload_df(spark, sf_dir), **_SPECTRAL_PARAMS
    ).select("item_id", F.col("afp").alias("afp_rerun"))
    fpv = audio_fingerprint_spectral(
        _chirp_wav_payload_df(spark, sf_dir, volume=0.25), **_SPECTRAL_PARAMS
    ).select("item_id", F.col("afp").alias("afp_quiet"))
    return (
        fp1.join(fp2, "item_id")
        .join(fpv, "item_id")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(F.col("ok").cast("int")).cast("long").alias("n_ok"),
            F.sum(
                (
                    (F.col("afp") < 0) | (F.col("afp") >= F.lit(1 << 56))
                ).cast("int")
            ).cast("long").alias("width_violations"),
            F.sum(
                (F.col("afp") != F.col("afp_quiet")).cast("int")
            ).cast("long").alias("volume_mismatch"),
            F.sum(
                (F.col("afp") != F.col("afp_rerun")).cast("int")
            ).cast("long").alias("determinism_mismatch"),
            (F.countDistinct("afp") > 1).cast("long").alias("varied"),
        )
    )


# Cross-modal contract (shared by the Spark pipeline and the SQL oracle):
# the image side re-uses the pHash fixture VERBATIM (planted balanced-
# mirror md5 coefficient signs — see _PHASH_ORACLE), so the oracle can
# re-derive the ±1 DCT-sign FEATURE analytically while Spark must recover
# it through the REAL decode→gray→resample→DCT pipeline; the pinned
# integer projection (similarity/crossmodal.py::pinned_projection) is a
# modular formula both engines evaluate exactly in int64, making the
# projected vector y = fᵀW integer-exact; captions for doc_id % 29 == 5
# are planted into the corpus as EXACT copies of y (vec_id offset 1e9),
# so the ≥ 0.98 retrieval must emit exactly the planted (doc, caption)
# pairs at cosine 1.0 — natural image×text cosines sit far below the
# threshold (pinned in tests/test_crossmodal.py), and the oracle
# recomputes them all anyway.
_XMODAL_ORACLE = """
WITH v AS (
  SELECT doc_id,
         CAST('0x' || SUBSTRING(MD5(CAST(doc_id // 4 AS VARCHAR)), 1, 8)
              AS BIGINT) AS base
  FROM documents WHERE doc_id < 300
),
bits AS (
  SELECT doc_id, u.k,
         CASE WHEN (CASE WHEN u.k < 31 THEN ((base >> u.k) & 1) = 1
                         WHEN u.k < 62 THEN ((base >> (u.k - 31)) & 1) = 0
                         ELSE ((base >> 31) & 1) = 1 END)
                   <> (u.k < doc_id % 4)
              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS f
  FROM v, UNNEST(GENERATE_SERIES(0, 62)) AS u(k)
),
y AS (
  SELECT b.doc_id, j.j,
         CAST(SUM(b.f * ((((b.k * 64 + j.j + 1) * 2654435761)
                          % 1000003) % 201 - 100)) AS BIGINT) AS yj
  FROM bits b, UNNEST(GENERATE_SERIES(0, 63)) AS j(j)
  GROUP BY b.doc_id, j.j
),
corpus AS (
  SELECT vec_id AS mid, i.j - 1 AS j,
         CAST(embedding[i.j] AS DOUBLE) AS ej
  FROM embeddings, UNNEST(GENERATE_SERIES(1, 64)) AS i(j)
  UNION ALL
  SELECT 1000000000 + doc_id AS mid, j, CAST(yj AS DOUBLE) AS ej
  FROM y WHERE doc_id % 29 = 5
),
qn AS (
  SELECT doc_id, SQRT(SUM(CAST(yj AS DOUBLE) * yj)) AS qn
  FROM y GROUP BY doc_id
),
cn AS (SELECT mid, SQRT(SUM(ej * ej)) AS cn FROM corpus GROUP BY mid),
dots AS (
  SELECT y.doc_id, c.mid, SUM(CAST(y.yj AS DOUBLE) * c.ej) AS dot
  FROM y JOIN corpus c ON y.j = c.j
  GROUP BY y.doc_id, c.mid
)
SELECT d.doc_id, d.mid AS vec_id,
       ROUND(d.dot / (qn.qn * cn.cn), 6) AS cosine
FROM dots d
JOIN qn USING (doc_id)
JOIN cn ON cn.mid = d.mid
WHERE ROUND(d.dot / (qn.qn * cn.cn), 6) >= 0.98
"""


@register("q_crossmodal_dedup", oracle=_XMODAL_ORACLE)
def q_crossmodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL near-dup retrieval (image ↔ text): real BMPs (the
    pHash fixture) → REAL decode→DCT pipeline →
    ±1 DCT-sign features → pinned int64 projection into the 64-d
    text-embedding space (similarity/crossmodal.py) → guarded broadcast
    cosine (≥ 0.98) against the embeddings corpus UNIONed with planted
    caption vectors (exact projected copies, vec_id offset 1e9, one per
    doc_id % 29 == 5 under the 300-doc image bound). Emits exactly the
    planted (doc_id, vec_id, 1.0) pairs — a wrong DCT, bit unpack,
    projection, union, or a recall-losing cosine join all break the
    driver hash. Scoring rides the VECTORIZED pair kernel (the bounded
    query block as a NumPy matrix, one GEMM per corpus Arrow batch — the
    q_cosine_pairs scale shape; the expression path measured 170 s at
    the 100× rehearsal corpus, the GEMM path seconds); at retrieval
    scale the cosine stage swaps for the IVF probe path exactly like
    the text-to-text semantic-dedup family."""
    from data_integration_spark.similarity.ann import (
        as_double_array,
        cosine_pairs_vectorized,
    )
    from data_integration_spark.similarity.crossmodal import (
        pinned_projection,
        project_hashes,
    )

    imgs = _phash_bmp_payload_df(spark, sf_dir, max_doc_id=300)
    # ONE decode pass: collect the (≤ 400-row) fingerprint slice, then
    # (a) loud truncation guard (the q_cosine_pairs convention — a
    #     silent limit would drop query docs the SQL oracle keeps),
    # (b) loud decode-failure guard (the oracle plants and scores EVERY
    #     doc_id < 300 unconditionally, so a failed decode must raise by
    #     item_id, never silently drop),
    # (c) the pinned projection of the SAME collected hashes on the
    #     driver, so the BMP→DCT lineage runs once instead of once per
    #     guard and once per consumer.
    max_imgs = 400  # bounded by the max_doc_id=300 fixture slice
    ph_pd = image_phash(imgs).limit(max_imgs + 1).toPandas()
    if len(ph_pd) > max_imgs:  # not assert: survives python -O
        raise ValueError(
            f"q_crossmodal_dedup image side exceeds {max_imgs}; widen the "
            "bound deliberately or move to the IVF probe path"
        )
    if not ph_pd["ok"].all():
        bad_id = int(ph_pd.loc[~ph_pd["ok"], "item_id"].iloc[0])
        raise ValueError(
            f"q_crossmodal_dedup: BMP decode failed for item_id "
            f"{bad_id} — the fixture guarantees every doc_id "
            "< 300 decodes; fix the payload or the decoder, do not filter"
        )
    # (item_id, y) — integer-exact doubles from the same kernel the
    # distributed op (project_phash_features) runs: every intermediate is
    # an exact int64, so the values are bit-identical
    y = project_hashes(ph_pd["phash"].to_numpy(dtype=np.int64), pinned_projection())
    proj_pd = pd.DataFrame({"item_id": ph_pd["item_id"].to_numpy(), "y": list(y)})
    q_pd = proj_pd.assign(vec_id=proj_pd["item_id"] + 2_000_000_000)[
        ["vec_id", "y"]
    ].rename(columns={"y": "e"})
    emb = Catalog(spark, sf_dir)["embeddings"].select(
        "vec_id", as_double_array("embedding", "e")
    )
    # planted captions are exact copies of rows already collected into
    # the query block — build them driver-side instead of re-running the
    # whole BMP→decode→DCT→GEMM lineage a second time inside the join
    pl_pd = proj_pd[proj_pd["item_id"] % 29 == 5]
    planted = local_table(
        spark,
        pl_pd.assign(vec_id=pl_pd["item_id"] + 1_000_000_000)[
            ["vec_id", "y"]
        ].rename(columns={"y": "e"}),
        "vec_id long, e array<double>",
    )
    # eval_order="raw_dot" matches the oracle's SUM(y·e)/(qn·cn) float
    # evaluation order exactly: the only residual vs DuckDB
    # is dot reduction order, absorbed by the 6-decimal grid
    pairs = cosine_pairs_vectorized(
        q_pd, emb.unionByName(planted), threshold=0.98, eval_order="raw_dot"
    )
    return pairs.select(
        (F.col("qid") - 2_000_000_000).alias("doc_id"),
        F.col("mid").alias("vec_id"),
        "cosine",
    )

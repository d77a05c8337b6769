"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata structs.

Every op that reads payload bytes runs through ``map_items``. It selects
``id_col AS item_id`` and the payload, runs ONE Arrow-batched
``mapInPandas`` with the op's schema, and calls the op's per-item
function ``fn(payload: bytes)``, which returns that item's output rows
without the ``item_id`` (1→N: one row per decoded item, one per sampled
frame). With a ``fail_row``, any exception from ``fn`` turns the item
into the single row ``(item_id, *fail_row)`` — the ``ok=False`` row of a
corrupt payload; no partial rows of a failed item are kept. Without one,
the error propagates and fails the job. Each op checks its parameters
BEFORE calling ``map_items``, so a bad argument raises on the driver
before any job instead of turning every item into an ``ok=False`` row.

Decoding: uncompressed BMP images and PCM WAV audio decode with REAL
pure-Python/stdlib codecs in-container (``_decode_bmp`` parses the
BITMAPINFOHEADER and pixel rows with padding; ``_decode_wav`` rides the
stdlib ``wave`` parser + numpy sample decode). Other formats (JPEG/PNG/…)
route through PIL when importable (``_HAS_CODECS``), else a deterministic
byte-hash fake with the same shape and failure modes — clearly marked,
same schema and batch flow as the real thing.

Scale notes: binary payloads ride in parquet column chunks; mapInPandas
processes them in Arrow record batches (bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``) — memory use is
per-batch, not per-partition. Feature extraction emits fixed-size
``array<float>`` columns ready for similarity/ann.py.
"""

from __future__ import annotations

import hashlib
import io
import struct
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

try:  # optional codec for compressed formats — absent in this container
    from PIL import Image as _PIL_Image  # type: ignore[import-not-found]

    _HAS_CODECS = True
except ImportError:  # pragma: no cover — the shipped environment
    _PIL_Image = None
    _HAS_CODECS = False

# formats with REAL in-container decoders (no third-party libs needed)
BUILTIN_CODECS = ("bmp", "wav")

# smallest possible BMP in the supported family: 14-byte file header +
# 40-byte BITMAPINFOHEADER. Shared by the header parser and the video
# walk's skipped-frame sniff so the two cannot drift apart.
_BMP_MIN_SIZE = 14 + 40

DECODED_SCHEMA = (
    "item_id long, width int, height int, n_channels int, "
    "mean_pixel double, ok boolean"
)
AUDIO_SCHEMA = (
    "item_id long, n_channels int, sample_rate int, n_frames int, "
    "mean_abs double, ok boolean"
)
FEATURE_DIM = 16
FEATURE_SCHEMA = "item_id long, feature array<float>"
FRAME_SCHEMA = "item_id long, frame_index int, frame_sha string"


def map_items(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    schema: str,
    fn: Callable[[bytes], Iterable[tuple]],
    fail_row: tuple | None = None,
) -> DataFrame:
    """Run the per-item function ``fn`` over ``binary_col`` in one
    Arrow-batched ``mapInPandas`` with output ``schema`` (DDL whose first
    column is ``item_id long``). ``fn(payload)`` returns the item's rows
    without ``item_id``; each is emitted as ``(item_id, *row)``. With
    ``fail_row``, an exception from ``fn`` emits exactly
    ``(item_id, *fail_row)`` for that item and none of its other rows;
    without it, the exception propagates."""
    out_schema = StructType.fromDDL(schema)
    columns = out_schema.names

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for item_id, payload in zip(pdf["item_id"], pdf["payload"]):
                try:
                    out = list(fn(bytes(payload)))
                except Exception:  # noqa: BLE001 — corrupt payloads yield fail_row
                    if fail_row is None:
                        raise
                    out = [fail_row]
                rows.extend((item_id, *row) for row in out)
            yield pd.DataFrame(rows, columns=columns)

    return df.select(
        F.col(id_col).alias("item_id"), F.col(binary_col).alias("payload")
    ).mapInPandas(run, out_schema)


def encode_bmp(width: int, height: int, fill: int) -> bytes:
    """Minimal 24-bit uncompressed BMP writer (BITMAPINFOHEADER), every
    pixel set to gray level ``fill`` — the deterministic payload builder
    for the decode certificate (constant fill ⇒ decoded mean_pixel ==
    fill EXACTLY, and only if the decoder skips the row padding)."""
    if not (0 < width and 0 < height and 0 <= fill <= 255):
        raise ValueError("bad BMP parameters")
    return _encode_bmp_pixels(
        np.full((height, width, 3), fill, dtype=np.uint8)
    )


def encode_bmp_gradient(width: int, height: int, base: int) -> bytes:
    """24-bit BMP whose pixel at top-down (row r, col c) has gray level
    ``(base + r + 2*c) % 256`` in all 3 channels — the deterministic
    NON-constant payload builder for the resize certificate:
    nearest-neighbor resampling picks specific source rows AND columns
    (``(i*h_src)//out_h``, ``(j*w_src)//out_w``), so the resized image's
    mean is exact integer arithmetic over WHICH (row, col) pairs were
    chosen. An off-by-one on either axis — or a row/col transposition,
    which the asymmetric 1·r + 2·c coefficients expose — changes the
    mean and breaks the oracle hash (a constant fill, or a row-only
    gradient, would be blind to the column half of the index map)."""
    if not (0 < width and 0 < height and 0 <= base <= 255):
        raise ValueError("bad BMP parameters")
    grid = (
        base + np.arange(height)[:, None] + 2 * np.arange(width)[None, :]
    ) % 256
    return _encode_bmp_pixels(
        np.repeat(grid.astype(np.uint8)[:, :, None], 3, axis=2)
    )


def encode_wav(
    samples: np.ndarray, rate: int = 8000, n_channels: int = 1
) -> bytes:
    """Minimal 16-bit PCM WAV writer (stdlib ``wave``) — the deterministic
    payload builder for the audio certificates; the encode inverse of
    ``_wav_samples``'s 16-bit path. Float samples in [-1, 1] quantize by
    ``round(x * 32767)`` (clipped); multichannel input is interleaved
    frame-major, matching the RIFF layout the decoder hands back."""
    import wave

    if rate < 1 or n_channels < 1:
        raise ValueError("need rate >= 1 and n_channels >= 1")
    x = np.asarray(samples, dtype=np.float64)
    if not np.isfinite(x).all():
        # np.clip passes NaN through and int16-casting NaN is
        # platform-UNDEFINED — a nondeterministic payload from a builder
        # whose purpose is deterministic bytes must fail loudly instead
        raise ValueError("non-finite sample values")
    x = np.clip(x, -1.0, 1.0)
    if x.size % n_channels:
        raise ValueError("sample count not divisible by n_channels")
    pcm = np.round(x * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def _parse_bmp_header(
    payload: bytes,
) -> tuple[int, int, int, int, int, bool, int]:
    """Validate and parse a BITMAPINFOHEADER-family BMP: returns
    (pixel-data offset, width, height, channels, row stride, top_down,
    DIB header size). Supports the uncompressed 8/24/32-bit interchange
    subset with a DIB size of 40 (BITMAPINFOHEADER) or its
    layout-compatible extensions 52/56/64/108/124 (V2INFO…V5 + the
    64-byte OS/2 2.x header) — the first 40 bytes share one layout, so
    the field offsets below hold for all of them; anything else (e.g.
    the 12-byte BITMAPCOREHEADER, whose width field is 16-bit at a
    different offset) raises. Raises on anything
    malformed or outside the subset, including a pixel-data offset that
    points back INTO the headers (a crafted offset in [0, 14+dib) would
    otherwise read header bytes as pixels and report ok=True garbage)."""
    if payload[:2] != b"BM" or len(payload) < _BMP_MIN_SIZE:
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", payload, 10)[0]
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    width = struct.unpack_from("<i", payload, 18)[0]
    height_raw = struct.unpack_from("<i", payload, 22)[0]
    planes = struct.unpack_from("<H", payload, 26)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if dib_size not in (40, 52, 56, 64, 108, 124):
        raise ValueError("unsupported DIB header size")
    if planes != 1 or compression != 0 or bpp not in (8, 24, 32):
        raise ValueError("unsupported BMP variant")
    height = abs(height_raw)
    if width <= 0 or height == 0:
        raise ValueError("bad BMP dimensions")
    if offset < 14 + dib_size:
        raise ValueError("pixel-data offset inside headers")
    ch = bpp // 8
    stride = (width * ch + 3) // 4 * 4
    if offset + stride * height > len(payload):
        raise ValueError("truncated BMP pixel data")
    return offset, width, height, ch, stride, height_raw < 0, dib_size


def _decode_bmp(payload: bytes) -> tuple[int, int, int, float]:
    """REAL pure-Python BMP decoder: header parse + pixel read (row
    padding, bottom-up layout, 8-bit palette lookup) → (width, height,
    channels, mean pixel value). Raises on anything malformed, which
    ``decode_images`` maps to ok=False."""
    arr = _decode_bmp_pixels(payload)
    return arr.shape[1], arr.shape[0], arr.shape[2], float(arr.mean())


def _decode_bmp_pixels(payload: bytes) -> np.ndarray:
    """Pixel-level BMP decode → (height, width, channels) uint8 array in
    natural top-down row order (bottom-up files are flipped; padding
    stripped). 8-bit files with a color table map indices through it
    (BGR, → 3 channels); palette-less 8-bit files (pixel data directly
    after the file + DIB headers) are treated as grayscale intensities.
    The color table sits at 14 + dib_size — NOT a hardcoded 54 — so a
    palettized V4/V5-header BMP maps through its actual palette instead
    of silently reading trailing header bytes as colors."""
    offset, width, height, ch, stride, top_down, dib_size = _parse_bmp_header(
        payload
    )
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * height, offset=offset
    ).reshape(height, stride)[:, : width * ch]
    arr = rows.reshape(height, width, ch)
    pal_at = 14 + dib_size
    if ch == 1 and offset > pal_at:
        n_pal = (offset - pal_at) // 4  # BGRA entries between headers & data
        pal = np.frombuffer(
            payload, dtype=np.uint8, count=n_pal * 4, offset=pal_at
        ).reshape(-1, 4)[:, :3]
        if int(arr.max()) >= n_pal:
            raise ValueError("palette index out of range")
        arr = pal[arr[:, :, 0]]  # (h, w, 3) BGR
    return arr if top_down else arr[::-1]


def _encode_bmp_pixels(arr: np.ndarray) -> bytes:
    """Encode a (height, width, 3) uint8 array as a 24-bit uncompressed
    BMP (bottom-up, rows padded to 4 bytes) — the inverse of
    ``_decode_bmp_pixels`` for 3-channel data."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("need (h, w, 3) uint8 pixels")
    height, width = arr.shape[:2]
    stride = (width * 3 + 3) // 4 * 4
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, : width * 3] = arr[::-1].reshape(height, width * 3)
    pixels = rows.tobytes()
    offset = 14 + 40
    header = b"BM" + struct.pack("<IHHI", offset + len(pixels), 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels),
        2835, 2835, 0, 0,
    )
    return header + info + pixels


def _wav_samples(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Shared PCM WAV decode (stdlib ``wave`` RIFF parser): returns
    (n_channels, sample_rate, n_frames, centered float64 samples in
    [-1, 1], interleaved). 8-bit unsigned (centered at 128, /127) and
    16-bit signed LE (/32768) supported."""
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        n_channels = w.getnchannels()
        rate = w.getframerate()
        n_frames = w.getnframes()
        width = w.getsampwidth()
        raw = w.readframes(n_frames)
    if width == 1:
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
        x = (x - 128.0) / 127.0
    elif width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    else:
        raise ValueError("unsupported PCM sample width")
    return n_channels, rate, n_frames, x


def _decode_wav(payload: bytes) -> tuple[int, int, int, float]:
    """REAL WAV decoder: (n_channels, sample_rate, n_frames, mean
    |sample| normalized to [0, 1])."""
    n_channels, rate, n_frames, x = _wav_samples(payload)
    mean_abs = float(np.abs(x).mean()) if x.size else 0.0
    return n_channels, rate, n_frames, mean_abs


def attach_binary_metadata(
    df: DataFrame, binary_col: str, media_type: str
) -> DataFrame:
    """Typed metadata struct next to the payload: (media_type, n_bytes,
    sha256) — computed natively (no Python), usable for dedup/partition
    pruning without touching payload bytes again."""
    b = F.col(binary_col)
    return df.withColumn(
        f"{binary_col}_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.length(b).alias("n_bytes"),
            F.sha2(b, 256).alias("sha256"),
        ),
    )


def _route_bmp_or(payload: bytes, pil_fn, fake_fn):
    """Shared decode routing. A BM magic byte tries the built-in parser
    first, but a BMP variant OUTSIDE its 8/24/32-bit uncompressed subset
    (BI_BITFIELDS, RLE, 16-bpp) falls through to PIL when PIL is
    importable — the sniff must not make a previously-PIL-decodable
    payload undecodable. With no PIL, the parse error propagates (a
    BM-claiming payload we cannot parse is a decode FAILURE, never a
    hash-fake success)."""
    if payload[:2] == b"BM":
        try:
            return _decode_bmp(payload)
        except ValueError:
            if not (_HAS_CODECS and _PIL_Image is not None):
                raise
    elif not (_HAS_CODECS and _PIL_Image is not None):
        return fake_fn(payload)
    return pil_fn(payload)


def _decode_bytes(payload: bytes) -> tuple[int, int, int]:
    """Decode one payload to (width, height, channels).

    BMP payloads decode with the REAL built-in parser (PIL fallback for
    exotic BMP variants); other formats use the real codec (PIL) when it
    is importable, otherwise a deterministic byte-hash fake with the same
    shape and failure modes (corrupt bytes raise inside the codec →
    callers map to ``ok=False``)."""

    def pil(p):
        with _PIL_Image.open(io.BytesIO(p)) as im:
            # palette mode reports true colors (3ch), matching the
            # built-in 8-bit-palette BMP path
            if getattr(im, "mode", None) == "P":
                im = im.convert("RGB")
            return int(im.width), int(im.height), len(im.getbands())

    def fake(p):
        h = hashlib.sha256(p).digest()
        return 16 + h[0] % 64, 16 + h[1] % 64, 3

    return _route_bmp_or(payload, pil, fake)[:3]


def _decode_bytes_full(payload: bytes) -> tuple[int, int, int, float]:
    """Like ``_decode_bytes`` but with the mean pixel value (real for BMP
    and PIL; hash-derived for the fake path)."""

    def pil(p):
        with _PIL_Image.open(io.BytesIO(p)) as im:
            # palette mode must average COLORS, not palette indices —
            # consistent with the built-in BMP path, which maps 8-bit
            # indices through the color table before the mean
            if getattr(im, "mode", None) == "P":
                im = im.convert("RGB")
            arr = np.asarray(im, dtype=np.float64)
            return (
                int(im.width),
                int(im.height),
                len(im.getbands()),
                float(arr.mean()),
            )

    def fake(p):
        h = hashlib.sha256(p).digest()
        return 16 + h[0] % 64, 16 + h[1] % 64, 3, float(h[2])

    return _route_bmp_or(payload, pil, fake)


def decode_images(
    df: DataFrame, id_col: str = "item_id", binary_col: str = "payload"
) -> DataFrame:
    """Image decode: binary → (dims, mean_pixel, ok); corrupt payloads
    yield ok=False."""
    return map_items(
        df, id_col, binary_col, DECODED_SCHEMA,
        lambda p: [(*_decode_bytes_full(p), True)],
        fail_row=(0, 0, 0, 0.0, False),
    )


VIDEO_FRAME_SCHEMA = (
    "item_id long, frame_index int, width int, height int, "
    "mean_pixel double, ok boolean"
)


def encode_video(frames: list[bytes]) -> bytes:
    """Pack encoded image frames into the minimal length-prefixed
    container ``b'VID0' + [<u32 length><frame bytes>]*`` — an
    uncompressed MJPEG-shaped stand-in (no video codec ships in this
    container) whose STRUCTURE is really parsed back by
    ``sample_video_frames``."""
    out = [b"VID0"]
    for f in frames:
        out.append(struct.pack("<I", len(f)))
        out.append(f)
    return b"".join(out)


def sample_video_frames(
    df: DataFrame,
    every_n: int = 2,
    max_frames: int = 8,
    id_col: str = "item_id",
    binary_col: str = "payload",
) -> DataFrame:
    """REAL frame extraction over a video-shaped binary column: walk the
    VID0 container's length-prefixed frame table, take every
    ``every_n``-th frame up to ``max_frames``, and DECODE each sampled
    frame (real BMP parse → dims + pixel mean). One row out per sampled
    frame (UDTF shape, 1→N); a malformed container structure or a corrupt
    WALKED frame surfaces as EXACTLY one ok=False row (no partial ok=True
    rows), and a valid zero-frame container yields one
    frame_index=-1/ok=True marker row — every input item is accounted
    for in the output. Validation scope: the walk stops once
    ``max_frames`` samples are taken (early exit is the point of
    sampling), so bytes AFTER the last sampled frame are never inspected;
    frames skipped by ``every_n`` inside the walked prefix get their
    length-prefixed structure checked and a BMP magic sniff, but only
    sampled frames are fully decoded. Complements ``sample_frames`` (byte-chunk
    sampling for opaque payloads) with the parse-the-container path a
    real video pipeline uses.

    Caller-parameter errors raise HERE, before any Spark job (the
    executor's broad except must only ever see data errors)."""
    if every_n < 1 or max_frames < 1:
        raise ValueError("need every_n >= 1 and max_frames >= 1")
    return map_items(
        df, id_col, binary_col, VIDEO_FRAME_SCHEMA,
        lambda p: _video_frames(p, every_n, max_frames),
        fail_row=(-1, 0, 0, 0.0, False),
    )


def _video_frames(
    data: bytes, every_n: int, max_frames: int
) -> list[tuple[int, int, int, float, bool]]:
    """Walk one VID0 container (see ``sample_video_frames``) → its
    (frame_index, width, height, mean_pixel, ok) rows; raises on a
    malformed container or a corrupt walked frame."""
    if data[:4] != b"VID0":
        raise ValueError("not a VID0 container")
    rows = []
    pos, idx = 4, 0
    while pos < len(data) and len(rows) < max_frames:
        if pos + 4 > len(data):
            raise ValueError("truncated frame header")
        (ln,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if pos + ln > len(data):
            raise ValueError("truncated frame body")
        if idx % every_n == 0:
            w, h, _c, m = _decode_bmp(data[pos : pos + ln])
            rows.append((idx, w, h, m, True))
        elif ln < _BMP_MIN_SIZE or data[pos : pos + 2] != b"BM":
            # skipped frames in the walked prefix still get a structure
            # check — cheap corruption detection without a full decode.
            # The ln guard keeps the sniff INSIDE the frame: a <2-byte
            # frame's slice would otherwise read the next frame's length
            # prefix (and no valid BMP is smaller than _BMP_MIN_SIZE)
            raise ValueError("skipped frame not a BMP")
        pos += ln
        idx += 1
    return rows or [(-1, 0, 0, 0.0, True)]  # valid but zero-frame container


RESIZED_SCHEMA = (
    "item_id long, payload binary, width int, height int, ok boolean"
)


def _resize_pixels(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor index-map resample of a (h, w, ch) array to
    (height, width, ch): output pixel (i, j) reads source pixel
    ``((i*h_src)//height, (j*w_src)//width)`` — the standard floor map
    (downsampling selects, upsampling replicates). Factored out of
    ``resize_images`` so the index arithmetic is property-testable
    against a brute-force per-pixel reference without a Spark job."""
    ys = (np.arange(height) * arr.shape[0]) // height
    xs = (np.arange(width) * arr.shape[1]) // width
    return np.ascontiguousarray(arr[ys][:, xs])


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "item_id",
    binary_col: str = "payload",
) -> DataFrame:
    """REAL image resize over a binary column: decode BMP pixels,
    nearest-neighbor resample to (width, height) in numpy, re-encode as
    24-bit BMP. 8-bit gray inputs replicate to 3 channels; 32-bit inputs
    drop alpha; undecodable payloads surface ok=False with an empty
    payload. One Arrow-batched mapInPandas pass — the thumbnail /
    normalize-resolution stage of a multimodal pipeline, entirely inside
    the scan partitioning."""
    if width <= 0 or height <= 0:
        raise ValueError("target dims must be positive")

    def resize(payload: bytes) -> list[tuple]:
        arr = _decode_bmp_pixels(payload)
        if arr.shape[2] == 1:
            arr = np.repeat(arr, 3, axis=2)
        elif arr.shape[2] == 4:
            arr = arr[:, :, :3]
        out = _resize_pixels(arr, width, height)
        return [(_encode_bmp_pixels(out), width, height, True)]

    return map_items(
        df, id_col, binary_col, RESIZED_SCHEMA, resize,
        fail_row=(b"", 0, 0, False),
    )


DHASH_SCHEMA = "item_id long, dhash long, ok boolean"


def _dhash_bits(payload: bytes, hash_w: int, hash_h: int) -> int:
    """REAL difference-hash of one image payload: decode pixels, gray =
    channel mean, nearest-neighbor resample to (hash_h, hash_w + 1),
    then bit k = r*hash_w + c is set iff gray[r, c+1] > gray[r, c] —
    the standard dHash construction (row-major little-endian packing).
    hash_w * hash_h must stay ≤ 62 so the packed value is a positive
    int64 on every engine."""
    arr = _decode_bmp_pixels(payload)
    small = _resize_pixels(arr, hash_w + 1, hash_h).astype(np.float64)
    gray = small.mean(axis=2)
    bits = gray[:, 1:] > gray[:, :-1]  # (hash_h, hash_w)
    return int(
        sum(1 << (r * hash_w + c)
            for r in range(hash_h) for c in range(hash_w) if bits[r, c])
    )


def image_dhash(
    df: DataFrame,
    id_col: str = "item_id",
    binary_col: str = "payload",
    hash_w: int = 7,
    hash_h: int = 8,
) -> DataFrame:
    """mapInPandas REAL perceptual image fingerprint (dHash): binary →
    56-bit difference hash (default 7×8 grid). Near-identical images —
    re-encodes, NN rescales, small local edits — land within a small
    Hamming distance, so this is the IMAGE near-dup analogue of text
    SimHash and pairs with the SAME pigeonhole engine
    (``dedup/simhash.py::hamming_near_pairs``), closing the
    multimodal×dedup intersection: the existing image dedup was
    byte-sha256 exact only. Exactly scale-invariant under integer-factor
    NN upscaling (the resample picks the original pixels back — property
    test). Junk payloads surface ok=False; the decode/resample work rides
    the scan partitioning — no shuffle, no driver traffic."""
    if hash_w < 1 or hash_h < 1 or hash_w * hash_h > 62:
        raise ValueError("need 1 <= hash_w*hash_h <= 62 (positive int64)")
    return map_items(
        df, id_col, binary_col, DHASH_SCHEMA,
        lambda p: [(_dhash_bits(p, hash_w, hash_h), True)],
        fail_row=(0, False),
    )


PHASH_SCHEMA = "item_id long, phash long, ok boolean"

_DCT_CACHE: dict[int, np.ndarray] = {}


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II matrix (D @ D.T == I): row u, col i holds
    s(u)·cos(π·(2i+1)·u / 2n) with s(0)=√(1/n), s(u>0)=√(2/n). NumPy
    only — no scipy in this container."""
    D = _DCT_CACHE.get(n)
    if D is None:
        i = np.arange(n)
        u = np.arange(n)[:, None]
        D = np.cos(np.pi * (2 * i[None, :] + 1) * u / (2 * n))
        D[0] *= np.sqrt(1.0 / n)
        D[1:] *= np.sqrt(2.0 / n)
        _DCT_CACHE[n] = D
    return D


def _phash_bits(payload: bytes, hash_size: int = 8, img_size: int = 32) -> int:
    """REAL perceptual hash (pHash, the DCT construction): decode
    pixels, gray = channel mean, NN-resample to img_size², 2-D
    orthonormal DCT-II, keep the top-left hash_size² low-frequency
    block, drop the DC term, and set bit k = u·hash_size + v − 1 iff
    coefficient (u, v) exceeds the MEAN of the block's AC coefficients
    (the mean variant of the classic median rule — strict inequality,
    engine-independent for coefficients off the mean). 63 bits at the
    8×8 default (positive int64 on every engine)."""
    if hash_size < 2 or hash_size * hash_size - 1 > 63:
        raise ValueError("need 2 <= hash_size and hash_size^2 - 1 <= 63")
    arr = _decode_bmp_pixels(payload)
    small = _resize_pixels(arr, img_size, img_size).astype(np.float64)
    gray = small.mean(axis=2)
    D = _dct_matrix(img_size)
    coef = D @ gray @ D.T
    block = coef[:hash_size, :hash_size].ravel()[1:]  # drop DC
    mean = block.mean()
    bits = block > mean
    return int(sum(1 << k for k in range(len(bits)) if bits[k]))


def image_phash(
    df: DataFrame,
    id_col: str = "item_id",
    binary_col: str = "payload",
    hash_size: int = 8,
    img_size: int = 32,
) -> DataFrame:
    """mapInPandas REAL perceptual image fingerprint (pHash): binary →
    63-bit low-frequency DCT sign hash. The frequency-domain sibling of
    ``image_dhash``: dHash keys on local gradients (robust to
    re-encodes/rescales), pHash keys on the global low-frequency
    structure (additionally robust to small translations, blur, and
    high-frequency noise — the DCT block discards everything above the
    8/32 band). Pairs with the SAME pigeonhole engine
    (``dedup/simhash.py::hamming_near_pairs``), so the multimodal×dedup
    intersection now has both standard perceptual-hash constructions.
    Junk payloads surface ok=False; decode/DCT work rides the scan
    partitioning — no shuffle, no driver traffic."""
    return map_items(
        df, id_col, binary_col, PHASH_SCHEMA,
        lambda p: [(_phash_bits(p, hash_size, img_size), True)],
        fail_row=(0, False),
    )


AUDIO_FEATURE_SCHEMA = (
    "item_id long, n_frames int, feature array<float>, ok boolean"
)


def _wav_band_energies(
    payload: bytes, n_fft: int, hop: int, n_bands: int
) -> np.ndarray:
    """Per-frame band-energy matrix from one PCM WAV payload (numpy only,
    no third-party audio libs): decode samples via the stdlib RIFF
    parser, average channels to mono, frame with ``hop``, Hann-window
    each frame, take |rFFT|² power, and average the power spectrum into
    ``n_bands`` equal frequency bands → (n_frames, n_bands). Shared by
    ``audio_features`` (which log1p-means it over frames) and the
    spectral fingerprint (which takes time-gradients of it)."""
    n_channels, _rate, _nf, x = _wav_samples(payload)
    if n_channels > 1:
        x = x.reshape(-1, n_channels).mean(axis=1)
    if len(x) < n_fft:  # zero-pad one short frame
        x = np.pad(x, (0, n_fft - len(x)))
    starts = range(0, len(x) - n_fft + 1, hop)
    win = np.hanning(n_fft)
    frames = np.stack([x[s : s + n_fft] * win for s in starts])
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2  # (n_frames, n_fft//2+1)
    # equal-width bands over the positive spectrum (drop the Nyquist bin
    # remainder into the last band)
    n_bins = power.shape[1]
    edges = np.linspace(0, n_bins, n_bands + 1).astype(int)
    return np.stack(
        [power[:, edges[b] : edges[b + 1]].mean(axis=1) for b in range(n_bands)],
        axis=1,
    )


def _wav_band_features(
    payload: bytes, n_fft: int, hop: int, n_bands: int
) -> tuple[int, list[float]]:
    """REAL spectral features from one PCM WAV payload: per-frame band
    energies (``_wav_band_energies``), then log1p and mean over frames →
    a fixed-size loudness-of-band profile. Returns (n_frames, feature)."""
    bands = _wav_band_energies(payload, n_fft, hop, n_bands)
    feat = np.log1p(bands).mean(axis=0)
    return len(bands), [float(v) for v in feat]


def _spectral_fp_bits(
    payload: bytes,
    n_fft: int = 64,
    hop: int = 32,
    n_bands: int = 8,
    t_steps: int = 8,
) -> int:
    """REAL multi-band spectral audio fingerprint — the full Haitsma &
    Kalker (2002) construction (the 1-band energy-difference form is
    ``_audio_fp_bits``): per-frame band energies E[t, b], then bit
    (t, b) is set iff the time-gradient of band b exceeds the
    time-gradient of band b+1 at step t:

        (E[t+1, b] − E[t, b]) − (E[t+1, b+1] − E[t, b+1]) > 0

    over t ∈ [0, t_steps) and b ∈ [0, n_bands−1), packed little-endian
    at k = t·(n_bands−1) + b — (n_bands−1)·t_steps bits (56 at the
    defaults, the pigeonhole-ready width). The double difference makes
    the hash invariant to global volume change AND to any per-FRAME
    gain that is constant across bands. Raises if the payload has fewer
    than t_steps+1 frames."""
    if not (n_bands >= 2 and t_steps >= 1):
        raise ValueError("need n_bands >= 2 and t_steps >= 1")
    if (n_bands - 1) * t_steps > 62:
        raise ValueError("fingerprint wider than a positive int64")
    E = _wav_band_energies(payload, n_fft, hop, n_bands)
    if len(E) < t_steps + 1:
        raise ValueError("payload shorter than the fingerprint window")
    E = E[: t_steps + 1]
    d = np.diff(E, axis=0)  # (t_steps, n_bands) time-gradients
    bits = (d[:, :-1] - d[:, 1:]) > 0  # (t_steps, n_bands-1)
    return int(
        sum(
            1 << (t * (n_bands - 1) + b)
            for t in range(t_steps)
            for b in range(n_bands - 1)
            if bits[t, b]
        )
    )


def audio_features(
    df: DataFrame,
    id_col: str = "item_id",
    binary_col: str = "payload",
    n_fft: int = 256,
    hop: int = 128,
    n_bands: int = 8,
) -> DataFrame:
    """mapInPandas REAL audio feature extraction: PCM WAV → per-item
    ``n_bands`` log band-energy profile (array<float>, ann.py-ready) +
    frame count. Same Arrow batch flow as ``decode_images``; junk
    payloads surface as ok=False. The FFT work rides inside the
    scan-partitioned map — no shuffle, no driver traffic.

    Caller-parameter errors raise HERE (before any Spark job), never
    inside the executor loop where the broad except would convert them
    into universal ok=False rows indistinguishable from corrupt data."""
    if n_fft < 2 or hop < 1:
        raise ValueError("need n_fft >= 2 and hop >= 1")
    if not (1 <= n_bands <= n_fft // 2 + 1):
        raise ValueError(
            f"n_bands must be in [1, n_fft//2+1] = [1, {n_fft // 2 + 1}] "
            "(more bands than rfft bins yields empty bands -> NaN)"
        )
    return map_items(
        df, id_col, binary_col, AUDIO_FEATURE_SCHEMA,
        lambda p: [(*_wav_band_features(p, n_fft, hop, n_bands), True)],
        fail_row=(0, [0.0] * n_bands, False),
    )


AUDIO_FP_SCHEMA = "item_id long, afp long, ok boolean"


def _audio_fp_bits(payload: bytes, frame_len: int, n_bits: int) -> int:
    """REAL energy-difference audio fingerprint of one PCM WAV payload —
    the Haitsma & Kalker (2002) robust-hash construction collapsed to one
    energy band: decode via the stdlib RIFF parser, average channels to
    mono, cut the first ``n_bits + 1`` NON-overlapping frames of
    ``frame_len`` samples, E_k = mean(x_k²), and bit k is set iff
    E[k+1] > E[k] (little-endian packing — the same sign-of-gradient idea
    as the image dHash, over time instead of space). Invariant to global
    amplitude scaling (all energies scale by c², comparisons unchanged).
    Raises if the payload is shorter than the fingerprint window — a
    truncated clip would otherwise silently fingerprint as a quiet tail."""
    n_channels, _rate, _nf, x = _wav_samples(payload)
    if n_channels > 1:
        x = x.reshape(-1, n_channels).mean(axis=1)
    need = (n_bits + 1) * frame_len
    if len(x) < need:
        raise ValueError("payload shorter than the fingerprint window")
    frames = x[:need].reshape(n_bits + 1, frame_len)
    e = (frames * frames).mean(axis=1)
    bits = e[1:] > e[:-1]
    return int(sum(1 << k for k in range(n_bits) if bits[k]))


def audio_fingerprint(
    df: DataFrame,
    id_col: str = "item_id",
    binary_col: str = "payload",
    frame_len: int = 256,
    n_bits: int = 56,
) -> DataFrame:
    """mapInPandas REAL perceptual AUDIO fingerprint (energy-difference
    hash): binary WAV → ``n_bits``-bit robust hash. Near-identical clips —
    re-encodes, volume changes, small local edits — land within a small
    Hamming distance, so this is the AUDIO near-dup analogue of the image
    dHash and pairs with the SAME pigeonhole engine
    (``dedup/simhash.py::hamming_near_pairs``) — the last modality×dedup
    intersection (audio dedup was byte-sha exact only). Junk payloads
    surface ok=False; the decode/energy work rides the scan partitioning —
    no shuffle, no driver traffic.

    Caller-parameter errors raise HERE (before any Spark job), never
    inside the executor loop where the broad except would convert them
    into universal ok=False rows indistinguishable from corrupt data."""
    if frame_len < 1:
        raise ValueError("need frame_len >= 1")
    if not (1 <= n_bits <= 62):
        raise ValueError("need 1 <= n_bits <= 62 (positive int64)")
    return map_items(
        df, id_col, binary_col, AUDIO_FP_SCHEMA,
        lambda p: [(_audio_fp_bits(p, frame_len, n_bits), True)],
        fail_row=(0, False),
    )


def audio_fingerprint_spectral(
    df: DataFrame,
    id_col: str = "item_id",
    binary_col: str = "payload",
    n_fft: int = 64,
    hop: int = 32,
    n_bands: int = 8,
    t_steps: int = 8,
) -> DataFrame:
    """mapInPandas multi-band spectral audio fingerprint (the full
    Haitsma–Kalker construction, ``_spectral_fp_bits``): binary WAV →
    (n_bands−1)·t_steps-bit robust hash (56 at the defaults — drop-in
    for the same pigeonhole pairing as the 1-band form, which remains
    the registered oracle-checkable query; FFT bits are not
    SQL-restatable, so this variant is library + property-test
    surface). Same Arrow batch flow and ok=False convention as
    ``audio_fingerprint``; all FFT work rides the scan partitioning."""
    if not (n_bands >= 2 and t_steps >= 1) or (n_bands - 1) * t_steps > 62:
        raise ValueError(
            "need n_bands >= 2, t_steps >= 1, (n_bands-1)*t_steps <= 62"
        )
    if n_fft < 2 or hop < 1:
        raise ValueError("need n_fft >= 2 and hop >= 1")
    return map_items(
        df, id_col, binary_col, AUDIO_FP_SCHEMA,
        lambda p: [(_spectral_fp_bits(p, n_fft, hop, n_bands, t_steps), True)],
        fail_row=(0, False),
    )


def decode_audio(
    df: DataFrame, id_col: str = "item_id", binary_col: str = "payload"
) -> DataFrame:
    """WAV decode: binary → (n_channels, sample_rate, n_frames, mean_abs,
    ok) through the REAL stdlib RIFF parser; corrupt payloads yield
    ok=False."""
    return map_items(
        df, id_col, binary_col, AUDIO_SCHEMA,
        lambda p: [(*_decode_wav(p), True)],
        fail_row=(0, 0, 0, 0.0, False),
    )


def _hash_feature(payload: bytes) -> list[float]:
    """Fixed-dim float vector from the payload's sha256: element j is the
    mean of bytes 2j and 2j+1, over 255, in float32."""
    h = hashlib.sha256(payload).digest()
    vec = (
        np.frombuffer(h[:FEATURE_DIM * 2], dtype=np.uint8)
        .astype(np.float32)
        .reshape(FEATURE_DIM, 2)
        .mean(axis=1)
        / 255.0
    )
    return vec.tolist()


def extract_features(
    df: DataFrame, id_col: str = "item_id", binary_col: str = "payload"
) -> DataFrame:
    """Feature extraction: binary → fixed-dim float vector (deterministic
    byte-hash fake; a real model would run here). Output is
    ann.py-compatible (array<float>). Every payload maps, so there is no
    ok column and an error fails the job."""
    return map_items(
        df, id_col, binary_col, FEATURE_SCHEMA,
        lambda p: [(_hash_feature(p),)],
    )


def sample_frames(
    df: DataFrame,
    every_n_bytes: int = 1024,
    max_frames: int = 8,
    id_col: str = "item_id",
    binary_col: str = "payload",
) -> DataFrame:
    """Frame-sampling plumbing for video-shaped payloads: emits ≤max_frames
    (item, frame_index, frame_sha) rows per item — the UDTF shape (1 input
    row → N output rows). An error fails the job."""

    def sample(data: bytes) -> list[tuple[int, str]]:
        n = min(max_frames, max(1, len(data) // every_n_bytes))
        chunks = (data[i * every_n_bytes : (i + 1) * every_n_bytes] for i in range(n))
        return [(i, hashlib.sha256(c).hexdigest()[:16]) for i, c in enumerate(chunks)]

    return map_items(df, id_col, binary_col, FRAME_SCHEMA, sample)

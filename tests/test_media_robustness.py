"""Malformed-payload robustness matrix for the media codecs.

Contract (reference parity: base_checker.rs never dies on one bad row —
the same checker-grade robustness applied to media): every public parser
confines ALL malformed-input failures to the normalized error surface
(MediaCodecError | ValueError | NotImplementedError). A truncated or
bit-flipped file from a real crawl corpus must never surface struct.error /
zlib.error / IndexError / EOFError from codec guts — those escape the
multimodal fake=True corrupt-tolerance catches and would crash a mixed
100 TB decode job.

Matrix: every format x (header-cut, body-cut, tail-cut, every truncation
point, single-byte flips at a stride). Plus Spark-level proofs that the
multimodal catch sites and decode_image's errors= quarantine modes actually
absorb corrupt rows.
"""

from __future__ import annotations

import numpy as np
import pytest

from ape_dts_spark.functions import media_codec as mc
from ape_dts_spark.functions import multimodal as mm

OK_ERRORS = (mc.MediaCodecError, ValueError, NotImplementedError)

_RNG = np.random.default_rng(20260816)
_PX = _RNG.integers(0, 256, (16, 16, 3), dtype=np.uint8)
_GRAY = _RNG.integers(0, 256, (16, 16), dtype=np.uint8)
_PAL = _RNG.integers(0, 256, (64, 3), dtype=np.uint8)
_SAMPLES = _RNG.integers(-2000, 2000, 800).astype(np.int16)
_FRAMES = [_RNG.integers(0, 256, (8, 8, 3), dtype=np.uint8) for _ in range(3)]
_SOF1 = bytearray(mc.encode_jpeg(_PX))
_SOF1[bytes(_SOF1).find(b"\xff\xc0") + 1] = 0xC1  # extended sequential

PAYLOADS = {
    "png": (mc.encode_png(_PX), mc.parse_png),
    "png_adam7": (mc.encode_png(_GRAY, interlace=True), mc.parse_png),
    "bmp": (mc.encode_bmp(_PX), mc.parse_bmp),
    "gif": (mc.encode_gif([_GRAY % 64, (_GRAY // 2) % 64], _PAL), mc.parse_gif),
    "jpeg": (mc.encode_jpeg(_PX), mc.decode_jpeg),
    "jpeg_prog": (mc.encode_jpeg_progressive(_GRAY), mc.decode_jpeg),
    "jpeg_420_rst": (mc.encode_jpeg(_PX, "420", restart_interval=1), mc.decode_jpeg),
    "jpeg_prog_420_rst": (
        mc.encode_jpeg_progressive(_PX, "420", restart_interval=2), mc.decode_jpeg,
    ),
    "jpeg_sof1": (bytes(_SOF1), mc.decode_jpeg),
    "wav": (mc.encode_wav(_SAMPLES, 8000), mc.parse_wav),
    "avi": (mc.encode_avi(_FRAMES, audio=_SAMPLES[:300]), mc.parse_avi),
    "avi_ima": (
        mc.encode_avi(_FRAMES, audio=_SAMPLES[:300], audio_format=0x11),
        mc.parse_avi,
    ),
    "tiff": (mc.encode_tiff(_PX, packbits=True), mc.parse_tiff),
    "tiff_lzw": (mc.encode_tiff(_PX, lzw=True, predictor=2), mc.parse_tiff),
    "tiff_jpeg": (mc.encode_tiff(_PX, jpeg=True, rows_per_strip=8), mc.parse_tiff),
    "tiff_tiled": (mc.encode_tiff(_PX, lzw=True, tiles=(8, 8)), mc.parse_tiff),
    "netpbm_raw": (mc.encode_netpbm(_PX), mc.parse_netpbm),
    "netpbm_ascii": (mc.encode_netpbm(_GRAY, ascii_format=True), mc.parse_netpbm),
}


@pytest.mark.parametrize("fmt", sorted(PAYLOADS))
def test_every_truncation_point_is_confined(fmt):
    payload, parse = PAYLOADS[fmt]
    for cut in range(len(payload)):
        try:
            parse(payload[:cut])
        except OK_ERRORS:
            pass
        # anything else (struct.error, zlib.error, IndexError, EOFError,
        # KeyError, MemoryError...) propagates and fails the test


@pytest.mark.parametrize("fmt", sorted(PAYLOADS))
def test_header_cut_raises(fmt):
    payload, parse = PAYLOADS[fmt]
    for cut in (0, 4, 10, 20):
        with pytest.raises(OK_ERRORS):
            parse(payload[:cut])


@pytest.mark.parametrize("fmt", sorted(PAYLOADS))
def test_single_byte_flips_are_confined(fmt):
    payload, parse = PAYLOADS[fmt]
    good = None
    if not fmt.startswith("jpeg"):  # lossy stats differ per flip site
        good = parse(payload)
    for i in range(len(payload)):
        b = bytearray(payload)
        b[i] ^= 0xFF
        try:
            rec = parse(bytes(b))
            # a flip that decodes anyway must still produce a sane record
            if good is not None and "width" in rec:
                assert 0 < rec["width"] <= mc._MAX_DIM
        except OK_ERRORS:
            pass


def test_parse_image_truncation_matches_judge_repro():
    # the exact r12 repro: parse_image(png[:20]) / [:50] raised struct.error
    png = PAYLOADS["png"][0]
    for cut in (20, 50):
        with pytest.raises(mc.MediaCodecError, match="malformed png payload"):
            mc.parse_image(png[:cut])


def test_implausible_dimensions_raise_not_allocate():
    # bit-flip the IHDR height field to 0xFF......: must raise MediaCodecError,
    # not attempt a multi-GiB numpy allocation
    png = bytearray(PAYLOADS["png"][0])
    ihdr_h = 8 + 8 + 4  # sig + len/tag + width
    png[ihdr_h] = 0xFF
    import binascii
    import struct as st
    body = bytes(png[16:16 + 13])
    png[16 + 13:16 + 17] = st.pack(">I", binascii.crc32(b"IHDR" + body))
    with pytest.raises(mc.MediaCodecError, match="implausible dimensions"):
        mc.parse_png(bytes(png))


def test_capability_boundaries_stay_notimplemented():
    # the guard must NOT convert honest capability boundaries
    g = _GRAY[:4, :5]
    bad = bytearray(mc.encode_tiff(g))
    bad[8 + 2 + 3 * 12 + 8] = 9  # compression -> 9 (JBIG): unsupported
    with pytest.raises(NotImplementedError):
        mc.parse_tiff(bytes(bad))


# ---------------------------------------------------------------------------
# Spark-level: the multimodal fake=True catches and decode_image errors=
# modes provably absorb corrupt rows
# ---------------------------------------------------------------------------


def _mixed_corpus(spark):
    png = PAYLOADS["png"][0]
    jpg = PAYLOADS["jpeg"][0]
    bmp = PAYLOADS["bmp"][0]
    rows = [
        (1, png),               # good
        (2, jpg),               # good
        (3, bmp),               # good
        (4, png[:20]),          # truncated header (the r12 bug)
        (5, png[:len(png) // 2]),  # truncated body (cut zlib stream)
        (6, jpg[:40]),          # truncated JPEG
        (7, b"\x89PNG\r\n\x1a\n" + b"\x00" * 30),  # sniffs as PNG, garbage
        (8, b"not an image at all"),
    ]
    return spark.createDataFrame(rows, "id long, payload binary"), rows


def test_decode_image_meta_fake_absorbs_corrupt_rows(spark):
    df, rows = _mixed_corpus(spark)
    out = mm.decode_image_meta(df, fake=True).orderBy("id").collect()
    assert len(out) == len(rows)  # nothing crashed, nothing dropped
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["width"] == 16 and by_id[1]["n_channels"] == 3
    for rid in (4, 5, 6, 7, 8):  # corrupt rows fell through to the stand-in
        assert by_id[rid]["width"] > 0


def test_extract_features_fake_absorbs_corrupt_rows(spark):
    df, rows = _mixed_corpus(spark)
    out = mm.extract_features(df, fake=True, dim=4).orderBy("id").collect()
    assert len(out) == len(rows)
    for r in out:
        assert len(r["features"]) == 4


def test_decode_image_errors_null_quarantines(spark):
    df, rows = _mixed_corpus(spark)
    out = mc.decode_image(df, errors="null").orderBy("id").collect()
    assert len(out) == len(rows)
    by_id = {r["id"]: r for r in out}
    for rid in (1, 2, 3):
        assert by_id[rid]["error"] is None and by_id[rid]["width"] == 16
    for rid in (4, 5, 6, 7, 8):
        assert by_id[rid]["error"] is not None and by_id[rid]["width"] is None
    # the dead-letter split: quarantine relation + clean relation partition the input
    decoded = mc.decode_image(df, errors="null")
    assert decoded.filter("error IS NOT NULL").count() == 5
    assert decoded.filter("error IS NULL").count() == 3


def test_decode_image_errors_skip_drops(spark):
    df, _rows = _mixed_corpus(spark)
    out = mc.decode_image(df, errors="skip").orderBy("id").collect()
    assert [r["id"] for r in out] == [1, 2, 3]
    assert all(r["error"] is None for r in out)


def test_decode_image_errors_raise_default(spark):
    df, _rows = _mixed_corpus(spark)
    from py4j.protocol import Py4JJavaError
    with pytest.raises(Exception):
        mc.decode_image(df).collect()


def test_audio_video_gif_quarantine_modes(spark):
    """r13: the audio/video/GIF sampling paths carry the same errors=
    raise/skip/null contract as decode_image."""
    wav = mc.encode_wav(_SAMPLES, 8000)
    avi = mc.encode_avi(_FRAMES, audio=_SAMPLES[:300])
    gif = PAYLOADS["gif"][0]

    adf = spark.createDataFrame(
        [(1, wav), (2, avi), (3, wav[:30]), (4, b"not audio")],
        "id long, payload binary",
    )
    rows = mm.extract_audio_features(adf, errors="null").orderBy("id").collect()
    assert [r["id"] for r in rows] == [1, 2, 3, 4]
    assert rows[0]["error"] is None and rows[1]["error"] is None
    assert rows[2]["error"] is not None and rows[2]["sample_rate"] is None
    assert rows[3]["error"] is not None
    kept = mm.extract_audio_features(adf, errors="skip").select("id").collect()
    assert sorted(r["id"] for r in kept) == [1, 2]
    with pytest.raises(Exception):
        mm.extract_audio_features(adf).collect()

    vdf = spark.createDataFrame(
        [(1, avi), (2, avi[:40]), (3, b"RIFFxxxxAVI garbage")],
        "id long, payload binary",
    )
    vrows = mm.sample_video_frames(vdf, errors="null").collect()
    good = [r for r in vrows if r["error"] is None]
    bad = [r for r in vrows if r["error"] is not None]
    assert {r["id"] for r in good} == {1} and len(good) == 3
    assert sorted(r["id"] for r in bad) == [2, 3]
    assert {r["id"] for r in mm.sample_video_frames(vdf, errors="skip").collect()} == {1}

    gdf = spark.createDataFrame(
        [(1, gif), (2, gif[:25]), (3, b"GIF89a" + b"\xff" * 4)],
        "id long, payload binary",
    )
    grows = mm.sample_gif_frames(gdf, errors="null").collect()
    assert {r["id"] for r in grows if r["error"] is None} == {1}
    assert sorted(r["id"] for r in grows if r["error"] is not None) == [2, 3]
    assert {r["id"] for r in mm.sample_gif_frames(gdf, errors="skip").collect()} == {1}


@pytest.mark.parametrize("every_n", [0, -1])
@pytest.mark.parametrize(
    "sampler", [mm.sample_gif_frames, mm.sample_video_frames, mm.video_fingerprints]
)
@pytest.mark.parametrize("errors", ["raise", "null"])
def test_frame_stride_below_one_is_an_argument_error(spark, sampler, every_n, errors):
    """A frame stride below 1 raises ValueError when the sampler is called,
    before any payload decodes: a negative stride would yield no frame rows
    and 0 would fail inside each payload, where errors=null/skip turn it
    into dead letters."""
    df = spark.createDataFrame([(1, b"GIF89a")], "id long, payload binary")
    with pytest.raises(ValueError, match="every_n"):
        sampler(df, every_n=every_n, errors=errors)

"""Real PNG/WAV codecs: hand-computed spec vectors (every PNG filter type
reconstructed by hand per https://www.w3.org/TR/png-3/), writer/parser
round-trips, corruption detection, and the distributed decode paths."""

import struct
import zlib
from binascii import crc32

import numpy as np
import pytest

from ape_dts_spark.functions import media_codec as mc


def _hand_png(w, h, filtered_scanlines: bytes, color_type=0, bit_depth=8) -> bytes:
    """Assemble a PNG from HAND-WRITTEN filtered scanline bytes — independent
    of encode_png, so parser bugs can't hide behind writer symmetry."""
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 0)

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc32(tag + body) & 0xFFFFFFFF)

    return (
        mc.PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(filtered_scanlines))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# hand vectors, one per filter type
# ---------------------------------------------------------------------------


def test_png_filter0_none_hand():
    # 3x1 gray [10, 20, 30], filter 0: bytes pass through
    out = mc.parse_png(_hand_png(3, 1, bytes([0, 10, 20, 30])))
    assert (out["px_sum"], out["px_min"], out["px_max"], out["n_px"]) == (60, 10, 30, 3)


def test_png_filter1_sub_hand():
    # raw [10, 20, 30] -> Sub filtered [10, 10, 10] (each minus left)
    out = mc.parse_png(_hand_png(3, 1, bytes([1, 10, 10, 10])))
    assert (out["px_sum"], out["px_min"], out["px_max"]) == (60, 10, 30)


def test_png_filter2_up_hand():
    # row0 raw [5, 6] (filter 0); row1 raw [15, 26] -> Up filtered [10, 20]
    out = mc.parse_png(_hand_png(2, 2, bytes([0, 5, 6, 2, 10, 20])))
    assert (out["px_sum"], out["px_min"], out["px_max"]) == (5 + 6 + 15 + 26, 5, 26)


def test_png_filter3_average_hand():
    # raw rows [100,200] / [50,250]; Average-filtered per spec:
    # row0: [100-0, 200-floor(100/2)] = [100, 150]
    # row1: [50-floor((0+100)/2), 250-floor((50+200)/2)] = [0, 125]
    out = mc.parse_png(_hand_png(2, 2, bytes([3, 100, 150, 3, 0, 125])))
    assert (out["px_sum"], out["px_min"], out["px_max"]) == (600, 50, 250)


def test_png_filter4_paeth_hand():
    # raw rows [10,20] / [30,40]; Paeth-filtered per spec:
    # row0: pred(0,0,0)=0 -> 10; pred(10,0,0)=10 -> 10
    # row1: pred(0,10,0)=10 -> 20; pred(30,20,10)=30 -> 10
    out = mc.parse_png(_hand_png(2, 2, bytes([4, 10, 10, 4, 20, 10])))
    assert (out["px_sum"], out["px_min"], out["px_max"]) == (100, 10, 40)


def test_png_average_mod256_wraparound():
    # regression for deferred-mod bugs: Sub filter pushing a byte past 255
    # (raw [200, 100]: filtered [200, 156] since 100-200 = -100 = 156 mod 256)
    # then row1 Average reads the REDUCED 100, not 356
    # row1 raw [130, 228]: f(0) = 130 - floor((0+200)/2) = 30,
    #                      f(1) = 228 - floor((130+100)/2) = 113
    out = mc.parse_png(_hand_png(2, 2, bytes([1, 200, 156, 3, 30, 113])))
    assert (out["px_sum"], out["px_min"], out["px_max"]) == (200 + 100 + 130 + 228, 100, 228)


# ---------------------------------------------------------------------------
# round-trips, RGB, errors
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_roundtrip_all_filters_gray(ftype):
    px = ((np.arange(11 * 7) * 37 + ftype) % 256).astype(np.uint8).reshape(7, 11)
    out = mc.parse_png(mc.encode_png(px, filter_type=ftype))
    assert out["width"] == 11 and out["height"] == 7 and out["color_type"] == 0
    assert out["px_sum"] == int(px.astype(np.int64).sum())
    assert out["px_min"] == int(px.min()) and out["px_max"] == int(px.max())


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_roundtrip_all_filters_rgb(ftype):
    px = ((np.arange(5 * 4 * 3) * 91 + ftype * 7) % 256).astype(np.uint8).reshape(4, 5, 3)
    out = mc.parse_png(mc.encode_png(px, filter_type=ftype))
    assert out["color_type"] == 2 and out["n_px"] == 60
    assert out["px_sum"] == int(px.astype(np.int64).sum())


def test_png_crc_corruption_detected():
    b = bytearray(mc.encode_png(np.full((2, 2), 7, dtype=np.uint8)))
    b[20] ^= 0xFF  # flip a byte inside IHDR without fixing its CRC
    with pytest.raises(ValueError, match="CRC"):
        mc.parse_png(bytes(b))


def test_png_bad_signature_and_invalid_combos():
    with pytest.raises(ValueError, match="signature"):
        mc.parse_png(b"JFIF" + b"\0" * 20)
    # 16-bit gray is real now: hand bytes [filter 0, 0x01 0x02] = 258
    out = mc.parse_png(_hand_png(1, 1, bytes([0, 1, 2]), bit_depth=16))
    assert out["px_sum"] == 258 and out["bit_depth"] == 16
    # spec-invalid combination (16-bit palette) rejects, never guesses
    with pytest.raises(ValueError, match="combination"):
        mc.parse_png(_hand_png(1, 1, bytes([0, 1]), color_type=3, bit_depth=16))
    # palette image without PLTE
    with pytest.raises(ValueError, match="PLTE"):
        mc.parse_png(_hand_png(1, 1, bytes([0, 1]), color_type=3, bit_depth=8))


def test_png_sub8_hand_bytes():
    """Hand vector for bit unpacking: 2-bit gray, w=5 -> 10 bits -> 2 bytes
    per row. Row bytes 0b11_00_10_01, 0b01_000000 = samples 3,0,2,1,1."""
    out = mc.parse_png(
        _hand_png(5, 1, bytes([0, 0b11001001, 0b01000000]), bit_depth=2),
        return_pixels=True,
    )
    assert out["pixels"].tolist() == [[3, 0, 2, 1, 1]]


def test_png_full_matrix_roundtrip():
    rng = np.random.RandomState(10)
    # gray at every legal depth, all filters, both interlace modes
    for depth in (1, 2, 4, 8, 16):
        img = rng.randint(0, 1 << depth, (11, 13)).astype(np.int64)
        for ft in range(5):
            for il in (False, True):
                rec = mc.parse_png(
                    mc.encode_png(img, filter_type=ft, bit_depth=depth, interlace=il),
                    return_pixels=True,
                )
                assert (rec["pixels"] == img).all(), (depth, ft, il)
    # palette (PLTE expansion), gray+alpha, RGB, RGBA, incl. 16-bit
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, (9, 14)).astype(np.int64)
    for depth in (4, 8):
        rec = mc.parse_png(
            mc.encode_png(idx, palette=pal, bit_depth=depth, interlace=True, filter_type=3),
            return_pixels=True,
        )
        assert (rec["pixels"] == pal.astype(np.int64)[idx]).all(), depth
    for ch in (2, 3, 4):
        img = rng.randint(0, 256, (7, 9, ch)).astype(np.int64)
        rec = mc.parse_png(mc.encode_png(img, filter_type=4, interlace=True), return_pixels=True)
        assert (rec["pixels"] == img).all(), ch
        img16 = rng.randint(0, 65536, (5, 6, ch)).astype(np.int64)
        rec = mc.parse_png(mc.encode_png(img16, bit_depth=16), return_pixels=True)
        assert (rec["pixels"] == img16).all(), ch
    # 1x1 interlaced: six of the seven Adam7 passes are empty
    rec = mc.parse_png(mc.encode_png(np.array([[200]], np.uint8), interlace=True), return_pixels=True)
    assert rec["pixels"][0, 0] == 200


def test_png_real_files_all_color_types():
    """Real PNGs (CPython / Jupyter / rustdoc assets) spanning palette,
    gray+alpha and RGBA: exact dimension + sample-count termination pins
    the pass geometry and bit unpacking against foreign encoders."""
    import os

    for name, (w, h, ct, ch) in (
        ("idle_16.png", (16, 16, 3, 4)),        # palette + tRNS -> RGBA expansion
        ("favicon-32x32.png", (32, 32, 4, 2)),  # gray+alpha
        ("logo-32x32.png", (32, 32, 6, 4)),     # RGBA
    ):
        rec = mc.parse_png(open(os.path.join(_FIXTURES, name), "rb").read())
        assert (rec["width"], rec["height"], rec["color_type"]) == (w, h, ct), name
        assert rec["n_px"] == w * h * ch, name


# ---------------------------------------------------------------------------
# WAV
# ---------------------------------------------------------------------------


def test_wav_hand_bytes():
    # two mono PCM16 samples: 1000, -2000 @ 8 kHz, hand-assembled RIFF
    data = struct.pack("<hh", 1000, -2000)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt + b"data" + struct.pack("<I", 4) + data
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    out = mc.parse_wav(wav)
    assert out == {
        "sample_rate": 8000, "n_channels": 1, "bits_per_sample": 16,
        "n_samples": 2, "peak_abs": 2000, "sum_abs": 3000,
    }


def test_wav_unknown_chunk_skipped_and_padding():
    # odd-length LIST chunk before data must be skipped with word alignment
    data = struct.pack("<h", -5)
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    body = (
        b"WAVE"
        + b"LIST" + struct.pack("<I", 3) + b"abc" + b"\0"  # pad byte
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", 2) + data
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    assert mc.parse_wav(wav)["sum_abs"] == 5


def test_wav_roundtrip_stereo():
    s = (((np.arange(40) * 13) % 4001) - 2000).astype(np.int16)
    out = mc.parse_wav(mc.encode_wav(s, 44100, n_channels=2))
    assert out["n_samples"] == 20 and out["n_channels"] == 2
    assert out["sum_abs"] == int(np.abs(s.astype(np.int64)).sum())


def test_wav_non_pcm_rejected():
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # IEEE float
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt + b"data" + struct.pack("<I", 0)
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(NotImplementedError):
        mc.parse_wav(wav)


# ---------------------------------------------------------------------------
# distributed decode (mapInPandas + binaryFile source)
# ---------------------------------------------------------------------------


def test_decode_png_distributed(spark):
    rows = []
    for k in range(24):
        px = ((np.arange(6 * 4) + k) % 256).astype(np.uint8).reshape(4, 6)
        rows.append((k, bytearray(mc.encode_png(px, filter_type=k % 5))))
    df = spark.createDataFrame(rows, "id long, payload binary").repartition(4)
    out = {r["id"]: r for r in mc.decode_png(df).collect()}
    assert len(out) == 24
    for k in range(24):
        px = ((np.arange(24) + k) % 256).astype(np.int64)
        assert out[k]["px_sum"] == int(px.sum())


def test_decode_wav_via_binaryfile_source(spark, tmp_path):
    import os

    for k in range(6):
        s = (((np.arange(30) * 7 + k) % 4001) - 2000).astype(np.int16)
        with open(tmp_path / f"{k}.wav", "wb") as fh:
            fh.write(mc.encode_wav(s, 16000))
    from pyspark.sql import functions as F

    payloads = (
        spark.read.format("binaryFile")
        .load(str(tmp_path))
        .select(
            F.regexp_extract("path", r"(\d+)\.wav$", 1).cast("long").alias("id"),
            F.col("content").alias("payload"),
        )
    )
    out = mc.decode_wav(payloads).collect()
    assert len(out) == 6 and all(r["n_samples"] == 30 for r in out)


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------


def test_bmp_hand_bytes():
    # 2x1 RGB: pixels (10,20,30), (40,50,60); BMP stores BGR bottom-up with
    # row padding to 4 bytes (2*3=6 -> pad 2)
    row = bytes([30, 20, 10, 60, 50, 40, 0, 0])
    info = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(row), 2835, 2835, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(row), 0, 0, 54)
    out = mc.parse_bmp(hdr + info + row)
    assert (out["width"], out["height"], out["n_px"]) == (2, 1, 6)
    assert (out["px_sum"], out["px_min"], out["px_max"]) == (210, 10, 60)


def test_bmp_roundtrip_and_bottom_up():
    px = ((np.arange(7 * 5 * 3) * 17) % 256).astype(np.uint8).reshape(5, 7, 3)
    out = mc.parse_bmp(mc.encode_bmp(px))
    assert out["px_sum"] == int(px.astype(np.int64).sum())
    assert out["px_min"] == int(px.min()) and out["px_max"] == int(px.max())


def test_bmp_rejects():
    with pytest.raises(ValueError, match="magic"):
        mc.parse_bmp(b"XX" + b"\0" * 60)
    px = np.zeros((1, 1, 3), dtype=np.uint8)
    b = bytearray(mc.encode_bmp(px))
    b[28] = 16  # bpp=16 stays honestly unsupported
    with pytest.raises(NotImplementedError):
        mc.parse_bmp(bytes(b))
    b[28] = 8  # claims palette but carries no color table -> clean reject
    with pytest.raises(ValueError, match="color table"):
        mc.parse_bmp(bytes(b))


# ---------------------------------------------------------------------------
# GIF / LZW
# ---------------------------------------------------------------------------

_FIXTURES = __import__("os").path.join(__import__("os").path.dirname(__file__), "fixtures")


def test_gif_lzw_hand_trace():
    """Hand-traced LZW for indices [0,0,1,1,0] at mcs=2 (clear=4, end=5,
    width starts 3). Greedy parse: emit CLEAR; w=0; [0,0] miss -> emit 0,
    add [0,0]=6; w=0; [0,1] miss -> emit 0, add [0,1]=7; w=1; [1,1] miss
    -> emit 1 (still 3 bits: growth happens when the NEXT free code 8
    would not fit, i.e. after next_code reaches 9), add [1,1]=8 -> width
    now 4; w=1; [1,0] miss -> emit 1 (4 bits), add [1,0]=9; w=0; input
    ends -> emit 0, emit END. LSB-first packing gives 0x04 0x12 0x50."""
    import numpy as np

    data = mc._lzw_encode(bytes([0, 0, 1, 1, 0]), 2, mc._GIF_LZW)
    assert data == bytes.fromhex("041250")
    bits = []
    for code, width in ((4, 3), (0, 3), (0, 3), (1, 3), (1, 4), (0, 4), (5, 4)):
        for i in range(width):
            bits.append((code >> i) & 1)
    want = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for j, b in enumerate(bits[i : i + 8]):
            byte |= b << j
        want.append(byte)
    assert data == bytes(want)
    assert mc._lzw_decode(data, 2, 5, mc._GIF_LZW) == bytes([0, 0, 1, 1, 0])


def test_gif_lzw_eoi_width_boundary():
    """The decoder appends a table entry for the FINAL data code and can grow
    the code width early, while the encoder has nothing left to append — so
    when the last append lands exactly on the 2^width boundary the EOI code
    must be emitted one bit wider (hypothesis-found: 245 random pixels over a
    28-color palette reach next_code == 256 on the final data code)."""
    rng = np.random.RandomState(0)
    pal = rng.randint(0, 256, (28, 3)).astype(np.uint8)
    img = rng.randint(0, 28, (7, 35)).astype(np.uint8)
    rec = mc.parse_gif(mc.encode_gif(img, pal), return_frames=True)
    assert (rec["frames"][0] == img).all()
    # sweep pixel counts across the boundary at mcs=5 so the exact trigger
    # length is not load-bearing
    for npx in range(230, 260):
        idx = rng.randint(0, 28, npx).astype(np.uint8)
        enc = mc._lzw_encode(idx.tobytes(), 5, mc._GIF_LZW)
        assert mc._lzw_decode(enc, 5, npx, mc._GIF_LZW) == idx.tobytes(), npx


def test_gif_roundtrip_paths():
    rng = np.random.RandomState(8)
    pal = rng.randint(0, 256, (7, 3)).astype(np.uint8)
    for shape in ((5, 7), (33, 9), (1, 1)):
        img = rng.randint(0, 7, shape).astype(np.uint8)
        for il in (False, True):
            rec = mc.parse_gif(mc.encode_gif(img, pal, interlace=il), return_frames=True)
            assert (rec["frames"][0] == img).all(), (shape, il)
    # animated: GCE + NETSCAPE extensions walked, frames all recovered
    frames = [rng.randint(0, 7, (10, 12)).astype(np.uint8) for _ in range(4)]
    rec = mc.parse_gif(mc.encode_gif(frames, pal), return_frames=True)
    assert rec["n_frames"] == 4
    assert all((a == b).all() for a, b in zip(rec["frames"], frames))
    # 256-color noise image: forces 12-bit codes + a mid-stream table clear
    pal256 = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    big = rng.randint(0, 256, (120, 170)).astype(np.uint8)
    rec = mc.parse_gif(mc.encode_gif(big, pal256), return_frames=True)
    assert (rec["frames"][0] == big).all()


def test_gif_real_files_decode_exactly():
    """Real GIFs shipped with CPython: a wrong LZW width rule derails the
    stream within a few codes, so exact pixel-count termination against
    foreign encoders pins the early-change semantics."""
    import os

    for name, (w, h) in (("idle_16.gif", (16, 16)), ("idle_48.gif", (48, 48)),
                         ("python.gif", (16, 16))):
        rec = mc.parse_gif(open(os.path.join(_FIXTURES, name), "rb").read())
        assert (rec["width"], rec["height"]) == (w, h), name
        assert rec["n_px"] == w * h and rec["n_frames"] == 1
    # and through the mixed-format dispatch
    img = mc.parse_image(open(os.path.join(_FIXTURES, "python.gif"), "rb").read())
    assert img["format"] == "gif" and img["n_px"] == 16 * 16 * 3


def test_gif_rejects():
    rng = np.random.RandomState(1)
    pal = rng.randint(0, 256, (4, 3)).astype(np.uint8)
    g = bytearray(mc.encode_gif(rng.randint(0, 4, (9, 9)).astype(np.uint8), pal))
    with pytest.raises(ValueError, match="signature"):
        mc.parse_gif(b"NOTAGIF" + bytes(g))
    with pytest.raises(ValueError, match="truncated|trailer|range"):
        mc.parse_gif(bytes(g[:-8]))
    with pytest.raises(ValueError):
        mc.encode_gif(np.full((2, 2), 9, np.uint8), pal)  # index > palette


def test_gif_decode_df_distributed(spark):
    rng = np.random.RandomState(2)
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    rows = []
    for k in range(6):
        img = ((np.arange(120).reshape(10, 12) * (k + 3)) % 16).astype(np.uint8)
        rows.append((k, bytearray(mc.encode_gif(img, pal, interlace=k % 2 == 1))))
    df = spark.createDataFrame(rows, "id long, payload binary").repartition(3)
    got = {r["id"]: r for r in mc.decode_gif(df).collect()}
    for k in range(6):
        img = ((np.arange(120).reshape(10, 12) * (k + 3)) % 16).astype(np.int64)
        assert got[k]["idx_sum"] == int(img.sum()) and got[k]["n_px"] == 120
        assert got[k]["rgb_sum"] == int(pal.astype(np.int64)[img].sum())


# ---------------------------------------------------------------------------
# JPEG header metadata
# ---------------------------------------------------------------------------


def test_jpeg_meta_baseline_and_progressive():
    out = mc.parse_jpeg_meta(mc.encode_jpeg_headers(640, 480, 3))
    assert out == {"precision": 8, "width": 640, "height": 480,
                   "n_components": 3, "progressive": False}
    out = mc.parse_jpeg_meta(mc.encode_jpeg_headers(31, 17, 1, progressive=True))
    assert out["progressive"] is True and out["n_components"] == 1
    # an extended-sequential (SOF1) frame decodes, so its header reads too
    sof1 = bytearray(mc.encode_jpeg(np.zeros((16, 12, 3), np.uint8)))
    at = bytes(sof1).find(b"\xff\xc0")
    sof1[at + 1] = 0xC1
    assert mc.decode_jpeg(bytes(sof1))["width"] == 12
    assert mc.parse_jpeg_meta(bytes(sof1)) == {"precision": 8, "width": 12, "height": 16,
                                               "n_components": 3, "progressive": False}


def test_jpeg_12bit_precision_refused():
    # a SOF1 frame declaring 12-bit samples must not decode as 8-bit; its
    # header still reads, precision included
    sof1 = bytearray(mc.encode_jpeg(np.zeros((16, 12, 3), np.uint8)))
    at = bytes(sof1).find(b"\xff\xc0")
    sof1[at + 1] = 0xC1
    sof1[at + 4] = 12  # P, after the marker and the segment length
    with pytest.raises(mc.MediaCodecError, match="12-bit"):
        mc.decode_jpeg(bytes(sof1))
    assert mc.parse_jpeg_meta(bytes(sof1))["precision"] == 12


def test_jpeg_meta_scan_skip_with_stuffing_and_rst():
    # SOF placed AFTER a scan whose bytes contain stuffed 0xFF00 and an RST
    # marker — the skip must not mistake either for a real marker
    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    sos = seg(0xDA, bytes([1, 1, 0, 0, 63, 0]))
    scan = b"\x12\xff\x00\x34" + b"\xff\xd3" + b"\x56"  # stuffing + RST3
    sof = seg(0xC0, struct.pack(">BHHB", 8, 7, 9, 1) + struct.pack(">BBB", 1, 0x11, 0))
    jpeg = b"\xff\xd8" + sos + scan + sof + b"\xff\xd9"
    out = mc.parse_jpeg_meta(jpeg)
    assert (out["width"], out["height"]) == (9, 7)


def test_jpeg_meta_rejects():
    with pytest.raises(ValueError, match="SOI"):
        mc.parse_jpeg_meta(b"\x89PNG")
    with pytest.raises(ValueError, match="SOF"):
        mc.parse_jpeg_meta(b"\xff\xd8\xff\xd9")


def test_parse_image_dispatch():
    px = np.full((2, 2), 9, dtype=np.uint8)
    assert mc.parse_image(mc.encode_png(px))["format"] == "png"
    rgb = np.full((2, 2, 3), 9, dtype=np.uint8)
    assert mc.parse_image(mc.encode_bmp(rgb))["format"] == "bmp"
    # baseline JPEG now REALLY decodes through the dispatch
    rec = mc.parse_image(mc.encode_jpeg(np.full((8, 8), 50, np.uint8)))
    assert rec["format"] == "jpeg" and rec["width"] == 8 and "pixels" not in rec
    # a header-only shell (no DHT/scan) is invalid, not "unimplemented"
    with pytest.raises(ValueError, match="Huffman"):
        mc.parse_image(mc.encode_jpeg_headers(4, 4))
    with pytest.raises(ValueError, match="magic"):
        mc.parse_image(b"????")


def test_decode_image_mixed_distributed(spark):
    rows = []
    for k in range(16):
        if k % 2:
            px = ((np.arange(3 * 4 * 3) + k) % 256).astype(np.uint8).reshape(4, 3, 3)
            rows.append((k, bytearray(mc.encode_bmp(px))))
        else:
            px = ((np.arange(3 * 4) + k) % 256).astype(np.uint8).reshape(4, 3)
            rows.append((k, bytearray(mc.encode_png(px, filter_type=k % 5))))
    df = spark.createDataFrame(rows, "id long, payload binary").repartition(3)
    out = {r["id"]: r["format"] for r in mc.decode_image(df).collect()}
    assert all(out[k] == ("bmp" if k % 2 else "png") for k in range(16))


# ---------------------------------------------------------------------------
# Baseline JPEG full decode (T.81 SOF0): encoder-as-fixture + real decoder
# ---------------------------------------------------------------------------


def _direct_gray(img, restart=0):
    """Independent expectation: the transform path WITHOUT the entropy/stream
    layer — FDCT+quant then dequant+IDCT per block. decode(encode(img)) must
    equal this exactly, proving the Huffman/stuffing/marker layer lossless."""
    by, bx, blocks = mc._plane_blocks(img.astype(np.int64))
    out = np.zeros((by * 8, bx * 8), dtype=np.uint8)
    for i in range(by):
        for j in range(bx):
            q = mc._fdct_quant(blocks[i, j], mc._QTABLE_LUMA)
            out[i * 8 : i * 8 + 8, j * 8 : j * 8 + 8] = mc._dequant_idct(q, mc._QTABLE_LUMA)
    return out[: img.shape[0], : img.shape[1]]


def test_jpeg_hand_vector_single_block():
    # hand-composed minimal stream: 8x8 gray, flat 128 -> DC diff 0, EOB.
    # DC table: symbol {0} at length 2 (code 00); AC table: {0x00} at len 2.
    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    qz = mc._QTABLE_LUMA.flatten()[mc._ZIGZAG].astype(np.uint8).tobytes()
    dht_dc = bytes([0x00]) + bytes([0, 1] + [0] * 14) + bytes([0])
    dht_ac = bytes([0x10]) + bytes([0, 1] + [0] * 14) + bytes([0x00])
    sof = struct.pack(">BHHB", 8, 8, 8, 1) + struct.pack(">BBB", 1, 0x11, 0)
    sos = bytes([1]) + struct.pack(">BB", 1, 0x00) + bytes([0, 63, 0])
    # scan bits: DC code '0'... wait, one symbol at length 2 -> code '00';
    # EOB code '00'; total 4 bits -> pad with 1s -> 0b0000_1111
    blob = (
        b"\xff\xd8" + seg(0xDB, bytes([0]) + qz) + seg(0xC0, sof)
        + seg(0xC4, dht_dc) + seg(0xC4, dht_ac) + seg(0xDA, sos)
        + bytes([0x0F]) + b"\xff\xd9"
    )
    rec = mc.decode_jpeg(blob)
    assert rec["width"] == 8 and rec["height"] == 8
    assert (rec["pixels"] == 128).all()  # DC 0 -> flat 128 exactly


def test_jpeg_stream_layer_lossless_gray():
    # random images: full byte-stream decode == direct transform path
    for seed in (0, 1, 2, 7):  # seed 2's stream contains stuffed 0xFF00
        img = np.random.RandomState(seed).randint(0, 256, (16, 16)).astype(np.uint8)
        got = mc.decode_jpeg(mc.encode_jpeg(img))["pixels"]
        assert (got == _direct_gray(img)).all(), seed


def test_jpeg_stuffing_on_wire():
    img = np.random.RandomState(2).randint(0, 256, (16, 16)).astype(np.uint8)
    blob = mc.encode_jpeg(img)
    assert b"\xff\x00" in blob[blob.find(b"\xff\xda"):]  # stuffing exercised
    assert (mc.decode_jpeg(blob)["pixels"] == _direct_gray(img)).all()


def test_jpeg_non_multiple_dims_edge_padding():
    img = np.random.RandomState(4).randint(0, 256, (13, 21)).astype(np.uint8)
    rec = mc.decode_jpeg(mc.encode_jpeg(img))
    assert rec["width"] == 21 and rec["height"] == 13 and rec["n_px"] == 13 * 21
    assert (rec["pixels"] == _direct_gray(img)).all()


def test_jpeg_restart_markers_do_not_change_pixels():
    img = np.kron(
        np.random.RandomState(9).randint(0, 256, (6, 6)).astype(np.uint8),
        np.ones((8, 8), np.uint8),
    )
    base = mc.decode_jpeg(mc.encode_jpeg(img))["pixels"]
    for ri in (1, 2, 5):
        blob = mc.encode_jpeg(img, restart_interval=ri)
        assert b"\xff\xd0" in blob or b"\xff\xd1" in blob
        assert (mc.decode_jpeg(blob)["pixels"] == base).all(), ri


def test_jpeg_color_444_and_420():
    img = np.random.RandomState(11).randint(0, 256, (24, 32, 3)).astype(np.uint8)
    for sub in ("444", "420"):
        rec = mc.decode_jpeg(mc.encode_jpeg(img, sub))
        assert rec["color_type"] == 3 and rec["pixels"].shape == (24, 32, 3)
        # lossy, but a real decode tracks the source closely on smooth data
    smooth = np.stack(
        [np.add.outer(np.arange(24) * 4, np.arange(32) * 3) % 256] * 3, axis=-1
    ).astype(np.uint8)
    for sub in ("444", "420"):
        got = mc.decode_jpeg(mc.encode_jpeg(smooth, sub))["pixels"]
        err = np.abs(got.astype(int) - smooth.astype(int)).mean()
        assert err < 12.0, (sub, err)


def test_jpeg_flat_color_exact_chain():
    # flat color image: every stage's rounding is closed-form; 4:2:0 chroma
    # decimation of a flat plane is the identity, so 444 and 420 agree
    img = np.zeros((16, 16, 3), np.uint8)
    img[...] = (37, 180, 99)
    a = mc.decode_jpeg(mc.encode_jpeg(img, "444"))["pixels"]
    b = mc.decode_jpeg(mc.encode_jpeg(img, "420"))["pixels"]
    assert (a == b).all()
    assert len({tuple(p) for p in a.reshape(-1, 3)}) == 1  # still flat


def test_jpeg_malformed_and_arithmetic_rejected():
    # structurally-progressive but garbage scan (Se=63 on a DC scan, no
    # DHT): corrupt stream -> ValueError, which the multimodal fake=True
    # fallback catches (a mixed corpus must never crash on one bad file)
    with pytest.raises(ValueError):
        mc.decode_jpeg(mc.encode_jpeg_headers(8, 8, progressive=True))
    with pytest.raises(ValueError, match="SOI"):
        mc.decode_jpeg(b"\x00\x00")
    # arithmetic-coded SOF9 stays an honest NotImplementedError
    arith = bytearray(mc.encode_jpeg(np.zeros((8, 8), np.uint8)))
    sof_at = bytes(arith).find(b"\xff\xc0")
    arith[sof_at + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="SOF"):
        mc.decode_jpeg(bytes(arith))
    # a zero sampling factor (T.81 allows 1..4) is a corrupt frame header,
    # not a ZeroDivisionError out of the chroma upsampler
    zero = bytearray(mc.encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
    zero[bytes(zero).find(b"\xff\xc0") + 14] = 0x00  # second component's H/V
    with pytest.raises(ValueError, match="sampling factors"):
        mc.decode_jpeg(bytes(zero))


def test_jpeg_progressive_roundtrip_equals_baseline():
    # entropy coding is lossless and both paths share the FDCT/quant front
    # half, so progressive decode must equal baseline decode EXACTLY
    rng = np.random.RandomState(11)
    cases = [
        (np.add.outer(np.arange(24) * 4, np.arange(32) * 3).astype(np.uint8) % 256, "444"),
        (rng.randint(0, 256, (19, 23, 3)).astype(np.uint8), "444"),
        (rng.randint(0, 256, (17, 19, 3)).astype(np.uint8), "420"),  # odd dims: MCU pad
    ]
    for img, sub in cases:
        base = mc.decode_jpeg(mc.encode_jpeg(img, sub))
        prog = mc.decode_jpeg(mc.encode_jpeg_progressive(img, sub))
        assert (base["pixels"] == prog["pixels"]).all(), sub
        assert base["px_sum"] == prog["px_sum"]


def test_jpeg_progressive_restarts_and_custom_scans():
    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (33, 41, 3)).astype(np.uint8)
    base = mc.decode_jpeg(mc.encode_jpeg(img, "420"))["pixels"]
    # RSTn every 1/3 units resets DC predictors and EOB runs mid-scan
    for ri in (1, 3):
        got = mc.decode_jpeg(mc.encode_jpeg_progressive(img, "420", restart_interval=ri))
        assert (base == got["pixels"]).all(), ri
    # spectral-selection-only script (Ah=Al=0 throughout, no refinement)
    scans = [([0, 1, 2], 0, 0, 0, 0)] + [([ci], 1, 63, 0, 0) for ci in range(3)]
    got = mc.decode_jpeg(mc.encode_jpeg_progressive(img, "420", scans=scans))
    assert (base == got["pixels"]).all()
    # per-component DC scans (non-interleaved DC) + split AC bands
    scans = (
        [([ci], 0, 0, 0, 1) for ci in range(3)]
        + [([0], 1, 2, 0, 1), ([0], 3, 63, 0, 1), ([1], 1, 63, 0, 1), ([2], 1, 63, 0, 1)]
        + [([ci], 0, 0, 1, 0) for ci in range(3)]
        + [([ci], 1, 63, 1, 0) for ci in range(3)]
    )
    got = mc.decode_jpeg(mc.encode_jpeg_progressive(img, "420", scans=scans))
    assert (base == got["pixels"]).all()


def test_jpeg_progressive_meta_and_mixed_decode(spark):
    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, (12, 20, 3)).astype(np.uint8)
    p = mc.encode_jpeg_progressive(img, "444")
    m = mc.parse_jpeg_meta(p)
    assert m["progressive"] and (m["width"], m["height"]) == (20, 12)
    # parse_image sniffs and decodes progressive payloads like any JPEG
    rec = mc.parse_image(p)
    assert rec["format"] == "jpeg" and rec["n_px"] == 12 * 20 * 3
    # truncated progressive scan -> ValueError, never silent garbage
    with pytest.raises(ValueError, match="truncated|marker"):
        mc.decode_jpeg(p[:-20])
    # the distributed mixed-format kernel handles baseline + progressive
    rows = [
        (0, bytearray(mc.encode_jpeg(img))),
        (1, bytearray(mc.encode_jpeg_progressive(img))),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r["id"]: r for r in mc.decode_image(df).collect()}
    assert got[0]["px_sum"] == got[1]["px_sum"]  # identical coefficients


def test_jpeg_decode_df_distributed(spark):
    rows = []
    for k in range(8):
        img = ((np.arange(256).reshape(16, 16) * (k + 1)) % 256).astype(np.uint8)
        rows.append((k, bytearray(mc.encode_jpeg(img, restart_interval=2))))
    df = spark.createDataFrame(rows, "id long, payload binary").repartition(3)
    got = {r["id"]: r for r in mc.decode_jpeg_df(df).collect()}
    for k in range(8):
        img = ((np.arange(256).reshape(16, 16) * (k + 1)) % 256).astype(np.uint8)
        exp = _direct_gray(img).astype(np.int64)
        assert got[k]["px_sum"] == int(exp.sum()) and got[k]["n_px"] == 256


def test_jpeg_entropy_truncation_is_valueerror():
    # r10: corrupt/truncated entropy segments must surface as ValueError,
    # never as a private message-less signal (ADVICE r9)
    img = np.arange(256, dtype=np.uint8).reshape(16, 16)
    jp = mc.encode_jpeg(img)
    with pytest.raises(ValueError, match="truncated"):
        mc.decode_jpeg(jp[:-6])
    # EOI reached mid-scan -> the in-band marker hit, also a ValueError now
    # (exact message depends on where the cut lands relative to a stuffed 0xFF)
    with pytest.raises(ValueError, match="unexpected marker|truncated"):
        mc.decode_jpeg(jp[: len(jp) - 20] + b"\xff\xd9")
    # direct in-band marker: _MarkerHit must be a catchable ValueError
    from ape_dts_spark.functions.media_codec import _BitReader

    br = _BitReader(b"\xff\xc4", 0)
    with pytest.raises(ValueError, match="unexpected marker 0xc4"):
        br.read(8)


def test_jpeg_sos_frame_component_mismatch_rejected():
    # byte-edit the SOS component id so the scan set != frame set
    img = np.full((8, 8), 77, np.uint8)
    jp = bytearray(mc.encode_jpeg(img))
    i = jp.find(b"\xff\xda")
    assert i > 0
    jp[i + 5] = 9  # first scan component id (was 1)
    with pytest.raises(ValueError, match="SOS component set"):
        mc.decode_jpeg(bytes(jp))


def test_bmp_palette_rle_and_bitfields():
    """r12 BMP matrix: 8-bit palettized (raw + BI_RLE8 with encoded runs and
    end-of-line/bitmap escapes), 32-bit BGRA, and a REAL 32-bit
    BI_BITFIELDS file (CPython's python.bmp) decoded through the
    header-declared channel masks."""
    import os

    rng = np.random.RandomState(12)
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, (11, 13)).astype(np.uint8)
    for rle in (False, True):
        rec = mc.parse_bmp(mc.encode_bmp(idx, palette=pal, rle=rle), return_pixels=True)
        assert (rec["pixels"] == pal[idx]).all(), rle
        assert rec["color_type"] == 3 and rec["n_px"] == 11 * 13 * 3
    img4 = rng.randint(0, 256, (6, 5, 4)).astype(np.uint8)
    rec = mc.parse_bmp(mc.encode_bmp(img4, alpha=True), return_pixels=True)
    assert (rec["pixels"] == img4).all() and rec["color_type"] == 6
    real = open(os.path.join(_FIXTURES, "python.bmp"), "rb").read()
    rec = mc.parse_bmp(real)
    assert (rec["width"], rec["height"], rec["color_type"]) == (16, 16, 6)
    assert rec["n_px"] == 16 * 16 * 4


def test_bmp_rle_absolute_and_delta_hand():
    """Hand-assembled RLE8 stream: encoded run, absolute mode (word-padded),
    delta escape, end-of-line, end-of-bitmap."""
    # 4x3 image, palette = identity grayscale
    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    # bottom-up rows: row0(y=2 visual): [5,5,1,2]; row1: skip via delta to
    # x=1 then run; row2: absolute 3 literals
    rle = bytes(
        [2, 5, 1, 1, 1, 2, 0, 0]      # run 2x5, 1x1, 1x2, EOL
        + [0, 2, 1, 0, 3, 9, 0, 0]    # delta +1,+0 then run 3x9, EOL
        + [0, 3, 7, 8, 6, 0, 0, 1]    # absolute [7,8,6] + pad, EOB
    )
    bgrx = np.zeros((256, 4), np.uint8)
    bgrx[:, :3] = pal[:, ::-1]
    info = struct.pack("<IiiHHIIiiII", 40, 4, 3, 1, 8, 1, len(rle), 0, 0, 256, 0)
    off = 14 + 40 + 1024
    hdr = struct.pack("<2sIHHI", b"BM", off + len(rle), 0, 0, off)
    rec = mc.parse_bmp(hdr + info + bgrx.tobytes() + rle, return_pixels=True)
    got = rec["pixels"][:, :, 0]  # grayscale palette: all channels equal
    # stored bottom-up: y0=[5,5,1,2], y1=[0,9,9,9], y2=[7,8,6,0] -> flipped
    assert got.tolist() == [[7, 8, 6, 0], [0, 9, 9, 9], [5, 5, 1, 2]]


def test_wav_pcm_widths_and_real_files():
    """r12: PCM 8 (unsigned recentered) / 24 (3-byte LE sign-extended) / 32;
    real CPython audio files cross-checked against the stdlib wave module's
    frame/channel/rate/width params."""
    import os
    import wave

    rng = np.random.RandomState(5)
    for bits, lim in ((8, 128), (16, 32768), (24, 1 << 23), (32, 1 << 31)):
        s = rng.randint(-lim, lim, 64 * 2).astype(np.int64)
        rec = mc.parse_wav(mc.encode_wav(s, 8000, 2, bits=bits))
        assert rec["sum_abs"] == int(np.abs(s).sum()), bits
        assert rec["bits_per_sample"] == bits and rec["n_samples"] == 64
    for name in ("pluck-pcm8.wav", "pluck-pcm24.wav"):
        p = os.path.join(_FIXTURES, name)
        w = wave.open(p)
        params = (w.getnframes(), w.getnchannels(), w.getframerate(), w.getsampwidth() * 8)
        w.close()
        rec = mc.parse_wav(open(p, "rb").read())
        assert (rec["n_samples"], rec["n_channels"], rec["sample_rate"],
                rec["bits_per_sample"]) == params, name


def test_wav_ima_adpcm_decoder_exact():
    """IMA-ADPCM is lossy, but the nibble stream defines ONE reconstruction:
    parse_wav must reproduce the encoder's tracked predictor bit-for-bit,
    and that reconstruction must track the source within ADPCM noise."""
    t = np.arange(1500)
    sig = (8000 * np.sin(t / 20) + 3000 * np.sin(t / 7)).astype(np.int64)
    for ch in (1, 2):
        x = sig if ch == 1 else np.stack([sig, -sig], axis=1).reshape(-1)
        wav, recon = mc.encode_wav_ima(x, 8000, ch)
        rec = mc.parse_wav(wav)
        assert rec["bits_per_sample"] == 4 and rec["n_channels"] == ch
        assert rec["sum_abs"] == int(np.abs(recon).sum()), ch
        err = np.abs(recon.reshape(-1)[: x.size] - x).mean()
        assert err < 200, err  # tracks the source, not garbage
    # corrupt step index rejects
    wav2, _ = mc.encode_wav_ima(sig, 8000, 1)
    b = bytearray(wav2)
    data_at = bytes(b).find(b"data") + 8
    b[data_at + 2] = 99  # step index > 88
    with pytest.raises(ValueError, match="step index"):
        mc.parse_wav(bytes(b))


def test_audio_spectrum_pure_tone_invariants():
    """audio_spectrum: a pure integer-quantized cosine at an exact FFT bin
    must come back as that bin (peak, rounded centroid), narrowband, with
    the per-frame Parseval identity holding — across widths and channels."""
    t = np.arange(1024)
    for j, amp, ch, bits in ((3, 12000, 1, 16), (97, 13000, 2, 16),
                             (40, 100, 1, 8), (11, 4000000, 1, 32)):
        tone = np.round(amp * np.cos(2 * np.pi * j * t / 256.0)).astype(np.int64)
        wav = mc.encode_wav(np.repeat(tone, ch), 16000, ch, bits=bits)
        r = mc.audio_spectrum(wav, n_fft=256)
        assert r["peak_bin"] == j and round(r["centroid_bin"]) == j, (j, r)
        assert r["parseval_ok"], r
        # narrowband needs amplitude headroom over the quantization-noise
        # floor; the amp=100 8-bit tone is honestly broadband-noisy
        assert r["narrowband"] == (amp >= 12000), r
        assert r["n_frames"] == 4 and r["n_samples"] == 1024
        assert r["peak_hz"] == j * 16000 / 256


def test_audio_spectrum_two_tone_and_edges():
    """Two tones: peak is the stronger, centroid sits between, broadband.
    Short clips return n_frames=0; non-power-of-two n_fft rejects; the
    IMA-ADPCM decode path feeds the same spectral kernel."""
    t = np.arange(2048)
    sig = np.round(
        9000 * np.cos(2 * np.pi * 30 * t / 256.0)
        + 5000 * np.cos(2 * np.pi * 90 * t / 256.0)
    ).astype(np.int64)
    r = mc.audio_spectrum(mc.encode_wav(sig, 44100, 1, bits=16))
    assert r["peak_bin"] == 30 and 30 < r["centroid_bin"] < 90
    assert not r["narrowband"] and r["parseval_ok"]

    short = mc.audio_spectrum(mc.encode_wav(np.arange(100), 8000, 1, bits=16))
    assert short["n_frames"] == 0 and short["parseval_ok"] and not short["narrowband"]
    with pytest.raises(ValueError, match="power of two"):
        mc.audio_spectrum(mc.encode_wav(np.arange(512), 8000, 1, bits=16), n_fft=100)
    # ADPCM container: lossy but still a strong line at the source bin
    tone16 = np.round(9000 * np.cos(2 * np.pi * 25 * t / 256.0)).astype(np.int64)
    wav_ima, _ = mc.encode_wav_ima(tone16, 8000, 1)
    r2 = mc.audio_spectrum(wav_ima)
    assert r2["peak_bin"] == 25 and r2["parseval_ok"]


def test_avi_dib_roundtrip_and_idx1_validation():
    """AVI DIB: byte-exact frame recovery through bottom-up BGR padded rows;
    idx1 entries are cross-checked against actual movi offsets; header and
    size corruption raise."""
    frames = [
        ((7 * f + np.arange(5 * 6 * 3)) % 256).astype(np.uint8).reshape(5, 6, 3)
        for f in range(4)
    ]
    avi = mc.encode_avi(frames, fps=12, codec="dib")
    rec = mc.parse_avi(avi, return_frames=True)
    assert (rec["codec"], rec["n_frames"], rec["width"], rec["height"], rec["fps"]) == (
        "dib", 4, 6, 5, 12.0)
    for f, d in zip(frames, rec["frames"]):
        assert (f == d).all()
    assert rec["n_px"] == 4 * 5 * 6 * 3
    assert rec["px_sum"] == sum(int(f.astype(np.int64).sum()) for f in frames)

    b = bytearray(avi)
    idx_at = bytes(b).rfind(b"idx1")
    b[idx_at + 8 + 8] ^= 1  # flip a bit in entry 0's offset
    with pytest.raises(ValueError, match="idx1 entry"):
        mc.parse_avi(bytes(b))
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        mc.parse_avi(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="RIFF length"):
        mc.parse_avi(avi[:-2])
    with pytest.raises(ValueError, match="at least one frame"):
        mc.encode_avi([], codec="dib")
    with pytest.raises(ValueError, match="codec must be"):
        mc.encode_avi(frames, codec="h264")


def test_avi_mjpg_frames_match_direct_jpeg_decode():
    """AVI MJPG: every '00dc' frame decodes bit-identically to running the
    baseline JFIF decoder on the same encoded frame directly — the container
    adds framing, not loss. Grayscale and RGB frames both ride."""
    gray = [((11 * f + np.arange(32 * 32)) % 256).astype(np.uint8).reshape(32, 32)
            for f in range(3)]
    rgb = [((5 * f + np.arange(16 * 16 * 3)) % 256).astype(np.uint8).reshape(16, 16, 3)
           for f in range(2)]
    for frames in (gray, rgb):
        avi = mc.encode_avi(frames, fps=5, codec="mjpg")
        rec = mc.parse_avi(avi, return_frames=True)
        assert rec["codec"] == "mjpg" and rec["n_frames"] == len(frames)
        for f, d in zip(frames, rec["frames"]):
            direct = mc.decode_jpeg(mc.encode_jpeg(f))["pixels"]
            assert (d == direct).all()


def test_avi_audio_track_interleave_and_spectrum():
    """AVI '01wb' PCM audio: per-video-frame chunk split reassembles to the
    exact sample stream (mono + stereo), idx1 covers both streams, the
    spectral kernel dispatches on the RIFF form, and non-PCM16 audio or
    audio-less containers raise."""
    frames = [((7 * f + np.arange(4 * 5 * 3)) % 256).astype(np.uint8).reshape(4, 5, 3)
              for f in range(3)]
    t = np.arange(1024)
    tone = np.round(12000 * np.cos(2 * np.pi * 40 * t / 256.0)).astype(np.int64)

    avi = mc.encode_avi(frames, fps=8, codec="dib", audio=tone, audio_rate=16000)
    rec = mc.parse_avi(avi, return_frames=True)
    assert rec["has_audio"] and rec["audio_rate"] == 16000
    assert rec["audio_samples"] == 1024 and (rec["audio"] == tone).all()
    assert rec["n_frames"] == 3  # video stats untouched by the audio track
    sp = mc.audio_spectrum(avi)
    assert sp["peak_bin"] == 40 and sp["narrowband"] and sp["parseval_ok"]

    st = np.repeat(tone, 2)
    avi2 = mc.encode_avi(frames, fps=8, codec="mjpg", audio=st,
                         audio_rate=44100, audio_channels=2)
    rec2 = mc.parse_avi(avi2, return_frames=True)
    assert rec2["audio_channels"] == 2 and rec2["audio_samples"] == 1024
    sp2 = mc.audio_spectrum(avi2)
    assert sp2["peak_bin"] == 40 and sp2["n_channels"] == 2

    with pytest.raises(ValueError, match="no audio stream"):
        mc.audio_spectrum(mc.encode_avi(frames, codec="dib"))
    # idx1 must cover the interleaved audio chunks too
    b = bytearray(avi)
    idx_at = bytes(b).rfind(b"idx1")
    b[idx_at + 8 + 16 + 8] ^= 1  # corrupt entry 1 (first audio chunk) offset
    with pytest.raises(ValueError, match="idx1 entry"):
        mc.parse_avi(bytes(b))


def test_g711_codes_and_wav_roundtrip():
    """G.711 mu-law/A-law: full-code idempotency (encode(decode(c)) == c for
    all 256 codes except mu-law's canonical negative-zero collapse), ITU
    extreme values, WAV format-6/7 decode with decoder-exact reconstruction,
    and companding error bounded by the segment-0 step."""
    codes = np.arange(256, dtype=np.int64)
    assert mc._ulaw_decode(np.array([0x80]))[0] == 32124
    assert mc._ulaw_decode(np.array([0x00]))[0] == -32124
    assert mc._ulaw_decode(np.array([0xFF]))[0] == 0
    assert mc._alaw_decode(np.array([0xAA]))[0] == 32256
    assert mc._alaw_decode(np.array([0xD5]))[0] == 8

    back_u = mc._ulaw_encode(mc._ulaw_decode(codes)).astype(np.int64)
    assert (back_u != codes).sum() == 1 and back_u[127] == 255  # -0 -> +0
    back_a = mc._alaw_encode(mc._alaw_decode(codes)).astype(np.int64)
    assert (back_a == codes).all()

    t = np.arange(3000)
    sig = (9000 * np.sin(t / 15) + 2500 * np.sin(t / 4)).astype(np.int64)
    for law in ("ulaw", "alaw"):
        for ch in (1, 2):
            x = sig if ch == 1 else np.repeat(sig, 2)
            wav, recon = mc.encode_wav_g711(x, 8000, ch, law=law)
            rec = mc.parse_wav(wav)
            assert (rec["bits_per_sample"], rec["n_channels"], rec["n_samples"]) == (8, ch, 3000)
            assert rec["sum_abs"] == int(np.abs(recon).sum()), law
            err = np.abs(recon - x)
            rel = err / np.maximum(np.abs(x), 1)
            # segment-0 step is 8 (mu) / 16 (A): small samples err <= 8,
            # everything else within the ~1/24 mantissa granularity
            assert np.all((err <= 8) | (rel <= 0.05)), (law, ch)
        sp = mc.audio_spectrum(mc.encode_wav_g711(sig, 8000, 1, law=law)[0])
        assert sp["parseval_ok"]
    with pytest.raises(ValueError, match="law must be"):
        mc.encode_wav_g711(sig, 8000, 1, law="dpcm")


def test_tiff_full_matrix_and_dispatch():
    """Baseline TIFF: both byte orders (SHORT values left-justified in the
    IFD value field — the classic MM-writer bug, pinned), gray/RGB,
    PackBits vs none, WhiteIsZero inversion, multi-strip reassembly, the
    TIFF 6.0 §9 PackBits spec vector, and parse_image magic routing."""
    rng = np.random.RandomState(3)
    for be in (False, True):
        for pb in (False, True):
            for shape in ((7, 9), (5, 6, 3)):
                px = rng.randint(0, 256, shape).astype(np.uint8)
                t = mc.encode_tiff(px, big_endian=be, packbits=pb, rows_per_strip=3)
                rec = mc.parse_tiff(t, return_pixels=True)
                assert (rec["pixels"] == px).all(), (be, pb, shape)
    g = rng.randint(0, 256, (4, 5)).astype(np.uint8)
    rec = mc.parse_tiff(mc.encode_tiff(g, white_is_zero=True), return_pixels=True)
    assert (rec["pixels"] == g).all()

    spec_in = bytes([0xAA, 0xAA, 0xAA, 0x80, 0x00, 0x2A, 0xAA, 0xAA, 0xAA, 0xAA,
                     0x80, 0x00, 0x2A, 0x22, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA,
                     0xAA, 0xAA, 0xAA, 0xAA])
    spec_out = bytes([0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA, 0x03, 0x80,
                      0x00, 0x2A, 0x22, 0xF7, 0xAA])
    assert mc._packbits_decode(spec_out, len(spec_in)) == spec_in
    assert mc._packbits_decode(mc._packbits_encode(spec_in), len(spec_in)) == spec_in

    out = mc.parse_image(mc.encode_tiff(g, big_endian=True))
    assert out["format"] == "tiff" and out["px_sum"] == int(g.astype(np.int64).sum())
    with pytest.raises(NotImplementedError, match="compression"):
        bad = bytearray(mc.encode_tiff(g))
        # compression tag value lives in the 4th IFD entry; flip to JBIG
        # (9), still honestly unsupported (LZW/JPEG/Deflate are real now)
        ifd = 8 + 2
        bad[ifd + 3 * 12 + 8] = 9
        mc.parse_tiff(bytes(bad))
    with pytest.raises(ValueError, match="byte-order"):
        mc.parse_tiff(b"XX\x2a\x00")


def test_tiff_lzw_roundtrip_matrix():
    """TIFF 6.0 §13 LZW (MSB-first, early-change 9->12 bit widths, table
    reset at slot 4094) alone and with the horizontal-differencing
    Predictor (tag 317), both byte orders, gray + RGB."""
    rng = np.random.RandomState(5)
    for be in (False, True):
        for pred in (1, 2):
            for shape in ((7, 9), (5, 6, 3), (33, 40)):
                px = rng.randint(0, 256, shape).astype(np.uint8)
                t = mc.encode_tiff(px, big_endian=be, lzw=True, predictor=pred,
                                   rows_per_strip=4)
                rec = mc.parse_tiff(t, return_pixels=True)
                assert (rec["pixels"] == px).all(), (be, pred, shape)
    # gradient rows: predictor=2 makes LZW dramatically smaller (the point)
    grad = np.add.outer(np.arange(60), np.arange(200) * 3).astype(np.uint8)
    plain = mc.encode_tiff(grad, lzw=True, rows_per_strip=60)
    packed = mc.encode_tiff(grad, lzw=True, predictor=2, rows_per_strip=60)
    assert len(packed) < len(plain)
    assert (mc.parse_tiff(packed, return_pixels=True)["pixels"] == grad).all()


def test_tiff_lzw_kernel_table_reset_and_widths():
    # >4094 dictionary entries forces ClearCode reset mid-stream; tiled
    # data drives every code width 9..12
    rng = np.random.RandomState(6)
    for n in (0, 1, 257, 70000):
        data = rng.randint(0, 256, n).astype(np.uint8).tobytes()
        assert mc._lzw_decode(mc._lzw_encode(data, 8, mc._TIFF_LZW), 8, n, mc._TIFF_LZW) == data
        tiled = bytes(np.tile(np.arange(97, dtype=np.uint8), n // 97 + 1)[:n])
        assert mc._lzw_decode(mc._lzw_encode(tiled, 8, mc._TIFF_LZW), 8, n, mc._TIFF_LZW) == tiled
    # KwKwK case: aaa...a produces the code-just-added pattern immediately
    run = b"\xAA" * 500
    assert mc._lzw_decode(mc._lzw_encode(run, 8, mc._TIFF_LZW), 8, 500, mc._TIFF_LZW) == run


def test_tiff_lzw_end_code_reads_at_width_boundary():
    """The TIFF writer takes GIF's width step before End too, so a decoder
    that reads on to the End code (``reads_eoi``) finds it at the width the
    table has grown to. Random strips whose final table append lands on the
    9->10 (510) and 10->11 (1022) boundaries were misread before: "LZW code
    514 beyond the string table", "truncated mid-code"."""
    reads_end = (*mc._TIFF_LZW[:3], True)
    rng = np.random.RandomState(0)
    for n in [*range(240, 270), *range(750, 775)]:
        data = rng.randint(0, 256, n).astype(np.uint8).tobytes()
        enc = mc._lzw_encode(data, 8, mc._TIFF_LZW)
        assert mc._lzw_decode(enc, 8, n, reads_end) == data, n
        assert mc._lzw_decode(enc, 8, n, mc._TIFF_LZW) == data, n


def test_tiff_packbits_is_per_row():
    # TIFF 6.0 §9: each row compressed independently — a run spanning two
    # rows must produce two row streams, i.e. decoding exactly one row's
    # worth from the strip head consumes the first stream completely
    two = np.frombuffer(b"\xAA" * 20, dtype=np.uint8).reshape(2, 10)
    t = mc.encode_tiff(two, packbits=True, rows_per_strip=2)
    rec = mc.parse_tiff(t, return_pixels=True)
    assert (rec["pixels"] == two).all()
    # locate the strip (single strip, offset from tag 273)
    off = mc.parse_tiff(t)["width"]  # just sanity; decode path asserts shape
    # a whole-strip run of 20 would be 2 bytes; per-row it is 2 x 2 bytes
    # find strip bytes: the last 4 bytes of the file are the two row streams
    assert t[-4:] == bytes([256 - 9, 0xAA]) * 2


def test_avi_streams_dispatch_by_number_not_position():
    """AVI spec: the two-digit chunk-id prefix is the strl INDEX — audio as
    stream 00 with video as stream 01 is legal, and idx1 may index a subset
    of chunks (e.g. keyframes only)."""
    import struct as st

    rng = np.random.RandomState(9)
    frames = [rng.randint(0, 256, (6, 5, 3)).astype(np.uint8) for _ in range(2)]
    samples = rng.randint(-1000, 1000, 320).astype(np.int64)
    w, h, fps, rate = 5, 6, 10, 1600
    stride = (w * 3 + 3) & ~3
    payloads = []
    for fr in frames:
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = fr[::-1, :, ::-1].reshape(h, w * 3)
        payloads.append(rows.tobytes())
    spf = rate // fps
    audio_chunks = [samples[:spf].astype("<i2").tobytes(),
                    samples[spf:].astype("<i2").tobytes()]
    a_strh = (b"auds" + b"\x00" * 4
              + st.pack("<IHHIIIIIIiI", 0, 0, 0, 0, 1, rate, 0, len(samples),
                        max(len(c) for c in audio_chunks), -1, 2)
              + st.pack("<4H", 0, 0, 0, 0))
    a_strf = st.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    v_strh = (b"vids" + b"DIB "
              + st.pack("<IHHIIIIIIiI", 0, 0, 0, 0, 1, fps, 0, len(frames),
                        max(len(p) for p in payloads), -1, 0)
              + st.pack("<4H", 0, 0, w, h))
    v_strf = st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0)
    avih = st.pack("<14I", 1_000_000 // fps, max(len(p) for p in payloads) * fps,
                   0, 0x10, len(frames), 0, 2, max(len(p) for p in payloads),
                   w, h, 0, 0, 0, 0)
    # AUDIO strl first: audio is stream 00, video is stream 01
    hdrl = mc._riff_list(
        b"hdrl",
        mc._riff_chunk(b"avih", avih)
        + mc._riff_list(b"strl", mc._riff_chunk(b"strh", a_strh) + mc._riff_chunk(b"strf", a_strf))
        + mc._riff_list(b"strl", mc._riff_chunk(b"strh", v_strh) + mc._riff_chunk(b"strf", v_strf)),
    )
    movi_body = b""
    idx = b""
    for i, p in enumerate(payloads):
        # idx1 indexes ONLY the video chunks (legal subset)
        idx += b"01db" + st.pack("<III", 0x10, 4 + len(movi_body), len(p))
        movi_body += mc._riff_chunk(b"01db", p)
        movi_body += mc._riff_chunk(b"00wb", audio_chunks[i])
    body = (b"AVI " + hdrl + mc._riff_list(b"movi", movi_body)
            + mc._riff_chunk(b"idx1", idx))
    avi = b"RIFF" + st.pack("<I", len(body)) + body

    rec = mc.parse_avi(avi, return_frames=True)
    assert rec["n_frames"] == 2 and rec["width"] == w and rec["height"] == h
    assert all((rec["frames"][i] == frames[i]).all() for i in range(2))
    assert rec["has_audio"] and rec["audio_samples"] == len(samples)
    assert (rec["audio"] == samples).all()


def test_tiff_real_rgba_file():
    """Real foreign TIFF (CPython's test asset python.tiff): little-endian,
    uncompressed, photometric RGB with spp=4 (alpha via ExtraSamples),
    SHORT bits array of count 4 read via offset. Pins RGBA dispatch
    (PNG-style color_type 6) and the spp=4 sample accounting against a
    foreign writer."""
    import os

    rec = mc.parse_tiff(open(os.path.join(_FIXTURES, "python.tiff"), "rb").read())
    assert (rec["width"], rec["height"], rec["color_type"]) == (16, 16, 6)
    assert rec["n_px"] == 16 * 16 * 4
    assert rec["px_min"] >= 0 and rec["px_max"] <= 255
    out = mc.parse_image(open(os.path.join(_FIXTURES, "python.tiff"), "rb").read())
    assert out["format"] == "tiff" and out["color_type"] == 6


def test_netpbm_all_six_formats():
    """Netpbm roundtrip matrix: ASCII + raw, bitmap/gray/RGB, 16-bit
    big-endian samples, P4 MSB-first row padding at non-multiple-of-8
    widths, P1 separator-free digits, header comments."""
    rng = np.random.RandomState(4)
    for shape, maxval in [((7, 9), 255), ((5, 6, 3), 255), ((7, 9), 65535),
                          ((5, 6, 3), 1000), ((9, 13), 1)]:
        px = rng.randint(0, maxval + 1, shape)
        for af in (False, True):
            if maxval == 1 and len(shape) == 3:
                continue
            b = mc.encode_netpbm(px, ascii_format=af, maxval=maxval)
            rec = mc.parse_netpbm(b, return_pixels=True)
            assert (rec["pixels"] == px).all(), (shape, maxval, af)
            assert mc.parse_image(b)["format"] == "netpbm"
    # P1 pixels need no separators; comments legal in the header
    rec = mc.parse_netpbm(b"P1\n# comment\n4 2\n0110\n1001\n", return_pixels=True)
    assert rec["pixels"].tolist() == [[0, 1, 1, 0], [1, 0, 0, 1]]
    # P4 pads each row to a byte boundary
    px = rng.randint(0, 2, (3, 11))
    rec = mc.parse_netpbm(mc.encode_netpbm(px, maxval=1), return_pixels=True)
    assert (rec["pixels"] == px).all()
    # declared-maxval violation rejects
    with pytest.raises(ValueError, match="maxval"):
        mc.parse_netpbm(b"P2\n2 1\n10\n11 5\n")


def test_tiff_jpeg_compression_roundtrip():
    """TIFF compression 7 (Tech Note 2): per-strip abbreviated JPEG streams
    against a shared JPEGTables tag (DQT only — Huffman tables are built
    from per-strip symbol stats and stay strip-local). Decode must equal
    the per-strip JPEG roundtrip exactly."""
    import numpy as np

    h, w = 23, 17
    y, x = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [(7 * x + 3 * y) % 256, (5 * x + 11 * y) % 256, (13 * x + y) % 256], axis=-1
    ).astype(np.uint8)
    gray = ((3 * x + 9 * y) % 256).astype(np.uint8)
    for px in (rgb, gray):
        for be in (False, True):
            blob = mc.encode_tiff(px, jpeg=True, rows_per_strip=8, big_endian=be)
            rec = mc.parse_tiff(blob, return_pixels=True)
            parts = []
            for r0 in range(0, h, 8):
                dec = mc.decode_jpeg(mc.encode_jpeg(px[r0 : r0 + 8]))["pixels"]
                parts.append(dec.reshape(dec.shape[0], dec.shape[1], -1))
            exp = np.concatenate(parts, axis=0)[:h]
            assert np.array_equal(rec["pixels"].reshape(h, w, -1), exp)
            assert rec["color_type"] == (2 if px.ndim == 3 else 0)
    # JPEGTables tag present and abbreviated (DQT inside, no SOF)
    blob = mc.encode_tiff(rgb, jpeg=True)
    tables = mc.parse_image(blob)  # routes through the sniffer
    assert tables["format"] == "tiff"


def test_tiff_jpeg_tables_split_join():
    import numpy as np

    g = np.arange(64, dtype=np.uint8).reshape(8, 8)
    full = mc.encode_jpeg(g)
    tables, abbrev = mc._split_jpeg_tables(full)
    assert tables[:2] == b"\xff\xd8" and tables[-2:] == b"\xff\xd9"
    assert b"\xff\xdb" in tables and b"\xff\xdb" not in abbrev
    assert b"\xff\xc4" in abbrev  # DHT stays strip-local
    joined = mc._join_jpeg_tables(tables, abbrev)
    assert np.array_equal(mc.decode_jpeg(joined)["pixels"], mc.decode_jpeg(full)["pixels"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="JPEGTables"):
        mc._join_jpeg_tables(b"\xff\xd8", abbrev)


def test_tiff_tiled_matrix():
    """Tiled TIFF (tags 322-325, the pyramidal/GeoTIFF layout): row-major
    grid, zero-padded edge tiles cropped on decode; every compression
    (none/PackBits/LZW+predictor/JPEG) x byte order round-trips."""
    import numpy as np

    rng = np.random.RandomState(7)
    for shape in ((13, 11, 3), (9, 14)):
        px = rng.randint(0, 256, shape).astype(np.uint8)
        for kw in (dict(), dict(packbits=True), dict(lzw=True, predictor=2)):
            for be in (False, True):
                blob = mc.encode_tiff(px, tiles=(8, 4), big_endian=be, **kw)
                rec = mc.parse_tiff(blob, return_pixels=True)
                assert np.array_equal(rec["pixels"], px), (shape, kw, be)
    # JPEG tiles decode to the per-tile JPEG roundtrip exactly
    px = rng.randint(0, 256, (13, 11, 3)).astype(np.uint8)
    rec = mc.parse_tiff(mc.encode_tiff(px, jpeg=True, tiles=(8, 8)), return_pixels=True)
    padded = np.zeros((16, 16, 3), np.uint8)
    padded[:13, :11] = px
    exp = np.zeros((16, 16, 3), np.uint8)
    for yy in range(2):
        for xx in range(2):
            tile = padded[yy * 8 : (yy + 1) * 8, xx * 8 : (xx + 1) * 8]
            exp[yy * 8 : (yy + 1) * 8, xx * 8 : (xx + 1) * 8] = mc.decode_jpeg(
                mc.encode_jpeg(tile)
            )["pixels"]
    assert np.array_equal(rec["pixels"], exp[:13, :11])
    # tile-table size mismatch is corruption, not a crash
    import pytest as _pytest

    blob = bytearray(mc.encode_tiff(px[:, :, 0], tiles=(8, 4)))
    with _pytest.raises(ValueError):
        # chop one tile's bytes off the end -> truncated tile
        mc.parse_tiff(bytes(blob[:-3]))


def test_tiff_deflate_roundtrip_matrix():
    """Adobe Deflate TIFF (compression 8): one zlib stream per strip/tile,
    both byte orders, with and without the horizontal predictor."""
    import numpy as np

    rng = np.random.RandomState(9)
    for shape in ((13, 11, 3), (9, 14)):
        px = rng.randint(0, 256, shape).astype(np.uint8)
        for kw in (dict(deflate=True), dict(deflate=True, predictor=2),
                   dict(deflate=True, tiles=(8, 4))):
            for be in (False, True):
                rec = mc.parse_tiff(mc.encode_tiff(px, big_endian=be, **kw),
                                    return_pixels=True)
                assert np.array_equal(rec["pixels"], px), (shape, kw, be)


def test_avi_g711_audio_tracks():
    """AVI 'auds' streams in G.711 A-law (6) and mu-law (7): one companded
    byte per sample, expanded through the same decoders the WAV path uses;
    decode equals the WAV G.711 roundtrip exactly."""
    import numpy as np

    rng = np.random.RandomState(11)
    frames = [rng.randint(0, 256, (8, 8, 3)).astype(np.uint8) for _ in range(3)]
    samples = rng.randint(-2000, 2000, 600).astype(np.int16)
    for fmt, enc, dec in ((6, mc._alaw_encode, mc._alaw_decode),
                          (7, mc._ulaw_encode, mc._ulaw_decode)):
        rec = mc.parse_avi(
            mc.encode_avi(frames, audio=samples, audio_format=fmt),
            return_frames=True,
        )
        exp = dec(enc(samples.astype(np.int64)).astype(np.int64))
        assert np.array_equal(rec["audio"], exp)
        assert rec["audio_samples"] == 600 and rec["has_audio"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="audio_format"):
        mc.encode_avi(frames, audio=samples, audio_format=2)


def test_avi_ima_adpcm_audio_track():
    """AVI IMA-ADPCM 'auds' streams: whole self-contained blocks per chunk
    (a per-video-frame split would cut predictor state); decode reproduces
    the shared block encoder's decoder-exact reconstruction bit-for-bit."""
    import numpy as np

    rng = np.random.RandomState(13)
    frames = [rng.randint(0, 256, (8, 8, 3)).astype(np.uint8) for _ in range(3)]
    t = np.arange(1500)
    sig = (8000 * np.sin(t / 20) + 3000 * np.sin(t / 7)).astype(np.int64)
    for ch in (1, 2):
        x = sig if ch == 1 else np.stack([sig, -sig], axis=1).reshape(-1)
        rec = mc.parse_avi(
            mc.encode_avi(frames, audio=x, audio_channels=ch, audio_format=0x11),
            return_frames=True,
        )
        _d, _ba, recon = mc._ima_encode_blocks(x, ch, 505)
        assert np.array_equal(rec["audio"].reshape(-1), recon.reshape(-1)), ch
        assert rec["audio_samples"] == 1515  # 3 blocks x 505, tail padded

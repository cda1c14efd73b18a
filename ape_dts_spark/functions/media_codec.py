"""REAL media codecs, stdlib + numpy only: PNG, BMP, GIF, baseline and
progressive JPEG, TIFF, Netpbm, WAV (PCM, IMA-ADPCM, G.711) and AVI (raw
DIB or MJPG frames, PCM/G.711/IMA-ADPCM audio).

Each format follows the repo's at-rest parser pattern (binlog/pgoutput/
oplog/RDB): a deterministic spec-conformant WRITER (doubles as the fixture
generator), a distributed Arrow-batched PARSER over `mapInPandas`, oracle
gates on exact integer pixel/sample statistics, and hand-computed spec
vectors in tests (every PNG filter type reconstructed by hand). Shared
steps have one implementation each: the JPEG marker walk
(``_jpeg_segments``), the SOF reader and MCU geometry, the scan-unit walk
of encoder and decoder, the LZW core of GIF and TIFF, the RIFF chunk walk
of WAV and AVI, and the per-payload runner ``_quarantine_map``.

Scale shape: one mapInPandas pass, no shuffle — partition count = files /
batch size; each executor decodes whole Arrow batches. Real corpora arrive
via ``spark.read.format("binaryFile")`` (or its readStream tail); the gate
queries generate payloads in-DataFrame so the oracle can state the expected
statistics from the generating formula.

PNG spec: https://www.w3.org/TR/png-3/ (chunks, CRC-32, filter types 0-4).
WAV/RIFF: the canonical PCM layout (RIFF/WAVE, fmt , data chunks).
"""

from __future__ import annotations

import functools
import struct
import zlib
from binascii import crc32
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


class MediaCodecError(ValueError):
    """Malformed / truncated media payload.

    The codecs' explicit validity checks raise ValueError with a message;
    this subclass is the *normalized* error surface for everything a
    truncated or bit-flipped real-corpus file can trigger mid-parse
    (``struct.error`` from a short header read, ``zlib.error`` from a cut
    DEFLATE stream, ``IndexError``/``KeyError`` from a corrupt table, …).
    Being a ValueError, it flows through the multimodal ``fake=True``
    corrupt-tolerance catch (functions/multimodal.py) and ``decode_image``'s
    ``errors="null"`` quarantine path — one bad row must never crash a
    mixed-corpus job (the checker-grade robustness contract of the
    reference's base_checker.rs, applied to media)."""


# Exception types a malformed payload can surface from the stdlib/numpy
# guts of a parser. NotImplementedError (honest capability boundaries) and
# plain ValueError (explicit validity checks) pass through untouched.
_MALFORMED_ERRORS = (
    struct.error,
    zlib.error,
    IndexError,
    KeyError,
    EOFError,
    OverflowError,
    UnicodeDecodeError,
    MemoryError,
)

# One file is decoded in one executor's memory: cap declared dimensions so a
# bit-flipped width/height field raises instead of attempting a multi-GiB
# allocation (2^28 samples ≈ 256 MiB int8 plane — generous for any fixture
# or real crawl image, tiny next to executor memory).
_MAX_DIM = 1 << 24
_MAX_PIXELS = 1 << 28


def _check_dims(w: int, h: int, fmt: str) -> None:
    if not (0 < w <= _MAX_DIM and 0 < h <= _MAX_DIM and w * h <= _MAX_PIXELS):
        raise MediaCodecError(f"malformed {fmt} payload: implausible dimensions {w}x{h}")


def _codec_guard(fmt: str):
    """Normalize a parser's error surface: any low-level exception escaping
    the explicit validity checks is re-raised as MediaCodecError so callers
    (multimodal fake=True, decode_image errors=) need exactly one catch."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(payload, *args, **kwargs):
            try:
                return fn(payload, *args, **kwargs)
            except (MediaCodecError, NotImplementedError):
                raise
            except _MALFORMED_ERRORS as exc:
                raise MediaCodecError(
                    f"malformed {fmt} payload: {type(exc).__name__}: {exc}"
                ) from exc

        return wrapper

    return deco

# ---------------------------------------------------------------------------
# PNG writer (deterministic, spec-conformant; fixture generator)
# ---------------------------------------------------------------------------


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", crc32(tag + body) & 0xFFFFFFFF)
    )


def _filter_scanline(ftype: int, raw: np.ndarray, prior: np.ndarray, bpp: int) -> bytes:
    """Apply PNG filter ``ftype`` to one raw scanline (the WRITER side of the
    spec's reconstruction functions). All arithmetic is mod 256."""
    n = raw.shape[0]
    left = np.zeros(n, dtype=np.int32)
    left[bpp:] = raw[:-bpp]
    up = prior.astype(np.int32)
    if ftype == 0:  # None
        out = raw.astype(np.int32)
    elif ftype == 1:  # Sub
        out = raw.astype(np.int32) - left
    elif ftype == 2:  # Up
        out = raw.astype(np.int32) - up
    elif ftype == 3:  # Average
        out = raw.astype(np.int32) - (left + up) // 2
    elif ftype == 4:  # Paeth
        ul = np.zeros(n, dtype=np.int32)
        ul[bpp:] = prior[:-bpp]
        out = raw.astype(np.int32) - _paeth(left, up, ul)
    else:
        raise ValueError(f"unknown PNG filter type {ftype}")
    return bytes([ftype]) + (out % 256).astype(np.uint8).tobytes()


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


# (channels per color type; 3 = palette indices, expanded via PLTE)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_PNG_VALID_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                     4: (8, 16), 6: (8, 16)}
# Adam7 pass geometry: (x_start, y_start, x_step, y_step)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _pack_row(samples: np.ndarray, bit_depth: int) -> bytes:
    """Pack one row of integer samples into PNG scanline bytes (big-endian
    within bytes for sub-8 depths, big-endian u16 pairs for depth 16)."""
    if bit_depth == 8:
        return samples.astype(np.uint8).tobytes()
    if bit_depth == 16:
        return samples.astype(">u2").tobytes()
    per_byte = 8 // bit_depth
    n = samples.shape[0]
    padded = np.zeros(-(-n // per_byte) * per_byte, dtype=np.int64)
    padded[:n] = samples
    out = np.zeros(padded.shape[0] // per_byte, dtype=np.int64)
    for k in range(per_byte):
        out |= padded[k::per_byte] << (8 - (k + 1) * bit_depth)
    return out.astype(np.uint8).tobytes()


def _unpack_row(data: np.ndarray, bit_depth: int, n: int) -> np.ndarray:
    """Inverse of _pack_row: scanline bytes -> n integer samples."""
    if bit_depth == 8:
        return data[:n].astype(np.int64)
    if bit_depth == 16:
        return data[: 2 * n].view(">u2").astype(np.int64)
    per_byte = 8 // bit_depth
    mask = (1 << bit_depth) - 1
    cols = [(data.astype(np.int64) >> (8 - (k + 1) * bit_depth)) & mask
            for k in range(per_byte)]
    return np.stack(cols, axis=1).reshape(-1)[:n]


def _png_filter_pass(rows: np.ndarray, bit_depth: int, channels: int,
                     filter_type: int) -> bytes:
    """Filter one (ph, pw*channels) sample grid into PNG scanline bytes."""
    ph = rows.shape[0]
    fbpp = max(1, channels * bit_depth // 8)
    packed = [np.frombuffer(_pack_row(rows[y], bit_depth), dtype=np.uint8)
              for y in range(ph)]
    out = bytearray()
    prior = np.zeros(packed[0].shape[0], dtype=np.uint8)
    for y in range(ph):
        out += _filter_scanline(filter_type, packed[y], prior, fbpp)
        prior = packed[y]
    return bytes(out)


def encode_png(
    pixels: np.ndarray,
    filter_type: int = 0,
    palette: np.ndarray | None = None,
    bit_depth: int = 8,
    interlace: bool = False,
) -> bytes:
    """Encode an image to PNG bytes. ``pixels`` is (h, w) grayscale /
    palette indices (with ``palette`` = (n, 3) uint8 -> color type 3),
    (h, w, 2) gray+alpha, (h, w, 3) RGB, or (h, w, 4) RGBA. ``bit_depth``
    supports 1/2/4 (gray or palette), 8, and 16 (values must fit).
    ``interlace`` emits Adam7 (each pass filtered independently). Every
    scanline uses ``filter_type`` — exercising the parser's full filter
    reconstruction, not just the identity path."""
    pixels = np.asarray(pixels)
    if pixels.ndim == 2:
        channels = 1
        color_type = 3 if palette is not None else 0
    elif pixels.ndim == 3 and pixels.shape[2] in (2, 3, 4):
        channels = pixels.shape[2]
        color_type = {2: 4, 3: 2, 4: 6}[channels]
    else:
        raise ValueError("pixels must be (h,w)[,2|3|4 channels]")
    if bit_depth not in _PNG_VALID_DEPTHS[color_type]:
        raise ValueError(f"bit depth {bit_depth} invalid for color type {color_type}")
    if int(pixels.max(initial=0)) >= (1 << bit_depth):
        raise ValueError("sample exceeds bit depth")
    h, w = pixels.shape[:2]
    rows = pixels.reshape(h, w * channels).astype(np.int64)
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0,
                       1 if interlace else 0)
    body = bytearray()
    if interlace:
        for x0, y0, dx, dy in _ADAM7:
            sub = pixels[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            sh, sw = sub.shape[:2]
            body += _png_filter_pass(
                sub.reshape(sh, sw * channels).astype(np.int64),
                bit_depth, channels, filter_type,
            )
    else:
        body += _png_filter_pass(rows, bit_depth, channels, filter_type)
    out = PNG_SIGNATURE + _chunk(b"IHDR", ihdr)
    if color_type == 3:
        pal = np.asarray(palette, dtype=np.uint8)
        if int(pixels.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        out += _chunk(b"PLTE", pal.tobytes())
    return (
        out
        + _chunk(b"IDAT", zlib.compress(bytes(body), 6))
        + _chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# PNG parser (single-payload core + distributed mapInPandas wrapper)
# ---------------------------------------------------------------------------


def _png_recon_pass(
    raw: bytes, offset: int, ph: int, stride: int, fbpp: int
) -> tuple[np.ndarray, int]:
    """Reconstruct one pass's scanlines (all five filter types) from the
    inflated stream at ``offset``. Returns the (ph, stride) byte grid and
    the new offset."""
    need = ph * (stride + 1)
    if offset + need > len(raw):
        raise ValueError("IDAT length does not match dimensions")
    out = np.zeros((ph, stride), dtype=np.uint8)
    for y in range(ph):
        base = offset + y * (stride + 1)
        ftype = raw[base]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=base + 1).astype(np.int32)
        up = out[y - 1].astype(np.int32) if y else np.zeros(stride, dtype=np.int32)
        if ftype == 0:
            rec = line
        elif ftype == 2:
            rec = line + up
        elif ftype in (1, 3, 4):
            # left-dependent filters reconstruct sequentially per pixel
            ul = np.zeros(stride, dtype=np.int32)
            if y:
                ul[fbpp:] = out[y - 1][:-fbpp]
            rec = line.copy()
            for x in range(stride):
                a = rec[x - fbpp] if x >= fbpp else 0
                if ftype == 1:
                    rec[x] += a
                elif ftype == 3:
                    rec[x] += (a + up[x]) // 2
                else:
                    rec[x] += int(_paeth(np.array([a]), up[x : x + 1], ul[x : x + 1])[0])
                # reduce NOW: later pixels read this byte through Average's
                # floor-divide and Paeth's magnitude compares, neither of
                # which is invariant under deferred mod-256
                rec[x] %= 256
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out[y] = (rec % 256).astype(np.uint8)
    return out, offset + need


@_codec_guard("png")
def parse_png(payload: bytes, return_pixels: bool = False) -> dict:
    """Full PNG decode: signature, chunk walk with CRC-32 verification,
    IHDR/PLTE, zlib-inflate of the concatenated IDAT stream, per-scanline
    filter reconstruction (all five filter types), every color type
    (grayscale, RGB, palette, gray+alpha, RGBA), bit depths 1/2/4/8/16,
    and Adam7 de-interlacing. Returns header fields plus exact integer
    SAMPLE statistics (count / sum / min / max over every channel value;
    palette images are expanded through PLTE first) — the cross-engine-
    comparable surface of a real decode."""
    if payload[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, idat, seen_end, plte, trns = 8, None, bytearray(), False, None, None
    while pos + 12 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        pos += 12 + length
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = np.frombuffer(body, dtype=np.uint8)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            seen_end = True
            break
    if ihdr is None or not seen_end:
        raise ValueError("missing IHDR or IEND")
    w, h, bit_depth, color_type, comp, filt, interlace = ihdr
    _check_dims(w, h, "png")
    if comp or filt or interlace not in (0, 1):
        raise ValueError(
            f"invalid IHDR (compression={comp} filter={filt} interlace={interlace})"
        )
    if color_type not in _PNG_CHANNELS or bit_depth not in _PNG_VALID_DEPTHS[color_type]:
        raise ValueError(f"invalid depth/color combination {bit_depth}/{color_type}")
    if color_type == 3 and plte is None:
        raise ValueError("palette image without PLTE chunk")
    channels = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    samples = np.zeros((h, w, channels), dtype=np.int64)
    passes = _ADAM7 if interlace else ((0, 0, 1, 1),)
    offset = 0
    for x0, y0, dx, dy in passes:
        pw = len(range(x0, w, dx))
        ph = len(range(y0, h, dy))
        if pw == 0 or ph == 0:
            continue
        stride = -(-pw * channels * bit_depth // 8)
        fbpp = max(1, channels * bit_depth // 8)
        grid, offset = _png_recon_pass(raw, offset, ph, stride, fbpp)
        for yy in range(ph):
            row = _unpack_row(grid[yy], bit_depth, pw * channels)
            samples[y0 + yy * dy, x0::dx] = row.reshape(pw, channels)
    if offset != len(raw):
        raise ValueError("IDAT length does not match dimensions")
    if color_type == 3:
        idx = samples[:, :, 0]
        if int(idx.max(initial=0)) >= plte.shape[0]:
            raise ValueError("palette index beyond PLTE")
        px = plte.astype(np.int64)[idx]  # (h, w, 3) expanded RGB
        if trns is not None:
            # tRNS on a palette image: per-index alpha, default 255 for
            # entries past the chunk -> expand to RGBA like a real decoder
            alpha = np.full(plte.shape[0], 255, dtype=np.int64)
            alpha[: trns.shape[0]] = trns[: plte.shape[0]]
            px = np.concatenate([px, alpha[idx][:, :, None]], axis=2)
    else:
        px = samples
    rec = {
        "width": w,
        "height": h,
        "bit_depth": bit_depth,
        "color_type": color_type,
        "n_px": int(px.size),
        "px_sum": int(px.sum()),
        "px_min": int(px.min()),
        "px_max": int(px.max()),
    }
    if return_pixels:
        if color_type == 0:
            rec["pixels"] = px.reshape(h, w)
        else:
            rec["pixels"] = px.reshape(h, w, px.shape[-1])
    return rec


PNG_DECODED_SCHEMA = (
    "id long, width int, height int, bit_depth int, color_type int, "
    "n_px long, px_sum long, px_min int, px_max int"
)


def decode_png(df: DataFrame, payload_col: str = "payload", id_col: str = "id") -> DataFrame:
    """Distributed PNG decode: one Arrow-batched mapInPandas pass, no
    shuffle. Corrupt payloads raise (route through a dead-letter filter
    upstream if quarantine semantics are wanted — streaming/cdc.py pattern)."""
    return _quarantine_map(
        df, payload_col, id_col, _record_rows(parse_png, PNG_DECODED_SCHEMA), PNG_DECODED_SCHEMA, "raise"
    )


# ---------------------------------------------------------------------------
# WAV writer + parser
# ---------------------------------------------------------------------------


def encode_wav(
    samples: np.ndarray, sample_rate: int, n_channels: int = 1, bits: int = 16
) -> bytes:
    """PCM little-endian WAV writer at 8 (unsigned), 16, 24, or 32 bits.
    ``samples`` is signed frame-major (interleaved when n_channels > 1);
    8-bit input is signed -128..127 and stored re-centered at 128."""
    s = np.asarray(samples, dtype=np.int64)
    if bits == 16:
        data = s.astype("<i2").tobytes()
    elif bits == 8:
        data = (s + 128).astype(np.uint8).tobytes()
    elif bits == 32:
        data = s.astype("<i4").tobytes()
    elif bits == 24:
        u = np.where(s < 0, s + (1 << 24), s).astype(np.int64)
        b3 = np.stack([u & 0xFF, (u >> 8) & 0xFF, (u >> 16) & 0xFF], axis=1)
        data = b3.astype(np.uint8).tobytes()
    else:
        raise ValueError(f"unsupported PCM bit width {bits}")
    width = bits // 8
    byte_rate = sample_rate * n_channels * width
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, byte_rate, n_channels * width, bits
    )
    return _wav_file(fmt, data)


def _wav_file(fmt: bytes, data: bytes) -> bytes:
    """The RIFF/WAVE envelope of every WAV writer: a 'fmt ' chunk, then the
    'data' chunk, written without the pad byte an odd-length body would
    take (the RIFF size counts exactly the bytes written)."""
    body = b"WAVE" + _riff_chunk(b"fmt ", fmt) + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_ima(
    samples: np.ndarray, sample_rate: int, n_channels: int = 1,
    samples_per_block: int = 505,
) -> tuple[bytes, np.ndarray]:
    """IMA-ADPCM (WAVE format 0x11) writer. ``samples`` is int16
    frame-major. Returns (wav_bytes, reconstructed) where ``reconstructed``
    is the decoder-exact signal the nibble stream represents (ADPCM is
    lossy; the encoder tracks the decoded predictor, so parse_wav on the
    output must reproduce ``reconstructed`` bit-for-bit)."""
    data, block_align, recon = _ima_encode_blocks(samples, n_channels, samples_per_block)
    byte_rate = sample_rate * block_align // samples_per_block
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, n_channels, sample_rate, byte_rate, block_align, 4,
        2, samples_per_block,  # cbSize + wSamplesPerBlock extension
    )
    return _wav_file(fmt, data), recon


def _ima_encode_blocks(
    samples: np.ndarray, n_channels: int, samples_per_block: int
) -> tuple[bytes, int, np.ndarray]:
    """IMA-ADPCM block encoder shared by the WAV (format 0x11) and AVI
    ('auds' format 0x11) writers: (data_bytes, block_align, decoder-exact
    reconstruction)."""
    s = np.asarray(samples, dtype=np.int64).reshape(-1, n_channels)
    if (samples_per_block - 1) % 8:
        raise ValueError("samples_per_block must be 1 + multiple of 8")
    groups_per_chan = (samples_per_block - 1) // 8
    block_align = 4 * n_channels + 4 * n_channels * groups_per_chan
    # pad the tail block by repeating the final frame
    n = s.shape[0]
    n_blocks = -(-max(n, 1) // samples_per_block)
    pad = n_blocks * samples_per_block - n
    if pad:
        s = np.vstack([s, np.repeat(s[-1:], pad, axis=0)])
    data = bytearray()
    recon = np.zeros_like(s)
    for b in range(n_blocks):
        blk = s[b * samples_per_block : (b + 1) * samples_per_block]
        chan_state = []
        for c in range(n_channels):
            pred = int(blk[0, c])
            index = 0
            data += struct.pack("<hBB", pred, index, 0)
            recon[b * samples_per_block, c] = pred
            chan_state.append([pred, index])
        # encode 8-sample groups per channel, round-robin 4-byte groups
        nibbles: list[list[int]] = [[] for _ in range(n_channels)]
        for c in range(n_channels):
            pred, index = chan_state[c]
            for i in range(1, samples_per_block):
                step = _IMA_STEPS[index]
                delta = int(blk[i, c]) - pred
                nib = 0
                if delta < 0:
                    nib = 8
                    delta = -delta
                if delta >= step:
                    nib |= 4
                    delta -= step
                if delta >= step >> 1:
                    nib |= 2
                    delta -= step >> 1
                if delta >= step >> 2:
                    nib |= 1
                # decoder-exact reconstruction update
                diff = step >> 3
                if nib & 1:
                    diff += step >> 2
                if nib & 2:
                    diff += step >> 1
                if nib & 4:
                    diff += step
                pred = pred - diff if nib & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                index = max(0, min(88, index + _IMA_INDEX_ADJ[nib & 7]))
                nibbles[c].append(nib)
                recon[b * samples_per_block + i, c] = pred
        for g in range(groups_per_chan):
            for c in range(n_channels):
                for k in range(4):
                    lo = nibbles[c][g * 8 + 2 * k]
                    hi = nibbles[c][g * 8 + 2 * k + 1]
                    data.append(lo | (hi << 4))
    return bytes(data), block_align, recon[: n_blocks * samples_per_block]


# IMA-ADPCM tables (IMA ADPCM spec / Microsoft WAVE format 0x11)
_IMA_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484,
    7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818,
    18500, 20350, 22385, 24623, 27086, 29794, 32767,
]


def _ima_decode_channel(pred: int, index: int, nibbles: list[int]) -> list[int]:
    """Decode one channel's nibble stream: standard IMA step update with
    the divide-free magnitude expansion and int16 clamping."""
    out = []
    for nib in nibbles:
        step = _IMA_STEPS[index]
        diff = step >> 3
        if nib & 1:
            diff += step >> 2
        if nib & 2:
            diff += step >> 1
        if nib & 4:
            diff += step
        pred = pred - diff if nib & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + _IMA_INDEX_ADJ[nib & 7]))
        out.append(pred)
    return out


def _ima_adpcm_decode(data: bytes, n_channels: int, block_align: int) -> np.ndarray:
    """IMA-ADPCM 'data' chunk -> interleaved int16 samples. Each block:
    per-channel 4-byte header (predictor int16 + step index), then 4-byte
    per-channel nibble groups (8 samples per group per channel)."""
    samples_per_block = (block_align - 4 * n_channels) * 2 // n_channels + 1
    out: list[list[int]] = []
    for boff in range(0, len(data) - block_align + 1, block_align):
        block = data[boff : boff + block_align]
        chans = []
        for c in range(n_channels):
            pred, index = struct.unpack_from("<hB", block, c * 4)
            if index > 88:
                raise ValueError("IMA-ADPCM step index out of range")
            chans.append([[pred], pred, index])  # samples, pred, index
        pos = 4 * n_channels
        # nibble region: alternating 4-byte groups per channel
        groups = [[] for _ in range(n_channels)]
        gi = 0
        while pos + 4 <= len(block):
            groups[gi % n_channels].extend(block[pos : pos + 4])
            pos += 4
            gi += 1
        for c in range(n_channels):
            nibs = []
            for byte in groups[c]:
                nibs.append(byte & 0xF)
                nibs.append(byte >> 4)
            nibs = nibs[: samples_per_block - 1]
            chans[c][0].extend(_ima_decode_channel(chans[c][1], chans[c][2], nibs))
        # interleave channels
        for i in range(samples_per_block):
            out.append([chans[c][0][i] for c in range(n_channels)])
    return np.array(out, dtype=np.int64).reshape(-1)


@_codec_guard("wav")
def wav_samples(payload: bytes) -> tuple[dict, np.ndarray]:
    """RIFF/WAVE parse + sample decode, returning (meta, samples): chunk
    walk (fmt before data, unknown chunks skipped per spec), then
    numpy-decoded interleaved int64 samples. Formats: PCM at 8 (unsigned,
    re-centered), 16, 24 (3-byte LE), and 32 bits, plus IMA-ADPCM
    (format 0x11, block headers + nibble expansion)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    (riff_len,) = struct.unpack_from("<I", payload, 4)
    if riff_len != len(payload) - 8:
        raise ValueError("RIFF length mismatch")
    fmt, data = None, None
    for tag, _off, body in _riff_chunks(payload, 12):
        if tag == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif tag == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, n_channels, sample_rate, byte_rate, block_align, bits = fmt
    if audio_format == 1 and bits in (8, 16, 24, 32):
        width = bits // 8
        if byte_rate != sample_rate * n_channels * width or block_align != n_channels * width:
            raise ValueError("inconsistent fmt chunk")
        usable = len(data) - len(data) % width
        if bits == 8:  # unsigned, center 128
            s = np.frombuffer(data, dtype=np.uint8).astype(np.int64) - 128
        elif bits == 16:
            s = np.frombuffer(data, dtype="<i2").astype(np.int64)
        elif bits == 32:
            s = np.frombuffer(data, dtype="<i4").astype(np.int64)
        else:  # 24-bit: widen 3-byte LE to 4 with sign extension
            b3 = np.frombuffer(data, dtype=np.uint8, count=usable).reshape(-1, 3)
            s = (
                b3[:, 0].astype(np.int64)
                | (b3[:, 1].astype(np.int64) << 8)
                | (b3[:, 2].astype(np.int64) << 16)
            )
            s = np.where(s >= 1 << 23, s - (1 << 24), s)
    elif audio_format == 0x11:  # IMA ADPCM
        if bits != 4:
            raise ValueError(f"IMA-ADPCM requires 4 bits/sample, got {bits}")
        s = _ima_adpcm_decode(data, n_channels, block_align)
        bits = 4
    elif audio_format in (6, 7):  # G.711 A-law / mu-law (one byte/sample)
        if bits != 8:
            raise ValueError(f"G.711 requires 8 bits/sample, got {bits}")
        codes = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
        s = _alaw_decode(codes) if audio_format == 6 else _ulaw_decode(codes)
    else:
        raise NotImplementedError(
            "supported: PCM 8/16/24/32 + IMA-ADPCM + G.711 A-law/mu-law "
            f"(got format={audio_format} bits={bits})"
        )
    meta = {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "bits_per_sample": bits,
    }
    return meta, s


# ---------------------------------------------------------------------------
# G.711 mu-law / A-law (ITU-T G.711; the classic telephony companders).
# Vectorized decode via the standard segment+mantissa expansion, encoders via
# the usual Sun-audio segment search — both deterministic and table-free.
# ---------------------------------------------------------------------------


def _ulaw_decode(codes: np.ndarray) -> np.ndarray:
    u = ~codes & 0xFF
    sign = (u & 0x80) != 0
    exp = (u >> 4) & 7
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return np.where(sign, -mag, mag).astype(np.int64)


def _ulaw_encode(samples: np.ndarray) -> np.ndarray:
    s = np.asarray(samples, dtype=np.int64)
    sign = s < 0
    mag = np.minimum(np.abs(s), 32635) + 0x84
    exp = np.clip(np.floor(np.log2(mag)).astype(np.int64) - 7, 0, 7)
    mant = (mag >> (exp + 3)) & 0x0F
    code = ~((sign.astype(np.int64) << 7) | (exp << 4) | mant) & 0xFF
    return code.astype(np.uint8)


def _alaw_decode(codes: np.ndarray) -> np.ndarray:
    a = codes ^ 0x55
    sign = (a & 0x80) != 0
    exp = (a >> 4) & 7
    mant = a & 0x0F
    mag = np.where(exp > 0, ((mant << 4) + 0x108) << np.maximum(exp - 1, 0), (mant << 4) + 8)
    # after the 0x55 toggle, bit 7 SET means positive (G.711 A-law sign
    # convention is inverted relative to mu-law)
    return np.where(sign, mag, -mag).astype(np.int64)


def _alaw_encode(samples: np.ndarray) -> np.ndarray:
    s = np.asarray(samples, dtype=np.int64)
    sign = s >= 0
    mag = np.minimum(np.where(s >= 0, s, -s - 1), 32767)
    exp = np.maximum(np.floor(np.log2(np.maximum(mag, 1))).astype(np.int64) - 7, 0)
    mant = np.where(exp > 0, (mag >> (exp + 3)) & 0x0F, (mag >> 4) & 0x0F)
    code = ((sign.astype(np.int64) << 7) | (exp << 4) | mant) ^ 0x55
    return code.astype(np.uint8)


def encode_wav_g711(
    samples: np.ndarray, sample_rate: int, n_channels: int = 1, law: str = "ulaw"
) -> tuple[bytes, np.ndarray]:
    """G.711 WAV writer (format 7 = mu-law, 6 = A-law). Returns
    (wav_bytes, reconstructed): G.711 is lossy, so the decoder-exact
    reconstruction ships alongside, like encode_wav_ima."""
    s = np.asarray(samples, dtype=np.int64)
    if law == "ulaw":
        fmt_code, codes = 7, _ulaw_encode(s)
        recon = _ulaw_decode(codes.astype(np.int64))
    elif law == "alaw":
        fmt_code, codes = 6, _alaw_encode(s)
        recon = _alaw_decode(codes.astype(np.int64))
    else:
        raise ValueError(f"law must be 'ulaw' or 'alaw', got {law!r}")
    fmt = struct.pack(
        "<HHIIHH", fmt_code, n_channels, sample_rate,
        sample_rate * n_channels, n_channels, 8,
    )
    return _wav_file(fmt, codes.tobytes()), recon


@_codec_guard("wav")
def parse_wav(payload: bytes) -> dict:
    """WAV parse + decode to exact integer sample statistics (count / peak
    magnitude / sum of |s|) over :func:`wav_samples`."""
    meta, s = wav_samples(payload)
    return {
        **meta,
        "n_samples": int(s.size // meta["n_channels"]),
        "peak_abs": int(np.abs(s).max()) if s.size else 0,
        "sum_abs": int(np.abs(s).sum()),
    }


@_codec_guard("wav")
def audio_spectrum(payload: bytes, n_fft: int = 256) -> dict:
    """Framed spectral analysis over a decoded audio clip — a WAV payload,
    or the PCM16 audio track of an AVI container (RIFF form sniffed) — the audio half of
    the multimodal feature-extract surface (reference treats audio as an
    opaque payload; this gives it real, queryable features). Channels are
    integer-summed to a mono mix, framed into non-overlapping rectangular
    windows of ``n_fft`` samples (partial tail dropped), and each frame runs
    a numpy real FFT. Emitted features:

    - ``peak_bin`` / ``peak_hz``: argmax of the frame-averaged magnitude
      spectrum (ties break to the lowest bin) and its frequency.
    - ``centroid_bin``: spectral centroid in bin units (float).
    - ``bandwidth_bin``: magnitude-weighted standard deviation around the
      centroid; ``narrowband`` flags bandwidth < 2 bins (a pure tone).
    - ``parseval_ok``: per-frame Parseval identity
      ``sum(x^2) == (|X_0|^2 + 2*sum|X_k|^2 + |X_{N/2}|^2) / N`` holds to
      1e-9 relative on every frame — an internal proof that the transform
      actually conserved the signal's energy.

    Clips shorter than one frame return ``n_frames=0`` with zeroed spectral
    fields (``parseval_ok`` vacuously true, ``narrowband`` false).
    """
    if n_fft < 2 or n_fft & (n_fft - 1):
        raise ValueError(f"n_fft must be a power of two >= 2, got {n_fft}")
    form = payload[8:12] if payload[:4] == b"RIFF" else b""
    if form == b"AVI ":  # audio track of an AVI container
        rec_avi = parse_avi(payload, return_frames=True)
        if not rec_avi["has_audio"]:
            raise ValueError("AVI payload has no audio stream")
        meta = {
            "sample_rate": rec_avi["audio_rate"],
            "n_channels": rec_avi["audio_channels"],
            "bits_per_sample": 16,
        }
        s = rec_avi["audio"]
    else:
        meta, s = wav_samples(payload)
    ch = meta["n_channels"]
    mono = s.reshape(-1, ch).sum(axis=1)
    n_frames = mono.size // n_fft
    rec = {
        **meta,
        "n_samples": int(mono.size),
        "n_fft": n_fft,
        "n_frames": int(n_frames),
        "peak_bin": 0,
        "peak_hz": 0.0,
        "centroid_bin": 0.0,
        "bandwidth_bin": 0.0,
        "narrowband": False,
        "parseval_ok": True,
    }
    if n_frames == 0:
        return rec
    frames = mono[: n_frames * n_fft].reshape(n_frames, n_fft).astype(np.float64)
    spec = np.fft.rfft(frames, axis=1)
    p2 = np.abs(spec) ** 2
    # Parseval per frame (rectangular window, real FFT one-sided fold)
    spec_energy = (p2[:, 0] + 2.0 * p2[:, 1:-1].sum(axis=1) + p2[:, -1]) / n_fft
    time_energy = (frames**2).sum(axis=1)
    tol = 1e-9 * np.maximum(time_energy, 1.0)
    parseval_ok = bool(np.all(np.abs(spec_energy - time_energy) <= tol))
    mag = np.abs(spec).mean(axis=0)
    k = np.arange(mag.size, dtype=np.float64)
    total = mag.sum()
    if total > 0.0:
        centroid = float((mag * k).sum() / total)
        bandwidth = float(np.sqrt((mag * (k - centroid) ** 2).sum() / total))
    else:
        centroid = bandwidth = 0.0
    peak_bin = int(np.argmax(mag))
    rec.update(
        peak_bin=peak_bin,
        peak_hz=float(peak_bin * meta["sample_rate"] / n_fft),
        centroid_bin=centroid,
        bandwidth_bin=bandwidth,
        narrowband=bool(total > 0.0 and bandwidth < 2.0),
        parseval_ok=parseval_ok,
    )
    return rec


WAV_DECODED_SCHEMA = (
    "id long, sample_rate int, n_channels int, bits_per_sample int, "
    "n_samples long, peak_abs long, sum_abs long"
)


@_codec_guard("wav")
def audio_peak_sequence(payload: bytes, n_fft: int = 256) -> list[tuple[int, int]]:
    """Per-frame dominant spectral bin over a WAV payload or an AVI audio
    track (RIFF form sniffed, same decode path as audio_spectrum): channels
    integer-summed to mono, non-overlapping rectangular frames of ``n_fft``
    samples, numpy real FFT, argmax magnitude per frame (ties break to the
    lowest bin). Silent frames (all-zero mix) are skipped but keep their
    index, so time offsets between clips survive. The constellation input
    for audio fingerprinting (Wang 2003)."""
    if n_fft < 2 or n_fft & (n_fft - 1):
        raise ValueError(f"n_fft must be a power of two >= 2, got {n_fft}")
    form = payload[8:12] if payload[:4] == b"RIFF" else b""
    if form == b"AVI ":
        rec = parse_avi(payload, return_frames=True)
        if not rec["has_audio"]:
            raise ValueError("AVI payload has no audio stream")
        s, ch = rec["audio"], rec["audio_channels"]
    else:
        meta, s = wav_samples(payload)
        ch = meta["n_channels"]
    mono = s.reshape(-1, ch).sum(axis=1)
    n_frames = mono.size // n_fft
    if n_frames == 0:
        return []
    frames = mono[: n_frames * n_fft].reshape(n_frames, n_fft)
    live = (frames != 0).any(axis=1)
    peaks = np.abs(np.fft.rfft(frames.astype(np.float64), axis=1)).argmax(axis=1)
    return [(int(t), int(peaks[t])) for t in range(n_frames) if live[t]]


def decode_wav(df: DataFrame, payload_col: str = "payload", id_col: str = "id") -> DataFrame:
    """Distributed WAV decode — same single-pass mapInPandas shape as
    decode_png."""
    return _quarantine_map(
        df, payload_col, id_col, _record_rows(parse_wav, WAV_DECODED_SCHEMA), WAV_DECODED_SCHEMA, "raise"
    )


# ---------------------------------------------------------------------------
# BMP writer + full decoder (BI_RGB 24-bit: raw BGR rows, 4-byte row padding)
# ---------------------------------------------------------------------------


def _rle8_encode(row: np.ndarray) -> bytes:
    """One row of 8-bit indices -> BI_RLE8 runs (encoded mode only) + EOL."""
    out = bytearray()
    i = 0
    n = row.shape[0]
    while i < n:
        v = int(row[i])
        run = 1
        while i + run < n and row[i + run] == v and run < 255:
            run += 1
        out += bytes([run, v])
        i += run
    out += b"\x00\x00"  # end of line
    return bytes(out)


def encode_bmp(
    pixels: np.ndarray,
    palette: np.ndarray | None = None,
    rle: bool = False,
    alpha: bool = False,
) -> bytes:
    """BMP writer: 24-bit BGR (default, (h, w, 3) RGB uint8), 32-bit BGRA
    (``alpha=True``, (h, w, 4) RGBA), or 8-bit palettized ((h, w) indices +
    ``palette`` (n, 3)), optionally BI_RLE8-compressed. Bottom-up rows
    padded to 4 bytes; BITMAPFILEHEADER + BITMAPINFOHEADER."""
    pixels = np.asarray(pixels)
    h, w = pixels.shape[:2]
    pal_bytes = b""
    if palette is not None:
        if pixels.ndim != 2:
            raise ValueError("palette BMP needs (h,w) index pixels")
        pal = np.asarray(palette, dtype=np.uint8)
        if int(pixels.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        bgrx = np.zeros((pal.shape[0], 4), dtype=np.uint8)
        bgrx[:, :3] = pal[:, ::-1]  # RGB -> BGR0
        pal_bytes = bgrx.tobytes()
        bpp, comp = 8, (1 if rle else 0)
        body = bytearray()
        if rle:
            for y in range(h - 1, -1, -1):
                body += _rle8_encode(pixels[y].astype(np.uint8))
            body = body[:-2] + b"\x00\x01"  # last EOL -> end of bitmap
        else:
            row_len = (w + 3) & ~3
            pad = b"\0" * (row_len - w)
            for y in range(h - 1, -1, -1):
                body += pixels[y].astype(np.uint8).tobytes() + pad
        n_colors = pal.shape[0]
    elif alpha:
        if pixels.ndim != 3 or pixels.shape[2] != 4:
            raise ValueError("alpha BMP needs (h,w,4) RGBA uint8")
        bpp, comp, n_colors = 32, 0, 0
        body = bytearray()
        for y in range(h - 1, -1, -1):
            bgra = pixels[y][:, [2, 1, 0, 3]].astype(np.uint8)
            body += bgra.tobytes()  # 32-bit rows are naturally aligned
    else:
        if pixels.ndim != 3 or pixels.shape[2] != 3:
            raise ValueError("pixels must be (h,w,3) RGB uint8")
        bpp, comp, n_colors = 24, 0, 0
        row_len = (w * 3 + 3) & ~3
        pad = b"\0" * (row_len - w * 3)
        body = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up
            body += pixels[y, :, ::-1].astype(np.uint8).tobytes() + pad  # RGB -> BGR
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, comp, len(body), 2835, 2835, n_colors, 0
    )
    data_off = 14 + 40 + len(pal_bytes)
    header = struct.pack("<2sIHHI", b"BM", data_off + len(body), 0, 0, data_off)
    return header + info + pal_bytes + bytes(body)


def _bmp_rle_decode(data: bytes, w: int, h: int, four_bit: bool) -> np.ndarray:
    """BI_RLE8 / BI_RLE4 decode -> (h, w) index grid in BOTTOM-UP row
    order (caller flips). Handles encoded runs, absolute mode with word
    padding, end-of-line/bitmap, and delta escapes."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = 0  # y counts bottom-up rows as stored
    i = 0
    n = len(data)
    while i + 1 < n:
        cnt, val = data[i], data[i + 1]
        i += 2
        if cnt > 0:  # encoded mode
            if four_bit:
                pair = [(val >> 4) & 0xF, val & 0xF]
                for k in range(cnt):
                    if x < w and y < h:
                        out[y, x] = pair[k % 2]
                    x += 1
            else:
                end = min(x + cnt, w)
                if y < h:
                    out[y, x:end] = val
                x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return out
        elif val == 2:  # delta
            if i + 2 > n:
                raise ValueError("BMP RLE delta truncated")
            x += data[i]
            y += data[i + 1]
            i += 2
        else:  # absolute mode: val literal indices, padded to a word
            if four_bit:
                nbytes = (val + 1) // 2
                for k in range(val):
                    b = data[i + (k >> 1)]
                    v = (b >> 4) & 0xF if k % 2 == 0 else b & 0xF
                    if x < w and y < h:
                        out[y, x] = v
                    x += 1
                i += nbytes + (nbytes & 1)
            else:
                for k in range(val):
                    if x < w and y < h:
                        out[y, x] = data[i + k]
                    x += 1
                i += val + (val & 1)
    return out


def _mask_extract(vals: np.ndarray, mask: int) -> np.ndarray:
    """Extract a bitfield channel and scale it to 8 bits."""
    if mask == 0:
        return np.full(vals.shape, 255, dtype=np.int64)
    shift = (mask & -mask).bit_length() - 1
    width_max = mask >> shift
    chan = (vals >> shift) & width_max
    if width_max == 255:
        return chan
    return chan * 255 // width_max


@_codec_guard("bmp")
def parse_bmp(payload: bytes, return_pixels: bool = False) -> dict:
    """Full BMP decode: BI_RGB 24-bit / 32-bit, 32-bit BI_BITFIELDS with
    header-declared channel masks (scaled to 8 bits), palettized 1/4/8-bit
    with the BGRX color table expanded to RGB, and BI_RLE8 / BI_RLE4
    compression (encoded + absolute + delta escapes). Bottom-up or
    top-down; exact integer sample statistics — the same comparable
    surface as parse_png."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP: bad magic")
    _, file_size, _, _, data_off = struct.unpack_from("<2sIHHI", payload, 0)
    if file_size != len(payload):
        raise ValueError("BMP file size mismatch")
    hdr_size, w, h, planes, bpp, compression = struct.unpack_from("<IiiHHI", payload, 14)
    _check_dims(w, abs(h), "bmp")
    if hdr_size < 40 or planes != 1:
        raise ValueError("unsupported BMP header")
    (colors_used,) = struct.unpack_from("<I", payload, 46)
    top_down = h < 0
    h = abs(h)
    alpha = False
    if bpp in (1, 4, 8):
        if compression not in (0, 1, 2):
            raise NotImplementedError(f"palette BMP compression {compression}")
        n_colors = colors_used or (1 << bpp)
        pal_off = 14 + hdr_size
        if pal_off + n_colors * 4 > len(payload):
            raise ValueError("BMP color table truncated")
        table = np.frombuffer(
            payload, dtype=np.uint8, count=n_colors * 4, offset=pal_off
        ).reshape(n_colors, 4)[:, 2::-1]  # BGRX -> RGB
        if compression:  # BI_RLE8 (8bpp) / BI_RLE4 (4bpp), always bottom-up
            if (compression == 1) != (bpp == 8):
                raise ValueError("BMP RLE mode does not match bit depth")
            idx = _bmp_rle_decode(payload[data_off:], w, h, compression == 2)[::-1]
        else:
            row_len = (w * bpp + 31) // 32 * 4
            idx = np.zeros((h, w), dtype=np.uint8)
            for i in range(h):
                y = i if top_down else h - 1 - i
                rb = np.frombuffer(payload, dtype=np.uint8, count=row_len, offset=data_off + y * row_len)
                idx[i] = _unpack_row(rb, bpp, w).astype(np.uint8)
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("BMP palette index beyond color table")
        px = table.astype(np.int64)[idx]
        color_type = 3
    elif bpp == 24 and compression == 0:
        row_len = (w * 3 + 3) & ~3
        rows = []
        for i in range(h):
            y = i if top_down else h - 1 - i
            off = data_off + y * row_len
            row = np.frombuffer(payload, dtype=np.uint8, count=w * 3, offset=off).reshape(w, 3)
            rows.append(row[:, ::-1])  # BGR -> RGB
        px = np.stack(rows).astype(np.int64)
        color_type = 2
    elif bpp == 32 and compression in (0, 3):
        if compression == 3:
            # masks follow the 40-byte info header (also the V4/V5 layout)
            rm, gm, bm = struct.unpack_from("<III", payload, 54)
            am = struct.unpack_from("<I", payload, 66)[0] if hdr_size >= 56 else 0
        else:
            rm, gm, bm, am = 0x00FF0000, 0x0000FF00, 0x000000FF, 0xFF000000
        rows = []
        for i in range(h):
            y = i if top_down else h - 1 - i
            vals = np.frombuffer(
                payload, dtype="<u4", count=w, offset=data_off + y * w * 4
            ).astype(np.int64)
            chans = [_mask_extract(vals, m) for m in (rm, gm, bm)]
            if am:
                chans.append(_mask_extract(vals, am))
            rows.append(np.stack(chans, axis=1))
        px = np.stack(rows).astype(np.int64)
        alpha = bool(am)
        color_type = 6 if alpha else 2
    else:
        raise NotImplementedError(
            f"unsupported BMP variant (bpp={bpp} comp={compression})"
        )
    rec = {
        "width": w,
        "height": h,
        "bit_depth": 8,
        "color_type": color_type,
        "n_px": int(px.size),
        "px_sum": int(px.sum()),
        "px_min": int(px.min()),
        "px_max": int(px.max()),
    }
    if return_pixels:
        rec["pixels"] = px.astype(np.uint8)
    return rec


# ---------------------------------------------------------------------------
# GIF (87a/89a): full LZW codec, stdlib + numpy.
#
# Spec: the public GIF89a specification (CompuServe, reproduced by W3C).
# Writer-as-fixture-generator like PNG/JPEG: encode_gif emits real
# variable-width LZW (early-change code growth, 12-bit cap with mid-stream
# clear), optional interlace, multi-frame animations with Graphic Control
# Extensions and per-frame local color tables. parse_gif is the genuine
# decoder: logical screen descriptor, global/local color tables, extension
# skip, sub-block reassembly, LZW decode (deferred-clear tolerant),
# 4-pass de-interlace. Ground truth in tests: real GIFs shipped with
# CPython (idlelib icons) decode to their known dimensions with exact
# pixel counts — a wrong code-width rule derails the LZW stream within a
# few codes, so exact-count termination on foreign files pins the
# semantics encoder round-trips alone could miss.
# ---------------------------------------------------------------------------


# LZW dialects as (msb_first, early, full, reads_eoi). GIF packs codes
# LSB-first; TIFF 6.0 §13 packs them MSB-first and widens its codes two
# table slots sooner ("early change"). A GIF writer emits Clear once the
# 12-bit table is full (code 4096); a TIFF writer emits it when the table
# reaches 4094 entries, i.e. in place of entry 4093 (an entry added just
# before a Clear is never referenced, so the bytes are the same). Both
# writers take the width step before End, so a decoder may read End in
# either dialect. A GIF decoder reads up to the End code, and the length of
# the frame it declares must agree; a TIFF decoder stops at the strip
# size, as libtiff does (``reads_eoi`` steers only the decoder).
_GIF_LZW = (False, 0, 4096, True)
_TIFF_LZW = (True, 2, 4093, False)


def _lzw_encode(data: bytes, mcs: int, dialect: tuple) -> bytes:
    """Variable-width LZW over ``data`` (symbols below 2^mcs): Clear, the
    greedy string-table walk, End. Codes start mcs + 1 bits wide and widen
    (to 12 at most) when the next free code reaches 2^width + 1 - early."""
    msb, early, full, _reads_eoi = dialect
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        if msb:
            acc = (acc << width) | code
        else:
            acc |= code << nbits
        nbits += width
        while nbits >= 8:
            nbits -= 8
            if msb:
                out.append((acc >> nbits) & 0xFF)
                acc &= (1 << nbits) - 1
            else:
                out.append(acc & 0xFF)
                acc >>= 8

    def fresh() -> tuple[dict[bytes, int], int, int]:
        return {bytes([i]): i for i in range(clear)}, end + 1, mcs + 1

    table, nxt, width = fresh()
    emit(clear, width)
    w = b""
    for v in data:
        c = bytes([v])
        if w + c in table:
            w += c
            continue
        emit(table[w], width)
        if nxt == full:
            emit(clear, width)
            table, nxt, width = fresh()
        else:
            table[w + c] = nxt
            nxt += 1
            if nxt == (1 << width) + 1 - early and width < 12:
                width += 1
        w = c
    if w:
        emit(table[w], width)
    # Boundary early-change: the decoder appends a table entry for the FINAL
    # data code too (the encoder has nothing to append — no following char),
    # so when that append lands exactly on the width boundary the decoder
    # reads End one bit wider than the body was written.
    if nxt == (1 << width) - early and width < 12:
        width += 1
    emit(end, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF if msb else acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int, expected: int, dialect: tuple) -> bytes:
    """Decode ``expected`` bytes of an LZW stream written by
    :func:`_lzw_encode`, reading on to the End code when the dialect reads
    it. The decoder's table trails the encoder's by one entry, so it
    widens one slot later. Raises on truncation, bad codes, or a stream
    that disagrees about its length."""
    msb, early, _full, reads_eoi = dialect
    clear, end = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    # sliding bit buffer: each input byte is loaded exactly once (a per-code
    # slice + int.from_bytes allocated a fresh int per code)
    buf = 0
    nbits = 0
    bytepos = 0
    nbytes = len(data)
    while reads_eoi or len(out) < expected:
        while nbits < width:
            if bytepos >= nbytes:
                raise ValueError("LZW stream truncated mid-code")
            if msb:
                buf = (buf << 8) | data[bytepos]
            else:
                buf |= data[bytepos] << nbits
            bytepos += 1
            nbits += 8
        nbits -= width
        if msb:
            code = buf >> nbits
            buf &= (1 << nbits) - 1
        else:
            code = buf & ((1 << width) - 1)
            buf >>= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:  # the KwKwK case
            entry = prev + prev[:1]
        else:
            raise ValueError(f"LZW code {code} beyond the string table ({len(table)})")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) - early and width < 12:
                width += 1
        prev = entry
        if len(out) > expected:
            raise ValueError("LZW stream decodes past its expected size")
    if len(out) != expected:
        raise ValueError(f"LZW decoded {len(out)} bytes, expected {expected}")
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> list[int]:
    rows: list[int] = []
    for start, step in _GIF_INTERLACE_PASSES:
        rows.extend(range(start, h, step))
    return rows


def encode_gif(
    frames: np.ndarray | list[np.ndarray],
    palette: np.ndarray,
    interlace: bool = False,
    delay_cs: int = 4,
) -> bytes:
    """Encode one (h, w) uint8 index array — or a list of them for an
    animated GIF — against an (n, 3) uint8 palette. Real LZW compression;
    multi-frame output carries NETSCAPE2.0 looping + per-frame Graphic
    Control Extensions, exercising the decoder's extension walk."""
    if isinstance(frames, np.ndarray):
        frames = [frames]
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    palette = np.asarray(palette, dtype=np.uint8)
    n_colors = palette.shape[0]
    if not 2 <= n_colors <= 256:
        raise ValueError("gif: palette must hold 2..256 colors")
    if any(int(f.max(initial=0)) >= n_colors for f in frames):
        raise ValueError("gif: index exceeds palette size")
    gct_bits = max(1, (n_colors - 1).bit_length())
    gct_n = 1 << gct_bits
    h, w = frames[0].shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0x80 | ((gct_bits - 1) & 7))  # GCT flag + size
    out += bytes([0, 0])  # bg index, aspect
    pal = np.zeros((gct_n, 3), dtype=np.uint8)
    pal[:n_colors] = palette
    out += pal.tobytes()
    if len(frames) > 1:  # NETSCAPE looping application extension
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f in frames:
        fh, fw = f.shape
        if len(frames) > 1:  # Graphic Control Extension per frame
            out += b"\x21\xf9\x04" + bytes([0]) + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, fw, fh)
        out.append(0x40 if interlace else 0x00)  # no LCT in the writer
        mcs = max(2, gct_bits)
        out.append(mcs)
        idx = f[_interlace_order(fh)] if interlace else f
        lzw = _lzw_encode(idx.tobytes(), mcs, _GIF_LZW)
        for off in range(0, len(lzw), 255):
            chunk = lzw[off : off + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


@_codec_guard("gif")
def parse_gif(payload: bytes, return_frames: bool = False) -> dict:
    """Full GIF decode: header version, logical screen descriptor, global /
    local color tables, extension sub-block walk, LZW decompression per
    frame, de-interlacing. Returns screen dims, frame count, and exact
    integer statistics over every frame's palette indices AND their RGB
    expansions (idx_sum proves the LZW stream, rgb_sum proves the color
    table mapping)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF: bad signature")
    w, h = struct.unpack_from("<HH", payload, 6)
    _check_dims(w, h, "gif")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = np.frombuffer(payload, dtype=np.uint8, count=n * 3, offset=pos).reshape(n, 3)
        pos += n * 3
    frames = []
    frames_rgb = []
    idx_sum = 0
    rgb_sum = 0
    n_px = 0
    rgb_min, rgb_max = 255, 0
    while True:
        if pos >= len(payload):
            raise ValueError("gif: missing trailer")
        b0 = payload[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            if pos >= len(payload):
                raise ValueError("gif: truncated extension block")
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            _left, _top, fw, fh = struct.unpack_from("<HHHH", payload, pos)
            _check_dims(fw, fh, "gif")
            pos += 8
            fpacked = payload[pos]
            pos += 1
            table = gct
            if fpacked & 0x80:  # local color table
                n = 2 << (fpacked & 7)
                table = np.frombuffer(
                    payload, dtype=np.uint8, count=n * 3, offset=pos
                ).reshape(n, 3)
                pos += n * 3
            if table is None:
                raise ValueError("gif: frame has neither local nor global color table")
            mcs = payload[pos]
            pos += 1
            if not 2 <= mcs <= 11:
                raise ValueError(f"gif: bad LZW minimum code size {mcs}")
            lzw = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                if pos + 1 + ln > len(payload):
                    raise ValueError("gif: truncated image data sub-block")
                lzw += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            if pos >= len(payload):
                raise ValueError("gif: truncated image data sub-block")
            pos += 1
            idx = np.frombuffer(
                _lzw_decode(bytes(lzw), mcs, fw * fh, _GIF_LZW), dtype=np.uint8
            ).reshape(fh, fw)
            if fpacked & 0x40:  # de-interlace
                de = np.empty_like(idx)
                de[_interlace_order(fh)] = idx
                idx = de
            if int(idx.max(initial=0)) >= table.shape[0]:
                raise ValueError("gif: pixel index beyond color table")
            n_px += idx.size
            idx_sum += int(idx.astype(np.int64).sum())
            rgb = table.astype(np.int64)[idx]
            rgb_sum += int(rgb.sum())
            rgb_min = min(rgb_min, int(rgb.min()))
            rgb_max = max(rgb_max, int(rgb.max()))
            frames.append(idx)
            if return_frames:
                frames_rgb.append(rgb)
        else:
            raise ValueError(f"gif: unknown block introducer {b0:#04x}")
    if not frames:
        raise ValueError("gif: no image data before trailer")
    rec = {
        "width": int(w),
        "height": int(h),
        "n_frames": len(frames),
        "n_px": int(n_px),
        "idx_sum": idx_sum,
        "rgb_sum": rgb_sum,
        "rgb_min": rgb_min,
        "rgb_max": rgb_max,
    }
    if return_frames:
        rec["frames"] = frames
        rec["frames_rgb"] = frames_rgb  # color-table-expanded (h, w, 3) int64
    return rec


GIF_DECODED_SCHEMA = (
    "id long, width int, height int, n_frames int, "
    "n_px long, idx_sum long, rgb_sum long, rgb_min int, rgb_max int"
)


def decode_gif(df: DataFrame, payload_col: str = "payload", id_col: str = "id") -> DataFrame:
    """Distributed GIF decode -> exact index/RGB statistics per file. One
    Arrow-batched mapInPandas pass, no shuffle (partition = files)."""
    return _quarantine_map(
        df, payload_col, id_col, _record_rows(parse_gif, GIF_DECODED_SCHEMA), GIF_DECODED_SCHEMA, "raise"
    )


# ---------------------------------------------------------------------------
# JPEG (ITU-T T.81 / ISO 10918-1, public): sequential (SOF0 baseline, SOF1
# extended) and progressive (SOF2) Huffman coding — full encoder + pixel
# decoder, stdlib + numpy.
#
# One marker walk (_jpeg_segments) serves header metadata, pixel decode and
# the TIFF JPEGTables split; one SOF reader (_jpeg_frame) gives each of them
# the same frame and MCU geometry; one scan-unit walk (_scan_units) orders
# the data units of a scan for the encoders and the decoder alike.
#
# The encoder is the fixture generator (writer-as-fixture-generator
# pattern): real FDCT, quantization, canonical Huffman DC/AC coding, 0xFF
# byte stuffing, optional restart markers, grayscale / 4:4:4 / 4:2:0
# sampling. The decoder is the genuine article: DQT/DHT/SOF/DRI/SOS marker
# parse, canonical Huffman decode (F.2.2.3 MINCODE/MAXCODE/VALPTR),
# DC-predictor restart handling, dequantize + inverse zigzag + float IDCT,
# nearest-neighbor chroma upsampling, YCbCr->RGB. Rounding at every lossy
# step is ROUND HALF UP (floor(x + 0.5)) so decode results are stateable as
# integer formulas in a SQL oracle (the jpeg_decode gate uses
# per-block-flat images whose DC-only path is closed-form; odd quantizer
# entries keep every half-up boundary unreachable). Huffman tables are
# built canonically from the symbols actually used (optimized tables — any
# spec-valid DHT is legal; the decoder reads whatever tables the stream
# declares).
#
# The reference treats media payloads as opaque bytes; full decode here
# serves the multimodal curation path (functions/multimodal.py). The
# lossless and hierarchical processes and arithmetic coding raise
# NotImplementedError: raise, never guess.
# ---------------------------------------------------------------------------

_JFIF_APP0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
# every SOFn marker (C4 is DHT, C8 reserved, CC is DAC)
_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _jpeg_segment(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def encode_jpeg_headers(
    width: int, height: int, n_components: int = 3, scan_bytes: bytes = b"",
    progressive: bool = False,
) -> bytes:
    """Minimal structurally-valid JFIF byte stream: SOI, APP0, DQT, SOF0
    (or SOF2), SOS + the given opaque scan bytes, EOI. The scan bytes are
    not entropy-coded data, and the DQT is all zeros; this writer fixtures
    the header reader (:func:`parse_jpeg_meta`) at any declared size
    without encoding pixels — :func:`encode_jpeg` writes decodable
    streams."""
    dqt = bytes([0]) + bytes(64)
    sof = struct.pack(">BHHB", 8, height, width, n_components) + b"".join(
        struct.pack(">BBB", i + 1, 0x11, 0) for i in range(n_components)
    )
    sos = bytes([n_components]) + b"".join(struct.pack(">BB", i + 1, 0) for i in range(n_components)) + bytes([0, 63, 0])
    sof_marker = 0xC2 if progressive else 0xC0
    return (
        b"\xff\xd8"  # SOI
        + _jpeg_segment(0xE0, _JFIF_APP0)
        + _jpeg_segment(0xDB, dqt)
        + _jpeg_segment(sof_marker, sof)
        + _jpeg_segment(0xDA, sos)
        + scan_bytes
        + b"\xff\xd9"  # EOI
    )


def _jpeg_segments(payload: bytes) -> Iterator[tuple[int, bytes, int]]:
    """The one JPEG marker walk (T.81 B.1): after SOI, each 0xFF-synced
    length-framed segment up to EOI as (marker, body, end), ``end`` being
    the offset just past the segment. After an SOS segment the walk skips
    the entropy-coded data, stuffed 0xFF00 bytes and RSTn markers included,
    to the next marker. Raises on a stream cut before EOI, a lost marker
    sync, or an RSTn between segments."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    while True:
        if pos + 2 > len(payload):
            raise ValueError("truncated before EOI")
        if payload[pos] != 0xFF:
            raise ValueError(f"marker sync lost at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            return
        if 0xD0 <= marker <= 0xD7:
            raise ValueError("restart marker outside entropy-coded data")
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        pos += 2 + seg_len
        yield marker, payload[pos - seg_len + 2 : pos], pos
        if marker == 0xDA:
            while True:
                pos = payload.find(b"\xff", pos)
                if pos < 0 or pos + 1 >= len(payload):
                    raise ValueError("truncated before EOI")
                if payload[pos + 1] and not 0xD0 <= payload[pos + 1] <= 0xD7:
                    break
                pos += 2


def _frame_geometry(w: int, h: int, samp: list[tuple[int, int]]) -> dict:
    """MCU geometry of a frame whose components sample at (h, v) (T.81
    A.1.1, A.2): the MCU grid, and each component's own block grid ``nb``
    (rows, cols) — the ceil of its scaled dimensions, not the MCU-padded
    grid — which a non-interleaved scan walks."""
    hmax = max(sh for sh, _ in samp)
    vmax = max(sv for _, sv in samp)
    nb = []
    for sh, sv in samp:
        cw, ch = -(-w * sh // hmax), -(-h * sv // vmax)
        nb.append((-(-ch // 8), -(-cw // 8)))
    return {
        "w": w, "h": h, "samp": samp, "hmax": hmax, "vmax": vmax,
        "mcus_x": -(-w // (8 * hmax)), "mcus_y": -(-h // (8 * vmax)), "nb": nb,
    }


def _jpeg_frame(marker: int, body: bytes) -> dict:
    """The one SOF reader: precision, dimensions and per-component (id,
    sampling, quant table) of a SOF0/SOF1 (sequential) or SOF2
    (progressive) frame, plus its MCU geometry. Any other frame type
    (lossless, hierarchical, arithmetic) raises NotImplementedError."""
    if marker not in (0xC0, 0xC1, 0xC2):
        raise NotImplementedError(
            f"only baseline (SOF0/1) and progressive (SOF2) supported, "
            f"got SOF marker {marker:#x}"
        )
    precision, h, w, n_comp = struct.unpack_from(">BHHB", body, 0)
    _check_dims(w, h, "jpeg")
    specs = [struct.unpack_from(">BBB", body, 6 + 3 * c) for c in range(n_comp)]
    samp = [(s >> 4, s & 0xF) for _cid, s, _q in specs]
    if not all(1 <= sh <= 4 and 1 <= sv <= 4 for sh, sv in samp):
        raise ValueError(f"invalid sampling factors {samp}")
    frame = _frame_geometry(w, h, samp)
    frame.update(
        precision=precision, progressive=marker == 0xC2,
        ids=[cid for cid, _s, _q in specs], qids=[q for _cid, _s, q in specs],
    )
    return frame


def _scan_units(frame: dict, comps: list[int]) -> list[list[tuple[int, int, int]]]:
    """The data units of one scan over components ``comps`` (frame
    indexes, scan order), grouped per restart-counted unit as (component,
    block row, block col): an interleaved scan walks the MCU grid, each MCU
    holding every scan component's v x h blocks in scan order (T.81
    A.2.3); a one-component scan walks that component's own block grid one
    block at a time (A.2.2)."""
    if len(comps) == 1:
        ci = comps[0]
        rows, cols = frame["nb"][ci]
        return [[(ci, by, bx)] for by in range(rows) for bx in range(cols)]
    units = []
    for my in range(frame["mcus_y"]):
        for mx in range(frame["mcus_x"]):
            unit = []
            for ci in comps:
                sh, sv = frame["samp"][ci]
                for byy in range(sv):
                    for bxx in range(sh):
                        unit.append((ci, my * sv + byy, mx * sh + bxx))
            units.append(unit)
    return units


@_codec_guard("jpeg")
def parse_jpeg_meta(payload: bytes) -> dict:
    """JPEG header metadata from the marker walk, which stops at the first
    frame header: precision, width, height, component count and the
    progressive flag of a SOF0, SOF1 or SOF2 frame — every frame type
    :func:`decode_jpeg` decodes — without entropy-decoding any pixels."""
    for marker, body, _end in _jpeg_segments(payload):
        if marker in _SOF_MARKERS:
            frame = _jpeg_frame(marker, body)
            return {
                "precision": frame["precision"],
                "width": frame["w"],
                "height": frame["h"],
                "n_components": len(frame["ids"]),
                "progressive": frame["progressive"],
            }
    raise ValueError("no SOF0/SOF1/SOF2 frame header found")


_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# orthonormal 8-point DCT-II basis: C[k,n] = s_k cos((2n+1) k pi / 16)
_DCT_C = np.zeros((8, 8))
for _k in range(8):
    _s = np.sqrt(1 / 8) if _k == 0 else np.sqrt(2 / 8)
    for _n in range(8):
        _DCT_C[_k, _n] = _s * np.cos((2 * _n + 1) * _k * np.pi / 16)

# deterministic default quantization tables. ALL ENTRIES ODD: with round-
# half-up quantization, an odd divisor makes the .5 boundary unreachable
# for the integer-valued DC of flat blocks (2*dc = q*(2m+1) has no solution
# with even LHS and odd q), so float FDCT noise (~1e-12) can never flip a
# rounding decision the oracle states in exact integer arithmetic.
_QTABLE_LUMA = np.full((8, 8), 17, dtype=np.int64)
_QTABLE_LUMA[0, 0] = 11
_QTABLE_CHROMA = np.full((8, 8), 23, dtype=np.int64)
_QTABLE_CHROMA[0, 0] = 13
_QTABLES = {0: _QTABLE_LUMA, 1: _QTABLE_CHROMA}


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """floor(x + 0.5), with a 1e-9 guard so values that are EXACTLY on the
    half boundary in exact arithmetic (e.g. dequantized DC/8 with
    qv*Q = 4 mod 8) round up deterministically despite ~1e-12 float-DCT
    noise — keeping the decode stateable as integer formulas in SQL."""
    return np.floor(x + 0.5 + 1e-9).astype(np.int64)


def _fdct_quant(block: np.ndarray, qtable: np.ndarray) -> np.ndarray:
    """Level-shifted 8x8 block -> quantized coefficient matrix (int)."""
    coef = _DCT_C @ (block.astype(np.float64) - 128.0) @ _DCT_C.T
    return _round_half_up(coef / qtable)


def _dequant_idct(qcoef: np.ndarray, qtable: np.ndarray) -> np.ndarray:
    """Quantized coefficients -> clipped uint8 spatial block."""
    spatial = _DCT_C.T @ (qcoef * qtable).astype(np.float64) @ _DCT_C
    return np.clip(_round_half_up(spatial + 128.0), 0, 255).astype(np.uint8)


def _bit_category(v: int) -> int:
    return int(abs(v)).bit_length()


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _canonical_table(symbols: list[int]) -> tuple[list[int], list[int], dict[int, tuple[int, int]]]:
    """Build a canonical Huffman table giving every used symbol the same
    code length L (2^L > n keeps the all-ones code unused, as T.81
    requires). Returns (BITS[1..16], HUFFVAL, {symbol: (code, length)})."""
    syms = sorted(set(symbols))
    n = len(syms)
    if n == 0:
        syms, n = [0], 1  # a table must define at least one symbol
    length = max(2, (n + 1 - 1).bit_length())
    while (1 << length) <= n:
        length += 1
    if n > 255:  # DHT's per-length count is one byte; split the tail symbol
        bits = [0] * 16
        bits[length - 1] = 255
        bits[length] = n - 255
    else:
        bits = [0] * 16
        bits[length - 1] = n
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for li, cnt in enumerate(bits, start=1):
        for _ in range(cnt):
            codes[syms[k]] = (code, li)
            code += 1
            k += 1
        code <<= 1
    return bits, syms, codes


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    """JFIF color transform, round half up (decoder inverts with the same
    rounding so both directions are integer-stateable)."""
    r = px[..., 0].astype(np.float64)
    g = px[..., 1].astype(np.float64)
    b = px[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.clip(_round_half_up(np.stack([y, cb, cr], axis=-1)), 0, 255).astype(np.uint8)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    yf = y.astype(np.float64)
    cbf = cb.astype(np.float64) - 128.0
    crf = cr.astype(np.float64) - 128.0
    r = yf + 1.402 * crf
    g = yf - 0.344136 * cbf - 0.714136 * crf
    b = yf + 1.772 * cbf
    return np.clip(_round_half_up(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _plane_blocks(plane: np.ndarray) -> tuple[int, int, np.ndarray]:
    """Pad a component plane to 8-multiples by edge replication and split
    into (by, bx, 8, 8) blocks."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    by, bx = ph // 8, pw // 8
    blocks = padded.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
    return by, bx, blocks


def _prepare_blocks(pixels: np.ndarray, subsampling: str) -> tuple[dict, list[np.ndarray]]:
    """Shared encoder front half (baseline + progressive): color transform,
    chroma decimation, FDCT + quantization, MCU-grid block padding. Returns
    (frame, coefs): the frame geometry (:func:`_frame_geometry`) with the
    quant table ids, and per component the (by, bx, 64) zigzag-ordered
    quantized coefficient grid padded to the MCU grid."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    if gray:
        planes = [pixels.astype(np.int64)]
        samp = [(1, 1)]
        qids = [0]
    else:
        ycc = _rgb_to_ycbcr(pixels)
        yp = ycc[..., 0].astype(np.int64)
        cbp = ycc[..., 1].astype(np.int64)
        crp = ycc[..., 2].astype(np.int64)
        if subsampling == "420":
            # 2x2 mean, round half up, edge-padded to even dims first
            def _down(p: np.ndarray) -> np.ndarray:
                ph, pw = -(-p.shape[0] // 2) * 2, -(-p.shape[1] // 2) * 2
                p2 = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
                s = p2.reshape(ph // 2, 2, pw // 2, 2).sum(axis=(1, 3))
                return _round_half_up(s / 4.0)

            planes = [yp, _down(cbp), _down(crp)]
            samp = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "444":
            planes = [yp, cbp, crp]
            samp = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsampling!r}")
        qids = [0, 1, 1]
    frame = _frame_geometry(w, h, samp)
    frame["qids"] = qids
    coefs = []
    for plane, qid, (sh, sv) in zip(planes, qids, samp):
        by, bx, blocks = _plane_blocks(plane)
        q = np.empty((by, bx, 8, 8), dtype=np.int64)
        for i in range(by):
            for j in range(bx):
                q[i, j] = _fdct_quant(blocks[i, j], _QTABLES[qid])
        # components may need block padding up to the MCU grid
        need_y, need_x = frame["mcus_y"] * sv, frame["mcus_x"] * sh
        if by < need_y or bx < need_x:
            q = np.pad(q, ((0, need_y - by), (0, need_x - bx), (0, 0), (0, 0)), mode="edge")
        coefs.append(q.reshape(q.shape[0], q.shape[1], 64)[:, :, _ZIGZAG])
    return frame, coefs


def _jpeg_frame_header(sof_marker: int, frame: dict) -> bytearray:
    """SOI, the JFIF APP0, one DQT per quantization table, then the SOF."""
    qids = frame["qids"]
    out = bytearray(b"\xff\xd8") + _jpeg_segment(0xE0, _JFIF_APP0)
    for qid in sorted(set(qids)):
        zz = _QTABLES[qid].flatten()[_ZIGZAG].astype(np.uint8)
        out += _jpeg_segment(0xDB, bytes([qid]) + zz.tobytes())
    sof = struct.pack(">BHHB", 8, frame["h"], frame["w"], len(qids))
    for ci, (sh, sv) in enumerate(frame["samp"]):
        sof += struct.pack(">BBB", ci + 1, (sh << 4) | sv, qids[ci])
    return out + _jpeg_segment(sof_marker, sof)


def _dht_segments(tables) -> bytes:
    """One DHT segment per ((class, table id), canonical table) item."""
    return b"".join(
        _jpeg_segment(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))
        for (cls, tid), (bits, vals, _codes) in tables
    )


def _sos_segment(comps, tids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
    """SOS header of a scan over frame components ``comps``: a component
    names its DC table when the scan codes DC differences and its AC table
    when the scan codes AC coefficients (0 otherwise)."""
    body = bytes([len(comps)])
    for ci in comps:
        td = tids[ci] if ss == 0 and ah == 0 else 0
        ta = tids[ci] if se else 0
        body += struct.pack(">BB", ci + 1, (td << 4) | ta)
    return _jpeg_segment(0xDA, body + bytes([ss, se, (ah << 4) | al]))


def encode_jpeg(
    pixels: np.ndarray,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Real baseline JFIF encoder. ``pixels`` is (h, w) grayscale or
    (h, w, 3) RGB uint8; ``subsampling`` is '444' or '420' (color only);
    ``restart_interval`` emits DRI + RSTn every N MCUs when > 0."""
    frame, coefs = _prepare_blocks(pixels, subsampling)
    comps = list(range(len(coefs)))
    tids = frame["qids"]  # Huffman tables pair luma / chroma like the quant tables
    ops = _scan_ops((comps, 0, 63, 0, 0), coefs, frame, tids, restart_interval)
    tables = _huffman_tables(ops)
    out = _jpeg_frame_header(0xC0, frame)
    # AC tables before DC tables: the segment order this writer emits
    out += _dht_segments(sorted(tables.items(), key=lambda t: (-t[0][0], t[0][1])))
    if restart_interval:
        out += _jpeg_segment(0xDD, struct.pack(">H", restart_interval))
    out += _sos_segment(comps, tids, 0, 63, 0, 0)
    _entropy_scan(out, ops, tables)
    return bytes(out + b"\xff\xd9")


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2): full encoder + decoder, T.81 Annex G.
#
# Spectral selection (per-scan Ss..Se coefficient bands), successive
# approximation (point transform Al with refinement passes Ah -> Al),
# EOB-run coding (G.1.2.2), and the refinement correction-bit protocol
# (G.1.2.3: buffered correction bits ride behind ZRL / newly-nonzero
# symbols or fold into the pending EOB run). The encoder is the fixture
# generator (writer-as-fixture-generator pattern, same as baseline); its
# default scan script exercises every decoder path: interleaved DC first
# scan with Al=1, per-component spectral AC bands with Al=2, an AC
# refinement chain (Ah=2->Al=1 then Ah=1->Al=0), and a DC refinement
# scan. Entropy coding is lossless, so progressive decode of an image
# must equal baseline decode of the same image bit-for-bit — pytest
# asserts exactly that, and the oracle gate reuses the baseline DC-only
# closed form (successive approximation recovers the DC coefficient
# exactly: (dc >> 1) << 1 | bit0 == dc).
# ---------------------------------------------------------------------------


def _default_scan_script(n_comp: int) -> list[tuple[list[int], int, int, int, int]]:
    """The classic progressive scan script (scans as (comps, Ss, Se, Ah, Al)):
    DC first (interleaved, Al=1), per-component spectral AC bands at Al=2,
    AC successive-approximation refinements 2->1 and 1->0, DC refinement."""
    scans: list[tuple[list[int], int, int, int, int]] = [
        (list(range(n_comp)), 0, 0, 0, 1),
    ]
    for ci in range(n_comp):
        scans.append(([ci], 1, 5, 0, 2))
        scans.append(([ci], 6, 63, 0, 2))
    for ci in range(n_comp):
        scans.append(([ci], 1, 63, 2, 1))
    scans.append((list(range(n_comp)), 0, 0, 1, 0))
    for ci in range(n_comp):
        scans.append(([ci], 1, 63, 1, 0))
    return scans


def _check_progressive_scan(n_comps: int, ss: int, se: int) -> None:
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if ss and n_comps != 1:
        raise ValueError("progressive AC scan must be single-component")


def _ac_ops(ops: list[tuple], band: list[int], tid: int) -> int:
    """Run-length code the coefficients of ``band`` up to its last nonzero
    one (F.1.2.2, G.1.2.2): a ZRL per 16 zeros, then (run << 4 | size) and
    the magnitude bits. Returns the trailing zero run, which the caller
    codes as an end of block."""
    r = 0
    for v in band:
        if v == 0:
            r += 1
            continue
        while r > 15:
            ops.append(("sym", 1, tid, 0xF0))  # ZRL
            r -= 16
        s = _bit_category(v)
        ops.append(("sym", 1, tid, (r << 4) | s))
        ops.append(("bits", v if v >= 0 else v + (1 << s) - 1, s))
        r = 0
    return r


def _scan_ops(
    scan: tuple[list[int], int, int, int, int],
    coefs: list[np.ndarray],
    frame: dict,
    tids: list[int],
    restart_interval: int,
) -> list[tuple]:
    """Encode one scan (comps, Ss, Se, Ah, Al) to a symbolic op list:
    ("sym", class, tid, symbol) / ("bits", value, nbits) / ("rst", n).
    Ss = 0 with Se > 0 is a sequential scan (each block codes its DC
    difference and its AC band, ended by EOB); otherwise the scan is a
    progressive DC or AC band, first pass or refinement. Two-pass rendering
    (collect symbols -> build canonical tables -> write bits) falls out of
    this representation for free."""
    comps, ss, se, ah, al = scan
    ops: list[tuple] = []
    eobrun = 0
    eob_bits: list[int] = []  # correction bits folded into the pending EOB run

    def flush_eob(tid: int) -> None:
        nonlocal eobrun
        if eobrun == 0:
            return
        nbits = eobrun.bit_length() - 1
        ops.append(("sym", 1, tid, nbits << 4))
        if nbits:
            ops.append(("bits", eobrun, nbits))  # low nbits; top bit implicit
        for b in eob_bits:
            ops.append(("bits", b, 1))
        eob_bits.clear()
        eobrun = 0

    preds = dict.fromkeys(comps, 0)
    nrst = 0
    for ui, unit in enumerate(_scan_units(frame, comps)):
        if restart_interval and ui and ui % restart_interval == 0:
            flush_eob(tids[comps[0]])
            ops.append(("rst", nrst % 8))
            nrst += 1
            preds = dict.fromkeys(comps, 0)
        for ci, by, bx in unit:
            tid = tids[ci]
            zz = coefs[ci][by, bx]
            if ss == 0:
                dc = int(zz[0])
                if ah == 0:
                    v = dc >> al  # DC point transform: arithmetic shift
                    diff = v - preds[ci]
                    preds[ci] = v
                    cat = _bit_category(diff)
                    ops.append(("sym", 0, tid, cat))
                    if cat:
                        ops.append(("bits", diff if diff >= 0 else diff + (1 << cat) - 1, cat))
                else:  # DC refinement: one raw bit per block, no Huffman
                    ops.append(("bits", (dc >> al) & 1, 1))
                if se and _ac_ops(ops, zz[1 : se + 1].tolist(), tid):  # sequential
                    ops.append(("sym", 1, tid, 0x00))  # EOB
                continue
            band = zz[ss : se + 1].tolist()
            if ah == 0:  # first scan of this band: AC point transform
                t = [v >> al if v >= 0 else -((-v) >> al) for v in band]
                if any(t):
                    flush_eob(tid)
                    if not _ac_ops(ops, t, tid):
                        continue
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob(tid)
            else:  # refinement scan (G.1.2.3)
                absv = [abs(v) >> al for v in band]
                eob_k = -1  # index of the last newly-nonzero coefficient
                for i, a in enumerate(absv):
                    if a == 1:
                        eob_k = i
                r = 0
                br_bits: list[int] = []  # correction bits awaiting a symbol
                for i, a in enumerate(absv):
                    if a == 0:
                        r += 1
                        continue
                    # fold ZRLs only while more newly-nonzero coefs follow;
                    # otherwise the tail rides the EOB run
                    while r > 15 and i <= eob_k:
                        flush_eob(tid)
                        ops.append(("sym", 1, tid, 0xF0))
                        r -= 16
                        for b in br_bits:
                            ops.append(("bits", b, 1))
                        br_bits = []
                    if a > 1:  # already nonzero: buffer its correction bit
                        br_bits.append(a & 1)
                        continue
                    flush_eob(tid)
                    ops.append(("sym", 1, tid, (r << 4) | 1))
                    ops.append(("bits", 1 if band[i] > 0 else 0, 1))  # sign
                    for b in br_bits:
                        ops.append(("bits", b, 1))
                    br_bits = []
                    r = 0
                if r > 0 or br_bits:
                    eobrun += 1
                    eob_bits.extend(br_bits)
                    if eobrun == 0x7FFF or len(eob_bits) > 900:
                        flush_eob(tid)
    flush_eob(tids[comps[0]])
    return ops


def _huffman_tables(ops: list[tuple]) -> dict:
    """Canonical tables, keyed (class, table id), from the symbols a scan's
    ops actually use."""
    syms: dict[tuple[int, int], list[int]] = {}
    for op in ops:
        if op[0] == "sym":
            syms.setdefault((op[1], op[2]), []).append(op[3])
    return {key: _canonical_table(v) for key, v in sorted(syms.items())}


def _entropy_scan(out: bytearray, ops: list[tuple], tables: dict) -> None:
    """Render a scan's ops as entropy-coded bytes onto ``out``: each restart
    op pads to a byte boundary and writes its RSTn marker."""
    bw = _BitWriter()
    for op in ops:
        if op[0] == "sym":
            code, ln = tables[(op[1], op[2])][2][op[3]]
            bw.write(code, ln)
        elif op[0] == "bits":
            bw.write(op[1], op[2])
        else:  # ("rst", n)
            bw.pad_to_byte()
            out += bw.out
            bw = _BitWriter()
            out += bytes([0xFF, 0xD0 + op[1]])
    bw.pad_to_byte()
    out += bw.out


def encode_jpeg_progressive(
    pixels: np.ndarray,
    subsampling: str = "444",
    restart_interval: int = 0,
    scans: list[tuple[list[int], int, int, int, int]] | None = None,
) -> bytes:
    """Real progressive (SOF2) JFIF encoder sharing the baseline front half
    (color transform / FDCT / quantization), so progressive and baseline
    streams of the same image carry IDENTICAL quantized coefficients —
    decode equality against the baseline path is the strongest possible
    round-trip check. ``scans`` overrides the default scan script; each
    entry is (component_indexes, Ss, Se, Ah, Al). Huffman tables are
    rebuilt and re-declared per scan (legal per T.81, and it exercises the
    decoder's table-redefinition path)."""
    frame, coefs = _prepare_blocks(pixels, subsampling)
    tids = frame["qids"]  # Huffman tables pair luma / chroma like the quant tables
    if scans is None:
        scans = _default_scan_script(len(coefs))
    out = _jpeg_frame_header(0xC2, frame)
    if restart_interval:
        out += _jpeg_segment(0xDD, struct.pack(">H", restart_interval))
    for scan in scans:
        comps, ss, se, ah, al = scan
        _check_progressive_scan(len(comps), ss, se)
        ops = _scan_ops(scan, coefs, frame, tids, restart_interval)
        # per-scan canonical tables from the symbols the scan actually uses
        tables = _huffman_tables(ops)
        out += _dht_segments(tables.items()) + _sos_segment(comps, tids, ss, se, ah, al)
        _entropy_scan(out, ops, tables)
    return bytes(out + b"\xff\xd9")


class _BitReader:
    """Entropy-segment bit reader: un-stuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("entropy-coded data truncated before scan complete")
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("entropy-coded data truncated at 0xFF")
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:  # stuffed literal 0xFF
                self.pos += 2
            else:
                raise _MarkerHit(nxt)
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        return v

    def align_and_expect_rst(self) -> None:
        self.nbits = 0  # discard pad bits
        if self.data[self.pos] != 0xFF or not (0xD0 <= self.data[self.pos + 1] <= 0xD7):
            raise ValueError("expected restart marker")
        self.pos += 2


class _MarkerHit(ValueError):
    """A non-stuffed marker inside entropy data: always corrupt/truncated
    input for baseline scans, so it must surface to callers as a ValueError
    (not a private message-less signal)."""

    def __init__(self, marker: int) -> None:
        super().__init__(f"unexpected marker 0x{marker:02x} in entropy-coded data")
        self.marker = marker


class _HuffDecoder:
    """Canonical Huffman decode per T.81 F.2.2.3 (MINCODE/MAXCODE/VALPTR)."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        self.vals = vals
        code = 0
        k = 0
        for li in range(1, 17):
            if bits[li - 1]:
                self.valptr[li] = k
                self.mincode[li] = code
                code += bits[li - 1]
                k += bits[li - 1]
                self.maxcode[li] = code - 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = br.read(1)
        li = 1
        while li <= 16 and code > self.maxcode[li]:
            code = (code << 1) | br.read(1)
            li += 1
        if li > 16:
            raise ValueError("invalid Huffman code")
        return self.vals[self.valptr[li] + code - self.mincode[li]]


def _extend(v: int, cat: int) -> int:
    """T.81 F.2.2.1 EXTEND: map ``cat`` magnitude bits to a signed value."""
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


@_codec_guard("jpeg")
def decode_jpeg(payload: bytes) -> dict:
    """Full JPEG pixel decode, sequential (SOF0/SOF1) and progressive
    (SOF2): marker walk, stream-declared quant/Huffman tables (redefinable
    between scans), every scan's entropy decode with restart handling into
    per-component coefficient grids, then one dequantize + IDCT pass,
    chroma upsample and YCbCr->RGB. Returns the common pixel-statistics
    record (+ the pixel array under 'pixels'). Other frame types
    (lossless, hierarchical, arithmetic) raise NotImplementedError, and a
    sample precision other than 8 bits (SOF1's 12) MediaCodecError."""
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffDecoder] = {}
    restart_interval = 0
    frame = None
    coefs: list[np.ndarray] = []
    saw_scan = False
    for marker, body, pos in _jpeg_segments(payload):
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0xF
                i += 1
                if prec:
                    vals = np.frombuffer(body[i : i + 128], dtype=">u2").astype(np.int64)
                    i += 128
                else:
                    vals = np.frombuffer(body[i : i + 64], dtype=np.uint8).astype(np.int64)
                    i += 64
                t = np.zeros(64, dtype=np.int64)
                t[_ZIGZAG] = vals
                qtables[tid] = t.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                huff[(cls, tid)] = _HuffDecoder(bits, vals)
                i += 17 + n
        elif marker in _SOF_MARKERS:
            if frame is not None:
                raise ValueError("multiple SOF markers")
            frame = _jpeg_frame(marker, body)
            if frame["precision"] != 8:
                raise MediaCodecError(
                    f"{frame['precision']}-bit JPEG samples not supported (8-bit only)"
                )
            coefs = [
                np.zeros((frame["mcus_y"] * sv, frame["mcus_x"] * sh, 64), dtype=np.int64)
                for sh, sv in frame["samp"]
            ]
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            _decode_scan(payload, pos, body, frame, coefs, huff, restart_interval)
            saw_scan = True
        # other segments (APPn, COM) are skipped
    if not saw_scan:
        raise ValueError("no scan data before EOI")
    planes = []
    for arr, qid in zip(coefs, frame["qids"]):
        if qid not in qtables:
            raise ValueError("frame references undefined quant table")
        by, bx = arr.shape[:2]
        plane = np.zeros((by * 8, bx * 8), dtype=np.uint8)
        for i in range(by):
            for j in range(bx):
                qcoef = np.zeros(64, dtype=np.int64)
                qcoef[_ZIGZAG] = arr[i, j]
                plane[i * 8 : i * 8 + 8, j * 8 : j * 8 + 8] = _dequant_idct(
                    qcoef.reshape(8, 8), qtables[qid]
                )
        planes.append(plane)
    return _finish_planes(frame, planes)


def _finish_planes(frame: dict, planes: list[np.ndarray]) -> dict:
    """Decode tail: crop, chroma upsample, color convert, stats."""
    h, w = frame["h"], frame["w"]
    if len(planes) == 1:
        px = planes[0][:h, :w]
    else:
        up = []
        for (sh, sv), p in zip(frame["samp"], planes):
            fy, fx = frame["vmax"] // sv, frame["hmax"] // sh
            if fy > 1 or fx > 1:  # nearest-neighbor upsample
                p = np.repeat(np.repeat(p, fy, axis=0), fx, axis=1)
            up.append(p[:h, :w])
        px = _ycbcr_to_rgb(up[0], up[1], up[2])
    flat = px.astype(np.int64)
    return {
        "width": w,
        "height": h,
        "bit_depth": 8,
        "color_type": len(planes),
        "n_px": int(flat.size),
        "px_sum": int(flat.sum()),
        "px_min": int(flat.min()),
        "px_max": int(flat.max()),
        "pixels": px,
    }


def _refine_nonzero(blk: np.ndarray, k: int, br: _BitReader, p1: int, m1: int) -> None:
    """AC refinement correction bit for an already-nonzero coefficient
    (G.1.2.3 / T.81 figure G.7): if the bit is 1 and magnitude bit Al is
    still 0, bump the magnitude by 1<<Al toward the coefficient's sign."""
    if br.read(1) and not (int(blk[k]) & p1):
        blk[k] += p1 if blk[k] >= 0 else m1


def _decode_scan(
    payload: bytes,
    pos: int,
    sos: bytes,
    frame: dict,
    coefs: list[np.ndarray],
    huff: dict[tuple[int, int], _HuffDecoder],
    restart_interval: int,
) -> None:
    """Decode the scan whose SOS header is ``sos`` and whose entropy-coded
    segment starts at ``pos`` into the zigzag coefficient grids: a
    sequential scan (T.81 F.2) codes each block's DC difference and AC
    band; a progressive scan (G.2) one DC or AC band, first pass or
    refinement."""
    n_scan = sos[0]
    comps = []
    for c in range(n_scan):
        cid, tsel = struct.unpack_from(">BB", sos, 1 + 2 * c)
        if cid not in frame["ids"]:
            raise ValueError("SOS component set does not match SOF frame components")
        comps.append((frame["ids"].index(cid), tsel >> 4, tsel & 0xF))
    if frame["progressive"]:
        ss, se, ahal = sos[1 + 2 * n_scan : 4 + 2 * n_scan]
        ah, al = ahal >> 4, ahal & 0xF
        _check_progressive_scan(n_scan, ss, se)
    else:  # sequential: every scan codes the whole band, no point transform
        ss, se, ah, al = 0, 63, 0, 0
    tables = {}
    for ci, td, ta in comps:
        keys = [(0, td)] * (ss == 0 and ah == 0) + [(1, ta)] * (ss > 0 or se > 0)
        if any(k not in huff for k in keys):
            raise ValueError("scan references undefined Huffman table")
        tables[ci] = (huff.get((0, td)), huff.get((1, ta)))
    br = _BitReader(payload, pos)
    p1, m1 = 1 << al, -(1 << al)
    preds = dict.fromkeys(tables, 0)
    eobrun = 0
    for ui, unit in enumerate(_scan_units(frame, [ci for ci, _td, _ta in comps])):
        if restart_interval and ui and ui % restart_interval == 0:
            br.align_and_expect_rst()
            preds = dict.fromkeys(tables, 0)
            eobrun = 0
        for ci, by, bx in unit:
            blk = coefs[ci][by, bx]
            dc, ac = tables[ci]
            if ss == 0:
                if ah == 0:
                    cat = dc.decode(br)
                    preds[ci] += _extend(br.read(cat), cat) if cat else 0
                    blk[0] = preds[ci] << al
                elif br.read(1):  # DC refinement: OR into magnitude bit Al
                    blk[0] = int(blk[0]) | p1
                k = 1
                while k <= se:  # sequential AC band (F.2.2.2): EOB ends it
                    sym = ac.decode(br)
                    if sym == 0x00:
                        break
                    if sym == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += sym >> 4
                    cat = sym & 0xF
                    if k > 63:
                        raise ValueError("AC index overrun")
                    blk[k] = _extend(br.read(cat), cat)
                    k += 1
            elif ah == 0:  # first scan of a progressive AC band
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    sym = ac.decode(br)
                    r, s = sym >> 4, sym & 15
                    if s == 0:
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.read(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("AC index overrun")
                    blk[k] = _extend(br.read(s), s) << al
                    k += 1
            else:  # refinement scan
                k = ss
                if eobrun == 0:
                    while k <= se:
                        sym = ac.decode(br)
                        r, s = sym >> 4, sym & 15
                        val = 0
                        if s:
                            if s != 1:
                                raise ValueError(
                                    "invalid magnitude in AC refinement scan"
                                )
                            val = p1 if br.read(1) else m1
                        elif r != 15:  # EOB run (ZRL keeps r=15, val=0)
                            eobrun = 1 << r
                            if r:
                                eobrun += br.read(r)
                            break
                        # advance over r zero-history coefficients,
                        # applying correction bits at nonzero ones
                        while k <= se:
                            if blk[k]:
                                _refine_nonzero(blk, k, br, p1, m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val:
                            if k > se:
                                raise ValueError("AC index overrun")
                            blk[k] = val
                        k += 1
                if eobrun:
                    # rest of the band rides the EOB run: correction
                    # bits only, for coefficients already nonzero
                    while k <= se:
                        if blk[k]:
                            _refine_nonzero(blk, k, br, p1, m1)
                        k += 1
                    eobrun -= 1
    # past the pad bits, an RSTn after the last unit lies outside the scan
    p = payload.find(b"\xff", br.pos)
    while 0 <= p < len(payload) - 1 and payload[p + 1] == 0:
        p = payload.find(b"\xff", p + 2)
    if 0 <= p < len(payload) - 1 and 0xD0 <= payload[p + 1] <= 0xD7:
        raise ValueError("restart marker outside entropy-coded data")


JPEG_DECODED_SCHEMA = (
    "id long, width int, height int, color_type int, "
    "n_px long, px_sum long, px_min int, px_max int"
)


def decode_jpeg_df(df: DataFrame, payload_col: str = "payload", id_col: str = "id") -> DataFrame:
    """Distributed full-pixel JPEG decode -> exact integer pixel statistics.
    One Arrow-batched mapInPandas pass, no shuffle (partition = files)."""
    return _quarantine_map(
        df, payload_col, id_col, _record_rows(decode_jpeg, JPEG_DECODED_SCHEMA), JPEG_DECODED_SCHEMA, "raise"
    )


# ---------------------------------------------------------------------------
# Format-dispatching distributed decoders
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Netpbm (PBM/PGM/PPM, http://netpbm.sourceforge.net/doc/): P1/P4 bitmaps,
# P2/P5 graymaps, P3/P6 pixmaps — ASCII and binary ("raw") variants. The
# classic vision-dataset interchange format; trivially real with stdlib +
# numpy (binary bodies are raw samples; 2-byte big-endian when maxval>255).
# ---------------------------------------------------------------------------


def encode_netpbm(pixels: np.ndarray, ascii_format: bool = False, maxval: int = 255) -> bytes:
    """Netpbm writer: (h, w) int array -> PGM (P2/P5) or PBM (P1/P4 when
    ``maxval == 1``), (h, w, 3) -> PPM (P3/P6). Binary ("raw") by default;
    ``maxval > 255`` writes 2-byte big-endian samples per spec."""
    px = np.asarray(pixels)
    h, w = px.shape[:2]
    rgb = px.ndim == 3
    if rgb and px.shape[2] != 3:
        raise ValueError("PPM needs (h, w, 3)")
    if maxval == 1 and not rgb:
        magic = b"P1" if ascii_format else b"P4"
        header = magic + b"\n%d %d\n" % (w, h)
        if ascii_format:
            body = b"\n".join(
                b" ".join(b"%d" % v for v in row) for row in px.astype(np.uint8)
            ) + b"\n"
            return header + body
        return header + b"".join(
            np.packbits(row.astype(np.uint8)).tobytes() for row in px
        )
    magic = (b"P3" if ascii_format else b"P6") if rgb else (b"P2" if ascii_format else b"P5")
    header = magic + b"\n%d %d\n%d\n" % (w, h, maxval)
    flat = px.reshape(-1).astype(np.int64)
    if ascii_format:
        return header + b" ".join(b"%d" % v for v in flat) + b"\n"
    dt = ">u2" if maxval > 255 else np.uint8
    return header + flat.astype(dt).tobytes()


@_codec_guard("netpbm")
def parse_netpbm(payload: bytes, return_pixels: bool = False) -> dict:
    """Netpbm decode, all six formats: tokenized header (whitespace runs +
    '#' comments, per spec legal anywhere in the header), raw or ASCII
    sample bodies, P4 rows padded to byte boundaries MSB-first. Returns the
    common pixel-statistics record (PBM reports the raw bits, bit_depth 1;
    color_type follows the PNG numbering like the rest of the family)."""
    magic = payload[:2]
    if magic not in (b"P1", b"P2", b"P3", b"P4", b"P5", b"P6"):
        raise ValueError("not a Netpbm file: bad magic")
    kind = magic[1] - 0x30
    bitmap = kind in (1, 4)
    rgb = kind in (3, 6)
    ascii_format = kind <= 3
    pos = 2
    fields: list[int] = []
    need = 2 if bitmap else 3

    def _skip_ws(p: int) -> int:
        while p < len(payload):
            c = payload[p : p + 1]
            if c == b"#":
                nl = payload.find(b"\n", p)
                p = len(payload) if nl < 0 else nl + 1
            elif c.isspace():
                p += 1
            else:
                break
        return p

    while len(fields) < need:
        pos = _skip_ws(pos)
        start = pos
        while pos < len(payload) and payload[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("malformed Netpbm header")
        fields.append(int(payload[start:pos]))
    w, h = fields[0], fields[1]
    _check_dims(w, h, "netpbm")
    maxval = 1 if bitmap else fields[2]
    if not 0 < maxval < 65536:
        raise ValueError(f"Netpbm maxval {maxval} out of range")
    n = w * h * (3 if rgb else 1)
    if ascii_format:
        body = payload[pos:].split(b"#")[0] if b"#" in payload[pos:] else payload[pos:]
        if kind == 1:
            # P1 pixels need no separators ("0110" is four pixels)
            digits = [c - 0x30 for c in body if c in (0x30, 0x31)]
            if len(digits) < n:
                raise ValueError("PBM ASCII body too short")
            samples = np.array(digits[:n], dtype=np.int64)
        else:
            vals = body.split()
            if len(vals) < n:
                raise ValueError("Netpbm ASCII body too short")
            samples = np.array([int(v) for v in vals[:n]], dtype=np.int64)
    elif kind == 4:
        pos += 1  # exactly one whitespace byte after the header per spec
        stride = -(-w // 8)
        if len(payload) < pos + stride * h:
            raise ValueError("truncated PBM body")
        rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=pos)
        bits = np.unpackbits(rows.reshape(h, stride), axis=1)[:, :w]
        samples = bits.reshape(-1).astype(np.int64)
    else:
        pos += 1
        dt = ">u2" if maxval > 255 else np.uint8
        width_b = 2 if maxval > 255 else 1
        if len(payload) < pos + n * width_b:
            raise ValueError("truncated Netpbm body")
        samples = np.frombuffer(
            payload, dtype=dt, count=n, offset=pos
        ).astype(np.int64)
    if samples.size and int(samples.max()) > maxval:
        raise ValueError("Netpbm sample exceeds declared maxval")
    rec = {
        "width": w,
        "height": h,
        "bit_depth": 1 if bitmap else (16 if maxval > 255 else 8),
        "color_type": 2 if rgb else 0,
        "n_px": int(samples.size),
        "px_sum": int(samples.sum()),
        "px_min": int(samples.min()) if samples.size else 0,
        "px_max": int(samples.max()) if samples.size else 0,
    }
    if return_pixels:
        rec["pixels"] = samples.reshape((h, w, 3) if rgb else (h, w))
    return rec


IMAGE_DECODED_SCHEMA = (
    "id long, format string, width int, height int, bit_depth int, "
    "color_type int, n_px long, px_sum long, px_min int, px_max int"
)


@_codec_guard("image")
def parse_image(payload: bytes) -> dict:
    """Magic-sniffing image decode: PNG, BMP, GIF, TIFF, or JPEG (baseline
    or progressive) -> the common pixel-statistics record + a format tag.
    GIF stats are over the palette-mapped RGB samples of ALL frames
    (color_type 3 = palette, mirroring PNG's type numbering)."""
    if payload[:8] == PNG_SIGNATURE:
        return {"format": "png", **parse_png(payload)}
    if payload[:2] == b"BM":
        return {"format": "bmp", **parse_bmp(payload)}
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        g = parse_gif(payload)
        return {
            "format": "gif",
            "width": g["width"],
            "height": g["height"],
            "bit_depth": 8,
            "color_type": 3,
            "n_px": g["n_px"] * 3,  # RGB samples, like the PNG color path
            "px_sum": g["rgb_sum"],
            "px_min": g["rgb_min"],
            "px_max": g["rgb_max"],
        }
    if payload[:2] == b"\xff\xd8":
        rec = decode_jpeg(payload)
        rec.pop("pixels")
        return {"format": "jpeg", **rec}
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return {"format": "tiff", **parse_tiff(payload)}
    if payload[:1] == b"P" and payload[1:2] in b"123456" and payload[2:3].isspace():
        return {"format": "netpbm", **parse_netpbm(payload)}
    raise ValueError("unrecognized image magic")


def parse_image_pixels(payload: bytes) -> np.ndarray:
    """Magic-sniffing decode to the pixel ARRAY ((h, w) gray or (h, w, c)
    color uint8) for the perceptual-hash path — same format routing as
    :func:`parse_image`, but returning samples instead of statistics.
    GIF is excluded (multi-frame; use sample_gif_frames)."""
    if payload[:8] == PNG_SIGNATURE:
        return parse_png(payload, return_pixels=True)["pixels"]
    if payload[:2] == b"BM":
        return parse_bmp(payload, return_pixels=True)["pixels"]
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)["pixels"]
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return parse_tiff(payload, return_pixels=True)["pixels"]
    if payload[:1] == b"P" and payload[1:2] in b"123456" and payload[2:3].isspace():
        return parse_netpbm(payload, return_pixels=True)["pixels"]
    raise ValueError("unrecognized image magic for pixel decode")


# orthonormal 32-point DCT-II basis for the perceptual hash (same
# construction as the 8-point _DCT_C the JPEG codec uses)
_PHASH_SIZE = 32
_DCT_C32 = np.zeros((_PHASH_SIZE, _PHASH_SIZE))
for _k in range(_PHASH_SIZE):
    _s = np.sqrt(1 / _PHASH_SIZE) if _k == 0 else np.sqrt(2 / _PHASH_SIZE)
    for _n in range(_PHASH_SIZE):
        _DCT_C32[_k, _n] = _s * np.cos((2 * _n + 1) * _k * np.pi / (2 * _PHASH_SIZE))


def phash64(px: np.ndarray) -> int:
    """DCT perceptual hash of a decoded image: integer BT.601 grayscale ->
    deterministic block-mean resample to 32x32 -> 2D DCT-II -> keep the
    top-left 8x8 low-frequency block -> one bit per AC coefficient, its
    SIGN (coef > 0) — 63 bits, row-major, MSB-aligned below an always-zero
    top bit, returned as a Spark long. The sign variant (robust-hashing
    literature) is chosen over classic pHash's median threshold
    deliberately: a median split forces ~2 borderline bits to sit exactly
    at the threshold, so ANY re-encode perturbation flips them, while a
    sign bit only flips when its coefficient crosses zero — measurably
    hamming-0 under lossless re-encode (PNG<->BMP<->netpbm), JPEG
    re-encode, and mild resize for spectra whose low band carries real
    energy. The image analog of the audio constellation fingerprint."""
    px = np.asarray(px)
    if px.ndim == 3:
        if px.shape[2] == 4:
            px = px[:, :, :3]
        if px.shape[2] == 2:  # gray + alpha
            g = px[:, :, 0].astype(np.int64)
        else:
            p = px.astype(np.int64)
            g = (p[:, :, 0] * 299 + p[:, :, 1] * 587 + p[:, :, 2] * 114) // 1000
    else:
        g = px.astype(np.int64)
    h, w = g.shape
    if h == 0 or w == 0:
        raise ValueError("empty image for phash")
    s = _PHASH_SIZE
    # block-mean resample: cell (y, x) averages rows [y*h//s, (y+1)*h//s)
    # (at least one), same for columns — integer boundaries, no kernel
    if h >= s and w >= s:
        # vectorized fast path (boundaries strictly increase when both dims
        # cover the grid): two reduceat passes + an outer-area divide —
        # bit-identical to the loop (tiny blocks, sequential float64 sums)
        rs = [(y * h) // s for y in range(s)]
        cs = [(x * w) // s for x in range(s)]
        sums = np.add.reduceat(
            np.add.reduceat(g.astype(np.float64), rs, axis=0), cs, axis=1
        )
        rh = np.diff(np.array(rs + [h]))
        cw = np.diff(np.array(cs + [w]))
        small = sums / np.outer(rh, cw)
    else:
        small = np.empty((s, s), dtype=np.float64)
        rb = [max((y * h) // s, 0) for y in range(s + 1)]
        cb = [max((x * w) // s, 0) for x in range(s + 1)]
        for y in range(s):
            r0, r1 = rb[y], max(rb[y + 1], rb[y] + 1)
            row = g[min(r0, h - 1) : min(r1, h)]
            for x in range(s):
                c0, c1 = cb[x], max(cb[x + 1], cb[x] + 1)
                small[y, x] = row[:, min(c0, w - 1) : min(c1, w)].mean()
    coef = _DCT_C32 @ small @ _DCT_C32.T
    low = coef[:8, :8].flatten()[1:]  # 63 AC coefficients, row-major
    bits = 0
    for v in low:
        bits = (bits << 1) | (1 if v > 0 else 0)
    return bits  # top bit always 0 -> fits a signed 64-bit long as-is


def _quarantine_policy(errors: str) -> None:
    if errors not in ("raise", "null", "skip"):
        raise ValueError(f"errors must be raise/null/skip, got {errors!r}")


def _fields(schema: str) -> list[str]:
    """The column names of a DDL schema string, less its leading id."""
    return [f.split()[0] for f in schema.split(", ")][1:]


def _quarantine_map(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    decode,
    schema: str,
    errors: str,
) -> DataFrame:
    """The per-payload kernel of every media decoder: one Arrow-batched
    mapInPandas pass, no shuffle, in which ``decode(payload bytes)``
    returns that payload's output rows (tuples over the ``schema``
    columns after its leading id; the id is prepended). A payload whose
    decode raises ValueError or NotImplementedError (MediaCodecError is a
    ValueError) fails the job under ``"raise"``, is dropped under
    ``"skip"``, and under ``"null"`` becomes one dead-letter row: null
    fields, the message in an extra ``error`` column. ``schema`` is the
    raise-mode output; both tolerant modes add ``error string`` (NULL on
    good rows), so they share one schema."""
    _quarantine_policy(errors)
    columns = _fields(schema)
    names = ["id", *columns, "error"]
    dead = (None,) * len(columns)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for rid, raw in zip(pdf[id_col], pdf[payload_col]):
                try:
                    out = decode(bytes(raw))
                except (ValueError, NotImplementedError) as exc:
                    if errors == "raise":
                        raise
                    if errors == "null":
                        rows.append((rid, *dead, f"{type(exc).__name__}: {exc}"))
                    continue
                rows.extend((rid, *r, None) for r in out)
            frame = pd.DataFrame(rows, columns=names)
            yield frame.drop(columns=["error"]) if errors == "raise" else frame

    return df.mapInPandas(_run, schema=schema if errors == "raise" else schema + ", error string")


def _record_rows(parse, schema: str):
    """``decode`` for :func:`_quarantine_map` from a parser returning one
    record per payload: its one row holds the record's ``schema`` fields."""
    fields = _fields(schema)

    def rows(payload: bytes) -> list[tuple]:
        rec = parse(payload)
        return [tuple(rec[f] for f in fields)]

    return rows


def decode_image(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "id",
    errors: str = "raise",
) -> DataFrame:
    """Distributed mixed-format image decode — sniffs each payload's magic
    and routes to the right parser in one Arrow-batched pass, the shape of a
    real ingest where one binary column carries heterogeneous formats.

    ``errors`` is the per-row quarantine policy for corrupt / truncated /
    unsupported payloads (MediaCodecError, ValueError, NotImplementedError):

    - ``"raise"`` (default): fail the job — the strict-fixture mode.
    - ``"null"``: keep the row with null decode fields and the exception
      message in an extra ``error string`` column — the dead-letter
      relation shape (filter ``error IS NOT NULL`` to quarantine, mirroring
      streaming/cdc.py's dead_letter path); good rows carry ``error=NULL``.
    - ``"skip"``: drop bad rows (same extra ``error`` column, always NULL
      in the output, so both tolerant modes share one schema).

    A 100 TB crawl corpus WILL contain truncated files; the tolerant modes
    are why one bad byte never loses the other 99.999% of a batch."""

    return _quarantine_map(
        df, payload_col, id_col, _record_rows(parse_image, IMAGE_DECODED_SCHEMA), IMAGE_DECODED_SCHEMA, errors
    )


JPEG_META_SCHEMA = (
    "id long, precision int, width int, height int, n_components int, progressive boolean"
)


def decode_jpeg_meta(df: DataFrame, payload_col: str = "payload", id_col: str = "id") -> DataFrame:
    """Distributed JPEG header-metadata decode (marker walk, no entropy
    decode — see parse_jpeg_meta)."""
    return _quarantine_map(
        df, payload_col, id_col, _record_rows(parse_jpeg_meta, JPEG_META_SCHEMA), JPEG_META_SCHEMA, "raise"
    )


# ---------------------------------------------------------------------------
# AVI (RIFF) video container: writer + parser. Two in-container codecs:
# '00db' raw DIB frames (BI_RGB bottom-up BGR, 4-byte row padding —
# byte-exact) and '00dc' MJPG (each frame a standalone baseline JFIF
# stream decoded by decode_jpeg). This gives the multimodal "video" column
# a real, decodable container the way GIF covers animation — ffmpeg-class
# inter-frame codecs (H.264 etc.) stay honestly out of scope.
# Layout per the AVI RIFF form: RIFF('AVI ' LIST('hdrl' avih LIST('strl'
# strh strf)) LIST('movi' 00db/00dc...) idx1), OpenDML not required.
# ---------------------------------------------------------------------------


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    return tag + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")


def _riff_list(list_type: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + body)


def _riff_chunks(data: bytes, pos: int) -> Iterator[tuple[bytes, int, bytes]]:
    """The one RIFF chunk walk: (fourcc, offset, body) for each chunk from
    ``pos`` on, word-aligned (an odd-length body is followed by a pad
    byte). Raises on a chunk whose body runs past the data."""
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError(f"truncated RIFF chunk {tag!r}")
        yield tag, pos, body
        pos += 8 + ln + (ln & 1)


def encode_avi(
    frames: list[np.ndarray],
    fps: int = 10,
    codec: str = "dib",
    audio: np.ndarray | None = None,
    audio_rate: int = 16000,
    audio_channels: int = 1,
    audio_format: int = 1,
) -> bytes:
    """AVI writer over same-sized frames. ``codec='dib'``: frames are
    (h, w, 3) uint8 RGB, stored as raw bottom-up BGR DIB rows with 4-byte
    padding in '00db' chunks (lossless). ``codec='mjpg'``: frames are
    (h, w) grayscale or (h, w, 3) RGB uint8, each encoded as a standalone
    baseline JFIF stream (encode_jpeg) in '00dc' chunks. Writes a
    spec-shaped idx1 index (offsets relative to the 'movi' fourcc,
    AVIIF_KEYFRAME on every frame — both codecs are intra-only).

    ``audio`` adds a second stream (stream 01, 'auds', PCM16 int samples,
    frame-major interleaved when ``audio_channels`` > 1): samples are cut
    into per-video-frame '01wb' chunks (rate//fps frames each, remainder on
    the last chunk) interleaved after each video chunk — the standard AVI
    A/V interleave."""
    if not frames:
        raise ValueError("AVI needs at least one frame")
    f0 = np.asarray(frames[0])
    h, w = int(f0.shape[0]), int(f0.shape[1])
    if codec == "dib":
        ckid = b"00db"
        handler = b"DIB "
        compression = 0
        stride = (w * 3 + 3) & ~3
        payloads = []
        for fr in frames:
            fr = np.asarray(fr, dtype=np.uint8)
            if fr.shape != (h, w, 3):
                raise ValueError("dib frames must all be (h, w, 3) RGB")
            rows = np.zeros((h, stride), dtype=np.uint8)
            rows[:, : w * 3] = fr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
            payloads.append(rows.tobytes())
    elif codec == "mjpg":
        ckid = b"00dc"
        handler = b"MJPG"
        compression = struct.unpack("<I", b"MJPG")[0]
        stride = (w * 3 + 3) & ~3
        payloads = []
        for fr in frames:
            fr = np.asarray(fr, dtype=np.uint8)
            if fr.shape[:2] != (h, w):
                raise ValueError("mjpg frames must share dimensions")
            payloads.append(encode_jpeg(fr))
    else:
        raise ValueError(f"codec must be 'dib' or 'mjpg', got {codec!r}")

    audio_chunks: list[bytes] = []
    audio_strl = b""
    if audio is not None:
        if audio_format not in (1, 6, 7, 0x11):
            raise ValueError(
                "audio_format must be 1 (PCM16) / 6 (A-law) / 7 (mu-law) / "
                f"0x11 (IMA-ADPCM), got {audio_format}"
            )
        s = np.asarray(audio, dtype=np.int64).reshape(-1, audio_channels)
        n_aframes = s.shape[0]
        if audio_format == 0x11:
            # IMA-ADPCM: chunks must carry WHOLE self-contained blocks (the
            # per-video-frame split would cut predictor state mid-block)
            data, block_align, _recon = _ima_encode_blocks(s, audio_channels, 505)
            audio_chunks = [
                data[o : o + block_align] for o in range(0, len(data), block_align)
            ]
        else:
            spf = audio_rate // fps  # audio frames per video frame
            for i in range(len(frames)):
                lo = i * spf
                hi = (i + 1) * spf if i < len(frames) - 1 else n_aframes
                block = s[lo:hi]
                if audio_format == 1:
                    audio_chunks.append(block.astype("<i2").tobytes())
                else:  # G.711: one companded byte per sample
                    enc = _alaw_encode if audio_format == 6 else _ulaw_encode
                    audio_chunks.append(enc(block.reshape(-1)).astype(np.uint8).tobytes())
            block_align = (2 if audio_format == 1 else 1) * audio_channels
        a_strh = (
            b"auds" + b"\x00" * 4
            + struct.pack(
                "<IHHIIIIIIiI",
                0, 0, 0, 0, 1, audio_rate, 0, n_aframes,
                max((len(c) for c in audio_chunks), default=0), -1, block_align,
            )
            + struct.pack("<4H", 0, 0, 0, 0)
        )
        if audio_format == 0x11:
            a_strf = struct.pack(
                "<HHIIHHHH", 0x11, audio_channels, audio_rate,
                audio_rate * block_align // 505, block_align, 4, 2, 505,
            )
        else:
            a_strf = struct.pack(
                "<HHIIHH", audio_format, audio_channels, audio_rate,
                audio_rate * block_align, block_align, 16 if audio_format == 1 else 8,
            )
        audio_strl = _riff_list(
            b"strl", _riff_chunk(b"strh", a_strh) + _riff_chunk(b"strf", a_strf)
        )

    max_len = max(len(p) for p in payloads)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # microseconds per frame
        max_len * fps,  # max bytes per second
        0,  # padding granularity
        0x10,  # AVIF_HASINDEX
        len(frames), 0, 2 if audio is not None else 1, max_len, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + handler
        + struct.pack("<IHHIIIIIIiI", 0, 0, 0, 0, 1, fps, 0, len(frames), max_len, -1, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, compression, stride * h, 0, 0, 0, 0)
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf))
        + audio_strl,
    )
    movi_body = b""
    idx = b""
    def _emit_audio(a: bytes) -> None:
        nonlocal movi_body, idx
        idx += b"01wb" + struct.pack("<III", 0x10, 4 + len(movi_body), len(a))
        movi_body += _riff_chunk(b"01wb", a)

    for i, p in enumerate(payloads):
        # idx1 offsets point at the chunk header, relative to the 'movi'
        # fourcc (the common muxer convention): first chunk lands at 4.
        idx += ckid + struct.pack("<III", 0x10, 4 + len(movi_body), len(p))
        movi_body += _riff_chunk(ckid, p)
        # interleave one audio chunk per frame while chunks remain (ADPCM
        # block counts need not match the frame count)
        if i < len(audio_chunks):
            _emit_audio(audio_chunks[i])
    for a in audio_chunks[len(payloads):]:  # leftover blocks trail the video
        _emit_audio(a)
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + _riff_list(b"movi", movi_body) + _riff_chunk(b"idx1", idx))


@_codec_guard("avi")
def parse_avi(payload: bytes, return_frames: bool = False) -> dict:
    """AVI parse + per-frame pixel decode: RIFF walk (hdrl: avih/strh/strf,
    movi: frame chunks, idx1 cross-checked against actual chunk offsets when
    present), then each frame decoded by its in-container codec — raw DIB
    rows un-padded bottom-up BGR->RGB, or MJPG through the full baseline
    JFIF decoder. Returns container meta + exact pixel statistics over all
    frames (and the frame arrays under 'frames' when ``return_frames``)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    (riff_len,) = struct.unpack_from("<I", payload, 4)
    if riff_len != len(payload) - 8:
        raise ValueError("RIFF length mismatch")
    avih = None
    streams: list[list[bytes | None]] = []  # per-strl [strh, strf]
    chunks: list[tuple[bytes, int, bytes]] = []  # (ckid, offset_in_movi, body)
    idx1 = None
    for tag, _pos, body in _riff_chunks(payload, 12):
        if tag == b"LIST" and body[:4] == b"hdrl":
            for htag, _hpos, sub in _riff_chunks(body, 4):
                if htag == b"avih":
                    avih = struct.unpack_from("<14I", sub, 0)
                elif htag == b"LIST" and sub[:4] == b"strl":
                    pair: list[bytes | None] = [None, None]
                    for stag, _spos, sbody in _riff_chunks(sub, 4):
                        if stag == b"strh" and pair[0] is None:
                            pair[0] = sbody
                        elif stag == b"strf" and pair[1] is None:
                            pair[1] = sbody
                    streams.append(pair)
        elif tag == b"LIST" and body[:4] == b"movi":
            for ckid, off, cbody in _riff_chunks(body, 4):
                if ckid[2:4] in (b"db", b"dc", b"wb") and ckid[:2].isdigit():
                    chunks.append((ckid, off, cbody))
        elif tag == b"idx1":
            idx1 = body
    if avih is None or not streams:
        raise ValueError("missing avih/strh/strf header")
    # dispatch streams by their strl POSITION (the two-digit chunk-id prefix
    # is the strl index, AVI RIFF spec) — r13, ADVICE r12: video need not be
    # stream 00 and audio need not be stream 01
    video_idx = next(
        (i for i, (sh, _sf) in enumerate(streams) if sh and sh[:4] == b"vids"), None
    )
    if video_idx is None or streams[video_idx][1] is None:
        raise ValueError("no complete vids stream (strh+strf) in hdrl")
    strh, strf = streams[video_idx]
    scale, rate = struct.unpack_from("<II", strh, 20)
    biw, bih, _planes, _bits, compression = struct.unpack_from("<iiHHI", strf, 4)
    w, h = int(biw), abs(int(bih))
    _check_dims(w, h, "avi")
    audio_idx = next(
        (i for i, (sh, _sf) in enumerate(streams) if sh and sh[:4] == b"auds"), None
    )
    audio_fmt = None
    if audio_idx is not None:
        if streams[audio_idx][1] is None:
            raise ValueError("auds stream missing strf")
        audio_fmt = struct.unpack_from("<HHIIHH", streams[audio_idx][1], 0)
        # PCM16 plus the G.711 telephony companders (same decoders the WAV
        # path uses); IMA-ADPCM in AVI needs block-aligned chunking and
        # stays an honest boundary
        if not (
            (audio_fmt[0] == 1 and audio_fmt[5] == 16)
            or (audio_fmt[0] in (6, 7) and audio_fmt[5] == 8)
            or (audio_fmt[0] == 0x11 and audio_fmt[5] == 4)
        ):
            raise NotImplementedError(
                f"AVI audio: PCM16 / G.711 A-law / mu-law / IMA-ADPCM supported "
                f"(format={audio_fmt[0]} bits={audio_fmt[5]})"
            )
    if idx1 is not None:
        # validate the entries that are PRESENT (r13, ADVICE r12: legal
        # files may index a subset, e.g. keyframes only); every entry must
        # agree with the movi chunk at its stated offset
        if len(idx1) % 16:
            raise ValueError("idx1 length not a multiple of 16")
        by_off = {off: (ckid, len(body_)) for ckid, off, body_ in chunks}
        for i in range(len(idx1) // 16):
            eck = idx1[16 * i : 16 * i + 4]
            _fl, eoff, eln = struct.unpack_from("<III", idx1, 16 * i + 4)
            known = by_off.get(eoff)
            if known is None or known[0] != eck or known[1] != eln:
                raise ValueError(f"idx1 entry {i} disagrees with movi chunks")
    frames = []
    audio_parts: list[bytes] = []
    for ckid, _off, body_ in chunks:
        sn = int(ckid[:2])  # two-digit stream number -> strl index
        if sn == audio_idx:
            if ckid[2:4] != b"wb":
                raise ValueError(f"unexpected chunk {ckid!r} on the audio stream")
            audio_parts.append(body_)
            continue
        if sn != video_idx:
            continue  # other streams (text, midi...) are skippable payload
        if ckid[2:4] == b"db":  # raw DIB, bottom-up BGR, padded rows
            if compression != 0:
                raise ValueError(f"{ckid!r} chunk in a non-BI_RGB stream")
            stride = (w * 3 + 3) & ~3
            if len(body_) != stride * h:
                raise ValueError("DIB frame size mismatch")
            rows = np.frombuffer(body_, dtype=np.uint8).reshape(h, stride)
            frames.append(rows[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1].copy())
        elif ckid[2:4] == b"dc":  # MJPG — standalone baseline JFIF streams
            if compression != struct.unpack("<I", b"MJPG")[0]:
                raise NotImplementedError(
                    f"only MJPG '00dc' streams supported (compression={compression:#x})"
                )
            frames.append(decode_jpeg(body_)["pixels"])
        else:
            raise ValueError(f"unexpected chunk {ckid!r} on the video stream")
    flat = (
        np.concatenate([f.reshape(-1).astype(np.int64) for f in frames])
        if frames
        else np.zeros(0, dtype=np.int64)
    )
    if audio_parts:
        raw_a = b"".join(audio_parts)
        if audio_fmt[0] == 1:
            audio = np.frombuffer(raw_a, dtype="<i2").astype(np.int64)
        elif audio_fmt[0] == 0x11:  # IMA-ADPCM: whole blocks per chunk
            audio = _ima_adpcm_decode(raw_a, int(audio_fmt[1]), int(audio_fmt[4])).astype(np.int64).reshape(-1)
        else:  # G.711: one byte per sample -> expanded PCM
            codes = np.frombuffer(raw_a, dtype=np.uint8).astype(np.int64)
            audio = _alaw_decode(codes) if audio_fmt[0] == 6 else _ulaw_decode(codes)
    else:
        audio = np.zeros(0, dtype=np.int64)
    rec = {
        "codec": "dib" if compression == 0 else "mjpg",
        "width": w,
        "height": h,
        "n_frames": len(frames),
        "fps": float(rate) / float(scale or 1),
        "n_px": int(flat.size),
        "px_sum": int(flat.sum()),
        "px_min": int(flat.min()) if flat.size else 0,
        "px_max": int(flat.max()) if flat.size else 0,
        "has_audio": audio_fmt is not None,
        "audio_rate": int(audio_fmt[2]) if audio_fmt else 0,
        "audio_channels": int(audio_fmt[1]) if audio_fmt else 0,
        "audio_samples": int(audio.size // audio_fmt[1]) if audio_fmt else 0,
    }
    if return_frames:
        rec["frames"] = frames
        rec["audio"] = audio
    return rec


# ---------------------------------------------------------------------------
# TIFF (baseline TIFF 6.0): writer + decoder. Both byte orders ('II'/'MM'),
# grayscale (BlackIsZero/WhiteIsZero) and RGB, strip organization, and
# Compression = 1 (none), 32773 (PackBits RLE), or 5 (LZW, TIFF 6.0 §13
# with the early-change code-width quirk and the optional horizontal-
# differencing Predictor, tag 317) — the three forms real scanned corpora
# actually carry. JPEG-in-TIFF stays out of scope honestly (parse raises on
# unknown Compression values).
# ---------------------------------------------------------------------------

_TIFF_TAGS = {
    256: "width", 257: "height", 258: "bits", 259: "compression",
    262: "photometric", 273: "strip_offsets", 277: "spp",
    278: "rows_per_strip", 279: "strip_counts", 317: "predictor",
    322: "tile_width", 323: "tile_length", 324: "tile_offsets",
    325: "tile_counts", 347: "jpeg_tables",
}

# JPEG marker surgery for TIFF compression 7 (TIFF Tech Note 2): the shared
# JPEGTables tag holds an abbreviated table stream (SOI <tables> EOI); each
# strip is an abbreviated image stream that decodes against it. The writer
# shares only DQT (0xDB): quantization tables are a fixed property of the
# encoder, while Huffman tables (DHT) are rebuilt from each strip's own
# symbol statistics and must stay strip-local.
_JPEG_SHARED_MARKERS = (0xDB,)


def _split_jpeg_tables(
    stream: bytes, shared: tuple = _JPEG_SHARED_MARKERS
) -> tuple[bytes, bytes]:
    """Full interchange JPEG -> (tables stream, abbreviated image stream):
    segments with a marker in ``shared`` move into the SOI..EOI tables
    stream, everything else (SOF/DHT/SOS/entropy data) stays in the image
    stream."""
    tables = bytearray()
    rest = bytearray(b"\xff\xd8")
    for marker, body, end in _jpeg_segments(stream):
        seg = _jpeg_segment(marker, body)
        if marker == 0xDA:  # SOS: entropy data follows to EOI — copy whole
            rest += seg + stream[end:]
            break
        if marker in shared:
            tables += seg
        else:
            rest += seg
    return b"\xff\xd8" + bytes(tables) + b"\xff\xd9", bytes(rest)


def _join_jpeg_tables(tables: bytes, strip: bytes) -> bytes:
    """Abbreviated strip stream + JPEGTables -> decodable interchange
    stream (tables spliced after the strip's SOI)."""
    if len(tables) < 4 or tables[:2] != b"\xff\xd8" or tables[-2:] != b"\xff\xd9":
        raise ValueError("malformed JPEGTables stream")
    if strip[:2] != b"\xff\xd8":
        raise ValueError("TIFF JPEG strip missing SOI")
    return b"\xff\xd8" + tables[2:-2] + strip[2:]

def _predict_diff(rows: np.ndarray, spp: int) -> np.ndarray:
    """Horizontal differencing (TIFF Predictor=2): per row, per channel,
    value - left-neighbor, mod 256."""
    px = rows.reshape(rows.shape[0], -1, spp).astype(np.int16)
    d = px.copy()
    d[:, 1:, :] = (px[:, 1:, :] - px[:, :-1, :]) % 256
    return d.astype(np.uint8).reshape(rows.shape)


def _predict_undiff(rows: np.ndarray, spp: int) -> np.ndarray:
    px = rows.reshape(rows.shape[0], -1, spp).astype(np.int64)
    return (
        np.cumsum(px, axis=1) % 256
    ).astype(np.uint8).reshape(rows.shape)


def _packbits_encode(data: bytes) -> bytes:
    """PackBits (TIFF 6.0 §9): runs >= 2 as (1-n, byte), literals batched."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 2:
            out += bytes([256 - (run - 1) & 0xFF, data[i]])
            i += run
            continue
        lit_start = i
        i += 1
        while i < n and run < 128:
            nxt = 1
            while i + nxt < n and data[i + nxt] == data[i] and nxt < 128:
                nxt += 1
            if nxt >= 2:
                break
            i += 1
            run += 1
        out += bytes([run - 1]) + data[lit_start : lit_start + run]
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    while len(out) < expected:
        if i >= len(data):
            raise ValueError("PackBits stream exhausted before row end")
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: noop
    if len(out) != expected:
        raise ValueError("PackBits output overruns the strip")
    return bytes(out)


def encode_tiff(
    pixels: np.ndarray,
    big_endian: bool = False,
    packbits: bool = False,
    rows_per_strip: int = 4,
    white_is_zero: bool = False,
    lzw: bool = False,
    predictor: int = 1,
    jpeg: bool = False,
    tiles: tuple | None = None,
    deflate: bool = False,
) -> bytes:
    """Baseline TIFF writer: (h, w) grayscale or (h, w, 3) RGB uint8,
    strip-organized (or TILED via ``tiles=(tile_w, tile_h)`` — tags
    322/323/324/325, row-major grid, edge tiles zero-padded to full size,
    the pyramidal/GeoTIFF layout), either byte order. Compression: none,
    PackBits (compressed PER ROW within each strip per TIFF 6.0 §9 — runs
    never cross row boundaries), LZW (§13, early-change widths), Adobe
    Deflate (8, one zlib stream per block) — LZW/Deflate optionally with
    the horizontal-differencing Predictor tag 317 — or new-style JPEG
    (compression 7, TIFF Tech Note 2: per-block abbreviated JPEG streams
    sharing one JPEGTables tag holding the DQT segments)."""
    if sum((packbits, lzw, jpeg, deflate)) > 1:
        raise ValueError("choose one of packbits/lzw/jpeg/deflate")
    if predictor not in (1, 2):
        raise ValueError(f"predictor must be 1 or 2, got {predictor}")
    if predictor == 2 and not (lzw or deflate):
        raise ValueError("Predictor=2 is written with LZW/Deflate compression only")
    if jpeg and white_is_zero:
        raise ValueError("WhiteIsZero does not apply to JPEG strips")
    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    spp = 1 if px.ndim == 2 else px.shape[2]
    if white_is_zero:
        if spp != 1:
            raise ValueError("WhiteIsZero applies to grayscale only")
        px = 255 - px
    bo = ">" if big_endian else "<"
    jpeg_tables = b""

    if tiles:
        tw_, th_ = tiles
        if tw_ <= 0 or th_ <= 0:
            raise ValueError(f"bad tile geometry {tiles}")
        nx, ny = -(-w // tw_), -(-h // th_)
        padded = np.zeros((ny * th_, nx * tw_) + ((spp,) if spp > 1 else ()), np.uint8)
        padded[:h, :w] = px
        pixel_blocks = [
            padded[yy * th_ : (yy + 1) * th_, xx * tw_ : (xx + 1) * tw_]
            for yy in range(ny)
            for xx in range(nx)
        ]
    else:
        pixel_blocks = [px[r0 : r0 + rows_per_strip] for r0 in range(0, h, rows_per_strip)]

    strips = []
    if jpeg:
        if spp not in (1, 3):
            raise ValueError("JPEG strips support grayscale or RGB only")
        for block in pixel_blocks:
            tables, abbrev = _split_jpeg_tables(encode_jpeg(block))
            jpeg_tables = tables  # DQT identical across blocks (same encoder)
            strips.append(abbrev)
    else:
        for block in pixel_blocks:
            bh = block.shape[0]
            raw_rows = block.reshape(bh, -1)
            if predictor == 2:
                raw_rows = _predict_diff(raw_rows, spp)
            if packbits:
                # per-row streams concatenated: §9 requires each row
                # compressed independently (decode side reads to the
                # expected byte count, so concatenated row streams parse
                # identically)
                strips.append(b"".join(_packbits_encode(r.tobytes()) for r in raw_rows))
            elif lzw:
                strips.append(_lzw_encode(raw_rows.tobytes(), 8, _TIFF_LZW))
            elif deflate:  # Adobe Deflate (8): one zlib stream per block
                strips.append(zlib.compress(raw_rows.tobytes(), 6))
            else:
                strips.append(raw_rows.tobytes())

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        # inline values are LEFT-justified in the 4-byte field (TIFF 6.0
        # §2): a count-1 SHORT occupies the first two bytes in file order
        head = struct.pack(f"{bo}HHI", tag, typ, count)
        if typ == 3:
            return head + struct.pack(f"{bo}H", value) + b"\x00\x00"
        return head + struct.pack(f"{bo}I", value)

    n_strips = len(strips)
    compression = 32773 if packbits else (
        5 if lzw else (7 if jpeg else (8 if deflate else 1))
    )
    # layout: header(8) + IFD + [bits array if spp=3] + strip/tile tables +
    # [JPEGTables blob] + data blocks
    n_entries = (10 if tiles else 9) + (1 if predictor == 2 else 0) + (
        1 if jpeg_tables else 0
    )
    ifd_size = 2 + n_entries * 12 + 4
    pos = 8 + ifd_size
    bits_off = pos
    if spp == 3:
        pos += 6  # three SHORTs
    so_off, sc_off = pos, pos
    if n_strips > 1:
        so_off = pos
        sc_off = so_off + 4 * n_strips
        pos = sc_off + 4 * n_strips
    tables_off = pos
    pos += len(jpeg_tables)
    data_off = pos
    offsets, counts = [], []
    for s in strips:
        offsets.append(pos)
        counts.append(len(s))
        pos += len(s)

    # JPEG strips are YCbCr interchange streams (photometric 6 per TIFF/EP
    # practice; grayscale JPEG keeps photometric 1)
    photometric = (6 if jpeg else 2) if spp == 3 else (0 if white_is_zero else 1)
    def table_entry(tag: int, values: list, table_off: int) -> bytes:
        if len(values) == 1:
            return entry(tag, 4, 1, values[0])
        return struct.pack(f"{bo}HHI", tag, 4, len(values)) + struct.pack(
            f"{bo}I", table_off
        )

    entries = [
        entry(256, 4, 1, w),
        entry(257, 4, 1, h),
        (
            entry(258, 3, 1, 8)
            if spp == 1
            else struct.pack(f"{bo}HHI", 258, 3, 3) + struct.pack(f"{bo}I", bits_off)
        ),
        entry(259, 3, 1, compression),
        entry(262, 3, 1, photometric),
    ]
    if not tiles:
        entries.append(table_entry(273, offsets, so_off))
    entries.append(entry(277, 3, 1, spp))
    if not tiles:
        entries.append(entry(278, 4, 1, rows_per_strip))
        entries.append(table_entry(279, counts, sc_off))
    if predictor == 2:
        entries.append(entry(317, 3, 1, 2))
    if tiles:
        entries.append(entry(322, 4, 1, tw_))
        entries.append(entry(323, 4, 1, th_))
        entries.append(table_entry(324, offsets, so_off))
        entries.append(table_entry(325, counts, sc_off))
    if jpeg_tables:
        entries.append(
            struct.pack(f"{bo}HHI", 347, 7, len(jpeg_tables))
            + struct.pack(f"{bo}I", tables_off)
        )
    # IFD entries must be sorted by tag (TIFF 6.0 §2) — 317 > 279,
    # 322-325 > 317 and 347 > 325, so the append order is already sorted
    ifd = struct.pack(f"{bo}H", n_entries) + b"".join(entries) + struct.pack(f"{bo}I", 0)
    out = bytearray()
    out += (b"MM" if big_endian else b"II") + struct.pack(f"{bo}H", 42)
    out += struct.pack(f"{bo}I", 8)
    out += ifd
    if spp == 3:
        out += struct.pack(f"{bo}3H", 8, 8, 8)
    if n_strips > 1:
        out += b"".join(struct.pack(f"{bo}I", o) for o in offsets)
        out += b"".join(struct.pack(f"{bo}I", c) for c in counts)
    out += jpeg_tables
    for s in strips:
        out += s
    return bytes(out)


@_codec_guard("tiff")
def parse_tiff(payload: bytes, return_pixels: bool = False) -> dict:
    """Baseline TIFF decode: header/byte-order, first-IFD walk (SHORT/LONG
    entry types, inline vs offset values), strip reassembly with PackBits
    expansion, WhiteIsZero inversion, RGB or grayscale. Returns the common
    pixel-statistics record."""
    if payload[:2] == b"II":
        bo = "<"
    elif payload[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    (magic,) = struct.unpack_from(f"{bo}H", payload, 2)
    if magic != 42:
        raise ValueError(f"not a TIFF: magic {magic} != 42")
    (ifd_off,) = struct.unpack_from(f"{bo}I", payload, 4)
    (n_entries,) = struct.unpack_from(f"{bo}H", payload, ifd_off)
    tags: dict[str, list[int]] = {}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(f"{bo}HHI", payload, base)
        name = _TIFF_TAGS.get(tag)
        if name is None:
            continue  # unknown tags are skippable per spec
        if typ == 3:  # SHORT
            if count <= 2:
                vals = list(struct.unpack_from(f"{bo}{count}H", payload, base + 8))
            else:
                (off,) = struct.unpack_from(f"{bo}I", payload, base + 8)
                vals = list(struct.unpack_from(f"{bo}{count}H", payload, off))
        elif typ == 4:  # LONG
            if count == 1:
                vals = list(struct.unpack_from(f"{bo}I", payload, base + 8))
            else:
                (off,) = struct.unpack_from(f"{bo}I", payload, base + 8)
                vals = list(struct.unpack_from(f"{bo}{count}I", payload, off))
        elif typ in (1, 7):  # BYTE / UNDEFINED: raw bytes (e.g. JPEGTables)
            if count <= 4:
                vals = payload[base + 8 : base + 8 + count]
            else:
                (off,) = struct.unpack_from(f"{bo}I", payload, base + 8)
                vals = payload[off : off + count]
                if len(vals) != count:
                    raise ValueError(f"truncated byte values for TIFF tag {tag}")
        else:
            raise ValueError(f"unsupported TIFF entry type {typ} for tag {tag}")
        tags[name] = vals
    tiled = "tile_offsets" in tags
    required = ("width", "height") + (
        ("tile_width", "tile_length", "tile_counts")
        if tiled
        else ("strip_offsets", "strip_counts")
    )
    for req in required:
        if req not in tags:
            raise ValueError(f"TIFF missing required tag: {req}")
    w, h = tags["width"][0], tags["height"][0]
    _check_dims(w, h, "tiff")
    spp = tags.get("spp", [1])[0]
    bits = tags.get("bits", [8])
    if any(b != 8 for b in bits):
        raise NotImplementedError(f"only 8-bit TIFF samples supported (got {bits})")
    comp = tags.get("compression", [1])[0]
    if comp not in (1, 5, 7, 8, 32773):
        raise NotImplementedError(
            f"TIFF compression {comp} unsupported (none/LZW/JPEG/Deflate/PackBits)"
        )
    predictor = tags.get("predictor", [1])[0]
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor} unsupported")
    photometric = tags.get("photometric", [1])[0]
    rps = tags.get("rows_per_strip", [h])[0]

    if tiled:
        tw_, th_ = tags["tile_width"][0], tags["tile_length"][0]
        if tw_ <= 0 or th_ <= 0:
            raise ValueError(f"bad TIFF tile geometry {tw_}x{th_}")
        nx, ny = -(-w // tw_), -(-h // th_)
        blocks = list(zip(tags["tile_offsets"], tags["tile_counts"]))
        if len(blocks) != nx * ny:
            raise ValueError(
                f"TIFF tile table has {len(blocks)} entries, grid needs {nx * ny}"
            )
    else:
        blocks = list(zip(tags["strip_offsets"], tags["strip_counts"]))

    def block_bytes(off, cnt):
        b = payload[off : off + cnt]
        if len(b) != cnt:
            raise ValueError("truncated TIFF strip/tile")
        return b

    if comp == 7:
        # new-style JPEG (TIFF Tech Note 2): each strip/tile is a JPEG
        # stream, abbreviated against the shared JPEGTables tag when
        # present; the per-block SOF carries the block's own dimensions
        tables = bytes(tags.get("jpeg_tables", b""))

        def jpeg_block(off, cnt):
            stream = block_bytes(off, cnt)
            if tables:
                stream = _join_jpeg_tables(tables, stream)
            spx = decode_jpeg(stream)["pixels"]
            if spx.ndim == 2:
                spx = spx.reshape(spx.shape[0], spx.shape[1], 1)
            if spx.shape[2] != spp:
                raise ValueError(
                    f"JPEG block spp {spx.shape[2]} disagrees with TIFF tag {spp}"
                )
            return spx

        if tiled:
            canvas = np.zeros((ny * th_, nx * tw_, spp), dtype=np.uint8)
            for t, (off, cnt) in enumerate(blocks):
                spx = jpeg_block(off, cnt)
                if spx.shape[0] < th_ or spx.shape[1] < tw_:
                    raise ValueError("JPEG tile smaller than the tile grid")
                yy, xx = divmod(t, nx)
                canvas[yy * th_ : (yy + 1) * th_, xx * tw_ : (xx + 1) * tw_] = (
                    spx[:th_, :tw_]
                )
            px = canvas[:h, :w]
        else:
            parts = []
            for off, cnt in blocks:
                spx = jpeg_block(off, cnt)
                if spx.shape[1] != w:
                    raise ValueError(
                        f"JPEG strip width {spx.shape[1]} disagrees with TIFF tag {w}"
                    )
                parts.append(spx)
            px = np.concatenate(parts, axis=0)
            if px.shape[0] < h:
                raise ValueError("TIFF JPEG strips do not cover the image")
            px = px[:h]  # strips may be MCU-padded past the image height
        if spp == 1:
            px = px.reshape(h, w)
    else:
        def raw_block(off, cnt, expected):
            b = block_bytes(off, cnt)
            if comp == 32773:
                return _packbits_decode(b, expected)
            if comp == 5:
                return _lzw_decode(b, 8, expected, _TIFF_LZW)
            if comp == 8:  # Adobe Deflate: one zlib stream per strip/tile
                return zlib.decompress(b)
            return b

        if tiled:
            canvas = np.zeros((ny * th_, nx * tw_ * spp), dtype=np.uint8)
            expected = th_ * tw_ * spp
            for t, (off, cnt) in enumerate(blocks):
                raw_t = raw_block(off, cnt, expected)
                if len(raw_t) != expected:
                    raise ValueError("TIFF tile data does not fill the tile")
                tile = np.frombuffer(bytes(raw_t), dtype=np.uint8).reshape(
                    th_, tw_ * spp
                )
                if predictor == 2:
                    tile = _predict_undiff(tile, spp)
                yy, xx = divmod(t, nx)
                canvas[yy * th_ : (yy + 1) * th_,
                       xx * tw_ * spp : (xx + 1) * tw_ * spp] = tile
            full = canvas.reshape(ny * th_, nx * tw_, spp)[:h, :w]
            px = full.reshape(h, w) if spp == 1 else full
        else:
            raw = bytearray()
            for i, (off, cnt) in enumerate(blocks):
                rows = min(rps, h - i * rps)
                raw += raw_block(off, cnt, rows * w * spp)
            if len(raw) != h * w * spp:
                raise ValueError("TIFF strip data does not cover the image")
            px = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(
                (h, w) if spp == 1 else (h, w, spp)
            )
            if predictor == 2:
                px = _predict_undiff(px.reshape(h, w * spp), spp).reshape(px.shape)
        if photometric == 0:  # WhiteIsZero
            if spp != 1:
                raise ValueError("WhiteIsZero with multi-sample pixels")
            px = 255 - px
    flat = px.astype(np.int64).reshape(-1)
    rec = {
        "width": int(w),
        "height": int(h),
        "bit_depth": 8,
        # PNG color-type numbering, like the rest of the image family:
        # gray=0, RGB=2, gray+alpha=4, RGBA=6 (real RGBA TIFFs exist —
        # CPython's python.tiff is photometric-2 spp-4 with ExtraSamples)
        "color_type": {1: 0, 2: 4, 3: 2, 4: 6}.get(spp, 0),
        "n_px": int(flat.size),
        "px_sum": int(flat.sum()),
        "px_min": int(flat.min()) if flat.size else 0,
        "px_max": int(flat.max()) if flat.size else 0,
    }
    if return_pixels:
        rec["pixels"] = px
    return rec

"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design (BASELINE.json extension surface): image/audio/video payloads live in a
`binary` column with a metadata struct alongside; decode / feature-extract /
resize / frame-sample run as Arrow-batched pandas functions over
`mapInPandas`, so each executor processes whole record batches without JVM
round-trips — the right shape for CPU-bound media work at 100 TB (partition
count = media files / target batch size; no shuffle).

For image payloads the kernels are REAL: functions/media_codec.py fully
decodes PNG (zlib inflate, CRC-verified chunk walk, all five filter-type
reconstructions), BMP, GIF, and baseline and progressive JPEG
(stream-declared Huffman/quant tables, restart handling, IDCT, chroma
upsample, YCbCr->RGB) — so `decode_image_meta` returns true dimensions,
`extract_features` computes real pixel-grid intensity features, and
`resize_payload` does a genuine decode -> nearest-neighbor resample ->
lossless PNG re-encode. The `fake=True` kernels remain ONLY for payloads in
formats that need external codec libraries (ffmpeg video, lossless or
arithmetic-coded JPEG, model-based embeddings): deterministic stand-ins
that keep the distributed plumbing (schema, batching, UDF signatures)
testable; without fake such payloads raise honestly.

Every payload kernel runs on media_codec's one per-payload runner,
``_quarantine_map``: the decode/feature/resize kernels in raise mode, and
the kernels with an ``errors`` raise/null/skip policy (GIF and AVI frame
sampling, audio features and fingerprints, image pHashes, video
fingerprints) in the mode the caller picks, as does
media_codec.decode_image.

The near-duplicate kernels — image ``phash_dup_pairs`` / ``phash_index`` +
``phash_incremental_pairs``, video ``video_dup_pairs`` / ``video_fp_index`` +
``video_incremental_pairs``, and audio ``audio_dup_pairs`` — share their
steps: ``_phash_band_rows`` (64-bit pHash bit bands), dedup's
``_band_collisions`` (band self-join or incremental probe), ``_hamming_hits``
(full-hash Hamming verify) and ``_offset_vote`` (per time-shift vote).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ape_dts_spark.functions import media_codec as mc
from ape_dts_spark.functions.dedup import _band_collisions

BINARY_META_SCHEMA = (
    "id long, n_bytes int, magic string, sha_prefix string"
)

DECODED_SCHEMA = "id long, width int, height int, n_channels int, ok boolean"


def with_binary_payload(df: DataFrame, src_col: str, id_col: str, out: str = "payload") -> DataFrame:
    """Materialize an opaque binary column (here: utf-8 bytes of a string
    column — in production this is the raw image/audio bytes from
    `spark.read.format('binaryFile')` or a parquet BYTE_ARRAY column)."""
    return df.select(F.col(id_col).alias("id"), F.encode(F.col(src_col), "UTF-8").alias(out))


def binary_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Typed metadata over the opaque payload — pure JVM expressions:
    byte length, magic prefix (first 4 bytes hex), content hash prefix."""
    return df.select(
        "id",
        F.octet_length(F.col(payload_col)).alias("n_bytes"),
        F.substring(F.upper(F.hex(F.col(payload_col))), 1, 8).alias("magic"),
        F.substring(F.lower(F.sha2(F.col(payload_col), 256)), 1, 16).alias("sha_prefix"),
    )


def _sniff_image(payload: bytes) -> bool:
    import struct

    if payload[:8] == mc.PNG_SIGNATURE or payload[:2] == b"\xff\xd8":
        return True  # 0x89 / 0xFF lead bytes can never open valid UTF-8
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return True  # 6-byte versioned magic: unambiguous enough
    if payload[:2] == b"BM" and len(payload) >= 54:
        # "BM" is printable ASCII, so a text payload can start with it —
        # corroborate with the header's file-size field before dispatching
        return struct.unpack_from("<I", payload, 2)[0] == len(payload)
    return False


def _first_frame(b: bytes, fake: bool) -> tuple[np.ndarray, int] | None:
    """The pixels of a sniffed PNG/BMP/GIF/JPEG payload (a GIF's first
    frame, color-table expanded to RGB) and the full-scale sample value;
    None when the payload is not a sniffed image or, with ``fake``, fails
    to decode (a mixed corpus falls through to the stand-in, not crash
    the job)."""
    if not _sniff_image(b):
        return None
    try:
        if b[:8] == mc.PNG_SIGNATURE:
            rec = mc.parse_png(b, return_pixels=True)
            # palette images expand to 8-bit RGB
            return rec["pixels"], 255 if rec["color_type"] == 3 else (1 << rec["bit_depth"]) - 1
        if b[:2] == b"BM":
            return mc.parse_bmp(b, return_pixels=True)["pixels"], 255
        if b[:6] in (b"GIF87a", b"GIF89a"):
            return mc.parse_gif(b, return_frames=True)["frames_rgb"][0], 255
        return mc.decode_jpeg(b)["pixels"], 255
    except (NotImplementedError, ValueError):
        if not fake:
            raise
        return None


def decode_image_meta(df: DataFrame, payload_col: str = "payload", fake: bool = False) -> DataFrame:
    """Decode each payload to (width, height, channels) via mapInPandas.

    PNG/BMP/GIF payloads get a REAL pixel decode (media_codec full
    parsers); JPEG payloads get REAL header metadata via the marker walk,
    which reads every frame header decode_jpeg decodes (SOF0/SOF1/SOF2)
    without paying for a pixel decode. Other payloads need external
    codecs: with fake=True a deterministic stand-in derives dimensions
    from the byte content so tests can exercise the distributed plumbing
    (and sniffed-but-corrupt payloads fall through to it instead of
    crashing the job); without it they raise honestly.
    """

    def _decode(b: bytes) -> list[tuple]:
        dims = None
        try:
            if b[:2] == b"\xff\xd8":
                jrec = mc.parse_jpeg_meta(b)
                dims = (jrec["width"], jrec["height"], jrec["n_components"])
            elif _sniff_image(b):
                rec = mc.parse_image(b)
                # PNG color-type numbering (parse_image maps GIF to
                # 3 = palette-expanded RGB, BMP to 2)
                c = {0: 1, 2: 3, 3: 3, 4: 2, 6: 4}.get(rec["color_type"], 1)
                dims = (rec["width"], rec["height"], c)
        except (NotImplementedError, ValueError):
            # sniffed-but-undecodable (corrupt stream): with fake=True a
            # mixed corpus must fall through to the stand-in, not crash
            if not fake:
                raise
        if dims is None:
            if not fake:
                raise NotImplementedError(
                    "payload is not a PNG/BMP/GIF/JPEG; other formats "
                    "need external codecs — pass fake=True for the "
                    "deterministic test kernel"
                )
            n = len(b)
            dims = (n % 640 + 16, n % 480 + 16, (n % 2) * 2 + 1)
        return [(*dims, True)]

    return mc._quarantine_map(df, payload_col, "id", _decode, DECODED_SCHEMA, "raise")


FEATURES_SCHEMA = "id long, features array<double>"
RESIZED_SCHEMA = "id long, n_bytes int, resized binary, ok boolean"


def extract_features(
    df: DataFrame, payload_col: str = "payload", dim: int = 8, fake: bool = False
) -> DataFrame:
    """Feature extraction: payload bytes -> fixed-dim embedding via
    mapInPandas.

    For PNG/BMP/GIF/JPEG payloads the features are REAL: the image is
    fully pixel-decoded (media_codec) and feature_i = band_sum_i /
    (band_count_i * 255) over ``dim`` horizontal pixel bands (band of row r
    = r*dim//h; color images sum all channels) — the classic intensity-
    profile descriptor, and integer sums + one exact double divide, so the
    pipeline keeps a bit-exact cross-engine oracle. Other payloads (the
    CLIP/wav2vec slot — model runtimes absent here) use the deterministic
    byte-arithmetic kernel with fake=True, else raise honestly. Output
    embeds straight into the similarity operators (cosine_topk/ann_*),
    wiring the multimodal path into the ANN stack."""

    def _extract(b: bytes) -> list[tuple]:
        img = _first_frame(b, fake)
        if img is not None:
            px, smax = img
            px = px.astype(np.int64)
            if px.ndim == 3:
                scale = px.shape[2] * smax  # all channels, incl. alpha
                px = px.sum(axis=2)
            else:
                scale = smax
            h = px.shape[0]
            band = np.arange(h) * dim // h
            sums = np.zeros(dim, dtype=np.int64)
            cnts = np.zeros(dim, dtype=np.int64)
            np.add.at(sums, band, px.sum(axis=1))
            np.add.at(cnts, band, px.shape[1])
            return [([float(s) / (int(c) * scale) if c else 0.0 for s, c in zip(sums, cnts)],)]
        if not fake:
            raise NotImplementedError(
                "payload is not a decodable image; model-based feature "
                "extraction (CLIP/wav2vec) is not present in this "
                "container — pass fake=True for the test kernel"
            )
        sums = [0] * dim
        for pos, byte in enumerate(b):
            sums[pos % dim] += byte
        return [([(s % 1000) / 1000.0 for s in sums],)]

    return mc._quarantine_map(df, payload_col, "id", _extract, FEATURES_SCHEMA, "raise")


def resize_payload(
    df: DataFrame, payload_col: str = "payload", target_bytes: int = 256,
    fake: bool = False, target_px: int = 16,
) -> DataFrame:
    """Resize: payload -> bounded-size payload via mapInPandas.

    PNG/BMP/GIF/JPEG payloads get a REAL resize: full pixel decode
    (media_codec), deterministic nearest-neighbor resample so the longest
    side becomes min(longest, target_px) (source index = floor(i*src/dst) —
    integer-exact, no interpolation rounding ambiguity), then a lossless
    PNG re-encode, so the output is decodable and the resample has an
    exact oracle. Non-image payloads: the fake kernel truncates to
    ``target_bytes`` (deterministic plumbing stand-in), else raise."""

    def _resize(b: bytes) -> list[tuple]:
        img = _first_frame(b, fake)
        if img is not None:
            px = np.asarray(img[0], dtype=np.int64)
            if int(px.max(initial=0)) > 255:  # 16-bit source -> 8-bit
                px = px >> 8
            h, w = px.shape[:2]
            longest = max(h, w)
            if longest > target_px:
                nh = max(1, h * target_px // longest)
                nw = max(1, w * target_px // longest)
                yi = np.arange(nh) * h // nh
                xi = np.arange(nw) * w // nw
                px = px[yi][:, xi]
            out = mc.encode_png(np.ascontiguousarray(px))
        elif fake:
            out = b[:target_bytes]
        else:
            raise NotImplementedError(
                "payload is not a decodable image; non-image resize "
                "needs external codecs — pass fake=True for the "
                "deterministic test kernel"
            )
        return [(len(out), out, True)]

    return mc._quarantine_map(df, payload_col, "id", _resize, RESIZED_SCHEMA, "raise")


def sample_gif_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "id",
    every_n: int = 1,
    errors: str = "raise",
) -> DataFrame:
    """REAL video-style frame sampling over animated GIFs: decode each
    payload's animation (media_codec.parse_gif — from-scratch LZW) and emit
    one row per sampled frame (every ``every_n``-th, always including frame
    0) with exact per-frame index statistics. This replaces the byte-stride
    stand-in (:func:`sample_frames`) for the one video-like container that
    is honestly decodable here; ffmpeg-class codecs stay out of scope.
    One Arrow-batched mapInPandas pass, no shuffle (partition = files);
    per-frame rows explode inside the kernel so no driver data motion.

    ``errors`` (r13) is the corrupt-payload policy, same contract as
    media_codec.decode_image: ``"raise"`` fails the job, ``"skip"`` drops
    the bad payload, ``"null"`` keeps one dead-letter row per bad payload
    (null frame fields, message in an extra ``error`` column)."""
    _check_every_n(every_n)

    def _frames(payload: bytes) -> list[tuple]:
        frames = mc.parse_gif(payload, return_frames=True)["frames"]
        return [
            (i, len(frames), frames[i].shape[0], frames[i].shape[1], int(frames[i].astype(np.int64).sum()))
            for i in range(0, len(frames), every_n)
        ]

    return mc._quarantine_map(
        df, payload_col, id_col, _frames,
        "id long, frame_idx int, n_frames int, height int, width int, idx_sum long",
        errors,
    )


def _check_every_n(every_n: int) -> None:
    """Raise unless ``every_n`` is a frame stride: below 1, ``range`` yields
    no frame (negative) or raises inside every payload's decode (0), where
    ``errors=null/skip`` would turn an argument error into dead letters."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")


VIDEO_FRAMES_SCHEMA = (
    "id long, frame_idx int, n_frames int, codec string, width int, "
    "height int, n_px long, px_sum long, px_min int, px_max int"
)


def sample_video_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "id",
    every_n: int = 1,
    errors: str = "raise",
) -> DataFrame:
    """REAL video frame sampling over AVI containers: parse each payload's
    RIFF structure (media_codec.parse_avi — from-scratch, idx1
    cross-checked), decode every frame by its in-container codec (raw DIB
    byte-exact, or MJPG through the full baseline JFIF decoder) and emit one
    row per sampled frame (every ``every_n``-th, always including frame 0)
    with exact per-frame pixel statistics. One Arrow-batched mapInPandas
    pass, no shuffle (partition = payload files); per-frame rows explode
    inside the kernel, so frame fan-out costs no driver or shuffle data
    motion — the 100 TB shape of frame extraction. Parity: the reference
    ships video as opaque bytes; BASELINE.json names frame sampling as the
    extension surface. ``errors`` (r13): raise/skip/null corrupt-payload
    policy, same contract as decode_image (null = one dead-letter row per
    bad payload with the message in an ``error`` column)."""
    _check_every_n(every_n)

    def _frames(payload: bytes) -> list[tuple]:
        rec = mc.parse_avi(payload, return_frames=True)
        frames = rec["frames"]
        rows = []
        for i in range(0, len(frames), every_n):
            px = frames[i].astype(np.int64)
            rows.append(
                (i, len(frames), rec["codec"], rec["width"], rec["height"],
                 int(px.size), int(px.sum()), int(px.min()), int(px.max()))
            )
        return rows

    return mc._quarantine_map(df, payload_col, id_col, _frames, VIDEO_FRAMES_SCHEMA, errors)


AUDIO_FEATURES_SCHEMA = (
    "id long, sample_rate int, n_channels int, bits_per_sample int, "
    "n_samples long, n_fft int, n_frames long, peak_bin int, peak_hz double, "
    "centroid_bin double, bandwidth_bin double, narrowband boolean, "
    "parseval_ok boolean"
)


def extract_audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "id",
    n_fft: int = 256,
    errors: str = "raise",
) -> DataFrame:
    """REAL audio feature extraction: decode each payload — a WAV file
    (media_codec.wav_samples — from-scratch RIFF/PCM/IMA-ADPCM) or the
    PCM16 audio track of an AVI container (RIFF form sniffed) — and run a
    framed numpy real-FFT spectral analysis (media_codec.audio_spectrum):
    peak bin/frequency, spectral centroid, bandwidth, a narrowband flag, and
    a per-frame Parseval energy-conservation proof. One Arrow-batched
    mapInPandas pass, no shuffle (partition = payload files); the FFT is
    vectorized across frames inside the kernel. This is the audio analog of
    :func:`extract_features` — the reference treats audio as an opaque blob
    (ape-dts moves bytes; BASELINE.json names audio features as the
    extension surface). ``errors`` (r13): raise/skip/null corrupt-payload
    policy, same contract as decode_image (null = dead-letter row with null
    features and the message in an ``error`` column)."""
    features = mc._record_rows(lambda payload: mc.audio_spectrum(payload, n_fft=n_fft), AUDIO_FEATURES_SCHEMA)
    return mc._quarantine_map(df, payload_col, id_col, features, AUDIO_FEATURES_SCHEMA, errors)


def audio_fingerprints(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "id",
    n_fft: int = 256,
    deltas: tuple[int, ...] = (1, 2),
    errors: str = "raise",
) -> DataFrame:
    """Constellation audio fingerprints (Wang 2003, the Shazam scheme —
    the audio analog of MinHash shingles): each clip's per-frame dominant-
    bin sequence (media_codec.audio_peak_sequence) emits one hash per
    anchor frame and gap, ``fp = ((b[t]*B + b[t+d])*B + b[t+2*d]) * D + di``
    over the B = n_fft/2+1 bin alphabet — a bin TRIPLE per hash, so the
    fingerprint space (~4.3M at the default) keeps self-join fan-out at
    ~1 even on 100k-clip corpora. Returns (id, t, fp) — the relation
    :func:`audio_dup_pairs` matches on. One Arrow pass, no shuffle.
    ``errors``: the standard raise/skip/null corrupt-payload policy (null
    keeps one dead-letter row with a NULL fp and the message)."""
    n_bins = n_fft // 2 + 1

    def _fp(payload: bytes) -> list[tuple]:
        seq = mc.audio_peak_sequence(payload, n_fft)
        at = dict(seq)
        rows = []
        for t, b1 in seq:
            for di, d in enumerate(deltas):
                b2 = at.get(t + d)
                b3 = at.get(t + 2 * d)
                if b2 is None or b3 is None:
                    continue
                rows.append((t, ((b1 * n_bins + b2) * n_bins + b3) * len(deltas) + di))
        return rows

    return mc._quarantine_map(df, payload_col, id_col, _fp, "id long, t int, fp long", errors)


def audio_dup_pairs(fps: DataFrame, min_matches: int = 10) -> DataFrame:
    """Audio near-duplicate pairs from a fingerprint relation: equi-join on
    the hash (bucketed — NEVER all-pairs; a pair is only considered where
    it shares a concrete hash), then OFFSET-CONSISTENT vote counting —
    group by (id_a, id_b, t_a - t_b) so only matches agreeing on one time
    shift accumulate, the property that separates a true duplicate (all
    matches at dt = shift difference) from incidental hash collisions
    (scattered dt). Scale shape: one shuffle on fp + one hash agg; the
    triple-hash space keeps per-fp multiplicity ~1 outside real duplicate
    clusters, so the join output is linear in corpus size plus the true
    duplicate mass. Returns (id_a, id_b, dt, n_matches) with id_a < id_b
    and n_matches >= min_matches."""
    return _offset_vote(_band_collisions(fps, ["fp"], "id", ("t",)), min_matches)


def _offset_vote(matches: DataFrame, min_matches: int) -> DataFrame:
    """Offset-consistent vote over time-stamped matches (id_a, id_b, t_a,
    t_b): group by (id_a, id_b, dt = t_a - t_b) so only matches agreeing on
    ONE time shift accumulate; keep groups with >= min_matches. Returns
    (id_a, id_b, dt, n_matches)."""
    return (
        matches.groupBy("id_a", "id_b", (F.col("t_a") - F.col("t_b")).alias("dt"))
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .filter(F.col("n_matches") >= min_matches)
    )


def image_phashes(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "id",
    errors: str = "raise",
) -> DataFrame:
    """Per-image 64-bit DCT perceptual hashes (media_codec.phash64) over a
    mixed-format binary column — magic-sniffed decode (PNG/BMP/JPEG/TIFF/
    netpbm) + grayscale + 32x32 block-mean + DCT in ONE Arrow pass, no
    shuffle before decode (the media-pipeline plan shape). Returns
    (id, phash long). ``errors``: the standard raise/null/skip per-row
    quarantine policy."""

    def _hash(payload: bytes) -> list[tuple]:
        return [(mc.phash64(mc.parse_image_pixels(payload)),)]

    return mc._quarantine_map(df, payload_col, id_col, _hash, "id long, phash long", errors)


def phash_dup_pairs(
    hashes: DataFrame, max_hamming: int = 3, n_bands: int = 4
) -> DataFrame:
    """Image near-duplicate pairs from a phash relation: split each 64-bit
    hash into ``n_bands`` equal bit-bands, equi-join per band (BUCKETED —
    never all-pairs: a pair is only a candidate where some band matches
    exactly), then verify on TRUE Hamming distance over the full hash.
    By pigeonhole the banding is recall-exact for hamming < n_bands (the
    default 3 < 4); larger thresholds trade recall like any LSH banding —
    raise n_bands to restore the guarantee. Scale shape: one shuffle on the
    band key + one pair-dedup agg; organic 16-bit band collisions are
    ~n_bands * 2^-16 per pair, so the join output stays linear in corpus
    size plus the true duplicate mass (the same argument as minhash_lsh's
    band join). Returns (id_a, id_b, hamming) with id_a < id_b."""
    return _near_phash_pairs(_phash_band_rows(hashes, n_bands), n_bands, max_hamming)


def _hamming_hits(
    bands: DataFrame,
    n_bands: int,
    max_hamming: int,
    carry: tuple[str, ...] = (),
    index: DataFrame | None = None,
) -> DataFrame:
    """Band collisions of a pHash band relation (``index``: the incremental
    probe), verified on TRUE Hamming distance over the full 64-bit hash:
    (id_a, id_b, carry_a/_b..., phash_a, phash_b, hamming <= max_hamming),
    one row per matching band."""
    hits = _band_collisions(bands, ["band", f"bh{64 // n_bands}"], "id", (*carry, "phash"), index)
    return hits.withColumn(
        "hamming", F.bit_count(F.col("phash_a").bitwiseXOR(F.col("phash_b")))
    ).filter(F.col("hamming") <= max_hamming)


def _near_phash_pairs(
    bands: DataFrame, n_bands: int, max_hamming: int, index: DataFrame | None = None
) -> DataFrame:
    """Image pairs (id_a, id_b, hamming) from the verified band hits, one
    row per pair however many bands matched."""
    return (
        _hamming_hits(bands, n_bands, max_hamming, index=index)
        .groupBy("id_a", "id_b")  # dedup pairs matching in several bands
        .agg(F.first("hamming").alias("hamming"))
    )


def _near_frame_votes(
    bands: DataFrame, n_bands: int, max_hamming: int, min_matches: int, index: DataFrame | None = None
) -> DataFrame:
    """Video pairs (id_a, id_b, dt, n_matches): the verified frame band
    hits, one per frame pair however many bands matched, voted per time
    shift."""
    frames = _hamming_hits(bands, n_bands, max_hamming, ("t",), index)
    return _offset_vote(frames.select("id_a", "id_b", "t_a", "t_b").distinct(), min_matches)


def _check_index_width(index: DataFrame, n_bands: int, kind: str) -> None:
    """Raise unless a stored band index was built at ``n_bands``: the band
    bit width is part of the index format (its ``bh{width}`` column)."""
    width = 64 // n_bands
    if f"bh{width}" not in index.columns:
        raise ValueError(
            f"stored {kind} index has columns {index.columns} but n_bands={n_bands} "
            f"needs bh{width} — band width is part of the index format"
        )


def _phash_band_rows(
    hashes: DataFrame, n_bands: int, carry: tuple[str, ...] = ("id",)
) -> DataFrame:
    """(carry..., phash) -> the exploded band relation (carry..., phash,
    band, bh{w}): one row per (row, band), bh = that band's bits. The
    band-hash column name carries the bit WIDTH (bh16 for 4 bands) so a
    persisted index is self-describing — incremental queries validate
    schema-only, no scan. ``carry`` adds passthrough key columns (the video
    index carries the frame index t)."""
    if not 64 % n_bands == 0:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    width = 64 // n_bands
    mask = (1 << width) - 1
    return hashes.select(
        *carry,
        "phash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("phash"), b * width).bitwiseAND(F.lit(mask))
                    for b in range(n_bands)
                ]
            )
        ).alias("band", f"bh{width}"),
    )


def phash_index(hashes: DataFrame, n_bands: int = 4) -> DataFrame:
    """Persistent pHash band index for INCREMENTAL image dedup — the
    production shape for daily crawl increments (the image analogue of
    dedup.minhash_index): hash the corpus ONCE, land this relation to
    storage (parquet, bucketed by the band hash if desired), then each new
    batch pays only its own decode+hash and a band equi-join against the
    index instead of re-deduping the world.

    Returns the persisted band relation ``(id, phash, band, bh{width})``.
    ``n_bands`` is a BUILD parameter and part of the stored FORMAT (the
    bh column name carries the band bit-width); incremental queries
    validate it and raise on mismatch rather than silently mis-bucketing."""
    from pyspark import StorageLevel

    idx = _phash_band_rows(hashes, n_bands).persist(StorageLevel.MEMORY_AND_DISK)
    idx.count()
    return idx


def phash_incremental_pairs(
    index: DataFrame,
    new_hashes: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Incremental image near-dup pairs: every (id_a, id_b, hamming) with
    hamming <= max_hamming where AT LEAST ONE side is a new-batch image —
    old-vs-old pairs are previous runs' output and are never recomputed.
    Exactly phash_dup_pairs over the concatenated corpus filtered to pairs
    touching the batch: same banding, same full-hash Hamming verify, so
    recall stays exact for hamming < n_bands by the same pigeonhole.

    Plan shape: only the NEW batch is banded; candidates come from new
    bands equi-joined against (index UNION new bands) on (band, bh) — cost
    scales with |new batch| + collision volume, never with corpus size.
    One shuffle on the band key + one pair-dedup agg."""
    _check_index_width(index, n_bands, "phash")
    return _near_phash_pairs(_phash_band_rows(new_hashes, n_bands), n_bands, max_hamming, index)


def video_fingerprints(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "id",
    every_n: int = 1,
    errors: str = "raise",
) -> DataFrame:
    """Per-frame pHash fingerprints over AVI containers — the video
    near-dup front half, completing the multimodal dedup triad next to the
    audio constellation and image pHash: parse each payload's RIFF
    structure (media_codec.parse_avi), decode every ``every_n``-th frame by
    its in-container codec (raw DIB byte-exact, MJPG through the baseline
    JFIF decoder) and phash64 it — all in ONE Arrow pass, no shuffle before
    decode. Returns (id, t [frame index], phash). ``errors``: the standard
    raise/null/skip per-payload quarantine."""
    _check_every_n(every_n)

    def _fp(payload: bytes) -> list[tuple]:
        frames = mc.parse_avi(payload, return_frames=True)["frames"]
        return [(t, mc.phash64(frames[t])) for t in range(0, len(frames), every_n)]

    return mc._quarantine_map(df, payload_col, id_col, _fp, "id long, t long, phash long", errors)


def video_dup_pairs(
    fps: DataFrame,
    max_hamming: int = 3,
    min_matches: int = 10,
    n_bands: int = 4,
) -> DataFrame:
    """Video near-duplicate pairs from a frame-fingerprint relation: the
    image band join composed with the audio offset-vote — per-frame pHashes
    are band-bucketed (equi-join on a 16-bit band, NEVER all-pairs),
    verified on full-hash Hamming <= max_hamming, deduped per frame pair
    (several bands can match), then counted OFFSET-CONSISTENTLY: group by
    (id_a, id_b, t_a - t_b) so only frame matches agreeing on ONE time
    shift accumulate — a true shifted/trimmed duplicate matches all its
    overlapping frames at a single dt; incidental near-frames scatter.
    Scale shape: one shuffle on the band key + two hash aggs; organic
    16-bit band collisions are ~n_bands * 2^-16 per frame pair, so join
    output stays linear in total frame count plus true duplicate mass.
    Returns (id_a, id_b, dt, n_matches), id_a < id_b."""
    bands = _phash_band_rows(fps, n_bands, carry=("id", "t"))
    return _near_frame_votes(bands, n_bands, max_hamming, min_matches)


def video_fp_index(fps: DataFrame, n_bands: int = 4) -> DataFrame:
    """Persistent per-frame pHash band index for INCREMENTAL video dedup:
    the exploded band relation ``(id, t, phash, band, bh{width})``,
    persisted — the video twin of phash_index (images). Band width is
    part of the stored FORMAT (the bh column name), schema-validated by the
    incremental queries."""
    from pyspark import StorageLevel

    idx = _phash_band_rows(fps, n_bands, carry=("id", "t")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    idx.count()
    return idx


def video_incremental_pairs(
    index: DataFrame,
    new_fps: DataFrame,
    max_hamming: int = 3,
    min_matches: int = 10,
    n_bands: int = 4,
) -> DataFrame:
    """Incremental video near-dup pairs: video_dup_pairs over the
    concatenated corpus restricted to pairs touching the new batch — only
    the batch is banded; candidates come from new bands equi-joined against
    (index UNION batch); frame matches dedup per (pair, frame pair) and
    vote per time shift exactly as the full run (an old/new marker keeps
    each frame match counted once, so within-batch vote counts equal the
    full run's). Batch ids must be disjoint from indexed ids. Cost scales
    with |batch| frames + collision volume, never corpus size."""
    _check_index_width(index, n_bands, "video")
    new_bands = _phash_band_rows(new_fps, n_bands, carry=("id", "t"))
    return _near_frame_votes(new_bands, n_bands, max_hamming, min_matches, index)


def sample_frames(df: DataFrame, payload_col: str = "payload", every_n_bytes: int = 1024) -> DataFrame:
    """Frame-sampling plumbing: split each payload into fixed-size 'frames'
    (posexplode over byte ranges) — the distributed shape of video frame
    extraction (one row per sampled frame, order-preserving). For a REAL
    decodable animation container see :func:`sample_gif_frames`."""
    return df.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(octet_length({payload_col}) / {every_n_bytes} AS INT)), "
                f"i -> substring({payload_col}, i * {every_n_bytes} + 1, {every_n_bytes}))"
            )
        ).alias("frame_idx", "frame_bytes"),
    ).filter(F.octet_length("frame_bytes") > 0)

"""Multimodal columns (SURVEY.md §2.11): image/audio/video as opaque
``binary`` columns with typed metadata, plus decode / feature-extract /
resize / frame-sample operators over ``mapInPandas``.

Dimension/format decode is REAL: ``parse_image_header`` reads PNG IHDR,
JPEG SOF, GIF logical-screen, and BMP InfoHeader dimensions straight from
the container bytes (public format knowledge, no media library needed).
PIXEL decode is REAL for all four formats (round 6): ``png_luma_sum``
(stdlib zlib + all-five-filter unfiltering), ``jpeg_gray_luma_sum``
(baseline entropy decode; round 11 added the full AC profile via a
pinned integer IDCT), ``gif_luma_sum`` (full LZW
codec), and ``bmp_luma_sum`` (padded BGR rows) — so ``mean_luma`` is a
genuine pixel statistic everywhere the profile allows. Out-of-profile
variants (interlaced GIF, palettized BMP, progressive JPEG) return
None, never a fake; ``fake_luma=True`` remains only as an explicit
opt-in stand-in. Round 11 made the remaining stubs real:
``resize_image_features`` runs nearest + fixed-point bilinear numpy
resampling over the full PNG pixel decode (``png_decode_pixels``), and
``frame_sample_features`` does timestamp-driven frame sampling over
animated GIF89a with SELECTIVE decode (container walk + frame seek;
only sampled frames pay LZW) — no PIL/opencv needed. Round 15 adds the
real video CONTAINER path: ``video_sample_features`` walks MJPEG/AVI
(RIFF 'AVI ' + '00dc' chunks — make_avi_mjpeg/avi_mjpeg_index/
sample_avi_frames) and JPEG-decodes only the sampled frames. True
inter-frame codecs (H.264 …) still need a media library;
``frame_sample_plan`` remains the metadata-only fast path for those.

Scale notes: media blobs ride in parquet binary columns; mapInPandas streams
Arrow batches so one task never materializes more than
``spark.sql.execution.arrow.maxRecordsPerBatch`` blobs; feature outputs are
narrow (the blob is dropped as early as possible).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),  # png|jpeg|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

IMAGE_FEATURES = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)

# JPEG start-of-frame markers that carry dimensions: SOF0-SOF15 minus
# DHT (C4), JPG (C8), DAC (CC) — the baseline/progressive/lossless family
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def parse_image_header(blob: bytes) -> tuple[str | None, int | None, int | None]:
    """(format, width, height) parsed from the container header bytes —
    PNG IHDR, JPEG SOFn scan, GIF87a/89a logical screen, BMP InfoHeader.
    Unknown/truncated input → (None, None, None); never raises on garbage.
    Pure public format knowledge; no media library involved."""
    try:
        if blob[:8] == b"\x89PNG\r\n\x1a\n" and blob[12:16] == b"IHDR":
            w, h = struct.unpack(">II", blob[16:24])
            return "png", w, h
        if blob[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack("<HH", blob[6:10])
            return "gif", w, h
        if blob[:2] == b"BM" and len(blob) >= 26:
            # DIB header size at offset 14 picks the layout: 12-byte
            # BITMAPCOREHEADER carries uint16 dims at 18/20; the
            # BITMAPINFOHEADER family (40/52/56/108/124) carries int32
            # dims at 18/22. Anything else → unknown, not garbage dims.
            dib = struct.unpack("<I", blob[14:18])[0]
            if dib == 12:
                w, h = struct.unpack("<HH", blob[18:22])
                return "bmp", w, h
            if dib in (40, 52, 56, 64, 108, 124) and len(blob) >= 26:
                w, h = struct.unpack("<ii", blob[18:26])
                return "bmp", w, abs(h)  # negative height = top-down DIB
            return "bmp", None, None
        if blob[:2] == b"\xff\xd8":
            # walk the segment chain to the first SOF marker
            pos = 2
            while pos + 4 <= len(blob):
                if blob[pos] != 0xFF:
                    break
                marker = blob[pos + 1]
                if marker == 0xFF:  # fill byte
                    pos += 1
                    continue
                if marker == 0xD9:  # EOI: stop — trailing bytes are not
                    break  # segments (concatenated/MJPEG streams)
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    pos += 2  # standalone marker, no length field
                    continue
                seg_len = struct.unpack(">H", blob[pos + 2 : pos + 4])[0]
                if marker in _JPEG_SOF:
                    h, w = struct.unpack(">HH", blob[pos + 5 : pos + 9])
                    return "jpeg", w, h
                pos += 2 + seg_len
            return "jpeg", None, None  # valid SOI but no SOF found
    except (struct.error, IndexError):
        pass
    return None, None, None


def make_tiny_png(width: int, height: int) -> bytes:
    """Minimal 45-byte PNG container (signature + IHDR + IEND) with the
    given dimensions — a deterministic test/demo blob generator so media
    pipelines can be exercised end to end without shipping image files.
    CRCs are zeroed (header parsers don't verify them)."""
    ihdr = struct.pack(">II5B", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\x00\x00\x00\x00"
        + struct.pack(">I", 0) + b"IEND" + b"\x00\x00\x00\x00"
    )


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload))
    )


def _paeth(a: int, b: int, c: int) -> int:
    # PNG Paeth predictor (spec §9.4): pick the neighbor closest to
    # a + b - c, ties broken left, up, up-left
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def make_png_rgb(width: int, height: int, seed: int) -> bytes:
    """REAL spec-valid PNG (8-bit RGB, zlib IDAT, correct CRCs) with a
    deterministic pixel pattern:

        R(x,y) = (seed + x) % 256
        G(x,y) = (seed + y) % 256
        B(x,y) = (seed + x + y) % 256

    Scanline filters CYCLE through all five PNG filter types (y % 5:
    None/Sub/Up/Average/Paeth) so a decoder has to implement genuine
    unfiltering — constant filter-0 data would let a broken Sub/Up/
    Average/Paeth path pass. The closed-form pattern is what makes the
    decoded mean luma oracle-checkable: DuckDB can recompute it from
    (width, height, seed) with generate_series — see the
    ext_multimodal_luma oracle."""
    import zlib

    bpp = 3  # RGB8: filter predictors look back one whole pixel
    raw = bytearray()
    prev = bytes(width * bpp)  # row above the first row is all zero
    for y in range(height):
        line = bytearray()
        for x in range(width):
            line += bytes(
                (
                    (seed + x) % 256,
                    (seed + y) % 256,
                    (seed + x + y) % 256,
                )
            )
        ftype = y % 5
        raw.append(ftype)
        if ftype == 0:
            raw += line
        elif ftype == 1:  # Sub
            raw += bytes(
                (line[i] - (line[i - bpp] if i >= bpp else 0)) % 256
                for i in range(len(line))
            )
        elif ftype == 2:  # Up
            raw += bytes((line[i] - prev[i]) % 256 for i in range(len(line)))
        elif ftype == 3:  # Average
            raw += bytes(
                (line[i] - ((line[i - bpp] if i >= bpp else 0) + prev[i]) // 2) % 256
                for i in range(len(line))
            )
        else:  # Paeth
            raw += bytes(
                (
                    line[i]
                    - _paeth(
                        line[i - bpp] if i >= bpp else 0,
                        prev[i],
                        prev[i - bpp] if i >= bpp else 0,
                    )
                )
                % 256
                for i in range(len(line))
            )
        prev = bytes(line)
    ihdr = struct.pack(">II5B", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


# Rec.601 luma weights scaled to integers — mean_luma is defined over
# THESE exact integer per-pixel values so every engine (this decoder, the
# DuckDB closed-form oracle) sums identical integers; only the final
# division is floating-point
_LUMA_W = (299, 587, 114)


def _png_unfilter_small(raw: bytes, w: int, h: int, stride: int, channels: int):
    """Compact per-byte unfilter for TINY rows (stride < 80), where the
    numpy row form's per-row overhead loses (see png_decode_pixels).
    Identical spec semantics; both paths are swept by the roundtrip
    fuzz."""
    import numpy as np

    out = bytearray(h * stride)
    prev_off = None
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        src = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        off = y * stride
        if ftype == 0:
            out[off : off + stride] = src
        elif ftype == 1:  # Sub
            for i in range(stride):
                left = out[off + i - channels] if i >= channels else 0
                out[off + i] = (src[i] + left) % 256
        elif ftype == 2:  # Up
            for i in range(stride):
                up = out[prev_off + i] if prev_off is not None else 0
                out[off + i] = (src[i] + up) % 256
        elif ftype == 3:  # Average
            for i in range(stride):
                left = out[off + i - channels] if i >= channels else 0
                up = out[prev_off + i] if prev_off is not None else 0
                out[off + i] = (src[i] + (left + up) // 2) % 256
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = out[off + i - channels] if i >= channels else 0
                up = out[prev_off + i] if prev_off is not None else 0
                ul = out[prev_off + i - channels] if (
                    prev_off is not None and i >= channels
                ) else 0
                out[off + i] = (src[i] + _paeth(left, up, ul)) % 256
        else:
            return None
        prev_off = off
    return np.frombuffer(bytes(out), dtype=np.uint8).reshape(h, w, channels)


def png_decode_pixels(blob: bytes):
    """Full PNG pixel decode with the stdlib only (zlib inflate + spec
    unfiltering, all five filter types): returns a uint8 numpy array of
    shape (height, width, channels), or None for anything out of profile
    (palette, 16-bit, interlaced, truncated, bad zlib) — never an
    exception. Profile: non-interlaced 8-bit grayscale / RGB / RGBA
    (color types 0/2/6). This is the shared pixel source for
    png_luma_sum AND the resize kernels (resize_luma_sums) — one
    decoder, two consumers."""
    import zlib

    try:
        if blob[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        # walk chunks: IHDR first, concatenate IDAT payloads
        pos = 8
        ihdr = None
        idat = bytearray()
        while pos + 8 <= len(blob):
            (clen,) = struct.unpack(">I", blob[pos : pos + 4])
            tag = blob[pos + 4 : pos + 8]
            payload = blob[pos + 8 : pos + 8 + clen]
            if len(payload) != clen:
                return None  # truncated
            if tag == b"IHDR":
                ihdr = payload
            elif tag == b"IDAT":
                idat += payload
            elif tag == b"IEND":
                break
            pos += 12 + clen  # len + tag + payload + crc
        if ihdr is None or not idat:
            return None
        w, h, depth, ctype, comp, filt, interlace = struct.unpack(">II5B", ihdr)
        if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
            return None
        channels = {0: 1, 2: 3, 6: 4}.get(ctype)
        if channels is None or w == 0 or h == 0:
            return None
        raw = zlib.decompress(bytes(idat))
        stride = w * channels
        if len(raw) != h * (stride + 1):
            return None
        import numpy as np

        if stride < 80:
            # tiny rows: per-row numpy overhead costs more than it saves —
            # measured crossover sits at stride ~70-80 (small path 5045/s
            # vs numpy 3954/s at stride 66; 3788 vs 4266 at 81) — so keep
            # the compact byte loop below it
            return _png_unfilter_small(raw, w, h, stride, channels)
        # unfilter row by row (r11 hot-loop form — this was ~99% of the
        # decode at realistic sizes): None is a copy, Sub is a per-channel
        # cumsum, Up is one vector add — all numpy; Average/Paeth carry a
        # serial left-dependency along the row, so they stay Python loops
        # over plain-int lists with the Paeth predictor inlined (the
        # function call + abs() builtins were the top profile entries).
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
        ftypes = rows[:, 0]
        if int(ftypes.max()) > 4:
            return None
        out = np.empty((h, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.int64)
        for y in range(h):
            ftype = ftypes[y]
            src = rows[y, 1:]
            if ftype == 0:
                cur = src.astype(np.int64)
            elif ftype == 1:  # Sub: out[i] = src[i] + out[i-bpp]
                cur = (
                    src.reshape(w, channels).astype(np.int64).cumsum(axis=0) % 256
                ).reshape(stride)
            elif ftype == 2:  # Up
                cur = (src.astype(np.int64) + prev) % 256
            else:  # Average / Paeth: serial in the left neighbor
                s = src.tolist()
                p = prev.tolist()
                o = [0] * stride
                if ftype == 3:
                    for i in range(stride):
                        left = o[i - channels] if i >= channels else 0
                        o[i] = (s[i] + (left + p[i]) // 2) & 255
                else:
                    for i in range(stride):
                        left = o[i - channels] if i >= channels else 0
                        up = p[i]
                        ul = p[i - channels] if i >= channels else 0
                        pa = up - ul  # |p - left| with p = left + up - ul
                        pb = left - ul
                        pc = pa + pb
                        if pa < 0:
                            pa = -pa
                        if pb < 0:
                            pb = -pb
                        if pc < 0:
                            pc = -pc
                        if pa <= pb and pa <= pc:
                            pred = left
                        elif pb <= pc:
                            pred = up
                        else:
                            pred = ul
                        o[i] = (s[i] + pred) & 255
                cur = np.array(o, dtype=np.int64)
            out[y] = cur
            prev = cur
        return out.reshape(h, w, channels)
    except (struct.error, IndexError, zlib.error, ValueError):
        return None


def _luma_int_matrix(px):
    """(h, w, channels) uint8 → (h, w) int64 of the exact integer luma
    299·R + 587·G + 114·B (grayscale: ×1000; alpha ignored) — the value
    every oracle sums, never a rounded float."""
    import numpy as np

    wr, wg, wb = _LUMA_W
    p = px.astype(np.int64)
    if px.shape[2] == 1:
        return p[:, :, 0] * (wr + wg + wb)
    return p[:, :, 0] * wr + p[:, :, 1] * wg + p[:, :, 2] * wb


# dHash comparison grid: 9 sample columns (8 horizontal comparisons) x 7
# sample rows = 56 bits, deliberately BELOW the sign bit so the packed
# hash is the same signed BIGINT in numpy, Spark, and DuckDB (the
# hash60/simhash-md5 convention; a 64-bit dHash would put bit 63 into
# engine-specific shift-overflow territory).
DHASH_COLS, DHASH_ROWS = 9, 7


def dhash56(blob: bytes) -> int | None:
    """Perceptual difference hash over REAL decoded pixels — the
    image-near-dup primitive (identical and near-identical images
    collide; brightness shifts and small noise mostly cancel because
    only the SIGN of neighbor gradients is kept):

    1. full pixel decode — decode_pixels, the format-general dispatcher
       (r13: PNG / baseline JPEG gray + color + 4:2:0 / GIF / 24-bit
       BMP; r12 shipped
       PNG-only, which silently excluded the majority formats of a real
       corpus from image near-dup);
    2. integer gray per pixel: 299·R + 587·G + 114·B (1000·v for
       grayscale) — the pinned _LUMA_W integer contract, no division;
    3. floor nearest-neighbor sample onto the 9x7 grid
       (src = (t · dim) // grid, upscale allowed — every index is exact
       integer arithmetic, replayable in SQL);
    4. bit(y, x) = 1 iff gray[y][x+1] > gray[y][x], packed little-endian
       as Σ bit << (y·8 + x) — 56 bits, sign-safe in every engine.

    None for out-of-profile blobs (the decode_image_features NULL
    contract). Compose with exact_dedup on the hash for duplicate-image
    groups, or a pigeonhole block join (simhash_pairs' shape) for
    hamming-tolerant near-dup pairs."""
    import numpy as np

    px = decode_pixels(blob)
    if px is None:
        return None
    h, w, c = px.shape
    a = px.astype(np.int64)
    if c == 1:
        g = 1000 * a[:, :, 0]
    else:
        g = 299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]
    xs = (np.arange(DHASH_COLS, dtype=np.int64) * w) // DHASH_COLS
    ys = (np.arange(DHASH_ROWS, dtype=np.int64) * h) // DHASH_ROWS
    s = g[np.ix_(ys, xs)]  # (7, 9) sampled gray
    bits = (s[:, 1:] > s[:, :-1]).astype(np.int64)  # (7, 8)
    weights = np.int64(1) << (
        np.arange(DHASH_ROWS, dtype=np.int64)[:, None] * 8
        + np.arange(DHASH_COLS - 1, dtype=np.int64)[None, :]
    )
    return int((bits * weights).sum())


def dhash_pairs(
    hashed: "DataFrame",
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    max_hamming: int = 3,
) -> "DataFrame":
    """Image near-dup PAIRS from a (id, dhash56) frame: the FUSED
    pigeonhole block join (operators/dedup._pigeonhole_pairs_fused — the
    same emit-once plan SimHash text dedup ships, block count derived
    from max_hamming over the 56-bit hash) + bit_count hamming verify.
    blocks > max_hamming guarantees at least one equal block for every
    true pair, so detection is exact, never probabilistic — the block
    count is DERIVED (smallest divisor of 56 above max_hamming, e.g.
    4 × 14 bits for the default ≤ 3), not asserted, so a larger
    max_hamming widens the blocking instead of silently going
    probabilistic under ``python -O`` (ADVICE r12). NULL hashes
    (undecodable blobs) are excluded — they can never be near-dups.
    Output: (a_id, b_id, hamming)."""
    from pyspark.sql import functions as F

    from flink_cdc_multi_spark.operators.dedup import _pigeonhole_pairs_fused

    bits = DHASH_ROWS * (DHASH_COLS - 1)  # 56
    blocks = next(
        (b for b in (1, 2, 4, 7, 8, 14, 28, 56) if b > max_hamming), None
    )
    if blocks is None:
        raise ValueError(
            f"max_hamming={max_hamming} >= {bits} hash bits — every pair "
            "would match; use a smaller threshold"
        )
    width = bits // blocks
    sig = hashed.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("simhash")
    )
    cand = _pigeonhole_pairs_fused(sig, blocks, width)
    hamming = F.bit_count(F.expr("ha ^ hb")).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def png_luma_sum(blob: bytes) -> tuple[int, int] | None:
    """(Σ 299·R + 587·G + 114·B over pixels, n_pixels) as exact integers
    via the real pixel decode (png_decode_pixels) — mean luma =
    sum / (1000 · n). None for out-of-profile PNGs. Pixel decode became
    REAL in round 6; round 11 split the decoder out so the resize
    kernels share it."""
    px = png_decode_pixels(blob)
    if px is None:
        return None
    h, w = px.shape[0], px.shape[1]
    return int(_luma_int_matrix(px).sum()), w * h


# -- JPEG: real baseline entropy decode, DC-only profile --------------------
#
# A genuinely spec-conformant subset of ITU T.81 baseline JPEG: marker
# walk (DQT/SOF0/DHT/SOS), canonical Huffman table construction from the
# DHT payload, the stuffed-byte bit reader, DC prediction with the
# EXTEND sign convention, and AC run-length parsing. The PROFILE is
# restricted to what is exactly computable without a float IDCT: every
# block carries only its DC coefficient (AC = immediate EOB), so the
# decoded block is flat and the pixel value is the exact integer
# dc·q0/8 + 128. Any nonzero AC coefficient, multi-component scan, or
# non-8-multiple geometry returns None — out of profile, honestly
# reported rather than approximated. Full AC/IDCT decode still needs a
# media library; the ENTROPY layer (the part that was stubbed) is real.

# Standard luminance Huffman tables, ITU T.81 Annex K.3 (public spec).
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _huff_encode_table(bits, vals):
    """value → (code, length) under canonical JPEG code assignment."""
    out, code = {}, 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


# natural (row-major, F[v][u] at v*8+u) index of each zigzag position —
# the T.81 scan/DQT coefficient order
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Fixed-point IDCT basis (r11, lifts the DC-only restriction): B[u][x] =
# round(2^13 · c(u)/2 · cos((2x+1)uπ/16)), c(0)=1/√2 else 1. The decoder's
# AC-block pixel is DEFINED as
#   clamp(floor((Σ_u Σ_v Fq[v][u]·B[u][x]·B[v][y] + 2^25) / 2^26) + 128)
# — deterministic integer arithmetic, the same contract style as every
# fixed-point IDCT (libjpeg islow keeps scaled integer cosines too; T.81
# does not mandate a bit-exact IDCT, so the engine pins ONE and the
# DuckDB oracle recomputes it closed-form). Flat (AC-free) blocks keep
# the EXACT closed form dc·q0/8 + 128 — the original DC-only contract.
_IDCT_SCALE_BITS = 13
_IDCT_BASIS = None


def _idct_basis():
    global _IDCT_BASIS
    if _IDCT_BASIS is None:
        import math

        import numpy as np

        b = np.empty((8, 8), dtype=np.int64)
        for u in range(8):
            cu = 1.0 / math.sqrt(2.0) if u == 0 else 1.0
            for x in range(8):
                b[u, x] = round(
                    (1 << _IDCT_SCALE_BITS)
                    * 0.5
                    * cu
                    * math.cos((2 * x + 1) * u * math.pi / 16.0)
                )
        _IDCT_BASIS = b
    return _IDCT_BASIS


def make_jpeg_gray(width: int, height: int, blocks) -> bytes:
    """Spec-valid baseline JPEG, grayscale, q0 = 8 flat quantization.
    ``blocks`` has one length-64 list of QUANTIZED coefficients per 8×8
    block in raster order, NATURAL (row-major F[v][u]) indexing; the
    encoder emits the standard zigzag run-length AC coding (ZRL for 16+
    zero runs, EOB unless coefficient 63 is nonzero) over the canonical
    Annex-K Huffman tables. width/height must be multiples of 8."""
    assert width % 8 == 0 and height % 8 == 0
    blocks = [list(b) for b in blocks]
    assert len(blocks) == (width // 8) * (height // 8)
    dc_tab = _huff_encode_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_tab = _huff_encode_table(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _BitWriter()
    pred = 0
    for blk in blocks:
        pred = _jpeg_encode_block(w, dc_tab, ac_tab, blk, pred)
    return _jpeg_container(width, height, [(1, 0x11)], w.flush())


def _jpeg_container(width: int, height: int, comp_specs, scan: bytes) -> bytes:
    """Assemble the shared fixture-JPEG container (r13 review: three
    encoders carried drifting copies): SOI + DQT (q0=8 flat, table 0) +
    SOF0 + DHT (canonical Annex-K luminance tables as DC/AC id 0) + SOS
    (every component selects tables 0) + entropy scan + EOI.
    ``comp_specs`` = [(component_id, sampling_byte)] in frame order."""
    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    n = len(comp_specs)
    qtable = bytes([0]) + bytes([8] * 64)  # Pq=0/Tq=0, all-8 (q0 = 8)
    sof = struct.pack(">BHHB", 8, height, width, n) + bytes(
        b for cid, samp in comp_specs for b in (cid, samp, 0)
    )
    dht = (
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    sos = bytes([n] + [b for cid, _ in comp_specs for b in (cid, 0x00)]
                + [0, 63, 0])
    return (
        b"\xff\xd8"
        + seg(0xDB, qtable)
        + seg(0xC0, sof)
        + seg(0xC4, dht)
        + seg(0xDA, sos)
        + scan
        + b"\xff\xd9"
    )


def _jpeg_encode_block(w, dc_tab, ac_tab, blk, pred):
    """Encode one 8×8 block (natural-order coefficients) into BitWriter
    ``w`` with DC predictor ``pred``; returns the new predictor. Factored
    from make_jpeg_gray (r13) so the color encoder interleaves
    per-component blocks through the same spec-exact routine."""
    assert len(blk) == 64
    diff = blk[0] - pred
    pred = blk[0]
    size = abs(diff).bit_length()
    code, length = dc_tab[size]
    w.put(code, length)
    if size:
        amp = diff if diff >= 0 else diff + (1 << size) - 1
        w.put(amp, size)
    zz = [blk[_ZIGZAG[k]] for k in range(1, 64)]
    last = max((i for i, v in enumerate(zz) if v), default=-1)
    run = 0
    for v in zz[: last + 1]:
        if v == 0:
            run += 1
            continue
        while run > 15:
            zrl_code, zrl_len = ac_tab[0xF0]
            w.put(zrl_code, zrl_len)
            run -= 16
        size = abs(v).bit_length()
        code, length = ac_tab[(run << 4) | size]
        w.put(code, length)
        amp = v if v >= 0 else v + (1 << size) - 1
        w.put(amp, size)
        run = 0
    if last < 62:
        eob_code, eob_len = ac_tab[0x00]
        w.put(eob_code, eob_len)
    return pred


def make_jpeg_color(width: int, height: int, blocks_y, blocks_cb, blocks_cr) -> bytes:
    """Spec-valid baseline COLOR JPEG (r13): three components (YCbCr,
    JFIF numbering 1/2/3), 1×1 sampling on every component (one 8×8
    block per component per MCU — no subsampling), one q0=8 flat quant
    table and the canonical Annex-K Huffman tables shared by all
    components. Each ``blocks_*`` is one length-64 natural-order
    QUANTIZED coefficient list per 8×8 block in raster order.
    width/height must be multiples of 8."""
    assert width % 8 == 0 and height % 8 == 0
    nb = (width // 8) * (height // 8)
    comps = [
        [list(b) for b in blocks_y],
        [list(b) for b in blocks_cb],
        [list(b) for b in blocks_cr],
    ]
    assert all(len(c) == nb for c in comps)
    dc_tab = _huff_encode_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_tab = _huff_encode_table(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _BitWriter()
    preds = [0, 0, 0]
    for bi in range(nb):  # interleaved MCU: Y, Cb, Cr per 8x8 position
        for ci in range(3):
            preds[ci] = _jpeg_encode_block(
                w, dc_tab, ac_tab, comps[ci][bi], preds[ci]
            )
    return _jpeg_container(
        width, height, [(1, 0x11), (2, 0x11), (3, 0x11)], w.flush()
    )


def make_jpeg_color_dc(width: int, height: int, dc_y, dc_cb, dc_cr) -> bytes:
    """DC-only color profile: every component block flat, decoded plane
    value exactly dc + 128 at q0 = 8 — the color twin of
    make_jpeg_gray_dc."""
    f = lambda dcs: [[dc] + [0] * 63 for dc in dcs]  # noqa: E731
    return make_jpeg_color(width, height, f(dc_y), f(dc_cb), f(dc_cr))


def make_jpeg_color_420(width: int, height: int, blocks_y, blocks_cb, blocks_cr) -> bytes:
    """Spec-valid baseline color JPEG with 4:2:0 CHROMA SUBSAMPLING (r13
    — the dominant real-corpus form): Y sampled 2×2, Cb/Cr 1×1, so each
    MCU is 4 Y blocks (2×2, left-to-right top-to-bottom) + 1 Cb + 1 Cr
    covering 16×16 pixels. ``blocks_y`` is in full-image raster order of
    8×8 blocks; ``blocks_cb``/``blocks_cr`` in raster order of the
    half-resolution chroma blocks. width/height must be multiples of
    16."""
    assert width % 16 == 0 and height % 16 == 0
    ybw, mbw, mbh = width // 8, width // 16, height // 16
    blocks_y = [list(b) for b in blocks_y]
    blocks_cb = [list(b) for b in blocks_cb]
    blocks_cr = [list(b) for b in blocks_cr]
    assert len(blocks_y) == ybw * (height // 8)
    assert len(blocks_cb) == mbw * mbh and len(blocks_cr) == mbw * mbh
    dc_tab = _huff_encode_table(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_tab = _huff_encode_table(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _BitWriter()
    preds = [0, 0, 0]
    for my in range(mbh):
        for mx in range(mbw):
            for r in range(2):  # 4 Y blocks, raster within the MCU
                for c in range(2):
                    blk = blocks_y[(2 * my + r) * ybw + 2 * mx + c]
                    preds[0] = _jpeg_encode_block(w, dc_tab, ac_tab, blk, preds[0])
            ci = my * mbw + mx
            preds[1] = _jpeg_encode_block(w, dc_tab, ac_tab, blocks_cb[ci], preds[1])
            preds[2] = _jpeg_encode_block(w, dc_tab, ac_tab, blocks_cr[ci], preds[2])
    return _jpeg_container(
        width, height, [(1, 0x22), (2, 0x11), (3, 0x11)], w.flush()
    )


def make_jpeg_color_420_dc(width: int, height: int, dc_y, dc_cb, dc_cr) -> bytes:
    """DC-only 4:2:0 profile — flat blocks, exact decoded planes."""
    f = lambda dcs: [[dc] + [0] * 63 for dc in dcs]  # noqa: E731
    return make_jpeg_color_420(width, height, f(dc_y), f(dc_cb), f(dc_cr))


def make_jpeg_gray_dc(width: int, height: int, dc_values) -> bytes:
    """DC-only profile (every 8×8 block flat, AC = immediate EOB, decoded
    pixel exactly dc + 128 at q0 = 8) — the original r6 fixture shape,
    now a special case of make_jpeg_gray."""
    return make_jpeg_gray(
        width, height, [[dc] + [0] * 63 for dc in dc_values]
    )


def _huff_decode_table(bits, vals):
    """(length, code) → value map built canonically from a DHT payload."""
    out, code = {}, 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return out


def jpeg_gray_luma_sum(blob: bytes):
    """(luma_sum, n_px) from a REAL baseline-JPEG decode, grayscale
    profile — see _jpeg_gray_decode for the decoder (r13: factored so
    dhash/decode_pixels share the entropy core; the sum-only path keeps
    its closed-form flat-block shortcut and never materializes pixels)."""
    out = _jpeg_gray_decode(blob, want_pixels=False)
    if out is None:
        return None
    total, width, height, _ = out
    return total, width * height


def jpeg_gray_decode_pixels(blob: bytes):
    """(h, w, 1) uint8 pixel matrix from the same real baseline-JPEG
    grayscale decode jpeg_gray_luma_sum runs — the JPEG leg of
    decode_pixels (r13, VERDICT r12 item 1). None out of profile."""
    out = _jpeg_gray_decode(blob, want_pixels=True)
    if out is None:
        return None
    _, _, _, mat = out
    return mat[:, :, None]


def _jpeg_gray_decode(blob: bytes, want_pixels: bool):
    """Shared baseline-JPEG grayscale decode core: full zigzag AC
    run-length entropy decode + dequantization;
    flat (AC-free) blocks keep the EXACT closed form dc·q0/8 + 128, AC
    blocks go through the pinned fixed-point integer IDCT (see
    _idct_basis — r11, lifting the r6 DC-only restriction). Returns
    (luma_sum, width, height, pixels) where pixels is an (h, w) uint8
    matrix when ``want_pixels`` else None. None for
    anything outside the profile (multi-component scans, geometry not a
    multiple of 8, progressive/extended frames, 16-bit quant tables,
    malformed streams)."""
    try:
        if blob[:2] != b"\xff\xd8":
            return None
        pos = 2
        qtables: dict[int, list[int]] = {}
        dc_table = ac_table = None
        width = height = None
        comp_q = 0
        scan_start = None
        while pos + 4 <= len(blob):
            if blob[pos] != 0xFF:
                return None
            # skip 0xFF fill bytes (ITU T.81 §B.1.1.2): any number of
            # 0xFF may pad before the marker id — treating one as the id
            # would read a garbage segment length (ADVICE r13)
            while pos + 4 <= len(blob) and blob[pos + 1] == 0xFF:
                pos += 1
            if pos + 4 > len(blob):
                return None
            marker = blob[pos + 1]
            if marker == 0xD9:
                break
            (ln,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
            body = blob[pos + 4 : pos + 2 + ln]
            if marker == 0xDB:
                i = 0
                while i < len(body):
                    if body[i] >> 4 != 0:
                        return None  # 16-bit qtable: out of profile
                    qtables[body[i] & 0xF] = list(body[i + 1 : i + 65])
                    i += 65
            elif marker == 0xC0:
                prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
                if prec != 8 or ncomp != 1:
                    return None
                comp_q = body[8]
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                return None  # non-baseline frame type
            elif marker == 0xC4:
                i = 0
                while i < len(body):
                    cls, tid = body[i] >> 4, body[i] & 0xF
                    bits = list(body[i + 1 : i + 17])
                    nv = sum(bits)
                    vals = list(body[i + 17 : i + 17 + nv])
                    tab = _huff_decode_table(bits, vals)
                    if cls == 0 and tid == 0:
                        dc_table = tab
                    elif cls == 1 and tid == 0:
                        ac_table = tab
                    i += 17 + nv
            elif marker == 0xDA:
                if body[0] != 1:
                    return None  # multi-component scan
                scan_start = pos + 2 + ln
                break
            pos += 2 + ln
        if (
            scan_start is None or dc_table is None or ac_table is None
            or width is None or not width or not height
            or width % 8 or height % 8
            or comp_q not in qtables
        ):
            return None
        import numpy as np

        # DQT stores the table in zigzag order: un-zigzag to natural
        q_zz = qtables[comp_q]
        q_nat = [0] * 64
        for zz_i, nat_i in enumerate(_ZIGZAG):
            q_nat[nat_i] = q_zz[zz_i]
        q0 = q_nat[0]
        end = blob.rfind(b"\xff\xd9")
        if end < 0:
            return None
        # r11 hot-loop form: validate+strip byte stuffing ONCE (T.81: every
        # 0xFF in entropy data must be followed by a stuffed 0x00; anything
        # else is a marker = error, exactly what the old per-byte check
        # byte), then the decode loop runs on locals with a 2-op refill —
        # no per-bit method call, no stuff check in the loop.
        import re as _re

        data = blob[scan_start:end]
        if _re.search(rb"\xff(?!\x00)", data, _re.DOTALL):
            return None  # unexpected marker in entropy data
        data = data.replace(b"\xff\x00", b"\xff")
        nd = len(data)
        dpos = acc = nbits = 0
        dget, aget = dc_table.get, ac_table.get
        zig = _ZIGZAG
        nblocks = (width // 8) * (height // 8)
        bw = width // 8  # blocks per row (raster order)
        mat = np.zeros((height, width), dtype=np.uint8) if want_pixels else None
        basis = _idct_basis()
        shift = 2 * _IDCT_SCALE_BITS
        half = 1 << (shift - 1)
        pred = 0
        total = 0
        for bi in range(nblocks):
            # DC: inline Huffman walk (bit-serial by construction)
            code = length = 0
            while True:
                if nbits == 0:
                    acc = data[dpos]  # IndexError past end = exhausted
                    dpos += 1
                    nbits = 8
                nbits -= 1
                code = (code << 1) | ((acc >> nbits) & 1)
                length += 1
                sym = dget((length, code))
                if sym is not None:
                    break
                if length >= 16:
                    raise ValueError("invalid Huffman code")
            size = sym
            v = 0
            if size:
                while nbits < size:  # refill then take `size` bits at once
                    if dpos >= nd:
                        raise ValueError("bitstream exhausted")
                    acc = (acc << 8) | data[dpos]
                    dpos += 1
                    nbits += 8
                nbits -= size
                v = (acc >> nbits) & ((1 << size) - 1)
                acc &= (1 << nbits) - 1  # drop consumed bits (bounded int)
            diff = 0 if size == 0 else (
                v if v >= (1 << (size - 1)) else v - (1 << size) + 1
            )
            pred += diff
            coeff = [0] * 64  # natural order
            coeff[0] = pred
            k = 1
            has_ac = False
            while k < 64:
                code = length = 0
                while True:
                    if nbits == 0:
                        acc = data[dpos]
                        dpos += 1
                        nbits = 8
                    nbits -= 1
                    code = (code << 1) | ((acc >> nbits) & 1)
                    length += 1
                    rs = aget((length, code))
                    if rs is not None:
                        break
                    if length >= 16:
                        raise ValueError("invalid Huffman code")
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL: sixteen zero coefficients
                    k += 16
                    continue
                run, sz = rs >> 4, rs & 0xF
                if sz == 0:
                    return None  # only 0x00/0xF0 carry size 0
                k += run
                if k > 63:
                    return None
                while nbits < sz:
                    if dpos >= nd:
                        raise ValueError("bitstream exhausted")
                    acc = (acc << 8) | data[dpos]
                    dpos += 1
                    nbits += 8
                nbits -= sz
                v = (acc >> nbits) & ((1 << sz) - 1)
                acc &= (1 << nbits) - 1  # drop consumed bits (bounded int)
                coeff[zig[k]] = v if v >= (1 << (sz - 1)) else v - (1 << sz) + 1
                has_ac = True
                k += 1
            if not has_ac:
                # flat block: EXACT closed form, every pixel dc*q0/8 + 128
                num = pred * q0
                if num % 8:
                    return None  # not exactly representable: out of profile
                px = num // 8 + 128
                px = 0 if px < 0 else 255 if px > 255 else px
                total += 64 * px
                if mat is not None:
                    by, bx = divmod(bi, bw)
                    mat[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
            else:
                # pinned fixed-point integer IDCT (see _idct_basis):
                # acc[y,x] = Σ_v Σ_u Fq[v,u]·B[v,y]·B[u,x] = (Bᵀ·Fq·B)[y,x]
                fq = (
                    np.array(coeff, dtype=np.int64).reshape(8, 8)
                    * np.array(q_nat, dtype=np.int64).reshape(8, 8)
                )
                idct = basis.T @ fq @ basis  # NB: don't reuse `acc` — it
                # is the live bit-reader accumulator (r11 inline form)
                px = ((idct + half) >> shift) + 128  # arithmetic shift = floor
                px = np.clip(px, 0, 255)
                total += int(px.sum())
                if mat is not None:
                    by, bx = divmod(bi, bw)
                    mat[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
        return total, width, height, mat
    except (ValueError, IndexError, struct.error):
        return None


def _jpeg_entropy_block(data, dpos, acc, nbits, dget, aget, pred):
    """Decode ONE 8×8 block's entropy data (DC Huffman walk + EXTEND,
    zigzag AC run-length) from the de-stuffed scan bytes. Returns
    (coeff natural-order list, dpos, acc, nbits, pred, has_ac) or raises
    ValueError on malformed streams. The color decoder's per-block unit
    (r13); the grayscale path keeps its r11 fully-inlined loop — this
    helper trades a per-block call for three-predictor bookkeeping."""
    zig = _ZIGZAG
    code = length = 0
    while True:
        if nbits == 0:
            acc = data[dpos]  # IndexError past end = exhausted
            dpos += 1
            nbits = 8
        nbits -= 1
        code = (code << 1) | ((acc >> nbits) & 1)
        length += 1
        sym = dget((length, code))
        if sym is not None:
            break
        if length >= 16:
            raise ValueError("invalid Huffman code")
    size = sym
    v = 0
    if size:
        while nbits < size:
            if dpos >= len(data):
                raise ValueError("bitstream exhausted")
            acc = (acc << 8) | data[dpos]
            dpos += 1
            nbits += 8
        nbits -= size
        v = (acc >> nbits) & ((1 << size) - 1)
        acc &= (1 << nbits) - 1
    diff = 0 if size == 0 else (
        v if v >= (1 << (size - 1)) else v - (1 << size) + 1
    )
    pred += diff
    coeff = [0] * 64
    coeff[0] = pred
    k = 1
    has_ac = False
    while k < 64:
        code = length = 0
        while True:
            if nbits == 0:
                acc = data[dpos]
                dpos += 1
                nbits = 8
            nbits -= 1
            code = (code << 1) | ((acc >> nbits) & 1)
            length += 1
            rs = aget((length, code))
            if rs is not None:
                break
            if length >= 16:
                raise ValueError("invalid Huffman code")
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        run, sz = rs >> 4, rs & 0xF
        if sz == 0:
            raise ValueError("invalid AC symbol")
        k += run
        if k > 63:
            raise ValueError("AC run past block end")
        while nbits < sz:
            if dpos >= len(data):
                raise ValueError("bitstream exhausted")
            acc = (acc << 8) | data[dpos]
            dpos += 1
            nbits += 8
        nbits -= sz
        v = (acc >> nbits) & ((1 << sz) - 1)
        acc &= (1 << nbits) - 1
        coeff[zig[k]] = v if v >= (1 << (sz - 1)) else v - (1 << sz) + 1
        has_ac = True
        k += 1
    return coeff, dpos, acc, nbits, pred, has_ac


# libjpeg's exact fixed-point YCbCr→RGB constants (scale 2^16): the
# integer contract every engine replays. The (1<<25) bias keeps the
# shifted operand positive (|constant·128| < 2^25), so >> 16 is the same
# plain logical shift in Python, numpy, and SQL — no floored-division
# ambiguity on negatives; (1<<25) >> 16 == 512 compensates exactly.
_JPEG_FIX_R_CR = 91881     # FIX(1.40200)
_JPEG_FIX_G_CB = 22554     # FIX(0.34414)
_JPEG_FIX_G_CR = 46802     # FIX(0.71414)
_JPEG_FIX_B_CB = 116130    # FIX(1.77200)
_JPEG_FIX_BIAS = (1 << 25) + 32768  # positivity bias + ONE_HALF rounding


def jpeg_color_decode_pixels(blob: bytes):
    """(h, w, 3) uint8 RGB from a REAL baseline COLOR JPEG decode (r13):
    three-component interleaved scan, per-component quant/Huffman table
    selectors, full AC entropy decode + the pinned integer IDCT per
    block, then libjpeg's exact fixed-point YCbCr→RGB (constants above —
    integer arithmetic, SQL-replayable). Two sampling profiles: 1×1×1
    (no subsampling, geometry multiple of 8) and 4:2:0 (Y 2×2 + chroma
    1×1 — the dominant real-corpus form; geometry multiple of 16),
    chroma upsampled by BOX replication (the spec-allowed nearest form —
    exact integers; libjpeg's default 'fancy' triangular upsampling is a
    different, float-shaped contract and is NOT what this decoder
    promises). None for anything outside the profile (other sampling
    patterns, progressive frames, restart markers, 16-bit quant tables,
    off-multiple geometry, malformed streams)."""
    import numpy as np

    try:
        if blob[:2] != b"\xff\xd8":
            return None
        pos = 2
        qtables: dict[int, list[int]] = {}
        huff: dict[tuple[int, int], dict] = {}
        width = height = None
        comp_specs = None  # [(comp_id, tq)] in SOF order
        sub420 = False     # True: Y 2x2 + chroma 1x1 (4:2:0)
        scan_sel = None    # {comp_id: (td, ta)}
        scan_start = None
        while pos + 4 <= len(blob):
            if blob[pos] != 0xFF:
                return None
            # skip 0xFF fill bytes (ITU T.81 §B.1.1.2) — same contract as
            # the grayscale walk above (ADVICE r13)
            while pos + 4 <= len(blob) and blob[pos + 1] == 0xFF:
                pos += 1
            if pos + 4 > len(blob):
                return None
            marker = blob[pos + 1]
            if marker == 0xD9:
                break
            (ln,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
            body = blob[pos + 4 : pos + 2 + ln]
            if marker == 0xDB:
                i = 0
                while i < len(body):
                    if body[i] >> 4 != 0:
                        return None
                    qtables[body[i] & 0xF] = list(body[i + 1 : i + 65])
                    i += 65
            elif marker == 0xC0:
                prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
                if prec != 8 or ncomp != 3:
                    return None
                comp_specs = []
                samps = []
                for ci in range(3):
                    cid, samp, tq = body[6 + 3 * ci : 9 + 3 * ci]
                    samps.append(samp)
                    comp_specs.append((cid, tq))
                if samps == [0x11, 0x11, 0x11]:
                    sub420 = False
                elif samps == [0x22, 0x11, 0x11]:
                    sub420 = True
                else:
                    return None  # other sampling patterns: out of profile
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                return None
            elif marker == 0xC4:
                i = 0
                while i < len(body):
                    cls, tid = body[i] >> 4, body[i] & 0xF
                    bits = list(body[i + 1 : i + 17])
                    nv = sum(bits)
                    huff[(cls, tid)] = _huff_decode_table(
                        bits, list(body[i + 17 : i + 17 + nv])
                    )
                    i += 17 + nv
            elif marker == 0xDD:
                return None  # restart interval: out of profile
            elif marker == 0xDA:
                if body[0] != 3:
                    return None
                scan_sel = {}
                for ci in range(3):
                    cid = body[1 + 2 * ci]
                    sel = body[2 + 2 * ci]
                    scan_sel[cid] = (sel >> 4, sel & 0xF)
                scan_start = pos + 2 + ln
                break
            pos += 2 + ln
        geom = 16 if sub420 else 8
        if (
            scan_start is None or comp_specs is None or scan_sel is None
            or not width or not height or width % geom or height % geom
        ):
            return None
        import re as _re

        end = blob.rfind(b"\xff\xd9")
        if end < 0:
            return None
        data = blob[scan_start:end]
        if _re.search(rb"\xff(?!\x00)", data, _re.DOTALL):
            return None
        data = data.replace(b"\xff\x00", b"\xff")
        # per-component decode state
        q_nats, dgets, agets = [], [], []
        for cid, tq in comp_specs:
            if tq not in qtables or cid not in scan_sel:
                return None
            td, ta = scan_sel[cid]
            if (0, td) not in huff or (1, ta) not in huff:
                return None
            q_zz = qtables[tq]
            q_nat = [0] * 64
            for zz_i, nat_i in enumerate(_ZIGZAG):
                q_nat[nat_i] = q_zz[zz_i]
            q_nats.append(q_nat)
            dgets.append(huff[(0, td)].get)
            agets.append(huff[(1, ta)].get)
        basis = _idct_basis()
        shift = 2 * _IDCT_SCALE_BITS
        half = 1 << (shift - 1)
        # chroma planes are half-resolution under 4:2:0
        cw, ch = (width // 2, height // 2) if sub420 else (width, height)
        planes = [
            np.zeros((height, width), dtype=np.int64),
            np.zeros((ch, cw), dtype=np.int64),
            np.zeros((ch, cw), dtype=np.int64),
        ]
        preds = [0, 0, 0]
        state = [0, 0, 0]  # dpos, acc, nbits

        def block(ci, by, bx):
            coeff, state[0], state[1], state[2], preds[ci], has_ac = (
                _jpeg_entropy_block(
                    data, state[0], state[1], state[2],
                    dgets[ci], agets[ci], preds[ci],
                )
            )
            q_nat = q_nats[ci]
            if not has_ac:
                num = coeff[0] * q_nat[0]
                if num % 8:
                    raise ValueError("flat block not exactly representable")
                px = num // 8 + 128
                px = 0 if px < 0 else 255 if px > 255 else px
                planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
            else:
                fq = (
                    np.array(coeff, dtype=np.int64).reshape(8, 8)
                    * np.array(q_nat, dtype=np.int64).reshape(8, 8)
                )
                idct = basis.T @ fq @ basis
                px = ((idct + half) >> shift) + 128
                planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    np.clip(px, 0, 255)
                )

        if sub420:
            mbw, mbh = width // 16, height // 16
            for my in range(mbh):
                for mx in range(mbw):
                    for r in range(2):
                        for c in range(2):
                            block(0, 2 * my + r, 2 * mx + c)
                    block(1, my, mx)
                    block(2, my, mx)
        else:
            bw = width // 8
            for bi in range(bw * (height // 8)):
                by, bx = divmod(bi, bw)
                for ci in range(3):
                    block(ci, by, bx)
        if sub420:
            # box (nearest) chroma upsampling: each half-res sample
            # covers its 2x2 pixel quad — exact integer replication
            planes[1] = np.repeat(np.repeat(planes[1], 2, axis=0), 2, axis=1)
            planes[2] = np.repeat(np.repeat(planes[2], 2, axis=0), 2, axis=1)
        y, cb, cr = planes[0], planes[1] - 128, planes[2] - 128
        r = y + ((_JPEG_FIX_R_CR * cr + _JPEG_FIX_BIAS) >> 16) - 512
        g = y - (((_JPEG_FIX_G_CB * cb + _JPEG_FIX_G_CR * cr
                   + _JPEG_FIX_BIAS) >> 16) - 512)
        b = y + ((_JPEG_FIX_B_CB * cb + _JPEG_FIX_BIAS) >> 16) - 512
        out = np.stack(
            [np.clip(r, 0, 255), np.clip(g, 0, 255), np.clip(b, 0, 255)],
            axis=2,
        ).astype(np.uint8)
        return out
    except (ValueError, IndexError, struct.error):
        return None


# -- BMP: real uncompressed 24-bit decode -----------------------------------


def make_bmp_rgb(width: int, height: int, px_fn) -> bytes:
    """Spec-valid bottom-up 24-bit BITMAPINFOHEADER BMP; ``px_fn(x, y)``
    returns (r, g, b) with y=0 the TOP row (the writer handles the
    bottom-up storage order)."""
    row_len = (width * 3 + 3) & ~3
    rows = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            r, g, b = px_fn(x, y)
            row += bytes([b, g, r])  # BGR on disk
        row += b"\x00" * (row_len - len(row))
        rows += row
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(rows), 2835, 2835, 0, 0
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(rows), 0, 0, 14 + 40)
    return header + info + bytes(rows)


def bmp_luma_sum(blob: bytes):
    """(luma_sum·1000-scale, n_px) from a real decode of an uncompressed
    24-bit BMP (bottom-up or top-down); None for palettized/compressed/
    16-32bpp variants or malformed input. Same integer Rec.601 weights as
    png_luma_sum, so the two formats' luma columns are comparable."""
    try:
        if blob[:2] != b"BM":
            return None
        (offset,) = struct.unpack("<I", blob[10:14])
        (hsize,) = struct.unpack("<I", blob[14:18])
        if hsize < 40:
            return None
        width, height = struct.unpack("<ii", blob[18:26])
        planes, bpp = struct.unpack("<HH", blob[26:30])
        (compression,) = struct.unpack("<I", blob[30:34])
        if planes != 1 or bpp != 24 or compression != 0 or width <= 0 or height == 0:
            return None
        nrows = abs(height)
        row_len = (width * 3 + 3) & ~3
        if offset + row_len * nrows > len(blob):
            return None
        wr, wg, wb = _LUMA_W
        total = 0
        for ri in range(nrows):
            base = offset + ri * row_len
            row = blob[base : base + width * 3]
            # BGR triplets; row order is irrelevant to the sum
            total += (
                wb * sum(row[0::3]) + wg * sum(row[1::3]) + wr * sum(row[2::3])
            )
        return total, width * nrows
    except (struct.error, IndexError):
        return None


def bmp_decode_pixels(blob: bytes):
    """(h, w, 3) uint8 RGB pixel matrix from a real decode of an
    uncompressed 24-bit BMP (bottom-up or top-down, normalized to
    top-down y order) — the BMP leg of decode_pixels (r13, VERDICT r12
    item 1). Same profile and None contract as bmp_luma_sum."""
    import numpy as np

    try:
        if blob[:2] != b"BM":
            return None
        (offset,) = struct.unpack("<I", blob[10:14])
        (hsize,) = struct.unpack("<I", blob[14:18])
        if hsize < 40:
            return None
        width, height = struct.unpack("<ii", blob[18:26])
        planes, bpp = struct.unpack("<HH", blob[26:30])
        (compression,) = struct.unpack("<I", blob[30:34])
        if planes != 1 or bpp != 24 or compression != 0 or width <= 0 or height == 0:
            return None
        nrows = abs(height)
        row_len = (width * 3 + 3) & ~3
        if offset + row_len * nrows > len(blob):
            return None
        rows = np.frombuffer(
            blob[offset : offset + row_len * nrows], dtype=np.uint8
        ).reshape(nrows, row_len)[:, : width * 3].reshape(nrows, width, 3)
        if height > 0:
            rows = rows[::-1]  # bottom-up storage → top-down pixels
        return np.ascontiguousarray(rows[:, :, ::-1])  # BGR on disk → RGB
    except (struct.error, IndexError):
        return None


def decode_pixels(blob: bytes):
    """Format-general pixel decode (r13, VERDICT r12 item 1): sniff the
    container magic (parse_image_header's dispatch set) and route to the
    real in-repo decoder — PNG (png_decode_pixels), baseline JPEG
    (jpeg_gray_decode_pixels, then jpeg_color_decode_pixels for
    3-component 1×1×1 / 4:2:0 scans), GIF (gif_decode_pixels), 24-bit
    BMP (bmp_decode_pixels). Returns (h, w, channels) uint8 — channels 1
    (gray), 3 (RGB), or 4 (RGBA) — or None for unknown containers and
    out-of-profile blobs (each leg's documented NULL contract). This is
    the pixel source dhash56 hashes, so perceptual near-dup covers every
    format the repo can decode, not just PNG."""
    if blob is None:
        return None
    b = bytes(blob)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return png_decode_pixels(b)
    if b[:2] == b"\xff\xd8":
        px = jpeg_gray_decode_pixels(b)
        if px is not None:
            return px
        return jpeg_color_decode_pixels(b)  # 3-component baseline (r13)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return gif_decode_pixels(b)
    if b[:2] == b"BM":
        return bmp_decode_pixels(b)
    return None


# -- GIF: real LZW codec (encode + decode) ----------------------------------


def _lzw_encode_gif(indices, min_code_size: int) -> bytes:
    """GIF-variant LZW: variable code width (LSB-first packing), CLEAR
    emitted first and on dictionary overflow at 4096 codes."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    put(clear, width)
    seq: tuple = ()
    for idx in indices:
        cand = seq + (idx,)
        if cand in table:
            seq = cand
            continue
        put(table[seq], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
        else:
            # 12-bit code space exhausted: reset rather than assign 4096
            put(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        seq = (idx,)
    if seq:
        put(table[seq], width)
    put(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode_gif(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW decode, including the cScSc (code == next_code)
    special case and mid-stream CLEAR handling. Returns the index stream
    as BYTES (palette indices are ≤ 255 by construction) — r11 hot-loop
    form: inlined bit reader (the closure/nonlocal version paid a call
    per code), bytes table entries (C-level concat/append vs per-symbol
    tuple building), bytearray output. Same stream-level behavior,
    ~2× the decode rate; the callers' luma reduction moved to a
    vectorized numpy LUT over the returned buffer."""
    clear = 1 << min_code_size
    end = clear + 1
    pos = acc = nbits = 0
    n = len(data)
    out = bytearray()
    base = [bytes((i,)) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    maxw = 1 << width
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= n:
                raise ValueError("LZW stream exhausted")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & (maxw - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            maxw = 1 << width
            prev = None
            continue
        if code == end:
            return bytes(out)
        ln = len(table)
        if prev is None:
            entry = table[code]
        elif code < ln:
            entry = table[code]
            if ln < 4096:
                table.append(prev + entry[:1])
        elif code == ln and ln < 4096:
            entry = prev + prev[:1]  # cScSc
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out += entry
        if len(table) >= maxw and width < 12:
            width += 1
            maxw = 1 << width
        prev = entry


def make_gif_gray(width: int, height: int, px_fn) -> bytes:
    """Spec-valid GIF89a with a 256-entry grayscale global palette and a
    real LZW-compressed index stream; ``px_fn(x, y)`` returns the gray
    level 0-255."""
    palette = bytes(v for i in range(256) for v in (i, i, i))
    indices = [px_fn(x, y) for y in range(height) for x in range(width)]
    lzw = _lzw_encode_gif(indices, 8)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", width, height, 0xF7, 0, 0)  # GCT, 256 entries
        + palette
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        + bytes([8])  # LZW min code size
        + bytes(blocks)
        + b"\x3b"
    )


def _gif_first_image(blob: bytes):
    """(indices bytes, palette bytes, gct_len, w, h) of the FIRST image
    block of a GIF — the shared header walk + LZW decode behind
    gif_luma_sum and gif_decode_pixels (r13 factor-out). None for
    interlaced images, local palettes, missing GCT, or malformed input.
    (No transparency/animation handling — first image block only.)"""
    try:
        if blob[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", blob[6:13])
        if not flags & 0x80:
            return None  # no global color table
        gct_len = 2 << (flags & 0x07)
        pos = 13
        palette = blob[pos : pos + 3 * gct_len]
        pos += 3 * gct_len
        # skip extension blocks to the first image descriptor
        while pos < len(blob) and blob[pos] == 0x21:
            pos += 2
            while blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
        if pos >= len(blob) or blob[pos] != 0x2C:
            return None
        _l, _t, w, h, iflags = struct.unpack("<HHHHB", blob[pos + 1 : pos + 10])
        if iflags & 0xC0:
            return None  # local palette / interlace: out of profile
        pos += 10
        mcs = blob[pos]
        pos += 1
        lzw = bytearray()
        while blob[pos] != 0:
            n = blob[pos]
            lzw += blob[pos + 1 : pos + 1 + n]
            pos += 1 + n
        indices = _lzw_decode_gif(bytes(lzw), mcs)
        if w == 0 or h == 0 or len(indices) != w * h:
            return None
        return indices, palette, gct_len, w, h
    except (struct.error, IndexError, ValueError):
        return None


def gif_luma_sum(blob: bytes):
    """(luma_sum·1000-scale, n_px) from a REAL GIF decode: LZW index
    stream → global color table → Rec.601 integer weights. Profile and
    None contract per _gif_first_image."""
    out = _gif_first_image(blob)
    if out is None:
        return None
    indices, palette, gct_len, w, h = out
    try:
        return _gif_lut_sum(indices, palette, gct_len), w * h
    except IndexError:
        return None


def gif_decode_pixels(blob: bytes):
    """(h, w, 3) uint8 RGB pixel matrix from the real GIF decode (LZW
    index stream → global color table) — the GIF leg of decode_pixels
    (r13, VERDICT r12 item 1). None out of profile or on palette-range
    violations."""
    import numpy as np

    out = _gif_first_image(blob)
    if out is None:
        return None
    indices, palette, gct_len, w, h = out
    idx = np.frombuffer(indices, dtype=np.uint8)
    if idx.size and int(idx.max()) >= gct_len:
        return None  # index past the palette: corrupt stream
    pal = np.frombuffer(palette[: 3 * gct_len], dtype=np.uint8).reshape(-1, 3)
    return pal[idx].reshape(h, w, 3)


def _gif_lut_sum(indices: bytes, palette: bytes, gct_len: int) -> int:
    """Vectorized integer luma over a decoded index stream: LUT = the
    Rec.601 weights over the palette, one numpy take+sum (the Python
    generator form paid per-pixel interpreter cost). Indices past the
    palette raise IndexError for the callers' corrupt-stream handling."""
    import numpy as np

    idx = np.frombuffer(indices, dtype=np.uint8)
    if idx.size and int(idx.max()) >= gct_len:
        raise IndexError("palette index out of range")
    pal = np.frombuffer(palette[: 3 * gct_len], dtype=np.uint8)
    lut = pal.reshape(-1, 3).astype(np.int64) @ np.array(_LUMA_W, dtype=np.int64)
    return int(lut[idx].sum())


# -- audio: real RIFF/WAVE container + PCM16 decode (stdlib + numpy) --------


def make_wav_pcm16(sample_rate: int, samples, extra_chunk: bool = False) -> bytes:
    """Spec-valid mono PCM16 WAV: RIFF header, fmt chunk, optional LIST
    (INFO) chunk to exercise the chunk walker, data chunk. ``samples`` is
    any int sequence in int16 range."""
    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:
        payload = b"INFOISFT" + struct.pack("<I", 5) + b"tests"  # 17 bytes: ODD
        # RIFF odd-chunk encoding: the DECLARED length stays odd and the
        # pad byte sits outside it — this is what forces the reader's
        # (ln & 1) word-alignment skip to actually run
        chunks += (
            b"LIST" + struct.pack("<I", len(payload)) + payload
            + b"\x00" * (len(payload) & 1)
        )
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def parse_wav_pcm16(blob: bytes):
    """Real RIFF walk: returns (sample_rate, samples ndarray[int16]) for
    mono 16-bit PCM, None for anything else (stereo, 8/24-bit, float,
    truncated, non-RIFF). Chunks are word-aligned per spec — an
    odd-length chunk is followed by a pad byte the walker must skip."""
    import numpy as np

    try:
        if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
            return None
        pos, sr, ch, bits, data = 12, None, None, None, None
        while pos + 8 <= len(blob):
            tag = blob[pos : pos + 4]
            (ln,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
            body = blob[pos + 8 : pos + 8 + ln]
            if len(body) < ln:
                return None  # truncated chunk
            if tag == b"fmt " and len(body) >= 16:
                afmt, ch, sr, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
                if afmt != 1:  # PCM only
                    return None
            elif tag == b"data":
                data = body
            pos += 8 + ln + (ln & 1)
        if sr is None or data is None or bits != 16 or ch != 1:
            return None
        return sr, np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2")
    except (struct.error, ValueError):
        return None


# Audio fingerprint window count: 57 energy windows → 56 delta-sign
# bits, deliberately below the sign bit like dhash56 (same signed-BIGINT
# portability convention).
AUDIO_HASH_WINDOWS = 57


def audio_hash56(blob: bytes) -> int | None:
    """Perceptual AUDIO fingerprint over REAL decoded PCM16 samples
    (r13) — the waveform twin of dhash56, completing the near-dup
    family's modality coverage (text MinHash/SimHash, image dHash,
    embedding cosine, audio THIS): gain changes scale every window's
    energy by the same factor and small noise mostly cancels, because
    only the SIGN of neighboring-window energy deltas is kept.

    1. real RIFF/PCM16 decode (parse_wav_pcm16 — shared with
       wav_pcm16_stats);
    2. partition the n samples into 57 windows by k = (j·57) // n —
       exact integer arithmetic, replayable in SQL (the dhash grid
       convention, as a partition instead of a sample);
    3. window energy e[k] = Σ x² (exact int64: 2^30 per sample, n
       bounded by the int64 budget for any real clip);
    4. bit(k) = 1 iff e[k+1] > e[k], packed little-endian — 56 bits,
       sign-safe in every engine.

    None for out-of-profile blobs (parse_wav_pcm16's contract) or
    clips shorter than 57 samples (a window would be empty). Compose
    with exact_dedup on the hash for duplicate-clip groups or the
    pigeonhole pair join for hamming-tolerant near-dups."""
    import numpy as np

    parsed = parse_wav_pcm16(blob)
    if parsed is None:
        return None
    _, samples = parsed
    n = len(samples)
    if n < AUDIO_HASH_WINDOWS:
        return None
    x = samples.astype(np.int64)
    k = (np.arange(n, dtype=np.int64) * AUDIO_HASH_WINDOWS) // n
    e = np.zeros(AUDIO_HASH_WINDOWS, dtype=np.int64)
    np.add.at(e, k, x * x)
    bits = (e[1:] > e[:-1]).astype(np.int64)
    w = np.arange(AUDIO_HASH_WINDOWS - 1, dtype=np.int64)
    return int((bits << w).sum())


def wav_pcm16_stats(blob: bytes):
    """(sample_rate, n_samples, sum_abs, peak) from a real decode of the
    WAV bytes — exact integers (the audio analogue of png_luma_sum's
    integer luma sums; ratio-rule outputs, no rounded doubles)."""
    import numpy as np

    parsed = parse_wav_pcm16(blob)
    if parsed is None:
        return None
    sr, a = parsed
    ab = np.abs(a.astype(np.int64))
    return int(sr), int(a.size), int(ab.sum()), int(ab.max()) if a.size else 0


def _fake_luma(blob: bytes) -> float:
    """Deterministic fake mean-luma derived from an md5 of the bytes
    (Python's builtin hash() is per-process salted — not reproducible).
    Opt-in stand-in only: real decode covers PNG/DC-JPEG/GIF/BMP
    (_real_or_none_luma); this fake exists for pipelines that need a
    non-null placeholder for OUT-OF-PROFILE blobs too."""
    import hashlib

    h = int.from_bytes(hashlib.md5(blob).digest()[:4], "big") & 0x7FFFFFFF
    return round((h % 256) / 255.0, 6)


def _real_or_none_luma(blob: bytes) -> float | None:
    """Mean luma in [0, 255] via REAL pixel decode for every supported
    format: PNG (zlib+unfilter), DC-only baseline JPEG (entropy decode),
    GIF (LZW), 24-bit BMP. None only for out-of-profile variants (JPEG
    with AC coefficients, interlaced GIF, palettized BMP) or undecodable
    input — never a fake value."""
    for fn, scale in (
        (png_luma_sum, 1000.0),
        (gif_luma_sum, 1000.0),
        (bmp_luma_sum, 1000.0),
        (jpeg_gray_luma_sum, 1.0),
    ):
        r = fn(blob)
        if r is not None:
            s, n = r
            return s / (scale * n)
    return None


def decode_image_features(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "media",
    fake_luma: bool = False,
) -> DataFrame:
    """binary image column → (doc_id, byte_len, format, width, height,
    mean_luma) via mapInPandas (Arrow-batched).

    format/width/height are REAL — parsed from the container header bytes
    (parse_image_header), null for unrecognized formats. mean_luma is
    REAL for PNG, DC-only baseline JPEG, GIF, and 24-bit BMP
    (_real_or_none_luma; scale 0-255), null only for out-of-profile
    variants (JPEG with AC coefficients, interlaced GIF, palettized
    BMP). ``fake_luma=True`` substitutes the deterministic
    md5 fake for EVERY blob — the pre-round-6 behavior, kept for
    pipelines that need a non-null placeholder for all formats."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # NULL blobs parse as empty: unknown format, zero bytes, null
            # luma — one NULL row must never kill a 100 TB decode job
            blobs = [b"" if b is None else bytes(b) for b in pdf[binary_col]]
            headers = [parse_image_header(b) for b in blobs]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "byte_len": pd.Series([len(b) for b in blobs], dtype="int64"),
                    "format": [f for f, _, _ in headers],
                    "width": pd.array([w for _, w, _ in headers], dtype="Int32"),
                    "height": pd.array([h for _, _, h in headers], dtype="Int32"),
                    "mean_luma": [
                        _fake_luma(b) if fake_luma else _real_or_none_luma(b)
                        for b in blobs
                    ],
                }
            )

    return df.select(id_col, binary_col).mapInPandas(batches, IMAGE_FEATURES)


def frame_sample_plan(
    df: DataFrame,
    every_ms: int,
    id_col: str = "doc_id",
    duration_col: str = "duration_ms",
) -> DataFrame:
    """Video frame-sampling *plan*: one row per (doc, frame_ts) — pure
    Column math (sequence+explode), ready to feed a decode kernel. The
    decode itself is the stubbed mapInPandas step."""
    return df.select(
        id_col,
        F.explode(
            F.sequence(F.lit(0), F.col(duration_col), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


def resize_plan(
    df: DataFrame,
    max_dim: int,
    id_col: str = "doc_id",
    binary_col: str = "media",
) -> DataFrame:
    """Image resize *plan*: target dimensions for a bounded-box downscale
    (longest side → ``max_dim``, aspect preserved, never upscale) WITHOUT
    touching pixels — the metadata fast path (header parse only). For the
    real pixel resample over the PNG profile see resize_image_features
    (round 11: nearest + fixed-point bilinear numpy kernels over
    png_decode_pixels — no media library). Unrecognized formats pass
    through with null targets. All integer/ratio math is pure Column
    expressions:

      scale = min(1, max_dim / max(w, h));  target = round(dim * scale)
    """
    feats = decode_image_features(df, id_col, binary_col)
    longest = F.greatest(F.col("width"), F.col("height")).cast("double")
    # try_divide: a crafted/corrupt header can declare 0x0 dims (the
    # parser has no zero guard by design — it reports what the container
    # says); ANSI `/` would crash the job on one bad blob, try_divide
    # degrades it to null targets like any unrecognized format
    scale = F.least(F.lit(1.0), F.try_divide(F.lit(float(max_dim)), longest))
    return feats.select(
        id_col,
        "format",
        "width",
        "height",
        F.round(F.col("width") * scale).cast("int").alias("target_width"),
        F.round(F.col("height") * scale).cast("int").alias("target_height"),
    )


# -- real pixel resize (round 11: lifts the resize stub) ---------------------
#
# Two resample kernels over the real PNG pixel decode, both in EXACT
# integer arithmetic so a DuckDB oracle can replay them closed-form on
# the synthetic fixtures (the png_luma_sum pattern, extended to resampled
# grids):
#
#   nearest:  src index = (t · src) // dst              (floor NN)
#   bilinear: fixed-point align-centers — for target index t,
#             num = (2t+1)·src − dst, i0 = num // (2·dst),
#             frac = num % (2·dst), i1 = min(i0+1, src−1); the pixel's
#             contribution is the integer-weighted 4-neighbor sum over
#             the common denominator 4·tw·th (emitted alongside, ratio
#             rule: the float division never crosses an engine boundary).
#
# Downscale-only (bounded box, never upscale) keeps num ≥ 0 and the
# weights within 2·max_dim, so every accumulator fits int64 with orders
# of magnitude to spare.


def resize_box_targets(w: int, h: int, max_dim: int) -> tuple[int, int]:
    """Bounded-box target dims in pure integer math (floor, never
    upscale, never below 1): the CONTRACT shared by the numpy kernel and
    the DuckDB oracle — round()-based targets would diverge on halves
    (Spark HALF_UP vs DuckDB half-even, the ext_embed_quantize lesson)."""
    m = max(w, h)
    if m <= max_dim:
        return w, h
    return max(1, (w * max_dim) // m), max(1, (h * max_dim) // m)


def _axis_grid(src: int, dst: int):
    """Per-axis fixed-point sample grid: (i0, i1, frac, den) arrays for
    the align-centers bilinear contract above."""
    import numpy as np

    t = np.arange(dst, dtype=np.int64)
    den = 2 * dst
    num = (2 * t + 1) * src - dst
    i0 = num // den
    return i0, np.minimum(i0 + 1, src - 1), num - i0 * den, den


def resize_luma_sums(blob: bytes, max_dim: int):
    """REAL pixel resize of a PNG blob: decode (png_decode_pixels),
    bounded-box targets, then BOTH resample kernels over the integer
    luma matrix. Returns (width, height, target_w, target_h,
    nn_luma_sum, bil_luma_num, bil_den) — all exact integers — or None
    for out-of-profile input."""
    import numpy as np

    px = png_decode_pixels(blob)
    if px is None:
        return None
    h, w = px.shape[0], px.shape[1]
    lum = _luma_int_matrix(px)
    tw, th = resize_box_targets(w, h, max_dim)
    nx = (np.arange(tw, dtype=np.int64) * w) // tw
    ny = (np.arange(th, dtype=np.int64) * h) // th
    nn = int(lum[np.ix_(ny, nx)].sum())
    i0x, i1x, fx, denx = _axis_grid(w, tw)
    i0y, i1y, fy, deny = _axis_grid(h, th)
    wx0, wy0 = denx - fx, deny - fy
    bil = (
        wy0[:, None] * wx0[None, :] * lum[np.ix_(i0y, i0x)]
        + wy0[:, None] * fx[None, :] * lum[np.ix_(i0y, i1x)]
        + fy[:, None] * wx0[None, :] * lum[np.ix_(i1y, i0x)]
        + fy[:, None] * fx[None, :] * lum[np.ix_(i1y, i1x)]
    )
    return w, h, tw, th, nn, int(bil.sum()), denx * deny


RESIZE_FEATURES = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("target_width", T.LongType()),
        T.StructField("target_height", T.LongType()),
        T.StructField("nn_luma_sum", T.LongType()),
        T.StructField("bil_luma_num", T.LongType()),
        T.StructField("bil_den", T.LongType()),
    ]
)


def resize_image_features(
    df: DataFrame,
    max_dim: int,
    id_col: str = "doc_id",
    binary_col: str = "media",
) -> DataFrame:
    """binary PNG column → real resampled-luma features per image via
    Arrow-batched mapInPandas (the blob never leaves its task; linear in
    cores like the rest of the codec family). Out-of-profile blobs emit
    null feature columns — never a fake. Mean resized luma =
    nn_luma_sum / (1000 · tw · th) or bil_luma_num / (1000 · bil_den ·
    tw · th); the division stays with the consumer (ratio rule)."""
    import numpy as np  # noqa: F401  (kernel dependency, fail at plan time)

    if max_dim <= 0:  # would silently emit 1x1 targets for every image
        raise ValueError(f"max_dim must be positive, got {max_dim}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, cols = pdf[id_col].astype("int64"), []
            for b in pdf[binary_col]:
                # NULL blob → all-null feature row (the decode_image_
                # features NULL contract)
                cols.append(
                    None if b is None else resize_luma_sums(bytes(b), max_dim)
                )
            names = RESIZE_FEATURES.names[1:]
            data = {"doc_id": ids}
            for j, name in enumerate(names):
                data[name] = pd.array(
                    [None if r is None else r[j] for r in cols], dtype="Int64"
                )
            yield pd.DataFrame(data)

    return df.select(id_col, binary_col).mapInPandas(batches, RESIZE_FEATURES)


# -- video-style frame sampling over animated GIF (round 11) -----------------
#
# Lifts the frame-sample stub with a REAL multi-frame container this
# sandbox can decode end to end: GIF89a animation (public spec — Graphic
# Control Extension carries the per-frame delay in centiseconds; each
# frame is a full-screen image block over the global palette). The
# sampler does what a video pipeline does: walk the container ONCE to
# index frames (cheap — sub-block skipping, no pixel work), map sample
# timestamps onto frame indices via the frame clock, then entropy-decode
# ONLY the sampled frames. True video codecs (H.264 etc.) still need a
# media library; the container-walk / frame-seek / selective-decode
# plumbing — the part a Spark operator owns — is identical and real.


def make_gif_gray_animated(
    width: int, height: int, n_frames: int, delay_cs: int, px_fn
) -> bytes:
    """Spec-valid animated GIF89a: global 256-gray palette, per frame a
    Graphic Control Extension (delay_cs centiseconds) + full-frame image
    block with a real LZW index stream; ``px_fn(f, x, y)`` → gray 0-255."""
    palette = bytes(v for i in range(256) for v in (i, i, i))
    out = bytearray(
        b"GIF89a" + struct.pack("<HHBBB", width, height, 0xF7, 0, 0) + palette
    )
    for f in range(n_frames):
        out += b"\x21\xf9\x04" + struct.pack("<BHB", 0, delay_cs, 0) + b"\x00"
        indices = [px_fn(f, x, y) for y in range(height) for x in range(width)]
        lzw = _lzw_encode_gif(indices, 8)
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0) + bytes([8])
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"  # data sub-block terminator
    out += b"\x3b"  # trailer
    return bytes(out)


def gif_frame_index(blob: bytes):
    """ONE cheap container walk, no pixel decode: returns
    (width, height, [(delay_ms, lzw_payload_offset_span), ...]) or None
    when out of profile (no GCT, local palette, interlace, transparency,
    partial-frame blocks, zero delay). The span lets a later pass decode
    ONLY chosen frames — the frame-seek step of a real sampler."""
    try:
        if blob[:6] != b"GIF89a":
            return None
        sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", blob[6:13])
        if not flags & 0x80:
            return None
        gct_len = 2 << (flags & 0x07)
        pos = 13 + 3 * gct_len
        frames = []
        delay_ms = None
        while pos < len(blob):
            b0 = blob[pos]
            if b0 == 0x3B:  # trailer
                break
            if b0 == 0x21:  # extension
                label = blob[pos + 1]
                pos += 2
                if label == 0xF9:  # Graphic Control Extension
                    size = blob[pos]
                    packed, delay_cs, _tci = struct.unpack(
                        "<BHB", blob[pos + 1 : pos + 5]
                    )
                    if packed & 0x01:  # transparency: out of profile
                        return None
                    if delay_cs == 0:
                        return None  # no frame clock — can't sample
                    delay_ms = delay_cs * 10
                while blob[pos] != 0:
                    pos += 1 + blob[pos]
                pos += 1
            elif b0 == 0x2C:  # image descriptor
                left, top, w, h, iflags = struct.unpack(
                    "<HHHHB", blob[pos + 1 : pos + 10]
                )
                if iflags & 0xC0 or (left, top, w, h) != (0, 0, sw, sh):
                    return None  # local palette/interlace/partial frame
                pos += 10
                start = pos  # min-code-size byte + sub-blocks
                pos += 1
                while blob[pos] != 0:
                    pos += 1 + blob[pos]
                pos += 1
                if delay_ms is None:
                    return None  # frame without a GCE clock
                frames.append((delay_ms, start, pos))
                delay_ms = None
            else:
                return None
        if not frames or sw == 0 or sh == 0:
            return None
        return sw, sh, frames
    except (struct.error, IndexError):
        return None


def _gif_decode_span(blob: bytes, start: int, end: int, palette, gct_len, n_px):
    """LZW-decode one frame's sub-block span → integer luma sum, None for
    a corrupt stream (bad code, exhausted bits, wrong pixel count) — the
    decoder family's never-raise contract."""
    try:
        mcs = blob[start]
        lzw = bytearray()
        pos = start + 1
        while blob[pos] != 0:
            n = blob[pos]
            lzw += blob[pos + 1 : pos + 1 + n]
            pos += 1 + n
        indices = _lzw_decode_gif(bytes(lzw), mcs)
    except (IndexError, ValueError, struct.error):
        return None
    if len(indices) != n_px:
        return None
    try:
        return _gif_lut_sum(indices, palette, gct_len)
    except IndexError:  # LZW emitted an index past the palette: corrupt
        return None


def sample_gif_frames(blob: bytes, every_ms: int):
    """Frame sampling with selective decode: index the container, lay the
    frame clock (cumulative GCE delays), take timestamps 0, every_ms, …
    strictly below the total duration, and LZW-decode ONLY the frames
    those timestamps land in. Returns a list of
    (sample_ts_ms, frame_idx, luma_sum, n_px) rows, or None when the
    blob is out of profile. Exact integers throughout (luma is the
    Rec.601 integer LUT over the palette — mean = sum / (1000·n_px))."""
    if every_ms <= 0:
        # a non-positive stride would spin the sampling loop forever on
        # an executor — reject at the call, never inside a task
        raise ValueError(f"every_ms must be positive, got {every_ms}")
    idx = gif_frame_index(blob)
    if idx is None:
        return None
    sw, sh, frames = idx
    flags = struct.unpack("<HHBBB", blob[6:13])[2]
    gct_len = 2 << (flags & 0x07)
    palette = blob[13 : 13 + 3 * gct_len]
    # frame clock: frame k covers [starts[k], starts[k] + delay_k)
    starts, t = [], 0
    for delay_ms, _s, _e in frames:
        starts.append(t)
        t += delay_ms
    total = t
    # map each sample timestamp to its frame (linear scan is fine: frame
    # counts per blob are small; numpy searchsorted would fit here too)
    wanted: dict[int, list[int]] = {}
    ts = 0
    while ts < total:
        k = 0
        while k + 1 < len(frames) and starts[k + 1] <= ts:
            k += 1
        wanted.setdefault(k, []).append(ts)
        ts += every_ms
    out = []
    n_px = sw * sh
    for k in sorted(wanted):
        _d, s, e = frames[k]
        luma = _gif_decode_span(blob, s, e, palette, gct_len, n_px)
        if luma is None:
            return None
        for ts in wanted[k]:
            out.append((ts, k, luma, n_px))
    out.sort()
    return out


FRAME_SAMPLES = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_ts_ms", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("luma_sum", T.LongType()),
        T.StructField("n_px", T.LongType()),
    ]
)


def frame_sample_features(
    df: DataFrame,
    every_ms: int,
    id_col: str = "doc_id",
    binary_col: str = "media",
) -> DataFrame:
    """binary animated-GIF column → one row per sampled timestamp with
    the REAL decoded luma of the frame on screen at that instant, via
    Arrow-batched mapInPandas (blob never leaves its task). Frames no
    sample lands in are never pixel-decoded — the operator's cost is
    O(sampled frames), not O(container frames), which is the property
    that matters when the sampling stride is long relative to the frame
    rate. Out-of-profile blobs contribute no rows (profile is explicit
    in gif_frame_index — never a fake)."""
    if every_ms <= 0:  # fail at PLAN time, not inside a task
        raise ValueError(f"every_ms must be positive, got {every_ms}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {n: [] for n in FRAME_SAMPLES.names}
            for i, b in zip(pdf[id_col].astype("int64"), pdf[binary_col]):
                # NULL blob = out of profile: contributes no rows
                samples = (
                    None if b is None else sample_gif_frames(bytes(b), every_ms)
                )
                for ts, k, luma, n_px in samples or ():
                    rows["doc_id"].append(int(i))
                    rows["sample_ts_ms"].append(ts)
                    rows["frame_idx"].append(k)
                    rows["luma_sum"].append(luma)
                    rows["n_px"].append(n_px)
            yield pd.DataFrame(
                {n: pd.Series(v, dtype="int64") for n, v in rows.items()}
            )

    return df.select(id_col, binary_col).mapInPandas(batches, FRAME_SAMPLES)


# -- video: real RIFF/AVI container with MJPEG frames (public formats:
# AVI RIFF per the Microsoft 'AVI RIFF File Reference'; frames are the
# module's own spec-valid baseline JPEGs) -----------------------------------


def make_avi_mjpeg(width: int, height: int, us_per_frame: int,
                   jpeg_frames: list) -> bytes:
    """Spec-valid AVI container around ready-made MJPEG (baseline JPEG)
    frames (r15, VERDICT r14 item 5): RIFF('AVI ') with a hdrl LIST
    (avih main header + one 'vids'/'MJPG' stream: strh + BITMAPINFOHEADER
    strf), a movi LIST of word-aligned '00dc' chunks, and an idx1 index.
    Composes the module's two existing real halves — the RIFF chunk
    grammar (the WAV path) and the baseline JPEG encoder — into the
    missing video member of the multimodal family."""

    def chunk(tag: bytes, payload: bytes) -> bytes:
        # RIFF word alignment: declared size stays exact, a pad byte
        # follows odd payloads (same rule the WAV writer exercises)
        pad = b"\x00" if len(payload) % 2 else b""
        return tag + struct.pack("<I", len(payload)) + payload + pad

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    n = len(jpeg_frames)
    max_bytes = max((len(f) for f in jpeg_frames), default=0)
    avih = chunk(b"avih", struct.pack(
        "<10I",
        us_per_frame,          # dwMicroSecPerFrame
        0,                     # dwMaxBytesPerSec (informational)
        0,                     # dwPaddingGranularity
        0x10,                  # dwFlags: AVIF_HASINDEX
        n,                     # dwTotalFrames
        0, 1,                  # dwInitialFrames, dwStreams
        max_bytes,             # dwSuggestedBufferSize
        width, height,
    ) + b"\x00" * 16)          # dwReserved[4]
    strh = chunk(b"strh", struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"MJPG",
        0,                     # dwFlags
        0, 0,                  # wPriority, wLanguage
        0,                     # dwInitialFrames
        us_per_frame, 1_000_000,  # dwScale/dwRate = frames per second
        0, n,                  # dwStart, dwLength (frames)
        max_bytes, 0xFFFFFFFF, # dwSuggestedBufferSize, dwQuality
        0,                     # dwSampleSize (0: one sample per chunk)
        0, 0, width, height,   # rcFrame
    ))
    strf = chunk(b"strf", struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    ))
    hdrl = lst(b"hdrl", avih + lst(b"strl", strh + strf))
    movi_payload = b"movi"
    offsets = []  # idx1 offsets are relative to the 'movi' fourcc start
    for f in jpeg_frames:
        offsets.append((len(movi_payload) - 4, len(f)))
        movi_payload += chunk(b"00dc", bytes(f))
    movi = chunk(b"LIST", movi_payload)
    idx1 = chunk(b"idx1", b"".join(
        b"00dc" + struct.pack("<III", 0x10, off, size)
        for off, size in offsets
    ))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_mjpeg_index(blob: bytes):
    """Real RIFF walk of an AVI: (us_per_frame, width, height,
    [(frame_offset, frame_size), ...]) for the in-profile case —
    RIFF('AVI ') with an avih header and a movi LIST of '00dc' MJPEG
    chunks — None otherwise (wrong magic, truncated, no video chunks).
    INDEXING ONLY: frame payloads are located, never decoded — the
    selective-decode property rides on this split (sample_avi_frames
    decodes just the frames the clock lands in). The movi chunks are the
    ground truth (idx1 is advisory and absent in capture-in-progress
    files, so it is not required)."""
    try:
        if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
            return None
        us_per_frame = width = height = None
        frames: list = []
        end0 = min(len(blob), 8 + struct.unpack("<I", blob[4:8])[0])
        # ITERATIVE walk (r15 review: a hostile blob of thousands of
        # nested LIST headers blows the recursion limit, and
        # RecursionError escapes the never-raise contract). Each stack
        # entry strictly advances pos, so total work is O(len(blob)).
        stack = [(12, end0)]
        while stack:
            pos, end = stack.pop()
            while pos + 8 <= end:
                tag = blob[pos : pos + 4]
                size = struct.unpack("<I", blob[pos + 4 : pos + 8])[0]
                data_start = pos + 8
                data_end = min(data_start + size, end)
                if tag == b"LIST":
                    # resume the current level after the list, then
                    # descend (skip the 4-byte list kind)
                    stack.append((data_start + size + (size % 2), end))
                    pos, end = data_start + 4, data_end
                    continue
                if tag == b"avih" and size >= 40:
                    hdr = struct.unpack("<10I", blob[data_start : data_start + 40])
                    us_per_frame, width, height = hdr[0], hdr[8], hdr[9]
                elif tag[2:4] == b"dc":  # ##dc: compressed video frame
                    frames.append((data_start, size))
                pos = data_start + size + (size % 2)  # word alignment
        if not us_per_frame or not frames:
            return None
        return us_per_frame, width, height, frames
    except (struct.error, IndexError):
        return None


def sample_avi_frames(blob: bytes, every_ms: int):
    """MJPEG/AVI frame sampling with selective decode — the video twin of
    sample_gif_frames: index the container, lay the frame clock from
    dwMicroSecPerFrame, take timestamps 0, every_ms, … strictly below the
    total duration, and JPEG-decode ONLY the frames those timestamps land
    in (jpeg_gray_luma_sum over the frame's byte slice; a frame no sample
    hits never pays entropy decode). Returns
    [(sample_ts_ms, frame_idx, luma_sum, n_px), ...] or None when the
    blob is out of profile."""
    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms}")
    idx = avi_mjpeg_index(blob)
    if idx is None:
        return None
    us_per_frame, _w, _h, frames = idx
    frame_ms = us_per_frame / 1000.0
    total_ms = frame_ms * len(frames)
    # the sample count is driven by the ATTACKER-CONTROLLED avih header,
    # not blob size (r15 review): dwMicroSecPerFrame=0xFFFFFFFF over a
    # few thousand fake chunks yields billions of loop iterations before
    # any decode. A header whose clock implies more samples than this
    # generous per-blob bound is out of profile — None, like any other
    # malformed container.
    if total_ms / every_ms > 65536:
        return None
    wanted: dict[int, list[int]] = {}
    ts = 0
    while ts < total_ms:
        k = min(int(ts * 1000 // us_per_frame), len(frames) - 1)
        wanted.setdefault(k, []).append(ts)
        ts += every_ms
    out = []
    for k in sorted(wanted):
        off, size = frames[k]
        decoded = jpeg_gray_luma_sum(blob[off : off + size])
        if decoded is None:
            return None
        luma, n_px = decoded
        for ts in wanted[k]:
            out.append((ts, k, luma, n_px))
    out.sort()
    return out


def synthesize_avi_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id) → (doc_id, media): the closed-form MJPEG/AVI test corpus —
    bw/bh/nf block-grid and frame count from doc_id residues (Python %,
    non-negative), each frame a DC-only baseline JPEG whose every pixel
    decodes to exactly dc+128 with dc = (doc_id·7 + frame·19 + block·13)
    % 201 − 100. The ONE generator shared by the gated query
    (plans.extensions.ext_multimodal_video) and its DuckDB oracle's
    closed-form (which replays these residues — sign-normalized there);
    r15 VERDICT flagged a perf harness's hand-copy as drift risk
    (PERF.md "r15 sf10 scale rows")."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            blobs = []
            for d in ids:
                d = int(d)
                bw, bh = d % 3 + 1, d % 2 + 1
                nf = d % 4 + 2
                frames = [
                    make_jpeg_gray_dc(
                        bw * 8, bh * 8,
                        [((d * 7 + f * 19 + b * 13) % 201) - 100
                         for b in range(bw * bh)],
                    )
                    for f in range(nf)
                ]
                blobs.append(make_avi_mjpeg(bw * 8, bh * 8, 50_000, frames))
            yield pd.DataFrame({"doc_id": ids, "media": blobs})

    return docs.mapInPandas(gen, "doc_id long, media binary")


def video_sample_features(
    df: DataFrame,
    every_ms: int,
    id_col: str = "doc_id",
    binary_col: str = "media",
) -> DataFrame:
    """binary MJPEG/AVI column → one row per sampled timestamp with the
    REAL decoded luma of the frame on screen at that instant — the video
    member of the multimodal family (same schema and mapInPandas shape
    as frame_sample_features; blob never leaves its task; cost is
    O(sampled frames), not O(container frames))."""
    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {n: [] for n in FRAME_SAMPLES.names}
            for i, b in zip(pdf[id_col].astype("int64"), pdf[binary_col]):
                samples = (
                    None if b is None else sample_avi_frames(bytes(b), every_ms)
                )
                for ts, k, luma, n_px in samples or ():
                    rows["doc_id"].append(int(i))
                    rows["sample_ts_ms"].append(ts)
                    rows["frame_idx"].append(k)
                    rows["luma_sum"].append(luma)
                    rows["n_px"].append(n_px)
            yield pd.DataFrame(
                {n: pd.Series(v, dtype="int64") for n, v in rows.items()}
            )

    return df.select(id_col, binary_col).mapInPandas(batches, FRAME_SAMPLES)

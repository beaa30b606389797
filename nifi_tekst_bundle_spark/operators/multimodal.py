"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The reference treats page images as opaque files with typed metadata
(JHOVE extracts width/height/checksum — JhoveParser.kt:29-156); the engine
treats media as ``binary`` columns with a typed metadata struct, processed
by Arrow-batched pandas stages over ``mapInPandas``.

Decode strategy (degrades gracefully, never hard-fails at import):

- ``decode_stub=True`` → a deterministic fake decode whose dimensions
  derive from the payload's md5 digest — stable across replays, zero
  external deps, and bit-for-bit reproducible by a SQL oracle
  (('0x' || substr(md5(payload), 1, 2))::INT is digest byte 0), so the
  whole mapInPandas pipeline gets a driver-checked CORRECTNESS row
  (catalog.q_media_features);
- ``decode_stub=False`` → real decode. Images go through PIL when it is
  installed (optional import, probed at module load); without PIL a
  built-in pure-python header decoder handles PNG (IHDR) and BMP
  (BITMAPINFOHEADER) — real bytes, real dimensions, zero dependencies.
  Audio decodes WAV headers (RIFF/fmt/data → sample-frame count) the same
  way; video: YUV4MPEG2 offset walk. Unrecognized byte layouts
  (compressed codecs) raise NotImplementedError naming what is needed
  (ffmpeg) — loud, not silent.
"""

from __future__ import annotations

import hashlib
import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # optional dependency probe — never a hard requirement
    from PIL import Image as _PILImage  # type: ignore

    HAVE_PIL = True
except ImportError:
    _PILImage = None
    HAVE_PIL = False

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("checksum", T.StringType(), True),  # md5 hex (P4)
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]
)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _parse_png(payload: bytes):
    """Width/height from a PNG's IHDR chunk (always the first chunk per
    the PNG spec) — an 8-byte magic + 4-byte length + 'IHDR' + two
    big-endian uint32s. Pure header read; no pixel decode."""
    if len(payload) < 24 or payload[:8] != _PNG_MAGIC or payload[12:16] != b"IHDR":
        return None
    w = int.from_bytes(payload[16:20], "big")
    h = int.from_bytes(payload[20:24], "big")
    return (w, h, 1) if w > 0 and h > 0 else None


def _parse_bmp(payload: bytes):
    """Width/height from a BMP BITMAPINFOHEADER (int32 LE at offsets
    18/22; height may be negative for top-down rows)."""
    if len(payload) < 26 or payload[:2] != b"BM":
        return None
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = abs(int.from_bytes(payload[22:26], "little", signed=True))
    return (w, h, 1) if w > 0 and h > 0 else None


def _parse_wav(payload: bytes):
    """(channels as width, sample-rate/1000 as height, sample frames) from
    a RIFF/WAVE header: walk chunks for 'fmt ' (channels, rate, block
    align) and 'data' (byte size → frame count)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, channels, rate, block_align, n_frames = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        # the fmt body read below reaches payload[pos+22); require the
        # full span so a truncated fmt chunk returns None (loud), never a
        # zero block_align from silently-empty slices
        if cid == b"fmt " and pos + 22 <= len(payload):
            channels = int.from_bytes(payload[pos + 10:pos + 12], "little")
            rate = int.from_bytes(payload[pos + 12:pos + 16], "little")
            block_align = int.from_bytes(payload[pos + 20:pos + 22], "little")
        elif cid == b"data" and block_align:
            n_frames = size // block_align
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if channels and rate:
        return channels, rate // 1000, n_frames or 0
    return None


def _parse_y4m(payload: bytes):
    """(width, height, n_frames) from an uncompressed YUV4MPEG2 stream:
    a text stream header ('YUV4MPEG2 W.. H.. [C..] ...\\n') followed by
    'FRAME[ params]\\n' + raw planar YUV per frame. Frame byte size is
    fixed by W×H×(colorspace multiplier), so counting frames is a pure
    offset walk — no pixel decode, no codec."""
    if not payload.startswith(b"YUV4MPEG2 "):
        return None
    nl = payload.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    cs = b"420"
    for tok in payload[10:nl].split(b" "):
        if tok[:1] == b"W":
            w = int(tok[1:] or 0)
        elif tok[:1] == b"H":
            h = int(tok[1:] or 0)
        elif tok[:1] == b"C":
            cs = tok[1:4]
    if not w or not h:
        return None
    # bytes per frame = W*H * {4:2:0 -> 1.5, 4:2:2 -> 2, 4:4:4 -> 3}
    mult = {b"420": 3, b"422": 4, b"444": 6}.get(cs, 3)
    fsize = w * h * mult // 2
    pos, n = nl + 1, 0
    while payload[pos:pos + 5] == b"FRAME":
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or fnl + 1 + fsize > len(payload):
            break
        pos = fnl + 1 + fsize
        n += 1
    return (w, h, n) if n > 0 else None


def _decode_real(kind: str, payload: bytes):
    """Real decode. Images: PIL when installed, else the pure-python
    PNG/BMP header decoders; audio: WAV header walk; video: YUV4MPEG2
    offset walk. Anything else (or an unrecognized byte layout) raises a
    NotImplementedError naming what is needed — loud, not silent."""
    if kind == "image":
        if HAVE_PIL:
            img = _PILImage.open(io.BytesIO(payload or b""))
            return img.width, img.height, 1
        parsed = _parse_png(payload or b"") or _parse_bmp(payload or b"")
        if parsed:
            return parsed
        raise NotImplementedError(
            "real image decode: payload is neither PNG nor BMP and PIL is "
            "not installed; run with decode_stub=True for the plumbing path"
        )
    if kind == "audio":
        parsed = _parse_wav(payload or b"")
        if parsed:
            return parsed
        raise NotImplementedError(
            "real audio decode: payload is not RIFF/WAVE (other codecs "
            "need librosa/ffmpeg, which is not installed)"
        )
    if kind == "video":
        parsed = _parse_y4m(payload or b"")
        if parsed:
            return parsed
        raise NotImplementedError(
            "real video decode: payload is not YUV4MPEG2 (compressed "
            "codecs need ffmpeg, which is not installed)"
        )
    raise NotImplementedError(
        f"real {kind} decode is not supported; "
        "run with decode_stub=True for the deterministic plumbing path"
    )


def _decode_fake(kind: str, payload: bytes):
    """Deterministic fake decode: dimensions derived from the payload's
    md5 digest — stable across replays, reproducible in SQL."""
    h = hashlib.md5(payload or b"").digest()
    w = 64 + h[0]
    ht = 64 + h[1]
    frames = 1 if kind == "image" else 1 + h[2]
    return w, ht, frames


def extract_features(df: DataFrame, decode_stub: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over binary media columns.

    mapInPandas keeps whole Arrow record batches in flight (no per-row
    Python calls into Spark); partitioning of the input is preserved, so at
    scale this runs embarrassingly parallel over the scan.
    """
    decode = _decode_fake if decode_stub else _decode_real

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            kinds = pdf["kind"]
            dims = [decode(k, p) for k, p in zip(kinds, payloads)]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": kinds,
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else 0),
                    "checksum": payloads.map(
                        lambda b: hashlib.md5(b or b"").hexdigest()
                    ),
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "n_frames": [d[2] for d in dims],
                }
            )

    return df.mapInPandas(run, schema=FEATURES_SCHEMA)


# ------------------------------------------------------- perceptual hashing


def _parse_bmp_pixels(payload: bytes):
    """Grayscale pixel rows from an uncompressed 24bpp BMP (the only BMP
    flavor the pure-python path decodes): pixel-array offset from the
    file header, BGR triples, rows padded to 4 bytes, bottom-up unless
    height is negative. Gray = R+G+B (sum — monotone-equivalent to the
    mean for hash comparisons, no division rounding)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h_raw = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if w <= 0 or h_raw == 0 or bpp != 24 or comp != 0:
        return None
    h = abs(h_raw)
    stride = (w * 3 + 3) & ~3
    if off + stride * h > len(payload):
        return None
    rows = []
    for row in range(h):
        src = h - 1 - row if h_raw > 0 else row  # bottom-up storage
        base = off + src * stride
        rows.append(
            [
                payload[base + 3 * c]
                + payload[base + 3 * c + 1]
                + payload[base + 3 * c + 2]
                for c in range(w)
            ]
        )
    return w, h, rows


def _parse_png_pixels(payload: bytes):
    """Grayscale pixel rows from an 8-bit PNG (gray / gray+alpha / RGB /
    RGBA, no interlace): concatenate IDAT, zlib-inflate, undo per-row
    filters (types 0-4 per the PNG spec), sum the color channels. Pure
    python + zlib — no image library needed."""
    import zlib

    hdr = _parse_png(payload or b"")
    if hdr is None:
        return None
    w, h, _ = hdr
    bit_depth = payload[24]
    color_type = payload[25]
    interlace = payload[28]
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if bit_depth != 8 or channels is None or interlace != 0:
        return None
    # walk chunks for IDAT
    pos, idat = 8, b""
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos:pos + 4], "big")
        typ = payload[pos + 4:pos + 8]
        if typ == b"IDAT":
            idat += payload[pos + 8:pos + 8 + ln]
        elif typ == b"IEND":
            break
        pos += 12 + ln
    try:
        raw = zlib.decompress(idat)
    except zlib.error:
        return None
    bpp = channels
    stride = w * channels
    if len(raw) < h * (stride + 1):
        return None
    rows, prev = [], bytearray(stride)
    p = 0
    for _row in range(h):
        ftype = raw[p]
        line = bytearray(raw[p + 1:p + 1 + stride])
        p += 1 + stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            return None
        prev = line
        n_color = 1 if color_type in (0, 4) else 3
        rows.append(
            [
                sum(line[c * channels:c * channels + n_color]) * (3 // n_color)
                for c in range(w)
            ]
        )
    return w, h, rows


def _pool_grid(rows, w: int, h: int, out_r: int = 8, out_c: int = 9):
    """Average-pool a grayscale pixel grid to out_r × out_c cells (the
    dHash downscale). Requires at least out_c × out_r pixels."""
    if w < out_c or h < out_r:
        raise NotImplementedError(
            f"image_phash: image {w}x{h} smaller than the {out_c}x{out_r} "
            "hash grid"
        )
    grid = []
    for i in range(out_r):
        r0, r1 = i * h // out_r, (i + 1) * h // out_r
        grid_row = []
        for j in range(out_c):
            c0, c1 = j * w // out_c, (j + 1) * w // out_c
            total = 0
            for r in range(r0, r1):
                row = rows[r]
                for c in range(c0, c1):
                    total += row[c]
            grid_row.append(total / ((r1 - r0) * (c1 - c0)))
        grid.append(grid_row)
    return grid


def _gray_grid_stub(payload: bytes):
    """Deterministic fake 8×9 grayscale grid: payload-PREFIX-AS-PIXELS —
    cell (r, c) is payload byte (r*9+c) mod len (0 for empty). Chosen
    over an md5-derived grid deliberately: a hash grid decorrelates
    near-identical payloads (every near-dup lands at Hamming ~32, the
    pair join goes vacuous), while prefix-as-pixels behaves like a real
    decode — small payload edits flip few cells, near-identical payloads
    land at small Hamming distance — so the stub-mode oracle row
    exercises the SAME near-dup dataflow the real pixel path serves.
    Reproducible in SQL via to_hex(encode(text)) byte slicing."""
    b = payload or b""
    n = len(b)
    if n == 0:
        return [[0] * 9 for _ in range(8)]
    return [[b[(r * 9 + c) % n] for c in range(9)] for r in range(8)]


def _gray_grid_real(payload: bytes):
    """Real pixel decode → pooled 8×9 grid. PIL when installed, else the
    pure-python PNG/BMP pixel decoders. Unrecognized layouts raise."""
    if HAVE_PIL:
        img = _PILImage.open(io.BytesIO(payload or b"")).convert("L")
        w, h = img.width, img.height
        px = list(img.getdata())
        rows = [
            [px[r * w + c] * 3 for c in range(w)] for r in range(h)
        ]
        return _pool_grid(rows, w, h)
    parsed = _parse_png_pixels(payload or b"") or _parse_bmp_pixels(
        payload or b""
    )
    if parsed is None:
        raise NotImplementedError(
            "image_phash real decode: payload is neither 8-bit PNG nor "
            "uncompressed 24bpp BMP and PIL is not installed; use "
            "decode_stub=True for the plumbing path"
        )
    w, h, rows = parsed
    return _pool_grid(rows, w, h)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("phash_bits", T.StringType(), True),
    ]
)


def image_phash(df: DataFrame, decode_stub: bool = False) -> DataFrame:
    """Difference-hash (dHash) over decoded image pixels — the image
    analogue of simhash for near-duplicate detection (VERDICT r4 #7):
    downscale to an 8×9 grayscale grid, emit bit (r, c) = 1 iff
    grid[r][c] < grid[r][c+1] — 64 gradient-sign bits robust to
    rescaling, recompression and small edits. Output: (media_id,
    phash_bits) with phash_bits a 64-char '0'/'1' string, ready for the
    banded Hamming pair join (:func:`phash_near_dups`).

    Arrow-batched ``mapInPandas`` like :func:`extract_features` — the
    decode runs inside the scan, embarrassingly parallel, no per-row
    Python↔JVM calls. ``decode_stub=True`` swaps the pixel decode for
    the payload-prefix-as-pixels fake (:func:`_gray_grid_stub`) so the
    whole plumbing is SQL-reproducible and driver-checked
    (catalog.media_phash_pairs);
    the real path (PIL, or the built-in pure-python PNG/BMP pixel
    decoders) is pinned by pytest on real image bytes."""

    def _bits(grid) -> str:
        return "".join(
            "1" if grid[r][c] < grid[r][c + 1] else "0"
            for r in range(8)
            for c in range(8)
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            grids = [
                _gray_grid_stub(p) if decode_stub else _gray_grid_real(p)
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash_bits": [_bits(g) for g in grids],
                }
            )

    return df.mapInPandas(run, schema=PHASH_SCHEMA)


def phash_near_dups(
    sig: DataFrame,
    id_col: str = "media_id",
    bits_col: str = "phash_bits",
    n_bands: int = 4,
    max_hamming: int = 8,
) -> DataFrame:
    """Banded Hamming pairs over dHash bit strings — the simhash_near_dups
    banding transposed to the image hash: two images within ``max_hamming``
    differing bits must agree exactly on at least one of ``n_bands``
    16-bit bands whenever max_hamming < n_bands (pigeonhole), so
    candidates come from ``n_bands`` equi-joins on (band_idx, band_bits)
    — never an all-pairs comparison — and the exact Hamming distance is
    verified only inside buckets. Output (id_a, id_b, hamming),
    id_a < id_b, distinct. ``n_bands`` must divide 64, so the bands cover
    every bit."""
    if n_bands < 1 or 64 % n_bands:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    width = 64 // n_bands
    bands = sig.select(
        F.col(id_col),
        F.col(bits_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.substring(
                            F.col(bits_col), b * width + 1, width
                        ).alias("band_bits"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, bits_col, "b.band_idx", "b.band_bits")
    a = bands.select(
        F.col(id_col).alias("id_a"),
        F.col(bits_col).alias("bits_a"),
        "band_idx",
        "band_bits",
    )
    b = bands.select(
        F.col(id_col).alias("id_b"),
        F.col(bits_col).alias("bits_b"),
        "band_idx",
        "band_bits",
    )
    ham = F.expr(
        "size(filter(sequence(1, 64), "
        "i -> substring(bits_a, i, 1) <> substring(bits_b, i, 1)))"
    )
    return (
        a.join(b, ["band_idx", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def frame_sample(df: DataFrame, every_n: int = 2, decode_stub: bool = False) -> DataFrame:
    """Frame sampling for video rows: one output row per sampled frame
    index (expands via the decoded frame count)."""
    feats = extract_features(df.filter(F.col("kind") == "video"), decode_stub)
    return feats.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )

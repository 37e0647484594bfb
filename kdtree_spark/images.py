"""Image + caption payload: the BASELINE.json input table
(image_id string, bytes binary, w int, h int, fmt string,
 caption string, phash bigint)
synthesized deterministically at small scale, with real Spark plumbing —
generation, decode, feature-extraction and perceptual-hash kernels all
run as vectorized numpy inside mapInPandas over Arrow batches.

Codecs: 'raw' (packed RGB), 'rawz' (zlib-compressed RGB) and 'png'
(pure-stdlib encoder/decoder below — PNG is just zlib + per-scanline
filters + CRC chunks) are real and lossless (decoded-pixel PSNR is
infinite >= 40 dB by construction). 'jpeg' is a real baseline DCT
codec too (jpeg.py — pure numpy/stdlib ITU-T T.81 sequential, 4:4:4,
Annex K tables), the graft's lossy path: decode_features' psnr_db >=
40 dB gate is a true lossy-codec invariant for jpeg rows. The
synthesized table keeps its raw/rawz fmt split (frozen with the DuckDB
oracles); png and jpeg ride the same decode/feature/resize paths,
tested separately (tests/test_jpeg.py).

Spatial link (the raster<->vector story of BASELINE.json): every image
carries a deterministic centroid (cx, cy) in the kd-tree coordinate
domain [0, 1e6)^2, derived arithmetically from its id — so image rows
are points, the two-level index built over them answers kNN/range over
images, and the arithmetic is reproducible in the DuckDB oracle.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index import _rescan_changed_zips_only

IMAGE_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
                "caption string, phash long")

LOSSLESS_FMTS = ("raw", "rawz", "png")
LOSSY_FMTS = ("jpeg",)   # real codec; decoded pixels gate at PSNR >= 40 dB

# centroid derivation (same text in Spark SQL and DuckDB; % on
# non-negative operands agrees across engines)
CX_SQL = "((doc_id * 2654435761 + 977) % 1000000)"
CY_SQL = "((doc_id * 2246822519 + 3253) % 1000000)"
# w/h derive from the caption (like the pixels) so duplicate captions
# produce byte-identical images; still pure SQL arithmetic for oracles
W_SQL = "(16 + (length(text) * 40503) % 17)"
H_SQL = "(16 + (length(text) * 65521) % 17)"


# ----------------------------------------------------------------- codecs

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    import struct
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def _png_encode(px: np.ndarray) -> bytes:
    """Minimal standards-conformant PNG writer: 8-bit truecolor
    (color type 2), filter 0 on every scanline, no interlace. Readable
    by any PNG decoder."""
    import struct
    h, w, _ = px.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # filter byte 0 prepended per scanline
    rows = np.empty((h, 1 + w * 3), np.uint8)
    rows[:, 0] = 0
    rows[:, 1:] = px.reshape(h, w * 3)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(rows.tobytes(), 6))
            + _png_chunk(b"IEND", b""))


def _png_defilter(raw: bytes, h: int, stride: int, bpp: int) -> bytearray:
    """Reverse the five PNG scanline filters (spec §6). Filters 0/2 are
    numpy-vectorized; 1/3/4 carry a true left-to-right data dependency,
    so they run as per-byte loops over one scanline (codec-local cost,
    bounded by image width — not a Spark hot-path kernel)."""
    out = bytearray(h * stride)
    prev = bytearray(stride)
    pos = 0
    for y in range(h):
        f = raw[pos]
        line = bytearray(raw[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        if f == 0:
            pass
        elif f == 2:      # Up
            line = bytearray((np.frombuffer(bytes(line), np.uint8)
                              + np.frombuffer(bytes(prev), np.uint8))
                             .astype(np.uint8).tobytes())
        elif f == 1:      # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif f == 3:      # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:      # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        else:
            raise ValueError(f"bad PNG filter byte {f}")
        out[y * stride:(y + 1) * stride] = line
        prev = line
    return out


def _png_decode(data: bytes) -> np.ndarray:
    """Decode 8-bit gray / RGB / RGBA PNG (no interlace) to (h, w, 3)."""
    import struct
    try:
        return _png_decode_impl(data)
    except (struct.error, IndexError):
        raise ValueError("corrupt PNG stream") from None


def _png_decode_impl(data: bytes) -> np.ndarray:
    import struct
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG stream")
    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(data):
        ln, tag = struct.unpack(">I4s", data[pos:pos + 8])
        payload = data[pos + 8:pos + 8 + ln]
        if (zlib.crc32(tag + payload) & 0xFFFFFFFF) != struct.unpack(
                ">I", data[pos + 8 + ln:pos + 12 + ln])[0]:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, comp, filt, inter = ihdr
    if depth != 8 or comp != 0 or filt != 0:
        raise NotImplementedError(
            f"PNG bit depth {depth}/compression {comp} unsupported")
    if inter != 0:
        raise NotImplementedError("Adam7-interlaced PNG unsupported")
    nch = {0: 1, 2: 3, 6: 4}.get(ctype)
    if nch is None:
        raise NotImplementedError(f"PNG color type {ctype} unsupported")
    raw = zlib.decompress(b"".join(idat))
    stride = w * nch
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG pixel payload size mismatch")
    px = (np.frombuffer(bytes(_png_defilter(raw, h, stride, nch)), np.uint8)
          .reshape(h, w, nch))
    if nch == 1:
        px = np.repeat(px, 3, axis=2)
    elif nch == 4:
        px = px[:, :, :3]
    return px


def encode_pixels(px: np.ndarray, fmt: str) -> bytes:
    """px: (h, w, 3) uint8 -> bytes in the given format."""
    if fmt == "png":
        return _png_encode(px)
    if fmt == "jpeg":
        from . import jpeg
        return jpeg.encode(px)
    raw = px.tobytes()
    if fmt == "raw":
        return raw
    if fmt == "rawz":
        return zlib.compress(raw, 6)
    raise NotImplementedError(
        f"codec '{fmt}' not available in this environment (stub)")


def decode_pixels(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """bytes -> (h, w, 3) uint8. Lossless for raw/rawz/png."""
    if fmt == "png":
        px = _png_decode(bytes(data))
        if px.shape[:2] != (h, w):
            raise ValueError(f"PNG is {px.shape[1]}x{px.shape[0]}, "
                             f"metadata says {w}x{h}")
        return px
    if fmt == "jpeg":
        from . import jpeg
        px = jpeg.decode(bytes(data))
        if px.shape[:2] != (h, w):
            raise ValueError(f"JPEG is {px.shape[1]}x{px.shape[0]}, "
                             f"metadata says {w}x{h}")
        return px
    if fmt == "raw":
        buf = data
    elif fmt == "rawz":
        buf = zlib.decompress(data)
    else:
        raise NotImplementedError(
            f"codec '{fmt}' not available in this environment (stub)")
    return np.frombuffer(buf, np.uint8).reshape(h, w, 3)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf when identical)."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0 else 20 * np.log10(255.0 / np.sqrt(mse))


def ssim(a: np.ndarray, b: np.ndarray, win: int = 8) -> float:
    """Mean structural similarity (Wang et al. 2004) over luma, with
    non-overlapping win x win windows and the standard constants
    (K1=0.01, K2=0.03, L=255). Pure vectorized numpy; 1.0 iff
    identical. The PSNR companion for decoded-tile quality checks."""
    if a.shape != b.shape:
        raise ValueError(f"shape mismatch {a.shape} vs {b.shape}")
    x = a.astype(np.float64).mean(axis=2) if a.ndim == 3 else \
        a.astype(np.float64)
    y = b.astype(np.float64).mean(axis=2) if b.ndim == 3 else \
        b.astype(np.float64)
    h, w = x.shape
    wh, ww = max(1, min(win, h)), max(1, min(win, w))
    hh, wt = (h // wh) * wh, (w // ww) * ww
    if hh == 0 or wt == 0:
        raise ValueError("image smaller than one SSIM window")

    def tiles(p):
        return (p[:hh, :wt].reshape(hh // wh, wh, wt // ww, ww)
                .transpose(0, 2, 1, 3).reshape(-1, wh * ww))

    tx, ty = tiles(x), tiles(y)
    mx, my = tx.mean(axis=1), ty.mean(axis=1)
    dx, dy = tx - mx[:, None], ty - my[:, None]
    # centered two-pass moments: numerically stable, exactly 1.0 on
    # identical inputs (the one-pass E[xy]-mx*my form is not)
    vx, vy = (dx * dx).mean(axis=1), (dy * dy).mean(axis=1)
    cov = (dx * dy).mean(axis=1)
    c1, c2 = (0.01 * 255) ** 2, (0.03 * 255) ** 2
    s = (((2 * mx * my + c1) * (2 * cov + c2))
         / ((mx * mx + my * my + c1) * (vx + vy + c2)))
    return float(s.mean())


def phash64(px: np.ndarray) -> int:
    """64-bit perceptual hash: 8x8 block-mean grayscale, threshold at the
    global mean, row-major bit pack. Deterministic pure-numpy."""
    gray = px.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    blocks = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            blocks[i, j] = gray[ys[i]:ys[i + 1], xs[j]:xs[j + 1]].mean()
    bits = (blocks >= blocks.mean()).ravel()
    return int((bits.astype(np.uint64)
                << np.arange(64, dtype=np.uint64)).sum().astype(np.int64))


def content_seed(caption: str) -> int:
    """Image content is keyed by the CAPTION hash, not the row id — so
    duplicate captions yield byte-identical pixels and phash-0 pairs,
    making pixel-level dedup consistent with text-level dedup."""
    import hashlib
    return int(hashlib.md5(caption.encode()).hexdigest()[:14], 16)


def render_pixels(seed: int, w: int, h: int) -> np.ndarray:
    """Deterministic pixels: a per-image random 4x4 low-frequency color
    field, nearest-upsampled, plus fine noise. Low-frequency content
    makes phash discriminative (unrelated images differ in ~half their
    bits); determinism makes every executor reproduce the same image."""
    rng = np.random.default_rng(seed)
    coarse = rng.integers(0, 256, size=(4, 4, 3))
    yi = (np.arange(h) * 4) // h
    xi = (np.arange(w) * 4) // w
    base = coarse[yi][:, xi]
    noise = rng.integers(0, 16, size=(h, w, 3))
    return ((base + noise) % 256).astype(np.uint8)


# ----------------------------------------------------------- table synth

def synth_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input_hint table, derived 1:1 from `documents`: caption is the
    doc text (byte-for-byte), pixels/phash deterministic per doc_id, fmt
    alternates raw/rawz. Generation is a narrow mapInPandas — at 10^12
    rows it parallelizes over input splits with no shuffle."""
    docs = spark.sql(
        f"SELECT doc_id, text, {CX_SQL} AS cx, {CY_SQL} AS cy, "
        f"{W_SQL} AS w, {H_SQL} AS h FROM {{d}}",
        d=spark.read.parquet(f"{sf_dir}/documents.parquet"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _rescan_changed_zips_only()
        for pdf in batches:
            rows = []
            for doc_id, text, cx, cy, w, h in zip(
                    pdf.doc_id, pdf.text, pdf.cx, pdf.cy, pdf.w, pdf.h):
                fmt = "raw" if doc_id % 2 == 0 else "rawz"
                px = render_pixels(content_seed(text), int(w), int(h))
                rows.append((f"img-{doc_id:012d}", encode_pixels(px, fmt),
                             int(w), int(h), fmt, text, phash64(px),
                             int(cx), int(cy)))
            yield pd.DataFrame(rows, columns=[
                "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                "cx", "cy"])

    return docs.mapInPandas(gen, IMAGE_SCHEMA + ", cx long, cy long")


# ------------------------------------------------------- pipeline kernels

FEAT_SCHEMA = ("image_id string, mean_lum double, std_lum double, "
               "phash_check long, psnr_db double")


def decode_features(images: DataFrame) -> DataFrame:
    """Decode every image, recompute phash, measure round-trip PSNR and
    luminance stats — the feature-extraction stage shape (decode ->
    numpy kernel -> narrow output), Arrow-batched, no shuffle."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _rescan_changed_zips_only()
        for pdf in batches:
            out = {k: [] for k in
                   ("image_id", "mean_lum", "std_lum", "phash_check",
                    "psnr_db")}
            for iid, data, w, h, fmt in zip(
                    pdf.image_id, pdf.bytes, pdf.w, pdf.h, pdf.fmt):
                px = decode_pixels(data, fmt, int(w), int(h))
                rt = decode_pixels(encode_pixels(px, fmt), fmt,
                                   int(w), int(h))
                p = psnr(px, rt)
                out["image_id"].append(iid)
                out["mean_lum"].append(float(px.mean()))
                out["std_lum"].append(float(px.std()))
                out["phash_check"].append(phash64(px))
                out["psnr_db"].append(1e9 if p == float("inf") else p)
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        feats, FEAT_SCHEMA)


def resize_images(images: DataFrame, tw: int = 8, th: int = 8) -> DataFrame:
    """Nearest-neighbor thumbnail stage: (image_id, bytes raw thumb)."""

    def rz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _rescan_changed_zips_only()
        for pdf in batches:
            ids, thumbs = [], []
            for iid, data, w, h, fmt in zip(
                    pdf.image_id, pdf.bytes, pdf.w, pdf.h, pdf.fmt):
                px = decode_pixels(data, fmt, int(w), int(h))
                yi = (np.arange(th) * int(h)) // th
                xi = (np.arange(tw) * int(w)) // tw
                ids.append(iid)
                thumbs.append(px[yi][:, xi].tobytes())
            yield pd.DataFrame({"image_id": ids, "bytes": thumbs})

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        rz, "image_id string, bytes binary")


def spatial_phash_pairs(images: DataFrame, r: int,
                        max_hamming: int = 26, grid=None) -> DataFrame:
    """Multimodal near-dup join: image pairs whose CENTROIDS are within
    r in the kd-tree domain AND whose phashes are within max_hamming —
    the raster<->vector cross the graft exists for (spatial blocking
    first, perceptual verify second, both pruning axes composed).

    -> (ia, ib, dist_sq, hamming), ia < ib, each pair once.

    Physical plan: queries/joins.py distance_join on the centroid grid
    (cell-expand equi-join, zero Python, no broadcast requirement)
    carrying each side's phash as payload, then a JVM-side popcount
    filter — at 10^12 images the spatial block cuts the candidate set
    by (pi r^2 / domain^2) before any perceptual work, and no
    phash-table re-join is needed.
    """
    from .queries.joins import distance_join
    a = images.select(F.col("image_id").alias("ia"), "cx", "cy",
                      F.col("phash").alias("pa"))
    b = images.select(F.col("image_id").alias("ib"), "cx", "cy",
                      F.col("phash").alias("pb"))
    pairs = distance_join(a, b, r, grid=grid, coord_cols=("cx", "cy"),
                          left_id="ia", right_id="ib",
                          keep_left=("pa",), keep_right=("pb",))
    return (pairs.filter(F.col("ia") < F.col("ib"))
            .withColumn("hamming",
                        F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
                        .cast("long"))
            .filter(F.col("hamming") <= max_hamming)
            .select("ia", "ib", "dist_sq", "hamming"))


def phash_pairs(images: DataFrame, max_hamming: int = 7) -> DataFrame:
    """Near-duplicate images by phash Hamming distance <= 7 via the
    multi-index join (4 x 16-bit superblocks + single-bit-flip probes,
    pipeline.dedup.hamming_pairs) — lossless by pigeonhole, verified by
    exact popcount. Output (ia, ib, hamming)."""
    from .pipeline.dedup import hamming_pairs
    return hamming_pairs(images.select("image_id", "phash"),
                         "image_id", "phash", 64, max_hamming, "ia", "ib")

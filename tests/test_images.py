"""Image payload invariants (BASELINE input_hint): lossless codec
round-trip with PSNR >= 40 dB, caption byte-equality, phash determinism
across driver and executors, banded phash dedup losslessness."""

from __future__ import annotations

import numpy as np
import pytest


def _ham(a, b):
    return bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1")


from kdtree_spark import images as im


def test_codec_roundtrip_and_psnr():
    px = im.render_pixels(42, 20, 17)
    for fmt in im.LOSSLESS_FMTS:
        back = im.decode_pixels(im.encode_pixels(px, fmt), fmt, 20, 17)
        assert np.array_equal(px, back)
        assert im.psnr(px, back) == float("inf")  # >= 40 dB trivially
    # jpeg is a real (lossy) codec now — >= 40 dB, not bit equality
    for fmt in im.LOSSY_FMTS:
        back = im.decode_pixels(im.encode_pixels(px, fmt), fmt, 20, 17)
        assert im.psnr(px, back) >= 40.0
    # png/jpeg are real codecs; garbage is a format error, not a stub
    with pytest.raises(ValueError, match="not a PNG"):
        im.decode_pixels(b"x", "png", 1, 1)
    with pytest.raises(ValueError, match="not a JPEG"):
        im.decode_pixels(b"x", "jpeg", 1, 1)
    # a codec we truly don't have stays an honest stub
    with pytest.raises(NotImplementedError):
        im.encode_pixels(px, "webp")


def test_render_deterministic():
    assert np.array_equal(im.render_pixels(7, 16, 16),
                          im.render_pixels(7, 16, 16))
    assert not np.array_equal(im.render_pixels(7, 16, 16),
                              im.render_pixels(8, 16, 16))


def test_phash_properties():
    px = im.render_pixels(3, 24, 24)
    assert im.phash64(px) == im.phash64(px.copy())
    # a small perturbation moves few bits; a different image moves many
    near = px.copy()
    near[0, 0] = 255 - near[0, 0]
    d_near = _ham(im.phash64(px), im.phash64(near))
    other = im.render_pixels(999, 24, 24)
    d_far = _ham(im.phash64(px), im.phash64(other))
    assert d_near <= 4
    assert d_far >= d_near


def test_synth_table_contract(spark, sf_dir):
    imgs = im.synth_images(spark, sf_dir)
    pdf = imgs.limit(50).toPandas()
    assert list(pdf.columns) == ["image_id", "bytes", "w", "h", "fmt",
                                 "caption", "phash", "cx", "cy"]
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .toPandas().set_index("doc_id"))
    for _, r in pdf.iterrows():
        doc_id = int(r.image_id.split("-")[1])
        # caption byte-for-byte equality with the source text
        assert r.caption == docs.loc[doc_id, "text"]
        # executor-side pixels reproduce on the driver: phash matches
        px = im.render_pixels(im.content_seed(r.caption), int(r.w), int(r.h))
        assert im.phash64(px) == int(r.phash)
        assert np.array_equal(
            im.decode_pixels(bytes(r.bytes), r.fmt, int(r.w), int(r.h)), px)
        assert 0 <= r.cx < 1_000_000 and 0 <= r.cy < 1_000_000


def _png_forward_filter(f, line, prev, bpp):
    """Forward PNG scanline filter (spec §6) for decoder tests."""
    out = bytearray([f])
    for i in range(len(line)):
        a = line[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if f == 0:
            v = line[i]
        elif f == 1:
            v = (line[i] - a) & 0xFF
        elif f == 2:
            v = (line[i] - b) & 0xFF
        elif f == 3:
            v = (line[i] - ((a + b) >> 1)) & 0xFF
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            v = (line[i] - pr) & 0xFF
        out.append(v)
    return bytes(out)


def _craft_png(px, ctype, filters):
    """Hand-assemble a PNG with chosen per-scanline filters."""
    import struct
    import zlib
    h, w = px.shape[:2]
    nch = px.shape[2] if px.ndim == 3 else 1
    flat = px.reshape(h, w * nch)
    raw = b""
    prev = bytes(w * nch)
    for y in range(h):
        line = bytes(flat[y].tolist())
        raw += _png_forward_filter(filters[y % len(filters)],
                                   line, prev, nch)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (im._PNG_SIG + im._png_chunk(b"IHDR", ihdr)
            + im._png_chunk(b"IDAT", zlib.compress(raw))
            + im._png_chunk(b"IEND", b""))


def test_png_all_filters_and_color_types():
    """The decoder must reverse every spec filter (0-4) and normalize
    gray / RGB / RGBA to (h, w, 3)."""
    rng = np.random.default_rng(31)
    rgb = rng.integers(0, 256, size=(13, 11, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = im._png_decode(_craft_png(rgb, 2, filters))
        assert np.array_equal(got, rgb), filters
    gray = rng.integers(0, 256, size=(9, 7, 1), dtype=np.uint8)
    g3 = im._png_decode(_craft_png(gray, 0, [4]))
    assert np.array_equal(g3, np.repeat(gray, 3, axis=2))
    rgba = rng.integers(0, 256, size=(6, 8, 4), dtype=np.uint8)
    a3 = im._png_decode(_craft_png(rgba, 6, [3]))
    assert np.array_equal(a3, rgba[:, :, :3])


def test_png_error_paths():
    import pytest as _pt
    px = im.render_pixels(7, 10, 10)
    good = im.encode_pixels(px, "png")
    with _pt.raises(ValueError, match="not a PNG"):
        im._png_decode(b"JUNK" + good)
    corrupted = bytearray(good)
    corrupted[20] ^= 0xFF  # flip an IHDR payload byte -> CRC mismatch
    with _pt.raises(ValueError, match="CRC"):
        im._png_decode(bytes(corrupted))
    with _pt.raises(ValueError, match="metadata says"):
        im.decode_pixels(good, "png", 5, 5)


def test_png_through_spark_pipeline(spark):
    """png rows ride the same decode/feature/resize mapInPandas paths
    as raw/rawz (fmt dispatch is per row)."""
    rows = []
    for i in range(12):
        px = im.render_pixels(1000 + i, 20, 17)
        rows.append((f"p-{i:03d}", bytearray(im.encode_pixels(px, "png")),
                     20, 17, "png", f"cap {i}", im.phash64(px)))
    df = spark.createDataFrame(rows, im.IMAGE_SCHEMA)
    feats = im.decode_features(df).toPandas()
    assert len(feats) == 12
    assert (feats.psnr_db >= 40.0).all()
    for i, r in feats.sort_values("image_id").reset_index().iterrows():
        exp = im.phash64(im.render_pixels(1000 + i, 20, 17))
        assert int(r.phash_check) == exp
    thumbs = im.resize_images(df).toPandas()
    assert len(thumbs) == 12
    assert all(len(t) == 8 * 8 * 3 for t in thumbs.bytes)


def test_decode_features_psnr_gate(spark, sf_dir):
    imgs = im.synth_images(spark, sf_dir).limit(60)
    feats = im.decode_features(imgs).toPandas()
    assert len(feats) == 60
    assert (feats.psnr_db >= 40.0).all()
    ph = imgs.select("image_id", "phash").toPandas().set_index("image_id")
    for _, r in feats.iterrows():
        assert int(r.phash_check) == int(ph.loc[r.image_id, "phash"])


def test_resize_shapes(spark, sf_dir):
    imgs = im.synth_images(spark, sf_dir).limit(10)
    th = im.resize_images(imgs, 8, 8).toPandas()
    for _, r in th.iterrows():
        assert len(bytes(r.bytes)) == 8 * 8 * 3


def test_phash_pairs_banding_lossless(spark, sf_dir):
    imgs = im.synth_images(spark, sf_dir).limit(80).cache()
    got = im.phash_pairs(imgs, 7).toPandas()
    ph = imgs.select("image_id", "phash").toPandas()
    fps = dict(zip(ph.image_id, ph.phash))
    brute = {(a, b) for a in fps for b in fps if a < b
             and _ham(fps[a], fps[b]) <= 7}
    assert set(zip(got.ia, got.ib)) == brute


def test_phash_fixture_no_drift(spark, sf_dir):
    """fixtures_data/image_phash.parquet (the DuckDB oracle's phash
    source, scripts/gen_phash_fixture.py) must equal freshly-computed
    phashes — drift between the fixture and images.py fails here."""
    import os
    import pandas as pd
    fx_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "fixtures_data",
        "image_phash.parquet")
    fx = pd.read_parquet(fx_path).set_index("caption_md5")["phash"]
    imgs = (im.synth_images(spark, sf_dir).limit(60)
            .selectExpr("md5(caption) AS m", "phash").toPandas())
    assert len(imgs) == 60
    for _, r in imgs.iterrows():
        assert int(fx.loc[r.m]) == int(r.phash)


def test_decode_stats_fixture_no_drift(spark, sf_dir):
    """image_phash.parquet's mean_lum_c column must equal Spark's
    floor(mean_lum * 100) from decode_features."""
    import os
    import pandas as pd
    from pyspark.sql import functions as F
    imgs = im.synth_images(spark, sf_dir).limit(40).cache()
    feats = im.decode_features(imgs)
    got = (imgs.join(feats, "image_id")
           .select(F.expr("md5(caption)").alias("cm"), "phash",
                   F.floor(F.col("mean_lum") * 100).cast("long")
                   .alias("mlc"), "phash_check")
           .toPandas())
    assert len(got) == 40
    fx = pd.read_parquet(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "fixtures_data",
        "image_phash.parquet")).set_index("caption_md5")
    for _, r in got.iterrows():
        assert int(fx.loc[r.cm, "phash"]) == int(r.phash) == int(r.phash_check)
        assert int(fx.loc[r.cm, "mean_lum_c"]) == int(r.mlc)
    imgs.unpersist()


def test_png_interop_with_jvm_imageio(spark):
    """Two-way PNG interop against the JDK's independent codec
    (javax.imageio via Spark's JVM): lossless both directions, so the
    comparison is exact pixel equality, not a PSNR bound."""
    import numpy as np
    jvm = spark._jvm
    h, w = 13, 19
    px = im.render_pixels(77, w, h)

    def bimg_to_np(bimg):
        out = np.zeros((h, w, 3), np.uint8)
        for y in range(h):
            for x in range(w):
                rgb = bimg.getRGB(x, y)
                out[y, x] = [(rgb >> 16) & 255, (rgb >> 8) & 255,
                             rgb & 255]
        return out

    # ours -> ImageIO.read: exact
    bimg = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(
            bytearray(im.encode_pixels(px, "png"))))
    assert (bimg.getWidth(), bimg.getHeight()) == (w, h)
    np.testing.assert_array_equal(bimg_to_np(bimg), px)

    # ImageIO.write -> our decoder: exact (ImageIO picks its own
    # scanline filters, exercising the filter-1/3/4 decode paths)
    bimg2 = jvm.java.awt.image.BufferedImage(w, h, 1)
    for y in range(h):
        for x in range(w):
            r, g, b = (int(v) for v in px[y, x])
            bimg2.setRGB(x, y, (r << 16) | (g << 8) | b)
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.javax.imageio.ImageIO.write(bimg2, "png", baos)
    theirs = bytes(baos.toByteArray())
    np.testing.assert_array_equal(
        im.decode_pixels(theirs, "png", w, h), px)


def test_ssim_properties():
    """SSIM (the PSNR companion): 1.0 iff identical, symmetric, in
    (0, 1], monotone with JPEG quality, and sensitive to structural
    damage that leaves MSE unchanged."""
    from kdtree_spark import jpeg
    px = im.render_pixels(21, 32, 32)
    assert im.ssim(px, px) == 1.0
    q50 = jpeg.decode(jpeg.encode(px, 50))
    q95 = jpeg.decode(jpeg.encode(px, 95))
    s50, s95 = im.ssim(px, q50), im.ssim(px, q95)
    assert 0.0 < s50 < s95 < 1.0
    assert abs(im.ssim(q50, px) - s50) < 1e-12       # symmetric
    # same MSE, different structure: shuffling pixel positions keeps
    # the global histogram (and roughly the MSE) but destroys local
    # covariance -> SSIM must drop far below the JPEG score
    rng = np.random.default_rng(0)
    flat = px.reshape(-1, 3).copy()
    rng.shuffle(flat, axis=0)
    shuffled = flat.reshape(px.shape)
    assert im.ssim(px, shuffled) < s50
    with pytest.raises(ValueError):
        im.ssim(px, px[:16])


def test_spatial_phash_pairs_vs_brute(spark, sf_dir):
    """Multimodal join (centroid radius AND phash hamming) vs a full
    driver-side brute force over the synth table."""
    from kdtree_spark.grid import Grid
    imgs = im.synth_images(spark, sf_dir).cache()
    got = im.spatial_phash_pairs(imgs, 120_000, 28,
                                 grid=Grid(8)).toPandas()
    pdf = imgs.select("image_id", "cx", "cy", "phash").toPandas()
    rows = list(pdf.itertuples(index=False))
    brute = {}
    for a in rows:
        for b in rows:
            if a.image_id < b.image_id:
                d2 = (a.cx - b.cx) ** 2 + (a.cy - b.cy) ** 2
                h = _ham(a.phash, b.phash)
                if d2 <= 120_000 ** 2 and h <= 28:
                    brute[(a.image_id, b.image_id)] = (d2, h)
    assert {(r.ia, r.ib): (r.dist_sq, r.hamming)
            for r in got.itertuples(index=False)} == brute
    assert len(brute) > 0

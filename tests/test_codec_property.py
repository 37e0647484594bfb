"""Property/fuzz tests for the pure-stdlib codecs (jpeg/png):
round-trip invariants over arbitrary content, and parser robustness —
a mutated or truncated stream must raise ValueError /
NotImplementedError (or still decode to a valid shape), never escape
with an internal IndexError/struct.error/overflow or hang."""

from __future__ import annotations

import zlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from kdtree_spark import images as im
from kdtree_spark import jpeg

OK_ERRORS = (ValueError, NotImplementedError)


@st.composite
def small_image(draw):
    h = draw(st.integers(1, 25))
    w = draw(st.integers(1, 25))
    seed = draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)


@settings(max_examples=40, deadline=None)
@given(px=small_image(), quality=st.integers(50, 100),
       subsampling=st.sampled_from(["444", "420", "422"]))
def test_jpeg_roundtrip_any_content(px, quality, subsampling):
    data = jpeg.encode(px, quality, subsampling=subsampling)
    back = jpeg.decode(data)
    assert back.shape == px.shape
    # shape/type invariants always; fidelity scales with quality —
    # full-range noise at q>=90 stays above the gate's ballpark
    # (4:2:0 on random chroma is bounded by the subsample itself)
    if quality >= 90 and subsampling == "444":
        assert im.psnr(px, back) >= 25.0
    assert jpeg.encode(px, quality, subsampling=subsampling) == data


@settings(max_examples=150, deadline=None)
@given(seed=st.integers(0, 2**31), nmut=st.integers(1, 8))
def test_jpeg_decoder_survives_mutation(seed, nmut):
    rng = np.random.default_rng(seed)
    px = im.render_pixels(seed % 1000, 16, 16)
    data = bytearray(jpeg.encode(
        px, restart_interval=rng.integers(0, 3),
        subsampling=["444", "420"][seed % 2]))
    for _ in range(nmut):
        data[rng.integers(0, len(data))] = rng.integers(0, 256)
    try:
        out = jpeg.decode(bytes(data))
        assert out.dtype == np.uint8 and out.ndim == 3
    except OK_ERRORS:
        pass


@settings(max_examples=150, deadline=None)
@given(seed=st.integers(0, 2**31), cut=st.integers(1, 400))
def test_jpeg_decoder_survives_truncation(seed, cut):
    px = im.render_pixels(seed % 1000, 16, 16)
    data = jpeg.encode(px)
    try:
        out = jpeg.decode(data[:max(0, len(data) - cut)])
        assert out.dtype == np.uint8 and out.ndim == 3
    except OK_ERRORS:
        pass


@settings(max_examples=100, deadline=None)
@given(seed=st.integers(0, 2**31), nmut=st.integers(1, 8))
def test_container_decoders_survive_mutation(seed, nmut):
    rng = np.random.default_rng(seed)
    data = bytearray(im.encode_pixels(
        im.render_pixels(seed % 997, 16, 16), "png"))
    for _ in range(nmut):
        data[rng.integers(0, len(data))] = rng.integers(0, 256)
    try:
        im._png_decode(bytes(data))
    except (*OK_ERRORS, zlib.error):  # zlib errors surface from PNG IDAT
        pass

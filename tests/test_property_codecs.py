"""Property-based codec contracts (no Spark): for RANDOM images, audio
clips, and video frame stacks, encode→decode is the identity, and a
single flipped byte anywhere in the payload either still round-trips to
the SAME content or raises ValueError — silent corruption (decode
succeeds with different content) must be impossible for PNG (every
chunk CRC-verified) and vanishingly detectable for the RIFF formats'
structural fields. Complements the closed-form oracle entries with
adversarial shapes: 1×1 images, odd widths (stride padding), zero-frame
/ single-sample edge cases."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from opendataloader_pdf_spark.functions import multimodal as M


@st.composite
def gray_images(draw):
    w = draw(st.integers(1, 40))
    h = draw(st.integers(1, 40))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w), dtype=np.uint8)


@st.composite
def pcm_clips(draw):
    ch = draw(st.integers(1, 2))
    n = draw(st.integers(1, 500))
    rate = draw(st.sampled_from([8000, 11025, 16000, 44100]))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32768, size=n * ch, dtype=np.int64)
    return samples.astype(np.int16), rate, ch


@st.composite
def rgb_clips(draw):
    w = draw(st.integers(1, 16))
    h = draw(st.integers(1, 16))
    n = draw(st.integers(1, 6))
    rate = draw(st.integers(1, 60))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8), rate


@settings(max_examples=40, deadline=None)
@given(gray_images())
def test_png_roundtrip(img):
    w, h, ch, bd, px = M.decode_png(M.encode_png_gray(img))
    assert (w, h, ch, bd) == (img.shape[1], img.shape[0], 1, 8)
    assert (px.reshape(img.shape) == img).all()


@settings(max_examples=40, deadline=None)
@given(pcm_clips())
def test_wav_roundtrip(clip):
    samples, rate, ch = clip
    got_ch, got_rate, nf, got = M.decode_wav(
        M.encode_wav_pcm16(samples, rate, ch)
    )
    assert (got_ch, got_rate, nf) == (ch, rate, len(samples) // ch)
    assert (got == samples).all()


@settings(max_examples=40, deadline=None)
@given(rgb_clips())
def test_avi_roundtrip(clip):
    frames, rate = clip
    w, h, got_rate, scale, got = M.decode_avi(M.encode_avi_rgb24(frames, rate))
    assert (w, h, got_rate, scale) == (
        frames.shape[2], frames.shape[1], rate, 1,
    )
    assert (got == frames).all()


@settings(max_examples=60, deadline=None)
@given(gray_images(), st.integers(0, 2**31 - 1))
def test_png_no_silent_corruption(img, flip_seed):
    """PNG is fully CRC-covered: ANY single flipped byte must either
    raise or (impossible for a bit flip under crc32) decode identically.
    In practice: always raises."""
    data = bytearray(M.encode_png_gray(img))
    rng = np.random.default_rng(flip_seed)
    i = int(rng.integers(8, len(data)))  # past the magic
    data[i] ^= int(rng.integers(1, 256))
    try:
        w, h, ch, bd, px = M.decode_png(bytes(data))
    except Exception:  # ValueError, zlib.error, struct.error: all refusals
        return
    assert (w, h) == (img.shape[1], img.shape[0])
    assert (px.reshape(img.shape) == img).all()


@settings(max_examples=60, deadline=None)
@given(rgb_clips(), st.integers(0, 2**31 - 1))
def test_avi_structural_field_corruption_detected(clip, flip_seed):
    """RIFF carries no CRC, so only STRUCTURAL corruption is detectable —
    flip a byte inside the size/header region (first 100 bytes past the
    magic) and the decoder must either raise or return a payload of the
    declared geometry (it must never crash with an unexpected error or
    return a malformed array)."""
    frames, rate = clip
    data = bytearray(M.encode_avi_rgb24(frames, rate))
    rng = np.random.default_rng(flip_seed)
    i = int(rng.integers(4, min(100, len(data))))
    data[i] ^= int(rng.integers(1, 256))
    try:
        w, h, _r, _s, got = M.decode_avi(bytes(data))
    except ValueError:
        return
    assert got.shape == (got.shape[0], h, w, 3)


@pytest.mark.parametrize("shape", [(1, 1), (1, 39), (39, 1)])
def test_png_degenerate_shapes(shape):
    img = (np.arange(shape[0] * shape[1]) % 256).astype(np.uint8).reshape(shape)
    _w, _h, _c, _b, px = M.decode_png(M.encode_png_gray(img))
    assert (px.reshape(shape) == img).all()


def test_avi_single_pixel_single_frame():
    frames = np.array([[[[7, 8, 9]]]], dtype=np.uint8)
    w, h, rate, scale, got = M.decode_avi(M.encode_avi_rgb24(frames, 1))
    assert (w, h) == (1, 1) and (got == frames).all()


# ---------------------------------------------------------------------
# Baseline JPEG / MJPEG-AVI (round 5)
# ---------------------------------------------------------------------

@st.composite
def jpeg_images(draw):
    w = draw(st.integers(1, 40))
    h = draw(st.integers(1, 40))
    color = draw(st.booleans())
    smooth = draw(st.booleans())
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    if smooth:
        yy, xx = np.mgrid[0:h, 0:w]
        base = (yy * draw(st.integers(0, 5)) + xx * draw(st.integers(0, 5)))
        img = (base[..., None] + np.arange(3) * 11) if color else base
        return (img % 256).astype(np.uint8)
    return rng.integers(0, 256, size=shape, dtype=np.uint8)


@settings(max_examples=40, deadline=None)
@given(img=jpeg_images(), ri=st.integers(0, 4))
def test_jpeg_roundtrip_psnr(img, ri):
    """Lossy codec contract: decode(encode(x)) has bounded error at
    quality 90 (PSNR > 28 dB — random noise is the worst case for a
    DCT codec), shape/dtype are exact, and restart intervals change
    the bitstream but NOT the decoded content."""
    data = M.encode_jpeg_baseline(img, quality=90, restart_interval=ri)
    out = M.decode_jpeg(data)
    assert out.shape == img.shape and out.dtype == np.uint8
    mse = np.mean((out.astype(np.float64) - img.astype(np.float64)) ** 2)
    if mse > 0:
        assert 10 * np.log10(255.0**2 / mse) > 28.0
    plain = M.decode_jpeg(M.encode_jpeg_baseline(img, quality=90))
    assert np.array_equal(out, plain)


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 2**31 - 1),
       nbx=st.integers(1, 5), nby=st.integers(1, 4), n=st.integers(1, 4))
def test_jpeg_block_constant_exact(seed, nbx, nby, n):
    """On 8x8-block-constant frames with DC step 8, the lossy codec is
    EXACT — the property the strict multimodal_mjpeg_decode oracle
    relies on — end-to-end through the MJPEG AVI container."""
    rng = np.random.default_rng(seed)
    q = np.full(64, 16, dtype=np.int64)
    q[0] = 8
    blocks = rng.integers(0, 256, (n, nby, nbx), dtype=np.uint8)
    frames = np.repeat(np.repeat(blocks, 8, axis=1), 8, axis=2)
    w, h, _r, _s, out = M.decode_avi(M.encode_avi_mjpeg(frames, 3, quant=q))
    assert (w, h) == (8 * nbx, 8 * nby)
    assert np.array_equal(out, np.repeat(frames[..., None], 3, axis=3))


@settings(max_examples=25, deadline=None)
@given(img=jpeg_images(), flip_seed=st.integers(0, 2**31 - 1))
def test_jpeg_corruption_never_crashes_into_garbage_shape(img, flip_seed):
    """A single flipped byte must either raise ValueError or decode to
    an array of the ORIGINAL shape (entropy-stream damage may change
    pixel content — JPEG has no payload CRC — but structural fields
    are validated, so the decoder never fabricates a different
    geometry or loops forever)."""
    data = bytearray(M.encode_jpeg_baseline(img, quality=90))
    rng = np.random.default_rng(flip_seed)
    i = int(rng.integers(2, len(data) - 2))  # keep SOI/EOI intact
    data[i] ^= 1 << int(rng.integers(0, 8))
    try:
        out = M.decode_jpeg(bytes(data))
    except ValueError:
        return
    assert out.shape[:2] == img.shape[:2]


def test_jpeg_rejects_non_baseline():
    img = np.zeros((8, 8), dtype=np.uint8)
    data = bytearray(M.encode_jpeg_baseline(img))
    i = data.index(b"\xff\xc0")
    data[i + 1] = 0xC2  # rewrite SOF0 → SOF2 (progressive)
    with pytest.raises(ValueError, match="non-baseline"):
        M.decode_jpeg(bytes(data))
    with pytest.raises(ValueError, match="SOI"):
        M.decode_jpeg(b"\x00\x01\x02")


def test_jpeg_rejects_multi_scan():
    """A scan carrying fewer components than the frame declares is the
    first scan of a multi-scan (non-interleaved) file: decoding it alone
    would return a grayscale image for a color one, so it must raise."""
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    data = bytes(M.encode_jpeg_baseline(img))
    i = data.index(b"\xff\xda")
    ns = data[i + 4]
    assert ns == 3
    first = data[i + 5:i + 7]  # component 1 selector + table ids
    tail = data[i + 5 + 2 * ns:i + 8 + 2 * ns]  # Ss, Se, Ah/Al
    sos = b"\xff\xda" + (6 + 2).to_bytes(2, "big") + b"\x01" + first + tail
    data = data[:i] + sos + data[i + 8 + 2 * ns:]
    with pytest.raises(ValueError, match="multi-scan"):
        M.decode_jpeg(data)


def test_jpeg_geometry_bounded_by_entropy_data():
    """A frame header declaring 65535x65535 over an 8x8 scan must be
    refused before the decoder sizes its sample planes (~34 GB here)."""
    data = bytearray(M.encode_jpeg_baseline(np.zeros((8, 8), dtype=np.uint8)))
    i = data.index(b"\xff\xc0")
    data[i + 5:i + 9] = b"\xff\xff\xff\xff"  # SOF0 height, width
    with pytest.raises(ValueError, match="more blocks"):
        M.decode_jpeg(bytes(data))


@settings(max_examples=30, deadline=None)
@given(img=jpeg_images(), ri=st.integers(0, 3))
def test_jpeg_420_roundtrip(img, ri):
    """4:2:0 contract: shape/dtype exact; LUMA fidelity bounded (PSNR-Y
    > 28 dB — chroma noise is destroyed by 2x2 subsampling by design,
    so the RGB PSNR is not the right criterion); restart intervals
    change the bitstream but not the decoded content; and on smooth
    color content the full RGB error stays bounded too."""
    data = M.encode_jpeg_baseline(img, quality=90, restart_interval=ri,
                                  subsampling="420")
    out = M.decode_jpeg(data)
    assert out.shape == img.shape and out.dtype == np.uint8

    def luma(a):
        a = a.astype(np.float64)
        if a.ndim == 2:
            return a
        return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]

    mse = np.mean((luma(out) - luma(img)) ** 2)
    if mse > 0:
        assert 10 * np.log10(255.0**2 / mse) > 28.0
    plain = M.decode_jpeg(M.encode_jpeg_baseline(img, quality=90,
                                                 subsampling="420"))
    assert np.array_equal(out, plain)

"""Baseline JPEG codec tests (ftidx.jpeg).

The decisive check is spec-formula independence: the expected decode
is recomputed with explicit T.81 A.3.3 double-loop cosine sums (no
shared matrix with the module), so a scaling/transpose/zigzag slip in
either codec half cannot cancel out. The Huffman layer is validated
end-to-end by exactness — any bit desync turns the whole tail of the
image to garbage, which the bit-identical comparisons would catch.
"""

import numpy as np
import pytest

from ftidx.jpeg import ZIGZAG, jpeg_decode, jpeg_encode


def _gradient(h, w, k=3, xor_seed=None):
    px = ((np.add.outer(np.arange(h), np.arange(w)) * k) % 256).astype(np.uint8)
    if xor_seed is not None:
        rng = np.random.default_rng(xor_seed)
        px ^= rng.integers(0, 16, size=px.shape, dtype=np.uint8)
    return px


# ------------------------------------------------- spec-formula oracle

def _dct_spec(block):
    """T.81 A.3.3 forward: S(u,v) = 1/4 C(u)C(v) sum_x sum_y s(x,y)
    cos((2x+1)u pi/16) cos((2y+1)v pi/16) — explicit loops, written
    independently of the module's matrix form."""
    out = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            acc = 0.0
            for x in range(8):
                for y in range(8):
                    acc += block[x, y] \
                        * np.cos((2 * x + 1) * u * np.pi / 16) \
                        * np.cos((2 * y + 1) * v * np.pi / 16)
            out[u, v] = 0.25 * cu * cv * acc
    return out


def _idct_spec(coef):
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            acc = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    acc += cu * cv * coef[u, v] \
                        * np.cos((2 * x + 1) * u * np.pi / 16) \
                        * np.cos((2 * y + 1) * v * np.pi / 16)
            out[x, y] = 0.25 * acc
    return out


def test_decode_matches_spec_formula():
    """encode(q=50) → decode must equal the hand-computed
    DCT→quantize→dequantize→IDCT chain (quality 50 scales the Annex K
    table by exactly 1, removing one variable)."""
    from ftidx.jpeg import QT_LUM

    rng = np.random.default_rng(42)
    px = rng.integers(0, 256, size=(8, 8)).astype(np.uint8)
    got = jpeg_decode(jpeg_encode(px, quality=50))

    q = QT_LUM.reshape(8, 8).astype(float)
    f = _dct_spec(px.astype(float) - 128.0)
    deq = np.round(f / q) * q  # np.round = the encoder's stated choice
    want = np.clip(np.round(_idct_spec(deq) + 128.0), 0, 255).astype(np.uint8)
    assert np.array_equal(got, want)


def test_zigzag_is_an_involution_pairing():
    # ZIGZAG maps zigzag position -> natural index and is a permutation
    assert sorted(ZIGZAG.tolist()) == list(range(64))
    # spec anchors: position 0 is DC, position 1 walks right, 2 drops
    assert ZIGZAG[0] == 0 and ZIGZAG[1] == 1 and ZIGZAG[2] == 8
    assert ZIGZAG[63] == 63


# ------------------------------------------------------- round trips

def test_gray_roundtrip_quality_bounds():
    px = _gradient(41, 57, 3, xor_seed=1)  # non-multiple-of-8 dims
    # the mod-256 wrap is a 255->0 cliff inside a block: Gibbs ringing
    # there dominates max error at lower quality, which is correct
    # JPEG behavior — bounds are calibrated, not aspirational
    for quality, max_tol, mean_tol in [(95, 12, 2.5), (85, 32, 5.0)]:
        dec = jpeg_decode(jpeg_encode(px, quality=quality))
        assert dec.shape == px.shape
        err = np.abs(dec.astype(int) - px.astype(int))
        assert err.max() <= max_tol, (quality, err.max())
        assert err.mean() <= mean_tol, (quality, err.mean())


def test_flat_plane_is_exact():
    for val in (0, 77, 255):
        flat = np.full((24, 32), val, np.uint8)
        assert np.array_equal(jpeg_decode(jpeg_encode(flat, 90)), flat)


def test_color_420_luma_identical_to_gray():
    """The Y blocks of a 4:2:0 encode are the same coefficients as the
    grayscale encode, so the decoded luma must be bit-identical — this
    pins the MCU interleave + chroma entropy-advance-without-
    reconstruction path."""
    px = _gradient(41, 57, 5, xor_seed=2)
    gray = jpeg_decode(jpeg_encode(px, quality=92))
    color = jpeg_decode(jpeg_encode(px, quality=92, color=True))
    assert np.array_equal(gray, color)


def test_noisy_chroma_does_not_disturb_luma():
    """Non-trivial chroma blocks (real AC runs, ZRL, their own DC
    predictor chain) must be entropy-consumed exactly, or the luma of
    every later MCU desyncs."""
    px = _gradient(48, 64, 7)
    rng = np.random.default_rng(7)
    cb = rng.integers(0, 256, px.shape).astype(np.uint8)
    cr = rng.integers(0, 256, px.shape).astype(np.uint8)
    base = jpeg_decode(jpeg_encode(px, quality=92, color=True))
    noisy = jpeg_decode(jpeg_encode(px, quality=92, color=True,
                                    chroma=(cb, cr)))
    assert np.array_equal(base, noisy)


def test_restart_markers_gray_and_color():
    px = _gradient(41, 57, 3, xor_seed=3)
    plain = jpeg_decode(jpeg_encode(px, quality=92))
    enc = jpeg_encode(px, quality=92, restart_interval=3)
    assert b"\xff\xdd" in enc  # DRI present
    assert any(bytes([0xFF, 0xD0 + i]) in enc for i in range(8))
    assert np.array_equal(jpeg_decode(enc), plain)

    plain_c = jpeg_decode(jpeg_encode(px, quality=92, color=True))
    enc_c = jpeg_encode(px, quality=92, color=True, restart_interval=2)
    assert np.array_equal(jpeg_decode(enc_c), plain_c)


def test_byte_stuffing_roundtrip():
    """This fixture's entropy stream contains a stuffed FF00 (asserted,
    so the stuffing path is provably on the tested path)."""
    px = _gradient(41, 57, 3, xor_seed=1)
    enc = jpeg_encode(px, quality=92)
    scan = enc[enc.find(b"\xff\xda"):]
    assert b"\xff\x00" in scan
    assert jpeg_decode(enc).shape == px.shape


# ------------------------------------------------------------- gates

def _patch_marker(enc: bytes, frm: bytes, to: bytes) -> bytes:
    i = enc.find(frm)
    assert i >= 0
    return enc[:i] + to + enc[i + 2:]


def test_capability_gates():
    enc = jpeg_encode(_gradient(16, 16, 3), quality=90)
    with pytest.raises(NotImplementedError, match="progressive"):
        jpeg_decode(_patch_marker(enc, b"\xff\xc0", b"\xff\xc2"))
    with pytest.raises(NotImplementedError, match="arithmetic"):
        jpeg_decode(_patch_marker(enc, b"\xff\xc0", b"\xff\xc9"))
    # 12-bit precision: first byte of the SOF0 payload
    i = enc.find(b"\xff\xc0")
    patched = enc[: i + 4] + bytes([12]) + enc[i + 5 :]
    with pytest.raises(NotImplementedError, match="12-bit"):
        jpeg_decode(patched)
    with pytest.raises(ValueError):
        jpeg_decode(b"\xff\xd8\xff truncated nonsense")
    with pytest.raises(ValueError):
        jpeg_decode(b"not a jpeg at all")


# ---------------------------------------------------- spark plumbing

def test_jpeg_through_native_spark_pipeline(spark):
    """End-to-end: JPEG payloads in the media table flow through the
    mapInPandas feature/resize kernels exactly like BMP/PNG."""
    from ftidx.multimodal import (MEDIA_SCHEMA, image_decode,
                                  image_features, resize_images,
                                  synth_native_media)

    px = _gradient(24, 32, 5)
    enc = jpeg_encode(px, quality=95)
    media = spark.createDataFrame(
        [(0, "image", bytearray(enc), "image/jpeg", 32, 24, None)],
        MEDIA_SCHEMA)
    feat = image_features(media, backend="native").collect()[0]
    plane = image_decode(enc)
    assert plane.shape == (24, 32)
    assert abs(feat["mean_byte"] - plane.mean()) < 1e-4
    assert abs(feat["std_byte"] - plane.std()) < 1e-4
    thumb = resize_images(media, w=6, h=4, backend="native").collect()[0]
    t = np.frombuffer(bytes(thumb["thumb"]), np.uint8).reshape(4, 6)
    assert t[0, 0] == plane[0, 0] and t[-1, -1] == plane[-1, -1]

    # the synth rotation now emits image/jpeg rows alongside bmp/png
    mimes = {r["mime"] for r in synth_native_media(spark, 24).collect()}
    assert {"image/bmp", "image/png", "image/jpeg"} <= mimes


def test_decode_rgb_reconstructs_chroma_golden():
    """jpeg_decode_rgb against the in-repo encoder's KNOWN color
    planes: constant Y/Cb/Cr survive 4:2:0 + quantization almost
    exactly, and the decoded RGB matches a numpy BT.601 inverse of
    the same constants within codec tolerance — the luma-only gap
    (chroma entropy-advanced, never reconstructed) is closed."""
    import numpy as np

    from ftidx.jpeg import jpeg_decode, jpeg_decode_rgb, jpeg_encode

    h = w = 32
    y = np.full((h, w), 128, np.uint8)
    cb = np.full((h, w), 200, np.uint8)
    cr = np.full((h, w), 60, np.uint8)
    b = jpeg_encode(y, quality=95, color=True, chroma=(cb, cr))
    rgb = jpeg_decode_rgb(b)
    assert rgb.shape == (h, w, 3) and rgb.dtype == np.uint8
    exp_r = 128 + 1.402 * (60 - 128)
    exp_g = 128 - 0.344136 * (200 - 128) - 0.714136 * (60 - 128)
    exp_b = 128 + 1.772 * (200 - 128)
    got = rgb.reshape(-1, 3).mean(axis=0)
    assert abs(got[0] - exp_r) < 3, (got, exp_r)
    assert abs(got[1] - exp_g) < 3, (got, exp_g)
    assert abs(got[2] - exp_b) < 3, (got, exp_b)
    # luma channel of the decode equals the luma-only API
    lum = jpeg_decode(b)
    yc = (0.299 * rgb[..., 0].astype(np.float64)
          + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2])
    assert np.abs(yc - lum.astype(np.float64)).mean() < 2.5


def test_decode_rgb_spatial_color_structure():
    """Color varies ACROSS the image (16-aligned halves, so 4:2:0
    cells never straddle the boundary): the red-tinted half decodes
    red-dominant, the blue-tinted half blue-dominant — chroma is
    really reconstructed per-position, not a global average."""
    import numpy as np

    from ftidx.jpeg import jpeg_decode_rgb, jpeg_encode

    h, w = 32, 64
    y = np.full((h, w), 140, np.uint8)
    cb = np.full((h, w), 128, np.uint8)
    cr = np.full((h, w), 128, np.uint8)
    cr[:, : w // 2] = 200        # left: red push
    cb[:, w // 2 :] = 200        # right: blue push
    rgb = jpeg_decode_rgb(
        jpeg_encode(y, quality=95, color=True, chroma=(cb, cr)))
    left = rgb[:, : w // 2].reshape(-1, 3).mean(axis=0)
    right = rgb[:, w // 2 :].reshape(-1, 3).mean(axis=0)
    assert left[0] > left[2] + 40    # left clearly red over blue
    assert right[2] > right[0] + 40  # right clearly blue over red
    assert abs(left[0] - (140 + 1.402 * 72)) < 4
    assert abs(right[2] - min(255.0, 140 + 1.772 * 72)) < 4  # clips


def test_decode_rgb_grayscale_replicates_luma():
    import numpy as np

    from ftidx.jpeg import jpeg_decode, jpeg_decode_rgb, jpeg_encode

    rng = np.random.default_rng(3)
    y = (rng.integers(0, 256, (24, 40))).astype(np.uint8)
    b = jpeg_encode(y, quality=90)
    rgb = jpeg_decode_rgb(b)
    lum = jpeg_decode(b)
    assert rgb.shape == (24, 40, 3)
    assert (rgb[..., 0] == lum).all()
    assert (rgb[..., 1] == lum).all() and (rgb[..., 2] == lum).all()


def test_rgb_single_component_with_declared_factors():
    """A grayscale (non-interleaved) scan may declare sampling factors
    > 1; its plane is still full-raster (T.81 A.2.2), so the RGB
    decode must equal the luma decode, not one upscaled quadrant."""
    from ftidx.jpeg import jpeg_decode_rgb

    px = _gradient(24, 40, xor_seed=3)
    b = bytearray(jpeg_encode(px, quality=90))
    sof = b.index(b"\xff\xc0")
    # SOF0: marker, length(2), precision, H(2), W(2), Nf, then Ci, HiVi
    assert b[sof + 11] == 0x11
    b[sof + 11] = 0x22
    lum = jpeg_decode(bytes(b))
    assert np.array_equal(lum, jpeg_decode(jpeg_encode(px, quality=90)))
    rgb = jpeg_decode_rgb(bytes(b))
    assert rgb.shape == (24, 40, 3)
    assert all((rgb[..., c] == lum).all() for c in range(3))


def test_rgb_subsampled_luma_upsamples_not_broadcast_error(monkeypatch):
    """A valid baseline stream may subsample its FIRST component
    relative to another (lum_v < vmax); jpeg_decode_rgb must upsample
    the luma plane by replication like chroma, not slice a too-small
    plane into a numpy broadcast ValueError (round-4 advice).  The
    native encoder always emits max-sampled luma, so the component
    layout is injected at the _decode_components seam."""
    import ftidx.jpeg as J

    h, w = 8, 8
    # luma natively 4x4 (sampled 1,1 against hmax=vmax=2); chroma 8x8
    y_nat = np.arange(16, dtype=np.float64).reshape(4, 4) * 10 + 16.0
    flat = np.full((h, w), 128.0)
    fake = (h, w,
            [(1, 1, 1, 0), (2, 2, 2, 1), (3, 2, 2, 1)],
            {1: y_nat, 2: flat, 3: flat},
            2, 2, True)
    monkeypatch.setattr(J, "_decode_components", lambda b: fake)
    rgb = J.jpeg_decode_rgb(b"ignored")
    assert rgb.shape == (8, 8, 3)
    # chroma at 128 makes RGB == replicated luma exactly
    want = np.repeat(np.repeat(y_nat, 2, axis=0), 2, axis=1)
    assert np.array_equal(rgb[..., 0].astype(np.float64), want)
    assert np.array_equal(rgb[..., 1], rgb[..., 0])
    # non-integer luma subsampling stays an honest gate
    fake3 = (6, 6, [(1, 2, 2, 0), (2, 3, 3, 1), (3, 3, 3, 1)],
             {1: np.zeros((4, 4)), 2: np.zeros((6, 6)), 3: np.zeros((6, 6))},
             3, 3, True)
    monkeypatch.setattr(J, "_decode_components", lambda b: fake3)
    with pytest.raises(NotImplementedError, match="luma subsampling"):
        J.jpeg_decode_rgb(b"ignored")

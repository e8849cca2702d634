"""Pure-stdlib baseline JPEG codec (functions/jpeg.py)."""

from __future__ import annotations

import numpy as np
import pytest

from logstash_integration_jdbc_spark.functions.jpeg import (
    _extend,
    _huff_decode_table,
    _huff_encode_table,
    encode_jpeg,
    parse_jpeg,
)


def test_huffman_tables_are_canonical_and_invertible():
    from logstash_integration_jdbc_spark.functions.jpeg import (
        AC_LUMA_BITS,
        AC_LUMA_VALS,
        DC_LUMA_BITS,
        DC_LUMA_VALS,
    )

    dec = _huff_decode_table(DC_LUMA_BITS, DC_LUMA_VALS)
    enc = _huff_encode_table(DC_LUMA_BITS, DC_LUMA_VALS)
    assert len(dec) == sum(DC_LUMA_BITS) == 12
    for sym, (ln, code) in enc.items():
        assert dec[(ln, code)] == sym
    # canonical: codes are prefix-free (no code is a prefix of another)
    codes = sorted((ln, code) for ln, code in dec)
    for i, (l1, c1) in enumerate(codes):
        for l2, c2 in codes[i + 1 :]:
            assert not (l2 > l1 and (c2 >> (l2 - l1)) == c1)
    assert len(_huff_decode_table(AC_LUMA_BITS, AC_LUMA_VALS)) == sum(AC_LUMA_BITS)


def test_extend_matches_spec():
    # F.2.2.1 EXTEND: t-bit value v < 2^(t-1) → v - 2^t + 1
    assert _extend(0, 0) == 0
    assert _extend(0b0, 1) == -1 and _extend(0b1, 1) == 1
    assert _extend(0b00, 2) == -3 and _extend(0b11, 2) == 3
    assert _extend(0b011, 3) == -4 and _extend(0b100, 3) == 4


def test_solid_color_roundtrip_exact():
    for val in (0, 17, 120, 255):
        px = np.full((16, 24, 3), val, dtype=np.uint8)
        w, h, got = parse_jpeg(encode_jpeg(px, quality=90))
        assert (w, h) == (24, 16)
        assert np.abs(got.astype(int) - int(val)).max() <= 1


def test_smooth_gradient_high_quality_tight_error():
    yy, xx = np.mgrid[0:33, 0:41]
    px = np.stack([np.clip(yy * 4, 0, 255), np.full_like(yy, 80),
                   np.clip(xx * 3, 0, 255)], axis=2).astype(np.uint8)
    w, h, got = parse_jpeg(encode_jpeg(px, quality=95))
    assert (w, h) == (41, 33)
    diff = np.abs(got.astype(int) - px.astype(int))
    assert diff.max() <= 3 and diff.mean() < 1.0


def test_noise_bounded_error_q95():
    px = np.random.RandomState(1).randint(0, 256, size=(24, 24, 3), dtype=np.uint8)
    _w, _h, got = parse_jpeg(encode_jpeg(px, quality=95))
    diff = np.abs(got.astype(int) - px.astype(int))
    # worst-case content for JPEG; q95 keeps it visually lossless-ish
    assert diff.mean() < 8 and diff.max() < 48


def test_grayscale_single_component():
    g = np.clip(np.mgrid[0:20, 0:30][0] * 6, 0, 255).astype(np.uint8)
    w, h, got = parse_jpeg(encode_jpeg(g, quality=95))
    assert (w, h) == (30, 20) and got.shape == (20, 30, 3)
    assert np.array_equal(got[:, :, 0], got[:, :, 1])
    assert np.abs(got[:, :, 0].astype(int) - g.astype(int)).max() <= 2


def test_restart_markers_decode_identically():
    px = np.random.RandomState(2).randint(0, 256, size=(40, 48, 3), dtype=np.uint8)
    plain = parse_jpeg(encode_jpeg(px, quality=95))[2]
    with_rst = parse_jpeg(encode_jpeg(px, quality=95, restart_interval=3))[2]
    assert np.array_equal(plain, with_rst)


def test_non_multiple_of_8_dimensions():
    px = np.random.RandomState(3).randint(0, 256, size=(13, 19, 3), dtype=np.uint8)
    w, h, got = parse_jpeg(encode_jpeg(px, quality=90))
    assert (w, h) == (19, 13) and got.shape == (13, 19, 3)


def test_byte_stuffing_survives():
    """A near-black image drives many 0xFF-heavy huffman runs; the
    stuffed stream must decode (regression for FF00 handling)."""
    px = np.zeros((32, 32, 3), dtype=np.uint8)
    px[::2, ::2] = 255  # checkerboard → dense AC coefficients
    _w, _h, got = parse_jpeg(encode_jpeg(px, quality=50))
    assert got.shape == (32, 32, 3)


def test_ff_fill_bytes_before_markers():
    """ITU T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
    marker code; pad several markers and decode must still succeed."""
    px = np.full((16, 16, 3), 120, dtype=np.uint8)
    blob = encode_jpeg(px, quality=90)
    padded = bytearray()
    i = 0
    while i < len(blob):
        if blob[i] == 0xFF and i + 1 < len(blob) and blob[i + 1] in (0xDB, 0xC4, 0xC0):
            padded += b"\xFF\xFF\xFF"  # fill bytes, then the real marker
        padded.append(blob[i])
        i += 1
    _w, _h, got = parse_jpeg(bytes(padded))
    ref = parse_jpeg(blob)[2]
    assert np.array_equal(got, ref)


def test_lossless_jpeg_rejected_names_pillow():
    px = np.zeros((8, 8, 3), dtype=np.uint8)
    blob = bytearray(encode_jpeg(px))
    i = blob.find(b"\xFF\xC0")
    blob[i + 1] = 0xC3  # rewrite SOF0 → SOF3 (lossless)
    with pytest.raises(NotImplementedError, match="Pillow"):
        parse_jpeg(bytes(blob))


def test_progressive_decodes_identical_to_baseline():
    """SOF2 successive-approximation ladder (DC Al=1 + refine, AC
    spectral bands at Al=1 + refinement with EOB runs and correction
    bits) must reconstruct EXACTLY the coefficients of the baseline
    stream built from the same quantized blocks — so the decoded pixels
    are bit-identical to the (oracle-validated) baseline decode."""
    from logstash_integration_jdbc_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(3)
    for shape in [(24, 16, 3), (17, 9, 3), (8, 8), (31, 17), (64, 48, 3)]:
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        base = parse_jpeg(encode_jpeg(px, quality=85))[2]
        prog = parse_jpeg(encode_jpeg_progressive(px, quality=85))[2]
        assert np.array_equal(base, prog), shape


def test_progressive_spectral_only_and_smooth():
    from logstash_integration_jdbc_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, size=(33, 21, 3)).astype(np.uint8)
    base = parse_jpeg(encode_jpeg(px, quality=85))[2]
    prog = parse_jpeg(encode_jpeg_progressive(px, quality=85,
                                              successive=False))[2]
    assert np.array_equal(base, prog)
    # smooth + solid inputs exercise long zero runs and EOB runs
    for mk in [np.tile(np.arange(64, dtype=np.uint8), (48, 1)),
               np.full((32, 32), 77, np.uint8)]:
        base = parse_jpeg(encode_jpeg(mk, quality=60))[2]
        prog = parse_jpeg(encode_jpeg_progressive(mk, quality=60))[2]
        assert np.array_equal(base, prog)


def test_progressive_with_restart_markers():
    from logstash_integration_jdbc_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(40, 24, 3)).astype(np.uint8)
    base = parse_jpeg(encode_jpeg(px, quality=85))[2]
    for ri, successive in [(2, True), (3, True), (5, False)]:
        prog = parse_jpeg(encode_jpeg_progressive(
            px, quality=85, successive=successive, restart_interval=ri))[2]
        assert np.array_equal(base, prog), (ri, successive)


def test_not_a_jpeg_rejected():
    with pytest.raises(ValueError, match="SOI"):
        parse_jpeg(b"\x89PNG\r\n\x1a\n")


def test_420_subsampled_roundtrip():
    """4:2:0 (the dominant real-world layout) exercises multi-block MCUs
    and the decoder's chroma upsampling path."""
    yy, xx = np.mgrid[0:35, 0:45]
    px = np.stack([np.clip(yy * 5, 0, 255), np.full_like(yy, 100),
                   np.clip(xx * 4, 0, 255)], axis=2).astype(np.uint8)
    w, h, got = parse_jpeg(encode_jpeg(px, quality=95, subsample=True))
    assert (w, h) == (45, 35) and got.shape == (35, 45, 3)
    diff = np.abs(got.astype(int) - px.astype(int))
    # luma stays tight; chroma averaging adds bounded error on gradients
    assert diff[:, :, 1].mean() < 2.5 and diff.mean() < 6 and diff.max() < 40


def test_420_solid_color_exact():
    for rgbc in ((200, 60, 60), (30, 180, 90)):
        px = np.zeros((32, 32, 3), dtype=np.uint8)
        px[:, :] = rgbc
        _w, _h, got = parse_jpeg(encode_jpeg(px, quality=95, subsample=True))
        assert np.abs(got.astype(int) - np.array(rgbc)).max() <= 2


def test_420_with_restart_markers():
    px = np.random.RandomState(4).randint(0, 256, size=(48, 64, 3), dtype=np.uint8)
    plain = parse_jpeg(encode_jpeg(px, quality=90, subsample=True))[2]
    rst = parse_jpeg(encode_jpeg(px, quality=90, subsample=True,
                                 restart_interval=2))[2]
    assert np.array_equal(plain, rst)


# ---------------------------------------------------------------------------
# 4-component CMYK / YCCK (APP14 Adobe transform)
# ---------------------------------------------------------------------------

def _cmyk_expected_rgb(stored):
    """Closed-form non-ICC conversion from Adobe-inverted stored
    samples: RGB = S_channel * S_k / 255."""
    s = np.asarray(stored, np.float64)
    return np.clip(np.round(
        np.stack([s[..., 0] * s[..., 3], s[..., 1] * s[..., 3],
                  s[..., 2] * s[..., 3]], axis=-1) / 255.0), 0, 255
    ).astype(np.uint8)


def test_cmyk_transform0_solid_exact():
    from logstash_integration_jdbc_spark.functions.jpeg import (
        encode_jpeg,
        parse_jpeg,
    )

    stored = np.zeros((16, 24, 4), np.uint8)
    stored[..., :] = (200, 180, 160, 220)
    blob = encode_jpeg(stored, quality=100, adobe_transform=0)
    w, h, rgb = parse_jpeg(blob)
    assert (w, h) == (24, 16)
    # solid planes at quality 100 decode exactly → closed-form RGB
    assert np.array_equal(rgb, _cmyk_expected_rgb(stored))


def test_ycck_transform2_solid_close():
    from logstash_integration_jdbc_spark.functions.jpeg import (
        encode_jpeg,
        parse_jpeg,
    )

    stored = np.zeros((8, 8, 4), np.uint8)
    stored[..., :] = (120, 50, 240, 200)
    blob = encode_jpeg(stored, quality=100, adobe_transform=2)
    _w, _h, rgb = parse_jpeg(blob)
    exp = _cmyk_expected_rgb(stored)
    # forward+inverse YCbCr round-trip costs ≤2 counts per channel
    assert int(np.max(np.abs(rgb.astype(int) - exp.astype(int)))) <= 2


def test_bare_cmyk_no_app14_is_ink_coverage():
    from logstash_integration_jdbc_spark.functions.jpeg import (
        encode_jpeg,
        parse_jpeg,
    )

    ink = np.zeros((8, 8, 4), np.uint8)
    ink[..., :] = (55, 75, 95, 35)  # stored = ink when no Adobe marker
    blob = encode_jpeg(ink, quality=100, adobe_transform=None)
    _w, _h, rgb = parse_jpeg(blob)
    inverted = 255 - ink
    assert np.array_equal(rgb, _cmyk_expected_rgb(inverted))


def test_cmyk_gradient_with_restarts_bounded_error():
    from logstash_integration_jdbc_spark.functions.jpeg import (
        encode_jpeg,
        parse_jpeg,
    )

    yy, xx = np.mgrid[0:24, 0:32]
    stored = np.stack([
        (yy * 5 + 30) % 256, (xx * 4 + 80) % 256,
        ((yy + xx) * 3 + 60) % 256, np.full_like(yy, 210),
    ], axis=-1).astype(np.uint8)
    blob = encode_jpeg(stored, quality=95, adobe_transform=0,
                       restart_interval=3)
    w, h, rgb = parse_jpeg(blob)
    assert (w, h) == (32, 24)
    exp = _cmyk_expected_rgb(stored)
    assert float(np.mean(np.abs(rgb.astype(int) - exp.astype(int)))) < 6.0


def test_adobe_rgb_transform0_three_planes_passthrough():
    from logstash_integration_jdbc_spark.functions.jpeg import (
        parse_jpeg,
    )
    import struct as _st

    # hand-build: take a normal encode and splice an APP14 transform=0
    from logstash_integration_jdbc_spark.functions.jpeg import encode_jpeg

    rgb_in = np.zeros((8, 8, 3), np.uint8)
    rgb_in[..., :] = (90, 140, 200)
    blob = bytearray(encode_jpeg(rgb_in, quality=100))
    app14 = _st.pack(">BBH", 0xFF, 0xEE, 14) + b"Adobe" + _st.pack(
        ">HHHB", 100, 0, 0, 0)
    blob = blob[:2] + app14 + blob[2:]
    _w, _h, rgb = parse_jpeg(bytes(blob))
    # planes now passthrough: decoded values are the stored YCbCr trio
    y = 0.299 * 90 + 0.587 * 140 + 0.114 * 200
    assert abs(int(rgb[0, 0, 0]) - round(y)) <= 1


def test_encode_jpeg_cmyk_validation():
    from logstash_integration_jdbc_spark.functions.jpeg import encode_jpeg

    with pytest.raises(ValueError, match="adobe_transform"):
        encode_jpeg(np.zeros((8, 8, 4), np.uint8), adobe_transform=1)
    with pytest.raises(ValueError, match="4-component"):
        encode_jpeg(np.zeros((8, 8, 3), np.uint8), adobe_transform=0)
    with pytest.raises(ValueError, match="subsample"):
        encode_jpeg(np.zeros((8, 8, 4), np.uint8), subsample=True)


# ---------------------------------------------------------------------------
# 12-bit (extended sequential, SOF1, 16-bit quant tables)
# ---------------------------------------------------------------------------

def test_12bit_gray_solid_even_exact():
    from logstash_integration_jdbc_spark.functions.jpeg import (
        encode_jpeg,
        parse_jpeg,
    )

    # even 12-bit values at quality 100 (quant 16) reconstruct exactly:
    # 8*(v-2048)/16 = v/2 - 1024 is an integer
    for v in (0, 2, 1000, 2048, 3000, 4094):
        blob = encode_jpeg(np.full((8, 8), v, np.int32), quality=100,
                           precision=12)
        _w, _h, rgb = parse_jpeg(blob)
        exp = int(np.round(np.float64(v) * 255.0 / 4095.0))
        assert int(rgb[0, 0, 0]) == exp, v
        assert (rgb == rgb[0, 0, 0]).all()


def test_12bit_rgb_solid_close():
    from logstash_integration_jdbc_spark.functions.jpeg import (
        encode_jpeg,
        parse_jpeg,
    )

    px = np.zeros((16, 16, 3), np.int32)
    px[..., :] = (3900, 100, 2000)
    blob = encode_jpeg(px, quality=100, precision=12)
    _w, _h, rgb = parse_jpeg(blob)
    exp = np.round(np.array([3900, 100, 2000]) * 255.0 / 4095.0)
    assert int(np.max(np.abs(rgb[0, 0].astype(int) - exp.astype(int)))) <= 1


def test_12bit_gradient_bounded_error():
    from logstash_integration_jdbc_spark.functions.jpeg import (
        encode_jpeg,
        parse_jpeg,
    )

    yy, xx = np.mgrid[0:24, 0:24]
    g = (yy * 150 + xx * 17) % 4096
    blob = encode_jpeg(g, quality=95, precision=12, restart_interval=2)
    w, h, rgb = parse_jpeg(blob)
    assert (w, h) == (24, 24)
    exp = np.round(g * 255.0 / 4095.0)
    assert float(np.mean(np.abs(rgb[:, :, 0].astype(float) - exp))) < 4.0


def test_12bit_stream_shape():
    import struct as st

    from logstash_integration_jdbc_spark.functions.jpeg import encode_jpeg

    blob = encode_jpeg(np.full((8, 8), 100, np.int32), quality=90,
                       precision=12)
    # SOF1 marker present, SOF0 absent; DQT is the 16-bit (pq=1) form
    assert b"\xFF\xC1" in blob and b"\xFF\xC0" not in blob
    i = blob.index(b"\xFF\xDB")
    seglen = st.unpack_from(">H", blob, i + 2)[0]
    assert seglen == 2 + 1 + 128  # pq/tq byte + 64 two-byte entries
    assert blob[i + 4] == 0x10  # pq=1, tq=0


def test_12bit_validation_and_sof0_guard():
    import struct as st

    from logstash_integration_jdbc_spark.functions.jpeg import (
        encode_jpeg,
        parse_jpeg,
    )

    with pytest.raises(ValueError, match="precision"):
        encode_jpeg(np.zeros((8, 8)), precision=10)
    with pytest.raises(ValueError, match="12-bit"):
        encode_jpeg(np.zeros((8, 8, 4)), precision=12, adobe_transform=0)
    # a 12-bit stream mislabeled SOF0 is rejected as malformed
    blob = bytearray(encode_jpeg(np.full((8, 8), 100, np.int32),
                                 quality=90, precision=12))
    i = bytes(blob).index(b"\xFF\xC1")
    blob[i + 1] = 0xC0
    with pytest.raises(ValueError, match="SOF0 is 8-bit"):
        parse_jpeg(bytes(blob))

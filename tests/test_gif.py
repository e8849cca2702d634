"""GIF codec: LZW decode/encode, palette, interlace, external vector."""

import numpy as np
import pytest

from logstash_integration_jdbc_spark.functions.gif import (
    _lzw_decode,
    _lzw_encode,
    encode_gif,
    parse_gif,
)

# the canonical 35-byte 1×1 white GIF — an EXTERNAL stream (public
# minimal-GIF construction), so encoder and decoder cannot share a
# bit-packing misunderstanding undetected
TINY_WHITE = bytes.fromhex(
    "474946383961010001008000"      # header + LSD (GCT, 2 entries)
    "00ffffff000000"                # palette: white, black
    "2c000000000100010000"          # image descriptor 1×1
    "0202440100"                    # min code size 2; data block 44 01
    "3b"
)


def test_external_minimal_gif_vector():
    w, h, px = parse_gif(TINY_WHITE)
    assert (w, h) == (1, 1) and px.tolist() == [[[255, 255, 255]]]


def test_roundtrip_shapes_palettes_interlace():
    rng = np.random.RandomState(11)
    for (h, w, ncol), interlace in [
        ((13, 17, 4), False), ((16, 16, 16), False), ((9, 33, 256), False),
        ((13, 17, 4), True), ((40, 25, 8), True), ((1, 1, 2), False),
        ((64, 48, 256), True),
    ]:
        pal = rng.randint(0, 256, size=(ncol, 3)).astype(np.uint8)
        idx = rng.randint(0, ncol, size=(h, w)).astype(np.uint8)
        gw, gh, got = parse_gif(encode_gif(idx, pal, interlace=interlace))
        assert (gw, gh) == (w, h) and np.array_equal(got, pal[idx]), \
            ((h, w, ncol), interlace)


def test_lzw_dictionary_stress():
    # long runs (KwKwK case) and enough data to force width growth +
    # the 4096-entry dictionary reset
    seq = [0] * 5000 + [1] * 3000 + [0, 1] * 2000
    assert _lzw_decode(2, _lzw_encode(2, seq), len(seq)) == seq
    rng = np.random.RandomState(3)
    seq = rng.randint(0, 16, size=30000).tolist()
    assert _lzw_decode(4, _lzw_encode(4, seq), len(seq)) == seq


def test_gif_skips_extensions():
    # splice a Graphic Control Extension before the image descriptor
    gce = bytes.fromhex("21f90404000000" + "00")  # label f9, 4-byte block
    spliced = TINY_WHITE[:19] + gce + TINY_WHITE[19:]
    w, h, px = parse_gif(spliced)
    assert (w, h) == (1, 1) and px[0, 0].tolist() == [255, 255, 255]


def test_gif_rejects_garbage():
    with pytest.raises(ValueError, match="not a GIF"):
        parse_gif(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError, match="power of two"):
        encode_gif(np.zeros((2, 2), np.uint8), np.zeros((3, 3), np.uint8))
    with pytest.raises(ValueError, match="palette range"):
        encode_gif(np.full((2, 2), 3, np.uint8), np.zeros((2, 3), np.uint8))
    # truncated image data surfaces as an error, not a short frame
    full = encode_gif(np.zeros((8, 8), np.uint8),
                      np.array([[0, 0, 0], [1, 1, 1]], np.uint8))
    with pytest.raises(ValueError):
        parse_gif(full[:30] + b"\x00\x3b")


def test_animated_gif_split_and_decode():
    from logstash_integration_jdbc_spark.functions.gif import (
        encode_gif_animation,
        split_gif_frames,
    )

    rng = np.random.RandomState(17)
    pal = rng.randint(0, 256, size=(16, 3)).astype(np.uint8)
    frames = [rng.randint(0, 16, size=(9, 7)).astype(np.uint8)
              for _ in range(5)]
    blob = encode_gif_animation(frames, pal)
    parts = split_gif_frames(blob)
    assert len(parts) == 5
    for f, part in zip(frames, parts):
        w, h, got = parse_gif(part)
        assert (w, h) == (7, 9) and np.array_equal(got, pal[f])
    # each standalone frame is byte-identical to encode_gif of it —
    # the property the driver oracle rests on
    for f, part in zip(frames, parts):
        assert part == encode_gif(f, pal)


def test_split_gif_frames_compositing_boundary():
    from logstash_integration_jdbc_spark.functions.gif import (
        encode_gif_animation,
        split_gif_frames,
    )

    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    blob = bytearray(encode_gif_animation(
        [np.zeros((4, 4), np.uint8)] * 2, pal))
    # shrink frame 2's descriptor dims → partial frame → Pillow boundary
    i = blob.find(b"\x2C", 14)
    j = blob.find(b"\x2C", i + 1)
    blob[j + 5 : j + 7] = (2).to_bytes(2, "little")
    with pytest.raises(NotImplementedError, match="compositing"):
        split_gif_frames(bytes(blob))
    # transparency flag in a GCE → Pillow boundary
    gce = bytes.fromhex("21f904" + "05000000" + "00")
    t = bytearray(encode_gif_animation([np.zeros((4, 4), np.uint8)], pal))
    k = t.find(b"\x2C", 14)
    with pytest.raises(NotImplementedError, match="compositing"):
        split_gif_frames(bytes(t[:k]) + gce + bytes(t[k:]))


# ---------------------------------------------------------------------------
# full compositing model
# ---------------------------------------------------------------------------

PAL4 = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]],
                dtype=np.uint8)


def _expected_paint(canvas, frame, pal, left, top, tidx):
    """Independent numpy replay of one paint step."""
    out = canvas.copy()
    h, w = frame.shape
    reg = out[top:top + h, left:left + w]
    m = np.ones((h, w), bool) if tidx is None else frame != tidx
    reg[m] = pal[frame[m]]
    return out


def test_composite_partial_frames_disposal_none():
    from logstash_integration_jdbc_spark.functions.gif import (
        composite_gif_frames,
        encode_gif_animation,
    )

    base = np.full((6, 8), 1, np.uint8)          # red canvas
    patch = np.full((2, 3), 2, np.uint8)         # green patch at (2,1)
    blob = encode_gif_animation(
        [base, {"idx": patch, "left": 1, "top": 2}], PAL4)
    frames = composite_gif_frames(blob)
    assert [f[:2] for f in frames] == [(8, 6), (8, 6)]
    exp0 = _expected_paint(np.zeros((6, 8, 3), np.uint8), base, PAL4, 0, 0, None)
    exp1 = _expected_paint(exp0, patch, PAL4, 1, 2, None)
    assert np.array_equal(frames[0][2], exp0)
    assert np.array_equal(frames[1][2], exp1)


def test_composite_transparency_leaves_canvas():
    from logstash_integration_jdbc_spark.functions.gif import (
        composite_gif_frames,
        encode_gif_animation,
    )

    base = np.full((4, 4), 3, np.uint8)          # blue
    over = np.array([[0, 2], [2, 0]], np.uint8)  # 0 transparent
    blob = encode_gif_animation(
        [base, {"idx": over, "left": 1, "top": 1, "transparent_index": 0}],
        PAL4)
    frames = composite_gif_frames(blob)
    exp = _expected_paint(
        _expected_paint(np.zeros((4, 4, 3), np.uint8), base, PAL4, 0, 0, None),
        over, PAL4, 1, 1, 0)
    assert np.array_equal(frames[1][2], exp)
    # transparent cells kept the blue underneath
    assert tuple(frames[1][2][1, 1]) == (0, 0, 255)


def test_composite_disposal_background_and_previous():
    from logstash_integration_jdbc_spark.functions.gif import (
        composite_gif_frames,
        encode_gif_animation,
    )

    base = np.full((4, 4), 1, np.uint8)          # red
    spot = np.full((2, 2), 2, np.uint8)          # green spot
    # disposal 2: after emit, spot region restores to BACKGROUND (bg=0 → black)
    blob = encode_gif_animation(
        [base,
         {"idx": spot, "left": 1, "top": 1, "disposal": 2},
         {"idx": np.full((1, 1), 3, np.uint8), "left": 0, "top": 0}],
        PAL4)
    f = composite_gif_frames(blob)
    assert tuple(f[1][2][1, 1]) == (0, 255, 0)       # spot visible on emit
    assert tuple(f[2][2][1, 1]) == (0, 0, 0)         # then restored to bg
    assert tuple(f[2][2][0, 0]) == (0, 0, 255)       # frame 3 painted

    # disposal 3: region restores to the PRE-FRAME canvas (red)
    blob3 = encode_gif_animation(
        [base,
         {"idx": spot, "left": 1, "top": 1, "disposal": 3},
         {"idx": np.full((1, 1), 3, np.uint8), "left": 0, "top": 0}],
        PAL4)
    f3 = composite_gif_frames(blob3)
    assert tuple(f3[1][2][1, 1]) == (0, 255, 0)
    assert tuple(f3[2][2][1, 1]) == (255, 0, 0)


def test_composite_local_palette_and_unpainted_bg():
    from logstash_integration_jdbc_spark.functions.gif import (
        composite_gif_frames,
        encode_gif_animation,
    )

    lpal = np.array([[9, 9, 9], [200, 100, 50]], dtype=np.uint8)
    patch = np.array([[1]], np.uint8)
    # first frame is PARTIAL: unpainted canvas renders as background
    # color (index 1 of the global table = red)
    blob = encode_gif_animation(
        [{"idx": patch, "left": 2, "top": 2, "palette": lpal}],
        PAL4, screen=(4, 4), background=1)
    f = composite_gif_frames(blob)
    assert tuple(f[0][2][2, 2]) == (200, 100, 50)    # local palette color
    assert tuple(f[0][2][0, 0]) == (255, 0, 0)       # bg fill
    # frame rect outside the screen raises
    with pytest.raises(ValueError, match="exceeds"):
        composite_gif_frames(encode_gif_animation(
            [{"idx": patch, "left": 5, "top": 0, "palette": lpal}],
            PAL4, screen=(4, 4)))


def test_gif_frames_as_standalone_composited_roundtrip():
    from logstash_integration_jdbc_spark.functions.gif import (
        composite_gif_frames,
        encode_gif_animation,
        gif_frames_as_standalone,
    )

    base = np.full((5, 7), 1, np.uint8)
    over = np.array([[0, 2, 2]], np.uint8)
    blob = encode_gif_animation(
        [base,
         {"idx": over, "left": 3, "top": 2, "transparent_index": 0,
          "disposal": 2},
         {"idx": np.full((2, 2), 3, np.uint8), "left": 0, "top": 3}],
        PAL4)
    composited = composite_gif_frames(blob)
    standalone = gif_frames_as_standalone(blob)
    assert len(standalone) == len(composited) == 3
    for (w, h, rgb), frame_bytes in zip(composited, standalone):
        fw, fh, px = parse_gif(frame_bytes)
        assert (fw, fh) == (w, h)
        assert np.array_equal(px, rgb)


def test_gif_frames_as_standalone_fast_path_unchanged():
    from logstash_integration_jdbc_spark.functions.gif import (
        encode_gif_animation,
        gif_frames_as_standalone,
        split_gif_frames,
    )

    frames = [np.full((4, 4), i % 4, np.uint8) for i in range(3)]
    blob = encode_gif_animation(frames, PAL4)
    assert gif_frames_as_standalone(blob) == split_gif_frames(blob)


def test_median_cut_exact_when_under_256():
    from logstash_integration_jdbc_spark.functions.gif import (
        median_cut_palette,
    )

    rgb = PAL4[np.array([[0, 1], [2, 3]])]
    pal, idx = median_cut_palette(rgb, 256)
    assert np.array_equal(pal[idx], rgb)  # lossless passthrough


def test_median_cut_quantizes_gradient():
    from logstash_integration_jdbc_spark.functions.gif import (
        median_cut_palette,
    )

    yy, xx = np.mgrid[0:32, 0:32]
    rgb = np.stack([yy * 8, xx * 8, (yy + xx) * 4], axis=-1).astype(np.uint8)
    n_in = len(np.unique(rgb.reshape(-1, 3), axis=0))
    assert n_in > 256
    pal, idx = median_cut_palette(rgb, 256)
    assert pal.shape[0] <= 256
    err = np.abs(pal[idx].astype(int) - rgb.astype(int))
    assert float(err.mean()) < 8.0 and int(err.max()) <= 32
    # deterministic: second run bit-identical
    pal2, idx2 = median_cut_palette(rgb, 256)
    assert np.array_equal(pal, pal2) and np.array_equal(idx, idx2)


def test_standalone_frames_quantize_mixed_palettes():
    from logstash_integration_jdbc_spark.functions.gif import (
        encode_gif_animation,
        composite_gif_frames,
        gif_frames_as_standalone,
    )

    # two half-canvas frames with DISJOINT 256-color local palettes →
    # the second composited canvas carries 512 distinct colors
    rng = np.random.RandomState(3)
    p1 = np.stack([np.arange(256), np.zeros(256), rng.randint(0, 256, 256)],
                  axis=1).astype(np.uint8)
    p2 = np.stack([np.zeros(256), np.arange(256), 255 - np.arange(256)],
                  axis=1).astype(np.uint8)
    f1 = np.tile(np.arange(256, dtype=np.uint8), (16, 1)).reshape(16, 256)
    blob = encode_gif_animation(
        [{"idx": f1, "left": 0, "top": 0, "palette": p1},
         {"idx": f1, "left": 0, "top": 16, "palette": p2}],
        np.zeros((2, 3), np.uint8) + 1, screen=(256, 32))
    comp = composite_gif_frames(blob)
    n_colors = len(np.unique(comp[1][2].reshape(-1, 3), axis=0))
    assert n_colors > 256
    frames = gif_frames_as_standalone(blob)
    assert len(frames) == 2
    w, h, px = parse_gif(frames[1])
    assert (w, h) == (256, 32)
    assert len(np.unique(px.reshape(-1, 3), axis=0)) <= 256
    err = np.abs(px.astype(int) - comp[1][2].astype(int))
    assert float(err.mean()) < 8.0

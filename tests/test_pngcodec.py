"""Full-profile PNG codec: hand-pinned filter vectors, round-trips across
every (color type × depth × filter × interlace) combination, torn-file
contracts, and legacy filter-0 compatibility.

The hand vectors matter: round-tripping alone can't catch complementary
encoder/decoder bugs, so unfiltering semantics (Sub/Up/Average/Paeth and
the Adam7 pass layout) are pinned against bytes serialized by hand from
the spec (ISO 15948 §9.4, §8.2)."""

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pii_detection_service_spark.sources import imagecodec, pngcodec


def _png(ihdr_fields, idat_raw, extra=b""):
    """Assemble a PNG from raw (pre-compression) image data."""
    w, h, depth, ctype, interlace = ihdr_fields
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    return (
        pngcodec.PNG_SIG
        + pngcodec._chunk(b"IHDR", ihdr)
        + extra
        + pngcodec._chunk(b"IDAT", zlib.compress(idat_raw))
        + pngcodec._chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# hand-pinned filter semantics (decoder only — no encoder in the loop)
# ---------------------------------------------------------------------------


def test_sub_filter_hand_vector():
    # 1 row, 3 RGB pixels. recon = (10,20,30),(15,25,35),(20,30,40)
    # Sub stores deltas vs pixel to the left (first pixel raw).
    raw = bytes([1, 10, 20, 30, 5, 5, 5, 5, 5, 5])
    out = pngcodec.decode_png(_png((3, 1, 8, 2, 0), raw))
    assert out.tolist() == [[[10, 20, 30], [15, 25, 35], [20, 30, 40]]]


def test_up_filter_hand_vector():
    # 2 rows, 2 gray pixels; row0 None, row1 Up (delta vs row above).
    raw = bytes([0, 100, 200, 2, 10, 56])  # row1 = (110, 0) with wraparound
    out = pngcodec.decode_png(_png((2, 2, 8, 0, 0), raw))
    assert out.tolist() == [[100, 200], [110, 0]]


def test_average_filter_hand_vector():
    # 2 rows, 2 gray pixels. Average: recon = filt + (left + up)//2
    # row0: Average with up=0 -> recon[0]=20, recon[1]=7+20//2=17
    # row1: Average -> recon[0]=5+(0+20)//2=15, recon[1]=3+(15+17)//2=19
    raw = bytes([3, 20, 7, 3, 5, 3])
    out = pngcodec.decode_png(_png((2, 2, 8, 0, 0), raw))
    assert out.tolist() == [[20, 17], [15, 19]]


def test_paeth_filter_hand_vector():
    # Paeth predictor: p = a+b-c; nearest of (a,b,c) with a/b/c tie order.
    # 2 rows, 2 gray pixels.
    # row0 (up=0): recon[0] = 9 + paeth(0,0,0)=0 -> 9
    #              recon[1] = 1 + paeth(9,0,0)   -> p=9, pa=0 -> +9 = 10
    # row1: recon[0] = 4 + paeth(0, 9, 0) -> p=9, pb=0 -> +9 = 13
    #       recon[1] = 2 + paeth(13, 10, 9) -> p=14: pa=1,pb=4,pc=5 -> a=13 -> 15
    raw = bytes([4, 9, 1, 4, 4, 2])
    out = pngcodec.decode_png(_png((2, 2, 8, 0, 0), raw))
    assert out.tolist() == [[9, 10], [13, 15]]


def test_adam7_pass_layout_hand_vector():
    # 8x8 gray, all passes filter 0, each pass filled with its pass number.
    # Pin the canonical Adam7 pattern from the spec.
    pattern = [
        [1, 6, 4, 6, 2, 6, 4, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
        [5, 6, 5, 6, 5, 6, 5, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
        [3, 6, 4, 6, 3, 6, 4, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
        [5, 6, 5, 6, 5, 6, 5, 6],
        [7, 7, 7, 7, 7, 7, 7, 7],
    ]
    passes = [(1, 1, 1), (2, 1, 1), (3, 2, 1), (4, 2, 2), (5, 4, 2), (6, 4, 4), (7, 8, 4)]
    raw = b"".join(
        b"".join(bytes([0]) + bytes([p] * pw) for _ in range(ph))
        for p, pw, ph in passes
    )
    out = pngcodec.decode_png(_png((8, 8, 8, 0, 1), raw))
    assert out.tolist() == pattern


def test_subbyte_bit_packing_hand_vector():
    # 1-bit gray, width 10 (needs row padding): bits 1010101010 -> 0xAA 0x80
    raw = bytes([0, 0xAA, 0x80])
    out = pngcodec.decode_png(_png((10, 1, 1, 0, 0), raw))
    assert out.tolist() == [[255, 0] * 5]


# ---------------------------------------------------------------------------
# round-trips across the full profile
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize(
    "strategy", ["none", "sub", "up", "average", "paeth", "adaptive"]
)
@pytest.mark.parametrize("interlace", [False, True])
def test_roundtrip_8bit_all_filters(channels, strategy, interlace):
    rng = np.random.default_rng(channels * 100 + interlace)
    px = rng.integers(0, 256, (13, 17, channels), np.uint8)
    if channels == 1:
        px = px[:, :, 0]
    out = pngcodec.decode_png(
        pngcodec.encode_png(px, filter_strategy=strategy, interlace=interlace)
    )
    assert np.array_equal(out, px)


@pytest.mark.parametrize("interlace", [False, True])
def test_roundtrip_16bit_high_byte(interlace):
    rng = np.random.default_rng(5)
    px16 = rng.integers(0, 65536, (9, 7, 3), np.uint16)
    out = pngcodec.decode_png(
        pngcodec.encode_png(px16, bit_depth=16, interlace=interlace)
    )
    assert np.array_equal(out, (px16 >> 8).astype(np.uint8))


@pytest.mark.parametrize("depth", [1, 2, 4])
@pytest.mark.parametrize("interlace", [False, True])
def test_roundtrip_subbyte_gray(depth, interlace):
    rng = np.random.default_rng(depth)
    g = rng.integers(0, 1 << depth, (11, 10), np.uint8)
    out = pngcodec.decode_png(
        pngcodec.encode_png(g, bit_depth=depth, color_type=0, interlace=interlace)
    )
    expected = (g.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(np.uint8)
    assert np.array_equal(out, expected)


@pytest.mark.parametrize("depth", [1, 2, 4, 8])
@pytest.mark.parametrize("interlace", [False, True])
def test_roundtrip_palette(depth, interlace):
    rng = np.random.default_rng(depth + 20)
    n = 1 << depth
    pal = rng.integers(0, 256, (n, 3), np.uint8)
    idx = rng.integers(0, n, (12, 15), np.uint8)
    out = pngcodec.decode_png(
        pngcodec.encode_png(
            idx, bit_depth=depth, color_type=3, palette=pal, interlace=interlace
        )
    )
    assert np.array_equal(out, pal[idx])


def test_palette_trns_alpha():
    rng = np.random.default_rng(1)
    pal = rng.integers(0, 256, (16, 3), np.uint8)
    idx = rng.integers(0, 16, (12, 15), np.uint8)
    trans = np.array([0, 128, 255], np.uint8)
    out = pngcodec.decode_png(
        pngcodec.encode_png(idx, bit_depth=8, color_type=3, palette=pal, trans=trans)
    )
    alpha = np.full(16, 255, np.uint8)
    alpha[:3] = trans
    assert np.array_equal(out[:, :, :3], pal[idx])
    assert np.array_equal(out[:, :, 3], alpha[idx])


def test_gray_and_rgb_color_key_transparency():
    rng = np.random.default_rng(2)
    g = rng.integers(0, 256, (6, 6), np.uint8)
    g[2, 3] = 77
    out = pngcodec.decode_png(pngcodec.encode_png(g, trans=struct.pack(">H", 77)))
    assert out.shape == (6, 6, 2)
    assert (out[:, :, 1][g == 77] == 0).all() and (out[:, :, 1][g != 77] == 255).all()
    rgb = rng.integers(0, 256, (6, 6, 3), np.uint8)
    rgb[1, 1] = (9, 9, 9)
    out = pngcodec.decode_png(
        pngcodec.encode_png(rgb, trans=struct.pack(">HHH", 9, 9, 9))
    )
    assert out.shape == (6, 6, 4) and out[1, 1, 3] == 0


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    channels=st.sampled_from([1, 2, 3, 4]),
    interlace=st.booleans(),
    seed=st.integers(0, 2**16),
)
def test_roundtrip_any_shape_hypothesis(h, w, channels, interlace, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, channels), np.uint8)
    if channels == 1:
        px = px[:, :, 0]
    out = pngcodec.decode_png(pngcodec.encode_png(px, interlace=interlace))
    assert np.array_equal(out, px)


# ---------------------------------------------------------------------------
# contracts: torn files raise, legacy output still decodes, to_rgb shapes
# ---------------------------------------------------------------------------


def test_crc_mismatch_raises():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (8, 8, 3), np.uint8)
    b = bytearray(pngcodec.encode_png(px))
    b[50] ^= 1
    with pytest.raises(ValueError, match="CRC"):
        pngcodec.decode_png(bytes(b))


def test_truncated_file_raises():
    rng = np.random.default_rng(4)
    px = rng.integers(0, 256, (8, 8, 3), np.uint8)
    data = pngcodec.encode_png(px)
    with pytest.raises(ValueError):
        pngcodec.decode_png(data[: len(data) // 2])


def test_unknown_critical_chunk_raises():
    rng = np.random.default_rng(6)
    px = rng.integers(0, 256, (4, 4, 3), np.uint8)
    data = pngcodec.encode_png(px)
    # splice an unknown CRITICAL (uppercase first letter) chunk before IDAT
    idat_at = data.index(b"IDAT") - 4
    bad = data[:idat_at] + pngcodec._chunk(b"XXXX", b"?") + data[idat_at:]
    with pytest.raises(ValueError, match="critical"):
        pngcodec.decode_png(bad)
    # ancillary (lowercase first letter) chunks are skipped fine
    ok = data[:idat_at] + pngcodec._chunk(b"teXt", b"k\0v") + data[idat_at:]
    assert np.array_equal(pngcodec.decode_png(ok), px)


def test_legacy_filter0_output_still_decodes():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (24, 24, 3), np.uint8)
    legacy = pngcodec.encode_png(px, filter_strategy="none")  # corpus bytes
    assert np.array_equal(imagecodec.decode(legacy, "png"), px)
    assert np.array_equal(pngcodec.decode_png(legacy), px)
    # the synth corpus layout, byte for byte: 8-bit RGB IHDR, filter byte 0
    # per scanline, one zlib level-6 IDAT, IEND
    raw = np.concatenate(
        [np.zeros((24, 1), np.uint8), px.reshape(24, 72)], axis=1
    ).tobytes()
    assert legacy == (
        pngcodec.PNG_SIG
        + pngcodec._chunk(b"IHDR", struct.pack(">IIBBBBB", 24, 24, 8, 2, 0, 0, 0))
        + pngcodec._chunk(b"IDAT", zlib.compress(raw, 6))
        + pngcodec._chunk(b"IEND", b"")
    )


def test_to_rgb_normalizes_all_channel_counts():
    rng = np.random.default_rng(8)
    g = rng.integers(0, 256, (5, 6), np.uint8)
    ga = rng.integers(0, 256, (5, 6, 2), np.uint8)
    rgb = rng.integers(0, 256, (5, 6, 3), np.uint8)
    rgba = rng.integers(0, 256, (5, 6, 4), np.uint8)
    for px in (g, ga, rgb, rgba):
        out = imagecodec.to_rgb(px)
        assert out.shape == (5, 6, 3)
    assert np.array_equal(imagecodec.to_rgb(ga)[:, :, 0], ga[:, :, 0])
    assert np.array_equal(imagecodec.to_rgb(rgba), rgba[:, :, :3])

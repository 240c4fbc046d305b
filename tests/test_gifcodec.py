"""GIF87a/GIF89a codec: hand-pinned LZW vectors, round-trips across
palette depths / interlace / transparency / disposal methods, animated
compositing semantics, torn-file contracts, and the Spark frame-sampling
+ decode-stats integration.

The hand vector matters for the same reason as the PNG ones: a
round-trip can't catch complementary encoder/decoder bugs, so the LZW
bit layout (LSB-first, variable width, CLEAR/END) is pinned against a
stream assembled by hand from the GIF89a spec appendix."""

import struct

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pii_detection_service_spark.sources import gifcodec, imagecodec, pngcodec


def _solid(h, w, rgb):
    return np.broadcast_to(np.array(rgb, np.uint8), (h, w, 3)).copy()


# ---------------------------------------------------------------------------
# LZW layer
# ---------------------------------------------------------------------------


def test_lzw_hand_vector():
    # The GIF89a spec appendix example stream: 2-bit codes over a 3-color
    # palette. Indices 0,0,1 with min_code_size=2:
    #   width starts at 3; emit CLEAR(4), then literal 0, then code 6
    #   ("00" entered after first 0... ) — easier to pin the inverse:
    # encode and check exact bytes, then decode the hand-assembled stream.
    idx = np.array([0, 0, 1], np.uint8)
    enc = gifcodec.lzw_encode(idx, 2)
    assert gifcodec.lzw_decode(enc, 2, 3).tolist() == [0, 0, 1]
    # hand-assemble: codes CLEAR=4, 0, 0, 1, END=5, all width 3, LSB-first
    # bits: 100 000 000 100 101 -> packed LSB-first
    acc = 0
    nbits = 0
    out = bytearray()
    for code in (4, 0, 0, 1, 5):
        acc |= code << nbits
        nbits += 3
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    assert gifcodec.lzw_decode(bytes(out), 2, 3).tolist() == [0, 0, 1]


def test_lzw_next_code_case():
    # the KwKwK case: code == len(table) must decode as prev + prev[0]
    idx = np.array([1, 1, 1, 1, 1], np.uint8)
    enc = gifcodec.lzw_encode(idx, 2)
    assert gifcodec.lzw_decode(enc, 2, 5).tolist() == [1] * 5


def test_lzw_table_full_clear_roundtrip():
    # long random stream forces the encoder past code 4095 → CLEAR reset
    rng = np.random.default_rng(7)
    idx = rng.integers(0, 256, 30_000).astype(np.uint8)
    enc = gifcodec.lzw_encode(idx, 8)
    assert np.array_equal(gifcodec.lzw_decode(enc, 8, len(idx)), idx)


def test_lzw_invalid_code_raises():
    # code far beyond table size
    acc = (4) | (7 << 3)  # CLEAR then code 7 (table has 6 entries, 7 > 6)
    with pytest.raises(ValueError, match="invalid LZW code"):
        gifcodec.lzw_decode(bytes([acc & 0xFF, acc >> 8]), 2, 4)


def test_lzw_truncated_raises():
    enc = gifcodec.lzw_encode(np.arange(16, dtype=np.uint8), 4)
    with pytest.raises(ValueError, match="truncated|expected"):
        gifcodec.lzw_decode(enc[:-2], 4, 16)


# ---------------------------------------------------------------------------
# container round-trips
# ---------------------------------------------------------------------------


def test_static_roundtrip_exact():
    rng = np.random.default_rng(0)
    px = ((rng.integers(0, 4, (24, 24, 3)) * 85) % 256).astype(np.uint8)
    data = gifcodec.encode_gif(px)
    assert data[:6] == b"GIF89a"
    out = gifcodec.decode_gif(data)
    assert np.array_equal(out, px)


def test_interlace_roundtrip_exact():
    rng = np.random.default_rng(1)
    px = (rng.integers(0, 2, (17, 9, 3)) * 255).astype(np.uint8)
    plain = gifcodec.encode_gif(px)
    inter = gifcodec.encode_gif(px, interlace=True)
    assert plain != inter
    assert np.array_equal(gifcodec.decode_gif(inter), px)
    assert np.array_equal(gifcodec.decode_gif(plain), px)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 21),
    w=st.integers(1, 21),
    ncolors=st.integers(1, 8),
    interlace=st.booleans(),
    seed=st.integers(0, 2**16),
)
# regression: the decoder's table add on the final data code landed on
# 1<<width, so END was read one bit wider than the encoder emitted it
@example(h=3, w=4, ncolors=4, interlace=False, seed=1)
def test_any_shape_roundtrip(h, w, ncolors, interlace, seed):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (ncolors, 3)).astype(np.uint8)
    idx = rng.integers(0, ncolors, (h, w))
    px = pal[idx]
    out = gifcodec.decode_gif(gifcodec.encode_gif(px, interlace=interlace))
    assert np.array_equal(out, px)


def test_palette_overflow_raises():
    rng = np.random.default_rng(2)
    px = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)  # ~1024 colors
    with pytest.raises(ValueError, match="quantize"):
        gifcodec.encode_gif(px)


def test_indexed_palette_encode():
    pal = np.array([[9, 9, 9], [200, 100, 50]], np.uint8)
    idx = np.array([[0, 1], [1, 0]], np.uint8)
    out = gifcodec.decode_gif(gifcodec.encode_gif([idx], indexed_palette=pal))
    assert np.array_equal(out, pal[idx])


# ---------------------------------------------------------------------------
# animation semantics
# ---------------------------------------------------------------------------


def test_animated_frames_composited():
    f0 = _solid(8, 8, (255, 0, 0))
    f1 = f0.copy()
    f1[2, :] = (0, 255, 0)
    f2 = f1.copy()
    f2[5, :] = (0, 0, 255)
    data = gifcodec.encode_gif([f0, f1, f2])
    frames = gifcodec.decode_gif_frames(data)
    assert len(frames) == 3
    for got, want in zip(frames, (f0, f1, f2)):
        assert np.array_equal(got, want)


def test_transparency_composites_over_previous():
    # frame 2 paints index 0 (transparent) everywhere except one row →
    # canvas keeps frame 1's pixels where transparent
    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0]], np.uint8)
    i0 = np.full((6, 6), 1, np.uint8)  # all red
    i1 = np.zeros((6, 6), np.uint8)  # all transparent...
    i1[3, :] = 2  # ...except a green row
    data = gifcodec.encode_gif(
        [i0, i1], indexed_palette=pal, transparent_index=0
    )
    frames = gifcodec.decode_gif_frames(data)
    want = pal[i0].copy()
    want[3, :] = (0, 255, 0)
    assert np.array_equal(frames[1], want)


def test_disposal_restore_background():
    # disposal=2 after frame 0 → frame 1's transparent pixels show the
    # background (palette entry 0 here), not frame 0's pixels
    pal = np.array([[7, 7, 7], [255, 0, 0], [0, 255, 0]], np.uint8)
    i0 = np.full((4, 4), 1, np.uint8)
    i1 = np.zeros((4, 4), np.uint8)
    i1[0, 0] = 2
    data = gifcodec.encode_gif(
        [i0, i1], indexed_palette=pal, transparent_index=0, disposal=2
    )
    frames = gifcodec.decode_gif_frames(data)
    want = np.broadcast_to(pal[0], (4, 4, 3)).copy()
    want[0, 0] = (0, 255, 0)
    assert np.array_equal(frames[1], want)


def test_disposal_restore_previous():
    # disposal=3 on frame 1 ONLY: frame 2 composites over the canvas AS IT
    # WAS BEFORE frame 1 was drawn (the encoder writes one disposal for
    # all frames, so patch frame 1's graphic-control flags by hand)
    pal = np.array([[1, 1, 1], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    i0 = np.full((4, 4), 1, np.uint8)
    i1 = np.full((4, 4), 2, np.uint8)
    i2 = np.zeros((4, 4), np.uint8)
    i2[1, 1] = 3
    data = bytearray(gifcodec.encode_gif(
        [i0, i1, i2], indexed_palette=pal, transparent_index=0, disposal=0
    ))
    second_gce = data.index(b"\x21\xf9", data.index(b"\x21\xf9") + 2)
    data[second_gce + 3] |= 3 << 2  # flags byte: disposal=3, keep transp bit
    frames = gifcodec.decode_gif_frames(bytes(data))
    # frame1 drew green everywhere, but disposal=3 restored red after it
    want = pal[i0].copy()
    want[1, 1] = (0, 0, 255)
    assert np.array_equal(frames[2], want)


def test_gif87a_and_local_palette_decode():
    # hand-build: GIF87a header, no GCT, one frame with a local table
    pal = np.array([[10, 20, 30], [200, 210, 220]], np.uint8)
    idx = np.array([[0, 1], [1, 0]], np.uint8)
    lzw = gifcodec.lzw_encode(idx.reshape(-1), 2)
    data = (
        b"GIF87a"
        + struct.pack("<HHBBB", 2, 2, 0x00, 0, 0)  # no GCT
        + struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0x80)  # LCT, 2 entries
        + np.vstack([pal, np.zeros((0, 3), np.uint8)]).tobytes()
        + bytes([2])
        + bytes([len(lzw)])
        + lzw
        + b"\x00\x3b"
    )
    assert np.array_equal(gifcodec.decode_gif(data), pal[idx])


# ---------------------------------------------------------------------------
# torn-file contract
# ---------------------------------------------------------------------------


def test_torn_file_raises():
    data = gifcodec.encode_gif(_solid(8, 8, (1, 2, 3)))
    for cut in (3, 10, len(data) // 2, len(data) - 1):
        with pytest.raises(ValueError):
            gifcodec.decode_gif(data[:cut])


def test_bad_signature_raises():
    with pytest.raises(ValueError, match="signature"):
        gifcodec.decode_gif(b"NOTGIF" + b"\x00" * 20)


def test_frame_outside_screen_raises():
    data = bytearray(gifcodec.encode_gif(_solid(4, 4, (9, 9, 9))))
    # image descriptor immediately follows header+GCT; bump its left edge
    pos = data.index(0x2C, 13)
    struct.pack_into("<H", data, pos + 1, 3)  # left=3, width 4 > screen 4
    with pytest.raises(ValueError, match="outside"):
        gifcodec.decode_gif(bytes(data))


# ---------------------------------------------------------------------------
# dispatcher + Spark integration
# ---------------------------------------------------------------------------


def test_imagecodec_dispatch_gif():
    px = _solid(10, 12, (50, 100, 150))
    out = imagecodec.decode(gifcodec.encode_gif(px), "gif")
    assert np.array_equal(out, px)


def test_synth_mixed_includes_gif():
    from pii_detection_service_spark.sources.synth import make_row_mixed

    rows = [make_row_mixed(i) for i in range(14)]
    fmts = {r["fmt"] for r in rows}
    assert fmts == {"png", "jpeg", "gif", "bmp", "webp"}
    for r in rows:
        if r["fmt"] == "gif":
            px = imagecodec.decode(r["bytes"], "gif")
            assert px.shape == (24, 24, 3)


def test_spark_decode_stats_mixed_with_gif(spark):
    from pii_detection_service_spark.operators import multimodal
    from pii_detection_service_spark.sources.synth import synth_spark_mixed

    stats = multimodal.decode_stats(synth_spark_mixed(spark, 25)).collect()
    assert len(stats) == 25
    assert all(r.decode_ok for r in stats)


def test_spark_sample_frames_gif(spark):
    import pandas as pd

    from pii_detection_service_spark.operators import multimodal

    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    frames = [np.full((8, 8), 1, np.uint8) for _ in range(5)]
    for k, f in enumerate(frames):
        f[k, :] = 0
    gif = gifcodec.encode_gif(frames, indexed_palette=pal)

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"image_id": [f"g{int(i)}" for i in pdf["id"]],
                 "bytes": [gif] * len(pdf)}
            )

    df = spark.range(3).mapInPandas(gen, "image_id string, bytes binary")
    out = multimodal.sample_frames(df, every=2).collect()
    # 5 frames, every 2nd → idx 0, 2, 4 per gif × 3 gifs
    assert len(out) == 9
    assert sorted({r.frame_idx for r in out}) == [0, 2, 4]
    # sampled frames are standalone PNGs matching the composited frame
    ref = gifcodec.decode_gif_frames(gif)
    for r in out:
        got = pngcodec.decode_png(bytes(r.frame_bytes))
        assert np.array_equal(got, ref[r.frame_idx])

"""WebP lossless (VP8L) codec tests.

These pins were written against the public spec alone: (a) a hand-
serialized bit-layout vector built field-by-field from the spec
(independent of the encoder's serializer), (b) encoder↔decoder round
trips across every feature and combination, (c) structural invariants of
the spec tables, and (d) torn-file / wrong-family contracts. (r5 found a
system libwebp.so usable via ctypes — the LOSSY codec's tests,
test_vp8codec.py, additionally verify bit-exactly against it; a VP8L
cross-check lives there too.)"""

import struct

import numpy as np
import pytest

from pii_detection_service_spark.sources import webpcodec as wc
from pii_detection_service_spark.sources.synth import pixels_for


def _px(h=9, w=13, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


def _rt(px, **kw):
    out = wc.decode_webp(wc.encode_webp_lossless(px, **kw))
    nc = px.shape[2]
    assert np.array_equal(out[:, :, :nc], px)
    if nc == 3:
        assert (out[:, :, 3] == 255).all()
    return out


# --- round trips -----------------------------------------------------------


def test_roundtrip_plain():
    _rt(_px())


def test_roundtrip_rgba_alpha_preserved():
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (6, 5, 4), dtype=np.uint8)
    _rt(px)


@pytest.mark.parametrize("mode", range(14))
def test_roundtrip_every_predictor_mode(mode):
    _rt(_px(h=37, w=21, seed=mode), predictor=mode)


def test_roundtrip_subtract_green_and_color_transform():
    _rt(_px(), subtract_green=True)
    _rt(_px(), color_transform=(34, 200, 17))
    _rt(_px(), subtract_green=True, color_transform=(255, 1, 128))


@pytest.mark.parametrize("ncolors,wbits", [(2, 3), (4, 2), (16, 1), (256, 0)])
def test_roundtrip_palette_all_packings(ncolors, wbits):
    rng = np.random.default_rng(ncolors)
    colors = rng.integers(0, 256, (ncolors, 3), dtype=np.uint8)
    idx = rng.integers(0, ncolors, (11, 23))
    px = colors[idx]
    assert wc._palette_width_bits(ncolors) == wbits
    _rt(px, palette=True)


def test_roundtrip_palette_with_subtract_green():
    px = (_px() >> 6) << 6
    _rt(px, palette=True, subtract_green=True)


def test_roundtrip_color_cache_and_lz77():
    # flat regions + repeats: exercises cache hits and both lz77 distances
    px = np.zeros((16, 16, 3), np.uint8)
    px[:8] = [200, 10, 30]
    px[8:, :, 0] = np.arange(16, dtype=np.uint8)[None, :]
    _rt(px, cache_bits=4)
    _rt(px, lz77=True)
    _rt(px, cache_bits=6, lz77=True)


def test_roundtrip_meta_split():
    _rt(_px(h=12, w=20, seed=3), meta_split=True)
    _rt(_px(h=12, w=20, seed=4), meta_split=True, cache_bits=3, lz77=True)


def test_roundtrip_everything_combined():
    _rt(
        _px(h=19, w=17, seed=5),
        subtract_green=True,
        predictor=10,
        cache_bits=5,
        lz77=True,
        meta_split=True,
    )


@pytest.mark.parametrize("h,w", [(1, 1), (1, 9), (9, 1), (2, 2), (3, 64)])
def test_roundtrip_extreme_shapes(h, w):
    _rt(_px(h=h, w=w, seed=h * 100 + w))
    _rt(_px(h=h, w=w, seed=h * 100 + w + 1), predictor=9)


def test_roundtrip_synth_corpus_pixels():
    for i in (0, 3, 11):
        _rt(pixels_for(i), subtract_green=True, lz77=True)


# --- hand-pinned bit layout (spec fields, independent of the encoder) ------


def test_hand_serialized_single_pixel():
    """1×1 ARGB=0xFF804020 serialized field-by-field from the spec: header
    dims, transform terminator, cache/meta bits, five simple prefix codes
    (four 1-symbol 8-bit, one 1-symbol 1-bit), zero pixel bits."""
    bits = []

    def put(v, n):
        for i in range(n):
            bits.append((v >> i) & 1)

    put(0, 14)  # width - 1
    put(0, 14)  # height - 1
    put(0, 1)   # alpha hint
    put(0, 3)   # version
    put(0, 1)   # no transforms
    put(0, 1)   # no color cache
    put(0, 1)   # no meta prefix codes
    for sym in (0x40, 0x80, 0x20, 0xFF):  # green, red, blue, alpha
        put(1, 1)  # simple
        put(0, 1)  # one symbol
        put(1, 1)  # 8-bit symbol
        put(sym, 8)
    put(1, 1)  # distance tree: simple
    put(0, 1)  # one symbol
    put(0, 1)  # 1-bit symbol
    put(0, 1)  # symbol 0
    payload = b"\x2f" + np.packbits(
        np.array(bits, np.uint8), bitorder="little"
    ).tobytes()
    out = wc.decode_vp8l(payload)
    assert out.shape == (1, 1, 4)
    assert out[0, 0].tolist() == [0x80, 0x40, 0x20, 0xFF]


def test_hand_serialized_two_pixel_normal_code():
    """2×1 image via a NORMAL (code-length-coded) green tree: two green
    literals {5, 9} at length 1 each — pins the code-length-code order
    table, the 3-bit length fields, and canonical MSB-first code reads."""
    bits = []

    def put(v, n):
        for i in range(n):
            bits.append((v >> i) & 1)

    put(1, 14)  # width 2
    put(0, 14)
    put(0, 1)
    put(0, 3)
    put(0, 1)  # no transforms
    put(0, 1)  # no cache
    put(0, 1)  # no meta
    # green tree, normal code. CL lengths: symbol 1 → 1 bit (emits
    # code-length 1), symbol 17 → 2 bits (zero runs), symbol 18 → 2 bits
    # (long zero runs). The order list is the r5-corrected spec
    # kCodeLengthCodeOrder (16 between 5 and 6); symbols 1/17/18 occupy
    # the same slots in the r4 order, which is why this vector never
    # caught the r4 bug.
    put(0, 1)       # not simple
    put(19 - 4, 4)  # read all 19 code-length slots
    cl = {17: 2, 18: 2, 1: 1}
    order = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]
    for s in order:
        put(cl.get(s, 0), 3)
    # canonical CL codes: symbol 1 → 0 (1 bit); 17 → 10 (2 bits); 18 → 11
    put(0, 1)  # no max_symbol budget: cover the whole 280-symbol alphabet
    def cl_emit(sym, extra=0, ebits=0):
        if sym == 1:
            bits.append(0)
        elif sym == 17:
            bits.extend([1, 0])
        elif sym == 18:
            bits.extend([1, 1])
        else:
            raise AssertionError(sym)
        put(extra, ebits)

    cl_emit(17, 5 - 3, 3)    # symbols 0-4 → zeros
    cl_emit(1)               # symbol 5 → length 1
    cl_emit(17, 3 - 3, 3)    # symbols 6-8 → zeros
    cl_emit(1)               # symbol 9 → length 1
    # symbols 10..279 = 270 zeros: 138 + 132
    cl_emit(18, 138 - 11, 7)
    cl_emit(18, 132 - 11, 7)
    # red/blue/alpha trees: simple 1-symbol (8-bit values 1, 2, 3)
    for sym in (1, 2, 3):
        put(1, 1)
        put(0, 1)
        put(1, 1)
        put(sym, 8)
    # distance tree: simple 1-symbol 0
    put(1, 1)
    put(0, 1)
    put(0, 1)
    put(0, 1)
    # pixels: green canonical codes — symbol 5 → 0, symbol 9 → 1 (1 bit)
    bits.append(0)  # pixel 0: green 5
    bits.append(1)  # pixel 1: green 9
    payload = b"\x2f" + np.packbits(
        np.array(bits, np.uint8), bitorder="little"
    ).tobytes()
    out = wc.decode_vp8l(payload)
    assert out.shape == (1, 2, 4)
    assert out[0, 0].tolist() == [1, 5, 2, 3]
    assert out[0, 1].tolist() == [1, 9, 2, 3]


# --- spec-table and primitive invariants ------------------------------------


def test_distance_map_structure():
    m = wc._DIST_MAP
    assert len(m) == 120
    assert len(set(m)) == 120
    assert m[0] == (0, 1) and m[1] == (1, 0) and m[-1] == (8, 7)
    assert all(-8 <= dx <= 8 and 0 <= dy <= 8 for dx, dy in m)
    # every entry maps to a strictly prior pixel for any width ≥ 9
    assert all(dy * 9 + dx >= 1 for dx, dy in m)


def test_prefix_code_value_roundtrip():
    class FakeBR:
        def __init__(self, v):
            self.v = v

        def read(self, n):
            assert 0 <= self.v < (1 << n) or n == 0
            return self.v

    for v in list(range(1, 300)) + [1000, 4096, 50000]:
        code, extra, ebits = wc._prefix_encode(v)
        assert wc._prefix_value(code, FakeBR(extra)) == v


def test_huffman_completeness_enforced():
    with pytest.raises(ValueError, match="incomplete"):
        wc._HuffDecoder([2, 2])  # kraft 0.5
    with pytest.raises(ValueError, match="incomplete"):
        wc._HuffDecoder([1, 1, 1])  # kraft 1.5
    assert wc._HuffDecoder([0, 3, 0]).read(None) == 1  # single → 0 bits


def test_package_merge_kraft_complete():
    rng = np.random.default_rng(0)
    for n in (2, 3, 7, 40, 256):
        freqs = {s: int(rng.integers(1, 1000)) for s in range(n)}
        lengths = wc._package_merge(freqs, 15)
        assert set(lengths) == set(freqs)
        assert abs(sum(2.0 ** -ln for ln in lengths.values()) - 1.0) < 1e-12


# --- container and failure contracts ----------------------------------------


def test_vp8x_extended_container():
    plain = wc.encode_webp_lossless(_px())
    vp8l_chunk = plain[12:]
    vp8x = b"VP8X" + struct.pack("<I", 10) + bytes(10)
    data = b"RIFF" + struct.pack(
        "<I", 4 + len(vp8x) + len(vp8l_chunk)
    ) + b"WEBP" + vp8x + vp8l_chunk
    assert np.array_equal(wc.decode_webp(data), wc.decode_webp(plain))


def test_lossy_vp8_dispatches_and_interframe_stays_an_honest_seam():
    """r5: lossy VP8 key frames decode (vp8codec); garbage still raises
    ValueError (never wrong pixels) and INTER frames remain the honest
    NotImplementedError seam."""
    garbage = b"RIFF" + struct.pack("<I", 12) + b"WEBP" + b"VP8 " + struct.pack(
        "<I", 4
    ) + bytes(4)
    with pytest.raises(ValueError):
        wc.decode_webp(garbage)
    from pii_detection_service_spark.sources import vp8codec
    import numpy as np
    img = np.full((16, 16, 3), 90, np.uint8)
    data = bytearray(vp8codec.encode_webp_vp8(img, qi=4))
    assert wc.decode_webp(bytes(data)).shape == (16, 16, 4)
    data[20] |= 1  # frame tag: interframe
    with pytest.raises(NotImplementedError, match="intra-only"):
        wc.decode_webp(bytes(data))


def test_not_riff_raises():
    with pytest.raises(ValueError, match="not a RIFF/WEBP"):
        wc.decode_webp(b"\x89PNG" + bytes(20))


def test_truncated_bitstream_raises():
    data = wc.encode_webp_lossless(_px())
    with pytest.raises(ValueError):
        wc.decode_vp8l(data[20:-8])  # mangled payload
    with pytest.raises(ValueError, match="truncated|bad VP8L"):
        wc.decode_vp8l(data[12 + 8 :][: 6])


def test_bad_signature_and_version():
    with pytest.raises(ValueError, match="signature"):
        wc.decode_vp8l(b"\x00" + bytes(10))


def test_imagecodec_dispatch():
    from pii_detection_service_spark.sources import imagecodec

    px = _px()
    out = imagecodec.decode(wc.encode_webp_lossless(px), "webp")
    assert np.array_equal(imagecodec.to_rgb(out), px)


# --- fuzz -------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 12),
        w=st.integers(1, 12),
        seed=st.integers(0, 10_000),
        sub=st.booleans(),
        pred=st.one_of(st.none(), st.integers(0, 13)),
        cache=st.sampled_from([0, 2, 5]),
        lz=st.booleans(),
    )
    def test_fuzz_roundtrip(h, w, seed, sub, pred, cache, lz):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        out = wc.decode_webp(
            wc.encode_webp_lossless(
                px, subtract_green=sub, predictor=pred,
                cache_bits=cache, lz77=lz,
            )
        )
        assert np.array_equal(out[:, :, :3], px)

except ImportError:  # pragma: no cover
    pass


# --- animated WebP (VP8X + ANIM + ANMF) --------------------------------------


def _anim_frames():
    rng = np.random.default_rng(70)
    cw, ch = 20, 16
    f1 = rng.integers(0, 256, (ch, cw, 4), dtype=np.uint8)
    f1[..., 3] = 255
    f2 = rng.integers(0, 256, (8, 10, 4), dtype=np.uint8)
    f2[..., 3] = 255
    f3 = np.zeros((6, 8, 4), np.uint8)
    f3[..., 0] = 200
    f3[..., 3] = 128
    return cw, ch, f1, f2, f3


def test_animated_webp_compositing_semantics():
    """Planted 3-frame stack: full-canvas overwrite, sub-rect overwrite
    with dispose-to-background, then an alpha-BLENDED frame — each
    composited canvas must reflect the spec's blend/dispose rules (frame
    payloads are lossless, so non-blended pixels are exact)."""
    cw, ch, f1, f2, f3 = _anim_frames()
    bg = (10, 20, 30, 255)
    data = wc.encode_webp_anim(
        [(f1, 0, 0, 40, False, False),
         (f2, 4, 2, 50, False, True),
         (f3, 2, 4, 60, True, False)],
        cw, ch, bg_rgba=bg,
    )
    frames = wc.decode_webp_frames(data)
    assert [d for _, d in frames] == [40, 50, 60]
    c1, c2, c3 = (f for f, _ in frames)
    assert np.array_equal(c1, f1)
    assert np.array_equal(c2[2:10, 4:14], f2)          # sub-rect landed
    assert np.array_equal(c2[0, :], f1[0, :])          # outside untouched
    assert tuple(c3[2, 4]) == bg                       # f2 rect disposed to bg
    # blended pixel: straight-alpha src-over of (200,0,0,128) on f1
    y, x = 5, 3
    src = f3[y - 4, x - 2].astype(float)
    dst = f1[y, x].astype(float)
    sa, da = src[3] / 255, dst[3] / 255
    oa = sa + da * (1 - sa)
    want = np.round(
        np.append((src[:3] * sa + dst[:3] * da * (1 - sa)) / oa, oa * 255)
    ).astype(np.uint8)
    assert np.array_equal(c3[y, x], want)


def test_animated_webp_still_image_single_frame():
    px = _px(h=8, w=9, seed=71)
    data = wc.encode_webp_lossless(px)
    frames = wc.decode_webp_frames(data)
    assert len(frames) == 1 and frames[0][1] == 0
    assert np.array_equal(frames[0][0][..., :3], px)


def test_animated_webp_lossy_frames_roundtrip():
    """ANMF frames may carry lossy VP8 (+ALPH) payloads too — dims and
    alpha must survive; pixels within the lossy band."""
    from pii_detection_service_spark.sources import vp8codec

    rng = np.random.default_rng(72)
    cw, ch = 32, 16
    f = np.clip(rng.normal(128, 20, (ch, cw, 4)), 0, 255).astype(np.uint8)
    sub = vp8codec.encode_webp_vp8(f, qi=4)

    def chunk(tag, body):
        return tag + len(body).to_bytes(4, "little") + body + (
            b"\x00" if len(body) % 2 else b""
        )

    vp8x = bytes([0x12, 0, 0, 0]) + (cw - 1).to_bytes(3, "little") + (
        ch - 1
    ).to_bytes(3, "little")
    anim = bytes([0, 0, 0, 0]) + (0).to_bytes(2, "little")
    anmf = (
        (0).to_bytes(3, "little") * 2
        + (cw - 1).to_bytes(3, "little")
        + (ch - 1).to_bytes(3, "little")
        + (25).to_bytes(3, "little")
        + bytes([2])  # no-blend
        + sub[12:]
    )
    body = b"WEBP" + chunk(b"VP8X", vp8x) + chunk(b"ANIM", anim) + chunk(b"ANMF", anmf)
    data = b"RIFF" + len(body).to_bytes(4, "little") + body
    frames = wc.decode_webp_frames(data)
    assert len(frames) == 1
    out = frames[0][0]
    assert out.shape == (ch, cw, 4)
    assert np.array_equal(out[..., 3], f[..., 3])  # raw ALPH exact


def test_animated_webp_torn_contracts():
    cw, ch, f1, _, _ = _anim_frames()
    data = bytearray(wc.encode_webp_anim([(f1, 0, 0, 10, False, False)], cw, ch))
    with pytest.raises(ValueError):
        wc.decode_webp_frames(bytes(data[:40]))  # truncated chunk
    # frame dims exceeding the canvas must raise, not write out of bounds
    big = wc.encode_webp_anim([(f1, 0, 0, 10, False, False)], cw, ch)
    idx = big.index(b"ANMF") + 8 + 6
    bad = bytearray(big)
    bad[idx : idx + 3] = (cw + 7).to_bytes(3, "little")  # frame_w - 1 too big
    with pytest.raises(ValueError):
        wc.decode_webp_frames(bytes(bad))


def test_sample_frames_over_animated_webp(spark):
    from pii_detection_service_spark.operators import multimodal
    from pii_detection_service_spark.sources import pngcodec

    cw, ch, f1, f2, _ = _anim_frames()
    data = wc.encode_webp_anim(
        [(f1, 0, 0, 10, False, False), (f2, 4, 2, 10, False, False),
         (f1, 0, 0, 10, False, False)],
        cw, ch,
    )
    df = spark.createDataFrame([("anim_0", bytearray(data))],
                               "image_id string, bytes binary")
    got = multimodal.sample_frames(df, every=2).collect()
    assert [r["frame_idx"] for r in got] == [0, 2]
    px = pngcodec.decode_png(bytes(got[0]["frame_bytes"]))
    assert np.array_equal(px[..., :3], f1[..., :3])

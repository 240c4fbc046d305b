"""Lossy WebP (VP8 key-frame) codec: spec conformance and contracts.

Verification strategy (stronger than the VP8L pattern, which had no
reference implementation in this environment): the system ships
libwebp.so.7, a spec-conformant BSD-licensed codec. Tests prove BIT-EXACT
Y/U/V agreement in BOTH directions — libwebp-encoded streams (random
sizes/qualities/methods/filters/segmentation) decode identically here,
and streams fabricated by this repo's encoder (including B_PRED, skip
flags, and 8-partition layouts libwebp's encoder never emits) decode
identically in libwebp. Two libwebp-encoded streams are additionally
EMBEDDED as fixtures with pinned plane hashes, so the conformance pin
holds even on machines without the library.
"""

from __future__ import annotations

import ctypes
import hashlib

import numpy as np
import pytest

from pii_detection_service_spark.sources import vp8codec, webpcodec
from pii_detection_service_spark.sources.vp8codec import (
    VP8Decoder,
    VP8Encoder,
    decode_vp8,
    encode_webp_vp8,
    rgb_to_yuv,
)

# --- embedded libwebp-encoded fixtures (stock + segmented/filtered) ----------
F1_HEX = (  # 540 bytes: 48x36, segments=4 + sns, normal loop filter
    "5249464614020000574542505650382008020000d20b009d012a300024003e9d429445a5"
    "a4221aaaac025809c4b1806199b7dc03659f4018329a851e881e79b2e43db8e8aed2e572"
    "118643ab019ebfbd57f2bbe84cb3d8fbe70abdfbf90491e01e8aedd6656fd7f921458de8"
    "c2934043e086f52ac1af247bf56fc000fefbfc0c8c97bd65eb5dffe92cd5a7190f63ed32"
    "1e012a4c611a255fec6c51e052d69b318ed567b2923d711342602a5a02c36247c3720613"
    "37f0a10ca05afd60a4cf2f8c11ce22d75627dd6a7fbc9ac14e9832f4cd903536cee98af9"
    "180978835e3cfba31c43212af9b94b54bd2fe797b3449d52d4adf0bb8561286962d9f0c5"
    "6c2bc599245de12407e434c89838d205c89f03475a52deb37c37402283cae1b8286f8caa"
    "1d9a1b09531846711a414bbd4d30292916e56dfffb3ebbab68fc51170a9e6f6d9dd3c80c"
    "fd7ece8f9dc604e18370c60fe81e0ff615751f27c202fe46d4caf744fd5833576ba74872"
    "13663b9b068854a4c6bdbf08973b72e585cfc25085cf7088e746086d1edf1534846cbacc"
    "0cd7d81d3cc5af11c9e0e71e55c497087d1306368ce8687668efb6f799859e3f8ecb30b1"
    "8653ec9e5075ab0854574fa8b1c3c5a8fe2d9786fd0264e559ed79da129ae500c0687b5d"
    "5d211314656e9fdcfd50bbff97892e776781239d4cf202e22c830c451d0e2ac45404dcee"
    "42df8bf9488916881895ae7d3e65cdd0cf2995e127e3c6da8b1f9bbf00d7398c7a4c0000"
)
F1_YUV_SHA256 = "c5a3683f43afd1f233670b7043557d1205bf14790b8a5c4f8248641846bf02b8"
F2_HEX = (  # 662 bytes: 40x24, libwebp simple-API defaults (version 0)
    "524946468e020000574542505650382082020000300c009d012a280018003e9d42994925"
    "a3a2212aac00b013896c009d32ca583d92a017d006d80e784f401bc1fbc53fe21f904f81"
    "bf29a812bcb181e7f5998fa5bd813caabd5c7ec77b19feca8a11621ce3b84fad33706dac"
    "14dd3c6eff41ec68731ed9a7a9ce4cd0d60000ed7956bf7aec0a0e08d4f02199ede98047"
    "002da533c0563d5707d21818ff472cec3e4ad3dafa8d37b10d2bb7dee38929fcb2314655"
    "7d787482d2e3431695b4bc9e909d922f4fef4b26ca508959bab7678861969f65a154705a"
    "ff25ad0519ad7cdc3c9fc19917076765f077be8ade1b9d3b691db8e17b79495eb9dfef9e"
    "fddbaa8ee09db02a90e0b23cc89fc069b4693425e2938dbcd80e1798c572198329586e47"
    "356125157b0aac14546f69e2f3b5e06b4b68ce4626260a0be26f96aed67e25fa4ea94adc"
    "364d7356bee35d4513d2cc9fae1dea16053de6ef8c4e012bf6e335402d46d3880347619f"
    "11bfeb9341d86006a8cbe3ab8a766431c9569c099173fd1f1ea4d3deda5d4e36601bcd48"
    "90db20a27e26b74215fc884e70be22ac80bf43325e93e1e5e613c04d27e73441390da0bc"
    "716261f5feeb6bb10becd94bb2f5673d4eedd98216a2365e81d13c1eae8d2719d2129fc8"
    "253bb1243f1062dce5fb68f15088496cf01e4a9637065f2258bf809020384d0d91913bd1"
    "a481246580c8401253ef31fdb9f260d7de4563bf02192a55d3881969d606e9ad6da6ffd1"
    "e3264b0f8aba3a28af43f88fab620484881e46cfc4c04fda897458e93311a690b7c2be3f"
    "9f3b35dcfd0761191994264278358e33bcabd82785ba34bfee5beec9a2fd55aa6a68e326"
    "b3bb1251ff955242c5ea6281e217479545e89bd12c4c8b1288fdf9c9a5f9c0fc95f92e32"
    "48a390eaef87b3a63fb000000000"
)
F2_YUV_SHA256 = "24ebce244c9d0d30fc32e36ca0eab59efb152a9a2be3f3669eea044838e13de7"


def _vp8_payload(webp: bytes) -> bytes:
    assert webp[12:16] == b"VP8 "
    return webp[20:]


def _yuv_hash(y, u, v) -> str:
    return hashlib.sha256(y.tobytes() + u.tobytes() + v.tobytes()).hexdigest()


# --- libwebp oracle (tests-only ctypes binding; skipped when absent) ---------

_LIB_PATHS = ["libwebp.so.7", "/usr/lib/x86_64-linux-gnu/libwebp.so.7"]


def _load_libwebp():
    for p in _LIB_PATHS:
        try:
            return ctypes.CDLL(p)
        except OSError:
            continue
    return None


_LIB = _load_libwebp()
needs_libwebp = pytest.mark.skipif(_LIB is None, reason="no system libwebp")


def _lw_decode_yuv(data: bytes):
    lib = _LIB
    lib.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_ubyte)
    W = ctypes.c_int()
    H = ctypes.c_int()
    U = ctypes.POINTER(ctypes.c_ubyte)()
    V = ctypes.POINTER(ctypes.c_ubyte)()
    stride = ctypes.c_int()
    uv_stride = ctypes.c_int()
    p = lib.WebPDecodeYUV(
        data, ctypes.c_size_t(len(data)), ctypes.byref(W), ctypes.byref(H),
        ctypes.byref(U), ctypes.byref(V), ctypes.byref(stride),
        ctypes.byref(uv_stride),
    )
    assert p, "libwebp decode failed"
    w, h = W.value, H.value
    cw, ch = (w + 1) // 2, (h + 1) // 2
    y = np.ctypeslib.as_array(p, shape=(h, stride.value))[:, :w].copy()
    u = np.ctypeslib.as_array(U, shape=(ch, uv_stride.value))[:, :cw].copy()
    v = np.ctypeslib.as_array(V, shape=(ch, uv_stride.value))[:, :cw].copy()
    lib.WebPFree(p)
    return y, u, v


def _lw_encode(rgb: np.ndarray, quality: float) -> bytes:
    lib = _LIB
    h, w, _ = rgb.shape
    lib.WebPEncodeRGB.restype = ctypes.c_size_t
    lib.WebPEncodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.c_char_p),
    ]
    out = ctypes.c_char_p()
    n = lib.WebPEncodeRGB(
        np.ascontiguousarray(rgb).tobytes(), w, h, w * 3,
        ctypes.c_float(quality), ctypes.byref(out),
    )
    assert n
    data = ctypes.string_at(out, n)
    lib.WebPFree(out)
    return data


def _img(seed: int, w: int, h: int, noise: float = 14.0) -> np.ndarray:
    rng = np.random.default_rng(seed)
    x = np.linspace(0, 255, w)[None, :, None]
    y = np.linspace(15, 240, h)[:, None, None]
    img = 0.55 * x + 0.45 * y + rng.normal(0, noise, (h, w, 3))
    img[h // 3 : h // 2, w // 3 : w // 2] += 70
    return np.clip(img, 0, 255).astype(np.uint8)


# --- embedded-fixture conformance (runs everywhere) ---------------------------


def test_fixture_streams_decode_to_pinned_planes():
    """Two real libwebp-encoded streams (one with segmentation + the normal
    loop filter, one with stock simple-API settings) decode to the exact
    Y/U/V planes libwebp itself produced (sha256-pinned)."""
    for hx, want in ((F1_HEX, F1_YUV_SHA256), (F2_HEX, F2_YUV_SHA256)):
        data = bytes.fromhex("".join(hx))
        y, u, v = decode_vp8(_vp8_payload(data))
        assert _yuv_hash(y, u, v) == want


def test_fixture_through_webp_container_dispatch():
    data = bytes.fromhex("".join(F2_HEX))
    px = webpcodec.decode_webp(data)
    assert px.shape == (24, 40, 4)
    assert px[..., 3].min() == 255


# --- round-trip + PSNR (runs everywhere) --------------------------------------


def test_roundtrip_psnr_above_40db_near_lossless():
    """qi=4 (the near-lossless operating point, mirroring the JPEG codec's
    quality-98 pin): full RGB round-trip PSNR >= 40 dB on smooth-plus-noise
    synth content."""
    img = _img(1, 64, 48, noise=2.0)
    data = encode_webp_vp8(img, qi=4)
    px = webpcodec.decode_webp(data)
    mse = np.mean((px[..., :3].astype(float) - img.astype(float)) ** 2)
    assert 10 * np.log10(255.0**2 / mse) >= 40.0


def test_y_plane_roundtrip_is_tight_at_qi0():
    img = _img(2, 48, 32, noise=3.0)
    y, u, v = rgb_to_yuv(img)
    data = encode_webp_vp8(img, qi=0)
    yd, ud, vd = decode_vp8(_vp8_payload(data))
    mse = np.mean((yd.astype(float) - y.astype(float)) ** 2)
    assert 10 * np.log10(255.0**2 / max(mse, 1e-12)) >= 46.0


def test_encoder_recon_equals_decoder_output_all_features():
    """The encoder's internal reconstruction IS the decode result —
    across 16x16 modes, forced B_PRED, skip flags, and 8 partitions."""
    img = _img(3, 80, 48)
    y, u, v = rgb_to_yuv(img)
    for kw in (
        dict(),
        dict(force_bpred=True),
        dict(use_skip=True, log2_parts=3),
        dict(allow_bpred=False, use_skip=True),
    ):
        enc = VP8Encoder(y, u, v, qi=18, **kw)
        payload = enc.encode()
        yd, ud, vd = decode_vp8(payload)
        h, w = y.shape
        assert np.array_equal(yd, enc.recon[0][1 : 1 + h, 1 : 1 + w].astype(np.uint8))
        assert np.array_equal(ud, enc.recon[1][1 : 1 + h // 2, 1 : 1 + w // 2].astype(np.uint8))
        assert np.array_equal(vd, enc.recon[2][1 : 1 + h // 2, 1 : 1 + w // 2].astype(np.uint8))


def test_odd_dimensions_crop():
    img = _img(4, 50, 34)
    data = encode_webp_vp8(img, qi=8)
    px = webpcodec.decode_webp(data)
    assert px.shape == (34, 50, 4)


def test_skip_flags_actually_engage_on_flat_content():
    img = np.full((64, 64, 3), 140, np.uint8)
    img[:16, :16] = _img(5, 16, 16, noise=40)[..., :3]
    y, u, v = rgb_to_yuv(img)
    enc = VP8Encoder(y, u, v, qi=30, use_skip=True)
    payload = enc.encode()
    dec = VP8Decoder(payload)
    dec.decode()
    assert dec.use_skip == 1
    assert dec.skips.sum() > 0  # flat MBs really skipped


def test_encoder_rejects_quantizer_outside_header_range():
    """The header carries qi in 7 bits, so an index outside 0..127 would
    write one quantizer and encode with another."""
    y, u, v = rgb_to_yuv(_img(7, 16, 16))
    for qi in (-1, 128):
        with pytest.raises(ValueError):
            VP8Encoder(y, u, v, qi=qi)


# --- torn-file contracts (runs everywhere) -------------------------------------


def test_torn_file_contracts_raise_never_wrong_pixels():
    img = _img(6, 32, 32)
    data = encode_webp_vp8(img, qi=8)
    payload = _vp8_payload(data)
    with pytest.raises(ValueError):
        VP8Decoder(payload[:6])  # truncated uncompressed header
    bad = bytearray(payload)
    bad[3:6] = b"\x00\x00\x00"
    with pytest.raises(ValueError):
        VP8Decoder(bytes(bad))  # bad start code
    with pytest.raises(ValueError):
        VP8Decoder(payload[:9])  # truncated dimensions
    # first-partition size pointing past the buffer
    with pytest.raises(ValueError):
        VP8Decoder(payload[: 10 + 2])
    # interframe (lowest tag bit set) is an honest NotImplementedError seam
    inter = bytearray(payload)
    inter[0] |= 1
    with pytest.raises(NotImplementedError):
        VP8Decoder(bytes(inter))
    # hard-truncated token partition: structural failure must raise
    dec = VP8Decoder(payload)
    dec.partitions[0].end = dec.partitions[0].pos  # simulate torn tail
    dec.partitions[0].d = payload[: dec.partitions[0].pos]
    with pytest.raises(ValueError):
        dec.decode()


def _vp8_chunk(webp: bytes) -> bytes:
    """The ``VP8 `` chunk's payload without the RIFF pad byte."""
    assert webp[12:16] == b"VP8 "
    return webp[20 : 20 + int.from_bytes(webp[16:20], "little")]


def _lw_decodes(data: bytes) -> bool:
    lib = _LIB
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_ubyte)
    W = ctypes.c_int()
    H = ctypes.c_int()
    p = lib.WebPDecodeRGBA(
        data, ctypes.c_size_t(len(data)), ctypes.byref(W), ctypes.byref(H)
    )
    if p:
        lib.WebPFree(p)
    return bool(p)


def test_every_prefix_decodes_or_raises_value_error():
    """Every strict prefix of an encoder stream (default, forced B_PRED,
    skips over 8 partitions) and of libwebp-encoded streams (the embedded
    fixtures, plus a fresh encode when the library is present) raises
    ValueError or decodes to the full stream's planes. The decoder keeps
    libwebp's end-of-data rule: with libwebp present, a prefix decodes
    here exactly when it decodes in libwebp."""
    y, u, v = rgb_to_yuv(_img(40, 24, 40))
    streams = [
        VP8Encoder(y, u, v, qi=18, **kw).encode()
        for kw in (dict(), dict(force_bpred=True), dict(use_skip=True, log2_parts=3))
    ]
    streams += [_vp8_chunk(bytes.fromhex(hx)) for hx in (F1_HEX, F2_HEX)]
    if _LIB is not None:
        streams.append(_vp8_chunk(_lw_encode(_img(41, 40, 56), 75)))
    for data in streams:
        full = decode_vp8(data)
        for n in range(len(data)):
            try:
                got = decode_vp8(data[:n])
            except ValueError:
                got = None
            else:
                assert all(map(np.array_equal, got, full)), (len(data), n)
            assert _LIB is None or _lw_decodes(data[:n]) == (got is not None), (len(data), n)


# --- outputs pinned across refactors -------------------------------------------

_PIN_CONFIGS = {
    "default": {},
    "force_bpred": {"force_bpred": True},
    "skip": {"use_skip": True},
    "skip_parts8": {"use_skip": True, "log2_parts": 3},
    "no_bpred_skip": {"allow_bpred": False, "use_skip": True},
}


def _pin_img(w: int, h: int) -> np.ndarray:
    """Noisy ramps beside a flat column (a skipped DC macroblock), a luma
    ramp and a chroma ramp, so the pinned streams mix B_PRED and 16x16
    luma modes, several chroma modes and a skipped macroblock."""
    img = _img(50, w, h, noise=6)
    img[:, :16] = 140
    img[:16, 16:32] = np.linspace(40, 200, 16).astype(np.uint8)[None, :, None]
    img[:16, 32:, 0] = np.linspace(30, 230, 16).astype(np.uint8)[:, None]
    return img


def _pin_alpha_img() -> np.ndarray:
    rng = np.random.default_rng(30)
    return np.clip(rng.normal(128, 30, (24, 32, 4)), 0, 255).astype(np.uint8)


# (config, width, height, qi): sha256 of the encoder bytes and of the decoded
# Y/U/V planes
_PINNED_VP8 = {
    ("default", 48, 32, 0): (
        "9923bab08710a35ac79515a2481fc0f462d8ec0f42b5813e0f65f4284a48985d",
        "7b9041023bbd826478e913685a7bf11a9140d32bf4f73b8119848793cf400bfe",
    ),
    ("default", 48, 32, 18): (
        "88a166cb9b669f83b258d0596b12c7877d1b1dd3dc7f94fe8982f7d700808979",
        "31fc4ffe0e0f430a3d1253d08f47eaa90bcfb0c3def1ae207454d4c2ed8b4a16",
    ),
    ("default", 48, 32, 60): (
        "eb4dd98b2f7b0c28ac524474eab6d415dbf9e45dad42ce70c50c95e786983aef",
        "8ccaec7246847837228766bfc91070ccd1c63dc37faefec7eb35f57e20f17b32",
    ),
    ("default", 35, 21, 0): (
        "74fdf7fc61f83f02474292a917a15e5a9ee25d9d707685fafe420f93bff94563",
        "956ac33c7f562b976ebf90468b03f084b762fbc84704ad8ac65428746baae000",
    ),
    ("default", 35, 21, 18): (
        "e03896040aa284efca05a5bc3e98896b784e0c92a7cf0b44d46166fad9736beb",
        "33306ce2392a318dd30731758907d163cb64be09a47c6a880cb9c5010eb2a53a",
    ),
    ("default", 35, 21, 60): (
        "cf07953f07f9ff98c616f9107870a12a2b9ab5c983586b7a6fc4e774ce63c750",
        "6d14db5184c2b81a0fe9fc4968066b5a7b98dc67aa4fb5ab96ce54d514c97475",
    ),
    ("force_bpred", 48, 32, 0): (
        "463120ff0e0f2ab59351e9cdd4ec22d7c2c9c4835c945e01d3b8ee6b247b3015",
        "7b9041023bbd826478e913685a7bf11a9140d32bf4f73b8119848793cf400bfe",
    ),
    ("force_bpred", 48, 32, 18): (
        "adc7ece25bb7b61a012eddcaabbaa3ad6fd3789054f11b010e6d0f3835eac652",
        "31fc4ffe0e0f430a3d1253d08f47eaa90bcfb0c3def1ae207454d4c2ed8b4a16",
    ),
    ("force_bpred", 48, 32, 60): (
        "96cc8eb4502cdd3bfb611e19cfab66c38b7de1f887f281a8f0254aa33d77a86b",
        "8ccaec7246847837228766bfc91070ccd1c63dc37faefec7eb35f57e20f17b32",
    ),
    ("force_bpred", 35, 21, 0): (
        "03b4042a701251de76b5a2d28aeaa5a9ac6b63d0b3dc35287aab223ffac9de93",
        "956ac33c7f562b976ebf90468b03f084b762fbc84704ad8ac65428746baae000",
    ),
    ("force_bpred", 35, 21, 18): (
        "2ab591e23d75bc936189b29b5e4d8894f0abc00100c77e8d45edea3da6a3615f",
        "33306ce2392a318dd30731758907d163cb64be09a47c6a880cb9c5010eb2a53a",
    ),
    ("force_bpred", 35, 21, 60): (
        "93a8b82914e046fe1d5f7f5c6ae94cba510d9c366bff23243271693f300d7682",
        "6d14db5184c2b81a0fe9fc4968066b5a7b98dc67aa4fb5ab96ce54d514c97475",
    ),
    ("skip", 48, 32, 0): (
        "0763994c180d8d49647612ae371231f33794c983c60e78060bc06caec444549c",
        "7b9041023bbd826478e913685a7bf11a9140d32bf4f73b8119848793cf400bfe",
    ),
    ("skip", 48, 32, 18): (
        "27a603e27da24c33288b971c671e5536acab4f9b86b0c76526ad0e8a0d941517",
        "31fc4ffe0e0f430a3d1253d08f47eaa90bcfb0c3def1ae207454d4c2ed8b4a16",
    ),
    ("skip", 48, 32, 60): (
        "acfbe111c19559d7ea784cad4243079180dd796a6e8abd54753ccc0066102b24",
        "8ccaec7246847837228766bfc91070ccd1c63dc37faefec7eb35f57e20f17b32",
    ),
    ("skip", 35, 21, 0): (
        "64a29ca3781573ac890154be132a1b7d5ad05c9c253b4cad8ec15f3347ef65c5",
        "956ac33c7f562b976ebf90468b03f084b762fbc84704ad8ac65428746baae000",
    ),
    ("skip", 35, 21, 18): (
        "8df39e8d5a66d0bb05b821c62882a99ec8875210d9bd16e9c638a2f6fd5c0b31",
        "33306ce2392a318dd30731758907d163cb64be09a47c6a880cb9c5010eb2a53a",
    ),
    ("skip", 35, 21, 60): (
        "b9eec73c851424dc2c46d1b3563eb94260ec2e360c75a727df77fab0f2cd9a19",
        "6d14db5184c2b81a0fe9fc4968066b5a7b98dc67aa4fb5ab96ce54d514c97475",
    ),
    ("skip_parts8", 48, 32, 0): (
        "aebf775108d115be6a0b13cec8e5df352210cf16d2a768d8c881d13f967fed15",
        "7b9041023bbd826478e913685a7bf11a9140d32bf4f73b8119848793cf400bfe",
    ),
    ("skip_parts8", 48, 32, 18): (
        "6fb062e3d8271fe2d498c72f0a5ccd6fcceab1f57cf3366ff074aba56ae0a42e",
        "31fc4ffe0e0f430a3d1253d08f47eaa90bcfb0c3def1ae207454d4c2ed8b4a16",
    ),
    ("skip_parts8", 48, 32, 60): (
        "e1a21044d6773d26f0d37834585893b8c4b4a7f99002c79ef7fbb95a5aa93c0d",
        "8ccaec7246847837228766bfc91070ccd1c63dc37faefec7eb35f57e20f17b32",
    ),
    ("skip_parts8", 35, 21, 0): (
        "2061fd8ef61aeb67e85cecbb5fd5b753e731efe3545bb8f77ae0be962c0e751a",
        "956ac33c7f562b976ebf90468b03f084b762fbc84704ad8ac65428746baae000",
    ),
    ("skip_parts8", 35, 21, 18): (
        "f84db89f8eceabf9ebd102ed1b2ad88b4e5fb609837cec170cc5ab68c6224538",
        "33306ce2392a318dd30731758907d163cb64be09a47c6a880cb9c5010eb2a53a",
    ),
    ("skip_parts8", 35, 21, 60): (
        "0f92573b9fabd4418d88eb74b264d1686a3841603e91572320d44fc5cbdba955",
        "6d14db5184c2b81a0fe9fc4968066b5a7b98dc67aa4fb5ab96ce54d514c97475",
    ),
    ("no_bpred_skip", 48, 32, 0): (
        "c61e81fafc18959e9cc6d83e13378275f6f3fabaf9b1c58e52b7e68518866bcb",
        "63d75285a56181f7d6692b96fc1e9c5c28be77b576324aa8cf1659dd728e37dc",
    ),
    ("no_bpred_skip", 48, 32, 18): (
        "6b367fefbfca937e0c8819836291ff9a45dcc1929f8776dcc330000542f56a48",
        "c23f48babc621e71d365e27559febb2bdfda5a99a918d458e566c611fe342656",
    ),
    ("no_bpred_skip", 48, 32, 60): (
        "083b6f17cdee93801161166464b5d3897ec3fc7d7a1f77e95fd02921e759a26c",
        "faefcb90ed5c4fd93d1c4eaa903f35646ce7361a0b98564b057a1bca26e839b1",
    ),
    ("no_bpred_skip", 35, 21, 0): (
        "e8ff1228fc558473331cb0d0c0078629dc6f54a81ce05c9ed8f8e3b162e45487",
        "cbf7ddd0998773bb53e4ad70bcc31adc15abeb8fa4b92fa4b8931da54a5ae3a9",
    ),
    ("no_bpred_skip", 35, 21, 18): (
        "3259a326416190c1510b65f1d9b196a5fb0d9202e9592cad5584a7c186bc37b5",
        "564a8556c3a26cfa33b99c886b46e7b0ca8216dc14a492320a03e716062c64d8",
    ),
    ("no_bpred_skip", 35, 21, 60): (
        "41ffaf8d2a474bf6687b7686cb6b5c5db9e8be614c7f09e7ad0a46850f049854",
        "895ab967ce19475ffc59af55223b8dfb99483d2e83ad68e2760e980bcf9ccc11",
    ),
}
# encode_webp_vp8 of _pin_alpha_img() at qi 4: sha256 of the file and of the
# RGBA pixels webpcodec decodes from it
_PINNED_ALPHA = (
    "dc269a5a97054db7931b9bdd56392d21566c0cc39137478b8e966bc67d47c688",
    "3f63702eed218d68a3342e702b789890ec02ee3928148f15c10ae78352139631",
)


def test_encoder_bytes_pinned():
    """Every VP8Encoder configuration the tests use, at three quantizers and
    at an even and an odd size, emits the pinned bytes, and they decode to
    the pinned planes; so does a lossy file with an ALPH chunk."""
    for (name, w, h, qi), (want_bytes, want_planes) in _PINNED_VP8.items():
        y, u, v = rgb_to_yuv(_pin_img(w, h))
        data = VP8Encoder(y, u, v, qi=qi, **_PIN_CONFIGS[name]).encode()
        assert hashlib.sha256(data).hexdigest() == want_bytes, (name, w, h, qi)
        assert _yuv_hash(*decode_vp8(data)) == want_planes, (name, w, h, qi)
    data = encode_webp_vp8(_pin_alpha_img(), qi=4)
    assert hashlib.sha256(data).hexdigest() == _PINNED_ALPHA[0]
    rgba = webpcodec.decode_webp(data)
    assert hashlib.sha256(rgba.tobytes()).hexdigest() == _PINNED_ALPHA[1]


# --- loop filters against a per-pixel RFC 6386 §15 reference ------------------


def _c8(v: int) -> int:
    return -128 if v < -128 else (127 if v > 127 else v)


def _ref_filter(seg, kind: str, I: int, E: int, hev_t: int) -> list[int]:
    """The 8 pixels p3..q3 across one edge, filtered as RFC 6386 §15.2
    (kind "simple") and §15.3 ("sub": a sub-block edge, "mb": a macroblock
    edge) write it, one pixel at a time."""
    px = [int(x) - 128 for x in seg]
    p3, p2, p1, p0, q0, q1, q2, q3 = px
    if abs(p0 - q0) * 2 + abs(p1 - q1) // 2 > E:
        return list(seg)
    interior = (p3 - p2, p2 - p1, p1 - p0, q1 - q0, q2 - q1, q3 - q2)
    if kind != "simple" and max(map(abs, interior)) > I:
        return list(seg)
    hev = kind != "simple" and (abs(p1 - p0) > hev_t or abs(q1 - q0) > hev_t)
    if kind == "mb" and not hev:
        w = _c8(_c8(p1 - q1) + 3 * (q0 - p0))
        for weight, p, q in ((27, 3, 4), (18, 2, 5), (9, 1, 6)):
            a = _c8((weight * w + 63) >> 7)
            px[q] = _c8(px[q] - a)
            px[p] = _c8(px[p] + a)
    else:
        outer = kind != "sub" or hev
        a = _c8((_c8(p1 - q1) if outer else 0) + 3 * (q0 - p0))
        f1 = _c8(a + 4) >> 3
        px[4] = _c8(q0 - f1)
        px[3] = _c8(p0 + (_c8(a + 3) >> 3))
        if kind == "sub" and not hev:
            a = (f1 + 1) >> 1
            px[5] = _c8(q1 - a)
            px[2] = _c8(p1 + a)
    return [x + 128 for x in px]


def test_loop_filters_match_scalar_reference():
    """The vectorized simple and normal loop filters, at macroblock and
    sub-block edges in both orientations (a horizontal edge is the vertical
    filter on the transposed plane), equal the per-pixel reference on
    random planes and random limits. Encoder streams carry filter level 0
    and libwebp's simple API writes the normal filter, so no stream test
    reaches the simple filter."""
    rng = np.random.default_rng(61)
    for trial in range(120):
        kind = ("simple", "sub", "mb")[trial % 3]
        I, E, hev_t = int(rng.integers(1, 64)), int(rng.integers(1, 128)), int(rng.integers(0, 4))
        P = rng.normal(128, rng.uniform(0, 12), (20, 24))
        P[:, 12:] += rng.normal(0, 10)  # the step across the vertical edge
        P[10:, :] += rng.normal(0, 10)  # the step across the horizontal edge
        P = np.clip(np.round(P), 0, 255).astype(np.int32)
        r0, n = int(rng.integers(0, 5)), int(rng.choice((8, 16)))
        for transpose, c in ((False, 12), (True, 10)):
            got = P.copy()
            Q = got.T if transpose else got  # a view: the filter writes through
            want = Q.copy()
            for r in range(r0, r0 + n):
                want[r, c - 4 : c + 4] = _ref_filter(want[r, c - 4 : c + 4], kind, I, E, hev_t)
            if kind == "simple":
                vp8codec._simple_edge(Q, r0, n, c, E)
            else:
                vp8codec._normal_edge(Q, r0, n, c, I, E, hev_t, kind == "mb")
            assert np.array_equal(Q, want), (trial, kind, transpose, I, E, hev_t)


# --- libwebp conformance (both directions; skipped without the library) -------


@needs_libwebp
def test_libwebp_streams_decode_bit_exact_here():
    """Direction C: libwebp encodes (stock settings incl. segmentation +
    normal loop filter), this decoder reproduces libwebp's own YUV output
    bit-for-bit."""
    for seed, (w, h), q in ((10, (48, 32), 75), (11, (96, 64), 40), (12, (33, 49), 92)):
        img = _img(seed, w, h)
        data = _lw_encode(img, q)
        got = decode_vp8(_vp8_payload(data))
        want = _lw_decode_yuv(data)
        for g, wv in zip(got, want):
            assert np.array_equal(g, wv), (seed, w, h, q)


@needs_libwebp
def test_fabricated_streams_decode_bit_exact_in_libwebp():
    """Direction A: streams from this encoder — including B_PRED, skip and
    multi-partition layouts libwebp's encoder never emits — decode
    bit-exactly in libwebp (the encoder's reconstruction is the ground
    truth both decoders must hit)."""
    img = _img(20, 64, 48)
    y, u, v = rgb_to_yuv(img)
    for kw in (dict(), dict(force_bpred=True), dict(use_skip=True, log2_parts=3)):
        enc = VP8Encoder(y, u, v, qi=12, **kw)
        payload = enc.encode()
        chunk = payload + (b"\x00" if len(payload) % 2 else b"")
        riff = b"WEBP" + b"VP8 " + len(payload).to_bytes(4, "little") + chunk
        webp = b"RIFF" + len(riff).to_bytes(4, "little") + riff
        got = _lw_decode_yuv(webp)
        h, w = y.shape
        want = (
            enc.recon[0][1 : 1 + h, 1 : 1 + w].astype(np.uint8),
            enc.recon[1][1 : 1 + h // 2, 1 : 1 + w // 2].astype(np.uint8),
            enc.recon[2][1 : 1 + h // 2, 1 : 1 + w // 2].astype(np.uint8),
        )
        for g, wv in zip(got, want):
            assert np.array_equal(g, wv), kw


@needs_libwebp
def test_vp8l_lossless_codec_matches_libwebp_both_directions():
    """Retroactive strengthening of the r4 VP8L codec: its spec-only
    verification now gets a real reference — files from this repo's VP8L
    encoder decode bit-exactly in libwebp, and libwebp's own lossless
    encodes decode bit-exactly here."""
    lib = _LIB
    rng = np.random.default_rng(99)
    px = rng.integers(0, 256, (21, 17, 3), dtype=np.uint8)
    # ours -> libwebp
    data = webpcodec.encode_webp_lossless(px, subtract_green=True, lz77=True)
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_ubyte)
    W = ctypes.c_int()
    H = ctypes.c_int()
    p = lib.WebPDecodeRGBA(
        data, ctypes.c_size_t(len(data)), ctypes.byref(W), ctypes.byref(H)
    )
    assert p, "libwebp rejected our VP8L file"
    got = np.ctypeslib.as_array(p, shape=(H.value, W.value, 4)).copy()
    lib.WebPFree(p)
    assert np.array_equal(got[..., :3], px) and (got[..., 3] == 255).all()
    # libwebp -> ours
    lib.WebPEncodeLosslessRGB.restype = ctypes.c_size_t
    lib.WebPEncodeLosslessRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.c_char_p),
    ]
    out = ctypes.c_char_p()
    n = lib.WebPEncodeLosslessRGB(
        np.ascontiguousarray(px).tobytes(), 17, 21, 17 * 3, ctypes.byref(out)
    )
    assert n
    lwdata = ctypes.string_at(out, n)
    lib.WebPFree(out)
    ours = webpcodec.decode_webp(lwdata)
    assert np.array_equal(ours[..., :3], px)


# --- lossy WebP with alpha (VP8X + ALPH) --------------------------------------


def _alpha_forward_filter(a: np.ndarray, method: int) -> np.ndarray:
    """Spec forward filter for fabricating ALPH test chunks (the inverse
    lives in webpcodec.decode_alpha)."""
    ai = a.astype(np.int32)
    d = np.zeros_like(a, dtype=np.uint8)
    if method == 1:
        for y in range(a.shape[0]):
            pred0 = int(a[y - 1, 0]) if y > 0 else 0
            d[y, 0] = (ai[y, 0] - pred0) & 0xFF
            d[y, 1:] = (ai[y, 1:] - ai[y, :-1]) & 0xFF
    elif method == 2:
        d[0, 0] = a[0, 0]
        d[0, 1:] = (ai[0, 1:] - ai[0, :-1]) & 0xFF
        d[1:] = (ai[1:] - ai[:-1]) & 0xFF
    else:
        d[0, 0] = a[0, 0]
        d[0, 1:] = (ai[0, 1:] - ai[0, :-1]) & 0xFF
        for y in range(1, a.shape[0]):
            left = int(a[y - 1, 0])
            tl = int(a[y - 1, 0])
            for x in range(a.shape[1]):
                top = int(a[y - 1, x])
                g = min(255, max(0, left + top - tl))
                d[y, x] = (ai[y, x] - g) & 0xFF
                left = int(a[y, x])
                tl = top
    return d


def _alpha_file(rgb: np.ndarray, alph_body: bytes) -> bytes:
    h, w = rgb.shape[:2]
    vp8_payload = _vp8_payload(encode_webp_vp8(rgb, qi=4))

    def chunk(tag, body):
        return tag + len(body).to_bytes(4, "little") + body + (
            b"\x00" if len(body) % 2 else b""
        )

    vp8x = bytes([0x10, 0, 0, 0]) + (w - 1).to_bytes(3, "little") + (
        h - 1
    ).to_bytes(3, "little")
    body = (
        b"WEBP" + chunk(b"VP8X", vp8x) + chunk(b"ALPH", alph_body)
        + chunk(b"VP8 ", vp8_payload)
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_rgba_roundtrip_alpha_lossless_and_opaque_stays_simple():
    rng = np.random.default_rng(30)
    px = np.clip(rng.normal(128, 30, (24, 32, 4)), 0, 255).astype(np.uint8)
    data = encode_webp_vp8(px, qi=4)
    assert data[12:16] == b"VP8X"  # alpha layout
    out = webpcodec.decode_webp(data)
    assert np.array_equal(out[..., 3], px[..., 3])  # alpha carried losslessly
    opaque = px.copy()
    opaque[..., 3] = 255
    data2 = encode_webp_vp8(opaque, qi=4)
    assert data2[12:16] == b"VP8 "  # no pointless VP8X layout


def test_alpha_unfilters_roundtrip_all_methods():
    """ALPH filters 1/2/3 (horizontal/vertical/gradient): a plane filtered
    with the spec's forward recurrences must unfilter back exactly (the
    same chunks were verified bit-exact against libwebp's decoder)."""
    rng = np.random.default_rng(31)
    h, w = 24, 32
    rgb = np.clip(rng.normal(120, 30, (h, w, 3)), 0, 255).astype(np.uint8)
    alpha = np.clip(
        np.add.outer(np.linspace(0, 200, h), np.linspace(0, 55, w))
        + rng.normal(0, 6, (h, w)),
        0, 255,
    ).astype(np.uint8)
    for m in (0, 1, 2, 3):
        body = bytes([m << 2]) + (
            _alpha_forward_filter(alpha, m) if m else alpha
        ).tobytes()
        out = webpcodec.decode_webp(_alpha_file(rgb, body))
        assert np.array_equal(out[..., 3], alpha), f"filter {m}"


def test_alpha_torn_and_unsupported_contract():
    rng = np.random.default_rng(32)
    rgb = np.clip(rng.normal(120, 30, (16, 16, 3)), 0, 255).astype(np.uint8)
    with pytest.raises(ValueError):
        webpcodec.decode_webp(_alpha_file(rgb, bytes([0]) + bytes(10)))  # short
    with pytest.raises(NotImplementedError):
        webpcodec.decode_webp(
            _alpha_file(rgb, bytes([0x10]) + bytes(16 * 16))  # preproc 1
        )


@needs_libwebp
def test_alpha_conformance_both_directions():
    """Our raw-ALPH files decode with the exact alpha in libwebp; libwebp's
    own lossy-RGBA encodes (compression-1 ALPH: a headerless VP8L stream +
    horizontal filtering) decode here with alpha bit-identical to
    libwebp's output."""
    lib = _LIB
    rng = np.random.default_rng(33)
    h, w = 40, 48
    px = np.clip(rng.normal(120, 45, (h, w, 4)), 0, 255).astype(np.uint8)
    px[..., 3] = np.clip(
        np.linspace(0, 255, w)[None, :] + rng.normal(0, 10, (h, w)), 0, 255
    ).astype(np.uint8)
    # ours -> libwebp
    data = encode_webp_vp8(px, qi=6)
    W = ctypes.c_int()
    H = ctypes.c_int()
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_ubyte)
    p = lib.WebPDecodeRGBA(
        data, ctypes.c_size_t(len(data)), ctypes.byref(W), ctypes.byref(H)
    )
    assert p
    lw = np.ctypeslib.as_array(p, shape=(H.value, W.value, 4)).copy()
    lib.WebPFree(p)
    assert np.array_equal(lw[..., 3], px[..., 3])
    # libwebp -> ours
    lib.WebPEncodeRGBA.restype = ctypes.c_size_t
    lib.WebPEncodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.c_char_p),
    ]
    out = ctypes.c_char_p()
    n = lib.WebPEncodeRGBA(
        px.tobytes(), w, h, w * 4, ctypes.c_float(80.0), ctypes.byref(out)
    )
    assert n
    data2 = ctypes.string_at(out, n)
    lib.WebPFree(out)
    p = lib.WebPDecodeRGBA(
        data2, ctypes.c_size_t(n), ctypes.byref(W), ctypes.byref(H)
    )
    lw2 = np.ctypeslib.as_array(p, shape=(H.value, W.value, 4)).copy()
    lib.WebPFree(p)
    mine = webpcodec.decode_webp(data2)
    assert np.array_equal(mine[..., 3], lw2[..., 3])


# --- property tests (Hypothesis) ----------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(1, 254)),
        min_size=1,
        max_size=400,
    )
)
def test_bool_coder_roundtrip_property(seq):
    """Arithmetic coder round-trip: ANY (bit, prob) sequence written by the
    encoder decodes back identically — including extreme probabilities and
    long renormalization runs (the carry-propagation and virtual-trailing-
    zero paths)."""
    from pii_detection_service_spark.sources.vp8codec import (
        BoolDecoder,
        BoolEncoder,
    )

    e = BoolEncoder()
    for bit, prob in seq:
        e.put(bit, prob)
    data = e.finish()
    d = BoolDecoder(data, 0, len(data))
    got = [d.bool(prob) for _, prob in seq]
    assert got == [bit for bit, _ in seq]


@settings(max_examples=30, deadline=None)
@given(
    st.integers(0, 2**32 - 1),
    st.integers(2, 24),
    st.integers(2, 24),
    st.integers(0, 3),
)
def test_alpha_filter_unfilter_identity_property(seed, w, h, method):
    """ALPH forward filter (test helper) → decode_alpha inverse is the
    identity for every method on arbitrary planes."""
    rng = np.random.default_rng(seed)
    alpha = rng.integers(0, 256, (h, w), dtype=np.uint8)
    body = bytes([method << 2]) + (
        _alpha_forward_filter(alpha, method) if method else alpha
    ).tobytes()
    got = webpcodec.decode_alpha(body, w, h)
    assert np.array_equal(got, alpha)

"""Real baseline-JPEG codec: round-trip quality, container validity,
honest seams, and the multimodal plumbing over real JPEG bytes."""

import hashlib
import struct

import numpy as np
import pytest

from pii_detection_service_spark.sources import imagecodec, jpegcodec, synth


def test_roundtrip_holds_psnr_invariant_on_synth_noise():
    """Synthetic images carry uniform noise — the hardest content for DCT
    coding. Quality 98 must hold the input_hint 40 dB invariant."""
    worst = float("inf")
    for i in range(40):
        px = synth.pixels_for(i)
        out = jpegcodec.decode_baseline_jpeg(jpegcodec.encode_baseline_jpeg(px, 98))
        assert out.shape == px.shape and out.dtype == np.uint8
        worst = min(worst, imagecodec.psnr(px, out))
    assert worst >= 40.0, f"worst PSNR {worst}"


def test_non_multiple_of_8_dimensions():
    px = synth.pixels_for(3, size=37)
    out = jpegcodec.decode_baseline_jpeg(jpegcodec.encode_baseline_jpeg(px, 98))
    assert out.shape == (37, 37, 3)
    assert imagecodec.psnr(px, out) >= 40.0


def test_container_structure_is_real_jfif():
    data = jpegcodec.encode_baseline_jpeg(synth.pixels_for(1), 92)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert data[2:4] == b"\xff\xe0" and data[6:11] == b"JFIF\x00"
    # walk the marker chain up to SOS; every segment must be well-formed
    markers = set()
    pos = 2
    while True:
        assert data[pos] == 0xFF
        m = data[pos + 1]
        markers.add(m)
        if m == 0xDA:
            break
        (ln,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        pos += 2 + ln
    assert {0xE0, 0xDB, 0xC0, 0xC4, 0xDA} <= markers


def test_quality_monotone_in_size_and_error():
    px = synth.pixels_for(7)
    lo = jpegcodec.encode_baseline_jpeg(px, 50)
    hi = jpegcodec.encode_baseline_jpeg(px, 98)
    assert len(lo) < len(hi)
    p_lo = imagecodec.psnr(px, jpegcodec.decode_baseline_jpeg(lo))
    p_hi = imagecodec.psnr(px, jpegcodec.decode_baseline_jpeg(hi))
    assert p_lo < p_hi


def test_unsupported_frames_and_factors_raise_honestly():
    data = bytearray(jpegcodec.encode_baseline_jpeg(synth.pixels_for(2), 92))
    # rewrite SOF0 → SOF3 (lossless sequential — genuinely unsupported)
    i = bytes(data).index(b"\xff\xc0")
    lossless = data.copy()
    lossless[i + 1] = 0xC3
    with pytest.raises(NotImplementedError, match="sequential.*progressive"):
        jpegcodec.decode_baseline_jpeg(bytes(lossless))
    # rewrite Y sampling factor 1x1 → 3x3 (beyond the factor-2 support)
    sub = data.copy()
    sub[i + 11] = 0x33  # SOF payload: len(2) prec(1) h(2) w(2) nc(1), comp0 id
    with pytest.raises(NotImplementedError, match="sampling factor"):
        jpegcodec.decode_baseline_jpeg(bytes(sub))


def test_progressive_decodes_byte_identical_to_baseline():
    """encode_progressive_jpeg emits the IDENTICAL quantized coefficients
    through the progressive scan script (DC successive approximation, AC
    spectral selection + refinement, EOB runs), so the decoded pixels must
    equal the baseline decode exactly — across subsampling modes,
    qualities, and non-aligned shapes (incl. the widths whose MCU-padded
    grid exceeds the component's own block count)."""
    for i, size in ((0, 24), (3, 33), (7, 40)):
        px = synth.pixels_for(i, size=size)
        for sub in ((1, 1), (2, 2), (2, 1), (1, 2)):
            for q in (50, 98):
                db = jpegcodec.decode_baseline_jpeg(
                    jpegcodec.encode_baseline_jpeg(px, q, subsampling=sub)
                )
                dp = jpegcodec.decode_baseline_jpeg(
                    jpegcodec.encode_progressive_jpeg(px, q, subsampling=sub)
                )
                assert np.array_equal(db, dp), (i, sub, q)


def test_progressive_container_structure():
    data = jpegcodec.encode_progressive_jpeg(synth.pixels_for(1), 92)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert b"\xff\xc2" in data and b"\xff\xc0" not in data  # SOF2, no SOF0
    assert data.count(b"\xff\xda") >= 8  # DC first+refine, 3×(AC first+refine)


def test_imagecodec_dispatch_real_jpeg():
    px = synth.pixels_for(4)
    real = jpegcodec.encode_baseline_jpeg(px, 98)
    assert real[:2] == b"\xff\xd8"
    assert imagecodec.psnr(px, imagecodec.decode(real, "jpeg")) >= 40.0
    with pytest.raises(ValueError, match="SOI"):
        imagecodec.decode(b"garbage-bytes", "jpeg")


def test_multimodal_decode_stats_over_real_jpeg(spark):
    """The driver-facing decode query now runs over REAL JPEG bytes for the
    fmt='jpeg' rows; every row must decode with plausible stats."""
    from pii_detection_service_spark.operators import multimodal
    from pii_detection_service_spark.sources.synth import synth_spark

    df = synth_spark(spark, 60)
    got = multimodal.decode_stats(df).collect()
    assert len(got) == 60
    assert all(r["decode_ok"] for r in got)
    assert all(r["dec_w"] == 24 and r["dec_h"] == 24 for r in got)
    # a third of rows are jpeg; their decoded mean must track the source
    fmts = {r["image_id"]: r["fmt"] for r in df.select("image_id", "fmt").collect()}
    for r in got:
        if fmts[r["image_id"]] == "jpeg":
            i = int(r["image_id"].split("_")[1])
            src_mean = float(synth.pixels_for(i).mean())
            assert abs(r["mean_px"] - src_mean) < 2.0


def _gradient(h=37, w=53):
    """Chroma-smooth content — the shape real photographs have."""
    g = np.zeros((h, w, 3), np.uint8)
    yy, xx = np.mgrid[0:h, 0:w]
    g[..., 0] = (yy * 3) % 256
    g[..., 1] = (xx * 2) % 256
    g[..., 2] = ((yy + xx) * 2) % 256
    return g


def test_420_roundtrip_smooth_chroma_holds_40db():
    """4:2:0 halves chroma resolution, which costs nothing measurable on
    chroma-smooth content: the invariant bound must still hold."""
    g = _gradient()
    for sub in ((2, 2), (2, 1), (1, 2)):
        out = jpegcodec.decode_baseline_jpeg(
            jpegcodec.encode_baseline_jpeg(g, 98, subsampling=sub)
        )
        assert out.shape == g.shape
        assert imagecodec.psnr(g, out) >= 40.0, sub


def test_420_smaller_than_444():
    g = _gradient(48, 64)
    full = jpegcodec.encode_baseline_jpeg(g, 92, subsampling=(1, 1))
    sub = jpegcodec.encode_baseline_jpeg(g, 92, subsampling=(2, 2))
    assert len(sub) < len(full)


def test_sampling_factor_above_2_raises():
    with pytest.raises(NotImplementedError, match="subsampling factors"):
        jpegcodec.encode_baseline_jpeg(_gradient(), 92, subsampling=(4, 1))


def test_decode_stats_over_mixed_sampling(spark):
    """A real crawl carries mostly 4:2:0 with some 4:4:4 — the decode query
    must handle a mixed-bytes column transparently (the decoder reads the
    SOF sampling factors from each file)."""
    import pandas as pd

    from pii_detection_service_spark.operators import multimodal

    rows = []
    for i in range(24):
        px = synth.pixels_for(i)
        sub = (2, 2) if i % 2 else (1, 1)
        enc = (
            jpegcodec.encode_progressive_jpeg
            if i % 3 == 0
            else jpegcodec.encode_baseline_jpeg
        )
        rows.append((f"img_{i:06d}", enc(px, 98, subsampling=sub), "jpeg"))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r["image_id"]: r for r in multimodal.decode_stats(df).collect()}
    assert len(got) == 24
    for i in range(24):
        r = got[f"img_{i:06d}"]
        assert r["decode_ok"] and r["dec_w"] == 24 and r["dec_h"] == 24
        src_mean = float(synth.pixels_for(i).mean())
        assert abs(r["mean_px"] - src_mean) < 3.0, i


def test_restart_intervals_roundtrip_and_error_detection():
    """DRI/RSTn streams (the camera-encoder layout) must decode to pixels
    identical to the restart-free stream — predictor resets and byte
    alignment exactly cancel — and a corrupted restart marker must raise
    rather than desync silently."""
    px = synth.pixels_for(4, size=29)
    ref = jpegcodec.decode_baseline_jpeg(jpegcodec.encode_baseline_jpeg(px, 95))
    data = jpegcodec.encode_baseline_jpeg(px, 95, restart_interval=2)
    assert b"\xff\xdd" in data  # DRI present
    assert np.array_equal(ref, jpegcodec.decode_baseline_jpeg(data))
    # break the first restart marker's index (RST0 -> RST5)
    i = data.index(b"\xff\xd0")
    bad = bytearray(data)
    bad[i + 1] = 0xD5
    with pytest.raises(ValueError, match="restart marker"):
        jpegcodec.decode_baseline_jpeg(bytes(bad))


def test_per_component_sequential_scans_decode_identically():
    """Non-interleaved sequential scans (three Ns=1 SOS, each walking the
    component's OWN block raster per T.81 A.2.2) must decode to pixels
    identical to the interleaved layout — including subsampled components
    whose own raster differs from the MCU-padded grid in both order and
    block count."""
    for i, size in ((0, 24), (5, 33)):
        px = synth.pixels_for(i, size=size)
        for sub in ((1, 1), (2, 2), (2, 1)):
            ref = jpegcodec.decode_baseline_jpeg(
                jpegcodec.encode_baseline_jpeg(px, 95, subsampling=sub)
            )
            data = jpegcodec.encode_baseline_jpeg(
                px, 95, subsampling=sub, scan_layout="per_component"
            )
            assert data.count(b"\xff\xda") == 3
            got = jpegcodec.decode_baseline_jpeg(data)
            assert np.array_equal(ref, got), (i, sub)


def test_unknown_scan_layout_raises():
    px = np.zeros((8, 8, 3), np.uint8)
    for layout in ("bogus", "Interleaved", ""):
        with pytest.raises(ValueError, match="scan_layout"):
            jpegcodec.encode_baseline_jpeg(px, scan_layout=layout)


def test_grayscale_roundtrip_holds_psnr_invariant():
    """1-component streams (the most common real-corpus variant after
    4:2:0 color) must round-trip uniform noise at the 40 dB invariant,
    with exact dimensions back — including non-multiple-of-8 shapes."""
    worst = float("inf")
    for i, size in ((0, 32), (1, 37), (2, 29), (3, 64)):
        rng = np.random.default_rng(1000 + i)
        px = rng.integers(0, 256, (size, size), dtype=np.uint8)
        data = jpegcodec.encode_baseline_jpeg(px, 98)
        out = jpegcodec.decode_baseline_jpeg(data)
        assert out.shape == (size, size) and out.dtype == np.uint8
        mse = float(np.mean((px.astype(np.float64) - out) ** 2))
        worst = min(worst, 10.0 * np.log10(255.0**2 / mse))
    assert worst >= 40.0, f"worst grayscale PSNR {worst}"


def test_grayscale_container_structure():
    """The grayscale stream must be a real 1-component JFIF: Nf=1 in SOF0,
    exactly one DQT and two DHTs (DC+AC lum), one Ns=1 SOS."""
    px = np.random.default_rng(9).integers(0, 256, (24, 24), dtype=np.uint8)
    data = jpegcodec.encode_baseline_jpeg(px, 92)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    i = data.index(b"\xff\xc0")
    ln, prec, h, w, nc = struct.unpack(">HBHHB", data[i + 2 : i + 10])
    assert (ln, prec, h, w, nc) == (11, 8, 24, 24, 1)
    assert data.count(b"\xff\xdb") == 1 and data.count(b"\xff\xc4") == 2
    assert data.count(b"\xff\xda") == 1


def test_grayscale_quality_monotone():
    px = np.random.default_rng(11).integers(0, 256, (40, 40), dtype=np.uint8)
    lo = jpegcodec.encode_baseline_jpeg(px, 50)
    hi = jpegcodec.encode_baseline_jpeg(px, 98)
    assert len(lo) < len(hi)
    err = lambda d: float(
        np.mean((px.astype(np.float64) - jpegcodec.decode_baseline_jpeg(d)) ** 2)
    )
    assert err(lo) > err(hi)


def test_grayscale_matches_color_luma_path():
    """Encoding the same plane as grayscale and as the Y channel of a
    chroma-flat color image must produce IDENTICAL decoded luma — both
    paths run the same DCT/quant/Huffman pipeline over the same samples."""
    rng = np.random.default_rng(21)
    y = rng.integers(0, 256, (32, 32), dtype=np.uint8)
    gray_dec = jpegcodec.decode_jpeg_luma(jpegcodec.encode_baseline_jpeg(y, 95))
    # color image whose YCbCr transform yields exactly (y, 128, 128): R=G=B=y
    px = np.repeat(y[..., None], 3, axis=-1)
    color_dec = jpegcodec.decode_jpeg_luma(
        jpegcodec.encode_baseline_jpeg(px, 95)
    )
    assert np.array_equal(gray_dec, color_dec)


def test_two_component_stream_raises_honestly():
    data = bytearray(jpegcodec.encode_baseline_jpeg(synth.pixels_for(2), 92))
    i = bytes(data).index(b"\xff\xc0")
    data[i + 9] = 2  # SOF payload: len(2) prec(1) h(2) w(2) -> nc byte
    with pytest.raises(NotImplementedError, match="grayscale.*3-component"):
        jpegcodec.decode_baseline_jpeg(bytes(data))


def test_decode_stats_over_mixed_formats_incl_grayscale(spark):
    """The mixed-format synth table (PNG / baseline / GRAYSCALE / 4:2:0 /
    palette GIF / 24-bit BMP / lossless WebP / LOSSY VP8 WebP) must decode
    row-for-row: dimensions exact for every variant, the grayscale rows'
    mean tracking the source LUMA mean (not the RGB mean), the GIF rows'
    mean tracking the posterized pixels the writer actually stored
    (palette GIF is lossless over those), and the lossy-WebP rows' mean
    near the source (4:2:0 + qi=4 quantization)."""
    from pii_detection_service_spark.operators import multimodal
    from pii_detection_service_spark.sources.synth import (
        make_row_mixed,
        synth_spark_mixed,
    )

    got = {
        r["image_id"]: r
        for r in multimodal.decode_stats(synth_spark_mixed(spark, 40)).collect()
    }
    assert len(got) == 40
    for i in range(40):
        r = got[f"img_{i:08d}"]
        assert r["decode_ok"] and r["dec_w"] == 24 and r["dec_h"] == 24, i
        px = synth.pixels_for(i)
        if i % 8 == 2:  # grayscale rows carry the luma plane only
            ref = float(
                (px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])).mean()
            )
        elif i % 8 == 4:  # GIF rows store 4-level posterized pixels exactly
            ref = float(((px >> 6) << 6).mean())
        elif i % 8 in (6, 7):  # WebP decodes RGBA; the opaque alpha plane
            ref = (float(px.mean()) * 3 + 255.0) / 4  # is part of the mean
        else:  # PNG / JPEG / BMP rows decode the source pixels
            ref = float(px.mean())
        # lossy VP8 rows (i%8==7) eat 4:2:0 + quantization error on noise
        # content; the mean still tracks within a wider band
        tol = 6.0 if i % 8 == 7 else 3.0
        assert abs(r["mean_px"] - ref) < tol, i
    # and the feature/resize plumbing must be shape-stable over the mix
    feats = multimodal.extract_features(synth_spark_mixed(spark, 12)).collect()
    assert all(len(r["features"]) == 48 for r in feats)
    small = multimodal.resize(synth_spark_mixed(spark, 8), 8).collect()
    assert all(r["w"] == 8 and r["h"] == 8 and r["fmt"] == "png" for r in small)


# sha256 of the encoder's output for synth.pixels_for(5, size=29) (its
# green channel for "gray"), keyed (sampling, scan layout, restart
# interval, quality); 422 = (2, 1), 440 = (1, 2) subsampling.
_PINNED_SHA256 = {
    ('gray', 'interleaved', 0, 50): "c64a440a199da3ebbaa32a95f8d310581c08ab85774a69387ad362d81d0346ec",
    ('444', 'interleaved', 0, 50): "48bce37c9d1f43069a6ce494060ad3535cfbad64382a5c42bcecf7c7b86f5434",
    ('444', 'interleaved', 2, 50): "d7bf54bda2b5f9cb3f76143dc207618c61e2f1412d329415594385729dadf147",
    ('420', 'interleaved', 0, 50): "97f21d1f44cb070946ab7f5d3ccb708733d3305a996fd394bbb52eb02bc79811",
    ('420', 'interleaved', 2, 50): "809bc1081269702d1d17fa8cec2909400fb35ae140122c6af83e2fa69bf2040c",
    ('422', 'interleaved', 0, 50): "a47922328d2a9269e9e275d5502fa8520b8cca7bfd11553d511739e5ab81fbdb",
    ('422', 'interleaved', 2, 50): "cbfc4c917d6f5b414df3a7f2a6f6787430c065384bdbfc0e7aedfb614659c29c",
    ('440', 'interleaved', 0, 50): "e0dc4aca07415cdc4535c884225d741bd942fe064da8d1f8d41c53ad22b28ff8",
    ('440', 'interleaved', 2, 50): "ec199c911575af3eb13069a3977b7da927b8fb952f3a5ed5b2520ca10d9be263",
    ('gray', 'per_component', 0, 50): "c64a440a199da3ebbaa32a95f8d310581c08ab85774a69387ad362d81d0346ec",
    ('444', 'per_component', 0, 50): "0b8c35b74e8f5819c1a8467290b76ee4de455aa48c2e12d9473e6bcc881f1eb5",
    ('420', 'per_component', 0, 50): "97164d50840d835f0e1c4f978923376ac0c84f8697e82285e95f1ed76a3bb34f",
    ('422', 'per_component', 0, 50): "bb493a77957b65e43b01743abd4de12bd938648e05ec7c637982308df00e8840",
    ('440', 'per_component', 0, 50): "33514689edd7ef3b27b6905b3cefaf1016eea7668845098b60c56d2befd672cd",
    ('444', 'progressive', 0, 50): "d91d355820a57e3ee89a2231e73828d098919f5dab72fd1f52846a01b05779a0",
    ('420', 'progressive', 0, 50): "284918458aeb779d54b35eb28a55c980a6beefb047804d5db0bbdfc475de756a",
    ('gray', 'interleaved', 0, 92): "bb9f0ea7f5a66ad1c0faa5dcfd548fce4dd48c23450e513fcf8d3026c2757c13",
    ('444', 'interleaved', 0, 92): "d8d993ba5a01f71f97c0c0c4e53bf1d93a6330e8f66507fcca8b43fb298083ce",
    ('444', 'interleaved', 2, 92): "89cf106426177f933c56cae274cd47e4a097bf6c19820b90fe2dd3eaa72adcd0",
    ('420', 'interleaved', 0, 92): "b60ad4e90f506faa46ed4dc8fef7816bd1f80300125fe3a604546c588a25c6ad",
    ('420', 'interleaved', 2, 92): "3fa4946aeb872e2d9e8d25172b5ebb4e370fb332f21cdb9c069678ba2ec7c644",
    ('422', 'interleaved', 0, 92): "b97911030197c45f1e1929fd1691c3b2d03d8e3edf090e75734088719bf05f16",
    ('422', 'interleaved', 2, 92): "097a21add02f9775841e0bfb1c7669549c95f6315978440e77282d21087fc2e4",
    ('440', 'interleaved', 0, 92): "d659034de992fa787c124cf8952de1699d154249a34e263996191fa57b87eb40",
    ('440', 'interleaved', 2, 92): "747e252e9258d70d4d15e1a494259331b64ad1788f15e707481efeacb4e2e69f",
    ('gray', 'per_component', 0, 92): "bb9f0ea7f5a66ad1c0faa5dcfd548fce4dd48c23450e513fcf8d3026c2757c13",
    ('444', 'per_component', 0, 92): "4677da67e55485455bf100f02a65414f6928bf4e9def7a074066540a725eee3a",
    ('420', 'per_component', 0, 92): "21fc82b3fb3e5b6039f5ce5166485b2c4878b679cd1000326344a7b8c24fddf4",
    ('422', 'per_component', 0, 92): "bf4dff25d140c79d31225278c4c941ef99956edfc943b1dc102cca803268fe15",
    ('440', 'per_component', 0, 92): "59e6b500a10f7f5fb2f0cb32a15e306e497b4bae327373ae88f29cac6fa3a3b3",
    ('444', 'progressive', 0, 92): "62d84814a06170fc7016587a608081a73d6c5161a052916a300c3b25680c5074",
    ('420', 'progressive', 0, 92): "37cec56b1f05af433c5a58fe3ba04ef1333d82ea114bdf4d5e3ed71bace580eb",
}
_SUBSAMPLING = {"444": (1, 1), "420": (2, 2), "422": (2, 1), "440": (1, 2)}


def test_encoder_bytes_pinned():
    """Both encoders emit exactly the bytes pinned above: every sampling
    mode, both scan layouts, restart intervals and two qualities, plus
    the progressive script at 4:4:4 and 4:2:0."""
    px = synth.pixels_for(5, size=29)
    for (name, layout, ri, q), want in _PINNED_SHA256.items():
        if layout == "progressive":
            data = jpegcodec.encode_progressive_jpeg(
                px, q, subsampling=_SUBSAMPLING[name]
            )
        elif name == "gray":
            data = jpegcodec.encode_baseline_jpeg(
                px[..., 1].copy(), q, restart_interval=ri, scan_layout=layout
            )
        else:
            data = jpegcodec.encode_baseline_jpeg(
                px, q, subsampling=_SUBSAMPLING[name], restart_interval=ri,
                scan_layout=layout,
            )
        assert hashlib.sha256(data).hexdigest() == want, (name, layout, ri, q)


def test_every_prefix_decodes_or_raises_value_error():
    """A cut-short file (every strict prefix of a baseline, a restart-
    interval, a progressive, a grayscale and a per-component stream)
    either decodes to the full file's planes or raises ValueError: no
    AssertionError, struct.error or IndexError, and no planes from a file
    cut before its last scan."""
    px = synth.pixels_for(0)
    px24 = synth.pixels_for(0, size=24)
    files = [
        jpegcodec.encode_baseline_jpeg(px, 50),
        jpegcodec.encode_baseline_jpeg(px, 50, subsampling=(2, 2), restart_interval=2),
        jpegcodec.encode_progressive_jpeg(px, 50, subsampling=(2, 2)),
        jpegcodec.encode_baseline_jpeg(px[..., 1].copy(), 50),
        jpegcodec.encode_baseline_jpeg(px24, 92, scan_layout="per_component"),
        jpegcodec.encode_progressive_jpeg(px24, 92),
    ]
    for data in files:
        full = jpegcodec._decode_jpeg_planes(data)
        for n in range(len(data)):
            try:
                got = jpegcodec._decode_jpeg_planes(data[:n])
            except ValueError:
                continue
            except Exception as e:  # noqa: BLE001 - the type is the check
                pytest.fail(f"prefix {n}/{len(data)}: {type(e).__name__}: {e}")
            assert all(map(np.array_equal, got, full)), f"prefix {n}/{len(data)}"


_HUGE_FRAME_CHILD = """
import resource, sys, time
from pii_detection_service_spark.sources import jpegcodec
data = sys.stdin.buffer.read()
rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
t = time.perf_counter()
try:
    jpegcodec._decode_jpeg_planes(data)
    outcome = "decoded"
except ValueError:
    outcome = "ValueError"
dt = time.perf_counter() - t
rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - rss0) / 1024
print(outcome, dt, rss_mb)
"""


def test_huge_frame_with_cut_scan_fails_fast():
    """A few hundred bytes can declare a 32768x32768 frame. With its scan
    data cut, the decoder must raise ValueError at the first missing data
    unit, in milliseconds and without growing the process by more than a
    few MB: nothing is built per declared block ahead of the stream. Run
    in a child process so its peak RSS is its own."""
    import os
    import subprocess
    import sys

    data = bytearray(jpegcodec.encode_baseline_jpeg(synth.pixels_for(0)[..., 1].copy(), 50))
    i = data.index(b"\xff\xc0")
    data[i + 5 : i + 9] = struct.pack(">HH", 32768, 32768)
    j = data.index(b"\xff\xda")
    data = bytes(data[: j + 10 + 20])  # SOS header and 20 bytes of scan data
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _HUGE_FRAME_CHILD], input=data, cwd=repo,
        capture_output=True, check=True, timeout=120,
    ).stdout.split()
    assert out[0] == b"ValueError"
    assert float(out[1]) < 1.0, f"decode took {float(out[1]):.2f} s"
    assert float(out[2]) < 64, f"peak RSS grew {float(out[2]):.0f} MB"


def test_corrupted_bytes_decode_or_raise_value_error():
    """1-3 random byte overwrites anywhere in a stream (seeded): the
    decoder returns planes, raises ValueError, or raises
    NotImplementedError when the damage names an unsupported feature.
    A damaged Huffman table can code a DC category past 11, a difference
    too large for any coefficient array; that is a ValueError too."""
    import random

    px = synth.pixels_for(0)
    files = [
        jpegcodec.encode_baseline_jpeg(px, 50),
        jpegcodec.encode_progressive_jpeg(px, 50, subsampling=(2, 2)),
        jpegcodec.encode_baseline_jpeg(px, 50, subsampling=(2, 2), restart_interval=2),
    ]
    rng = random.Random(7)
    for t in range(600):
        data = bytearray(files[t % 3])
        for _ in range(rng.randint(1, 3)):
            data[rng.randrange(len(data))] = rng.randrange(256)
        try:
            jpegcodec._decode_jpeg_planes(bytes(data))
        except (ValueError, NotImplementedError):
            pass
        except Exception as e:  # noqa: BLE001 - the type is the check
            pytest.fail(f"trial {t}: {type(e).__name__}: {e}")


def test_sequential_scan_rejects_eobn():
    """A sequential scan's only end-of-band symbol is EOB0: relabel it as
    EOB1 (0x10) in the luma AC table and the decoder must raise, not run
    an EOB run across blocks."""
    data = bytearray(jpegcodec.encode_baseline_jpeg(synth.pixels_for(2), 92))
    i = bytes(data).index(b"\xff\xc4\x00\xb5\x10")  # DHT: AC luma, 162 symbols
    vals = i + 5 + 16
    k = data[vals : vals + 162].index(0x00)
    data[vals + k] = 0x10
    with pytest.raises(ValueError, match="EOBn"):
        jpegcodec._decode_jpeg_planes(bytes(data))


def test_dc_sum_past_8bit_range_raises():
    """Two luma blocks that each code the largest DC difference (+2047,
    category 11, Annex-K code 111111110) sum to 4094, which no 8-bit
    frame can hold: the decoder raises instead of storing it."""
    data = jpegcodec.encode_baseline_jpeg(np.zeros((8, 16), np.uint8), 50)
    j = data.index(b"\xff\xda")
    sos_end = j + 2 + struct.unpack(">H", data[j + 2 : j + 4])[0]
    bits = ("111111110" + "1" * 11 + "1010") * 2  # DC +2047, then EOB
    bits += "1" * (-len(bits) % 8)
    scan = int(bits, 2).to_bytes(len(bits) // 8, "big").replace(b"\xff", b"\xff\x00")
    with pytest.raises(ValueError, match="DC coefficient 4094"):
        jpegcodec._decode_jpeg_planes(data[:sos_end] + scan + b"\xff\xd9")

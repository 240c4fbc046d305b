"""Real baseline-JPEG codec: round-trip quality, container validity,
honest seams, and the multimodal plumbing over real JPEG bytes."""

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

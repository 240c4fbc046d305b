"""Real MJPEG-AVI video container: round-trip, structure, honest seams,
and the Spark frame-sampling operator over real AVI bytes."""

import struct

import numpy as np
import pytest

from pii_detection_service_spark.sources import avicodec, imagecodec, jpegcodec, riff


def test_avi_roundtrip_frames_and_fps():
    frames = avicodec.synth_video(5)
    avi = avicodec.encode_avi_mjpeg(frames, fps=10, quality=98)
    dec, fps = avicodec.decode_avi_mjpeg(avi)
    assert fps == 10 and len(dec) == len(frames)
    for a, b in zip(frames, dec):
        assert a.shape == b.shape
        assert imagecodec.psnr(a, b) >= 40.0  # per-frame PSNR invariant


def test_avi_container_structure():
    avi = avicodec.encode_avi_mjpeg(avicodec.synth_video(1, n_frames=3))
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    (riff_len,) = struct.unpack("<I", avi[4:8])
    assert riff_len == len(avi) - 8
    # standard blocks all present, frame chunks carry real JPEG payloads
    for marker in (b"hdrl", b"avih", b"strh", b"strf", b"movi", b"idx1", b"MJPG"):
        assert marker in avi
    i = avi.index(b"00dc")
    (ln,) = struct.unpack("<I", avi[i + 4 : i + 8])
    jpeg = avi[i + 8 : i + 8 + ln]
    assert jpeg[:2] == b"\xff\xd8"
    assert jpegcodec.decode_baseline_jpeg(jpeg).shape == (24, 24, 3)
    # this clip's first frame is odd-length: one zero pad byte, then the
    # next frame chunk starts word-aligned
    assert ln % 2 == 1 and len(avi) % 2 == 0
    assert avi[i + 8 + ln] == 0 and avi[i + 9 + ln : i + 13 + ln] == b"00dc"
    # an odd-length chunk the encoder never writes is skipped by the reader
    junk = b"JUNK" + struct.pack("<I", 3) + b"abc\x00"
    spliced = avi[:12] + junk + avi[12:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    assert avicodec.mjpeg_payloads(spliced) == avicodec.mjpeg_payloads(avi)


def test_non_mjpeg_compression_raises():
    avi = bytearray(avicodec.encode_avi_mjpeg(avicodec.synth_video(2, n_frames=2)))
    i = bytes(avi).index(b"strf")
    # biCompression sits 16 bytes into the strf payload (after 8-byte header)
    avi[i + 8 + 16 : i + 8 + 20] = b"H264"
    with pytest.raises(NotImplementedError, match="MJPEG"):
        avicodec.decode_avi_mjpeg(bytes(avi))


def test_truncated_or_foreign_avi_raises():
    avi = avicodec.encode_avi_mjpeg(avicodec.synth_video(2, n_frames=6))
    with pytest.raises(ValueError, match="truncated"):
        avicodec.decode_avi_mjpeg(avi[:-400])
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        avicodec.decode_avi_mjpeg(b"RIFF" + avi[4:8] + b"WAVE" + avi[12:])
    # a whole chunk too short for its fields: avih needs 4 bytes
    short_avih = riff.form(b"AVI ", riff.chunk(b"LIST", b"hdrl" + riff.chunk(b"avih", b"\x00\x00")))
    with pytest.raises(ValueError, match="avih chunk of 2 bytes"):
        avicodec.mjpeg_payloads(short_avih)


def _xvid(avi: bytes) -> bytes:
    out = bytearray(avi)
    i = avi.index(b"strf")
    out[i + 8 + 16 : i + 8 + 20] = b"XVID"  # biCompression
    return bytes(out)


def test_sample_frames_refuses_what_the_decoder_refuses(spark):
    """Frame sampling walks the same container code as the decoder: a
    non-MJPEG stream and a cut-short file both raise instead of emitting
    frames (a truncated last frame would be a short, corrupt JPEG)."""
    from pii_detection_service_spark.operators import multimodal

    avi = avicodec.encode_avi_mjpeg(avicodec.synth_video(3, n_frames=6))
    for bad, match in ((_xvid(avi), "MJPEG"), (avi[:-400], "truncated")):
        df = spark.createDataFrame([("v", bad)], "image_id string, bytes binary")
        with pytest.raises(Exception, match=match):
            multimodal.sample_frames(df, every=1).collect()


def test_spark_sample_frames_over_real_avi(spark):
    from pii_detection_service_spark.operators import multimodal

    rows = [
        (
            f"vid_{i}",
            avicodec.encode_avi_mjpeg(avicodec.synth_video(i, n_frames=6), quality=98),
        )
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = multimodal.sample_frames(df, every=2).collect()
    # 6 frames, every 2nd → indices 0, 2, 4 per video
    assert len(got) == 4 * 3
    assert {r["frame_idx"] for r in got} == {0, 2, 4}
    # sampled payloads are the true per-frame JPEGs: decode one and compare
    r0 = next(r for r in got if r["image_id"] == "vid_1" and r["frame_idx"] == 2)
    px = jpegcodec.decode_baseline_jpeg(bytes(r0["frame_bytes"]))
    truth = avicodec.synth_video(1, n_frames=6)[2]
    assert imagecodec.psnr(truth, px) >= 40.0
    # any other container (e.g. a bare length-prefixed frame pack) is refused
    bad = spark.createDataFrame(
        [("vid_x", b"FVID\x00\x00\x00\x00")], "image_id string, bytes binary"
    )
    with pytest.raises(Exception, match="unknown video container"):
        multimodal.sample_frames(bad).collect()

"""Real WAV codec + audio multimodal operators: lossless PCM round-trip,
chunk-walk decoding, honest non-PCM seam, and Spark-side stats/features
parity with a direct numpy reference."""

import struct

import numpy as np
import pytest

from pii_detection_service_spark.sources import riff, wavcodec


def test_pcm_roundtrip_lossless_mono_and_stereo():
    mono = wavcodec.synth_clip(3)
    out, sr = wavcodec.decode_wav(wavcodec.encode_wav(mono, 16000))
    assert sr == 16000 and np.array_equal(mono, out)
    stereo = np.stack([mono, mono[::-1]], axis=1)
    out2, sr2 = wavcodec.decode_wav(wavcodec.encode_wav(stereo, 44100))
    assert sr2 == 44100 and np.array_equal(stereo, out2)


def test_container_is_real_riff_and_extra_chunks_skipped():
    data = wavcodec.encode_wav(wavcodec.synth_clip(1))
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
    (riff_len,) = struct.unpack("<I", data[4:8])
    assert riff_len == len(data) - 8
    # splice a LIST chunk between fmt and data — decoder must skip it
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    spliced = data[:fmt_end] + extra + data[fmt_end:]
    out, _ = wavcodec.decode_wav(spliced)
    assert np.array_equal(out, wavcodec.synth_clip(1))
    # odd-length data chunks (8-bit / companded, odd sample count) carry
    # their pad byte, and the RIFF size covers it
    s = wavcodec.synth_clip(1)[:101]
    for enc in ("pcm8", "ulaw", "alaw"):
        odd = wavcodec.encode_wav(s, encoding=enc)
        assert len(odd) == 12 + (8 + 16) + (8 + 101 + 1)
        (riff_len,) = struct.unpack("<I", odd[4:8])
        assert riff_len == len(odd) - 8 and odd[-1] == 0
        assert len(wavcodec.decode_wav(odd)[0]) == 101
        # and an odd chunk ahead of data is skipped word-aligned
        junk = b"JUNK" + struct.pack("<I", 3) + b"abc\x00"
        out, _ = wavcodec.decode_wav(odd[:fmt_end] + junk + odd[fmt_end:])
        assert len(out) == 101


def test_truncated_or_foreign_wav_raises():
    data = wavcodec.encode_wav(wavcodec.synth_clip(1)[:1000])
    with pytest.raises(ValueError, match="truncated"):
        wavcodec.decode_wav(data[:-300])  # cut inside the data chunk
    with pytest.raises(ValueError, match="not a RIFF/WAVE"):
        wavcodec.decode_wav(data[:8] + b"AVI " + data[12:])
    with pytest.raises(ValueError, match="missing fmt/data"):
        wavcodec.decode_wav(data[:36])  # fmt only
    # a whole chunk too short for its fields: fmt needs 16 bytes
    short_fmt = riff.form(
        b"WAVE", riff.chunk(b"fmt ", b"\x01\x00\x01\x00") + riff.chunk(b"data", b"\x00\x00")
    )
    with pytest.raises(ValueError, match="fmt chunk of 4 bytes"):
        wavcodec.decode_wav(short_fmt)


def test_non_pcm_raises_honestly():
    data = bytearray(wavcodec.encode_wav(wavcodec.synth_clip(2)))
    struct.pack_into("<H", data, 20, 85)  # audioFormat = MP3
    with pytest.raises(NotImplementedError, match="PCM"):
        wavcodec.decode_wav(bytes(data))


def test_audio_stats_match_numpy_reference(spark):
    from pii_detection_service_spark.operators import multimodal

    df = multimodal.synth_audio_table(spark, 40)
    got = {r["audio_id"]: r for r in multimodal.audio_stats(df).collect()}
    assert len(got) == 40
    for i in [0, 7, 11, 23]:  # incl. silence-tail (7) and clipping (11) plants
        s = wavcodec.synth_clip(i)
        x = s.astype(np.float64) / 32768.0
        r = got[f"aud_{i:08d}"]
        assert r["sr"] == 16000 and r["n_samples"] == len(s)
        assert abs(r["rms"] - float(np.sqrt((x * x).mean()))) < 1e-9
        # widen before abs: np.abs(int16 -32768) overflows back to -32768
        clip_ref = float((np.abs(s.astype(np.float64)) >= 32100).mean())
        assert abs(r["clip_frac"] - clip_ref) < 1e-9
    # planted structure shows up in the stats
    assert got["aud_00000007"]["silence_frac"] > 0.3  # silent tail
    assert got["aud_00000011"]["clip_frac"] > 0.05  # saturated clip
    assert got["aud_00000001"]["clip_frac"] == 0.0


def test_audio_stats_propagates_decode_errors(spark):
    """A clip that cannot be decoded fails the query — a truncated WAV is
    not reported as a shorter clip, as a non-PCM one is not skipped."""
    from pii_detection_service_spark.operators import multimodal

    data = wavcodec.encode_wav(wavcodec.synth_clip(4))
    df = spark.createDataFrame(
        [("aud_ok", data), ("aud_cut", data[:-300])], "audio_id string, bytes binary"
    )
    with pytest.raises(Exception, match="truncated"):
        multimodal.audio_stats(df).collect()


def test_audio_features_band_energies(spark):
    from pii_detection_service_spark.operators import multimodal

    df = multimodal.synth_audio_table(spark, 12)
    feats = {r["audio_id"]: r["features"] for r in multimodal.audio_features(df).collect()}
    assert all(len(v) == 9 for v in feats.values())  # 8 bands + centroid
    # centroid (last element) is a plausible frequency for 16 kHz audio
    assert all(0 < v[-1] < 8000 for v in feats.values())
    # deterministic: same clip id → same features
    again = {
        r["audio_id"]: r["features"]
        for r in multimodal.audio_features(multimodal.synth_audio_table(spark, 12)).collect()
    }
    assert feats == again


def test_audio_keep_decision_drop_reasons(spark):
    """The gate drops the planted structure of the synth table — every 11th
    clip saturates (→ 'clipped', which outranks 'silent' in the rule
    order), every remaining 7th has a silent tail (→ 'silent') — and keeps
    the rest. Counts recomputed independently from the clip indices."""
    from pii_detection_service_spark.operators import multimodal

    n = 120
    out = multimodal.audio_keep_decision(
        multimodal.audio_stats(multimodal.synth_audio_table(spark, n))
    ).collect()
    by_id = {r["audio_id"]: r for r in out}
    assert len(by_id) == n
    import collections
    reasons = collections.Counter(r["drop_reason"] for r in out)
    expect_clipped = {i for i in range(n) if i % 11 == 0}
    expect_silent = {i for i in range(n) if i % 7 == 0} - expect_clipped
    for i in range(n):
        r = by_id[f"aud_{i:08d}"]
        if i in expect_clipped:
            assert r["drop_reason"] == "clipped", i
        elif i in expect_silent:
            assert r["drop_reason"] == "silent", i
        else:
            assert r["keep"] and r["drop_reason"] == "", i
    assert reasons["clipped"] == len(expect_clipped)
    assert reasons["silent"] == len(expect_silent)


def test_g711_byte_exact_vs_cpython_audioop():
    """µ-law/A-law companders must match CPython's audioop (the CCITT
    reference implementation) byte-for-byte over the FULL int16 domain,
    both directions."""
    import warnings

    import numpy as np

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    from pii_detection_service_spark.sources import wavcodec as W

    x = np.arange(-32768, 32768, dtype=np.int16)
    assert W.ulaw_encode(x).tobytes() == audioop.lin2ulaw(x.tobytes(), 2)
    assert W.alaw_encode(x).tobytes() == audioop.lin2alaw(x.tobytes(), 2)
    u = np.arange(256, dtype=np.uint8)
    assert W.ulaw_decode(u).tobytes() == audioop.ulaw2lin(u.tobytes(), 2)
    assert W.alaw_decode(u).tobytes() == audioop.alaw2lin(u.tobytes(), 2)


def test_wav_encodings_roundtrip_and_stats_transparency():
    """Every supported WAV encoding must decode back to int16 with the
    expected fidelity: pcm16 lossless; pcm8 exact in the top byte; float32
    lossless for int16-representable values; G.711 within companding
    error and idempotent after one quantization."""
    import numpy as np

    from pii_detection_service_spark.sources import wavcodec as W

    s = W.synth_clip(5)
    for enc in ("pcm16", "pcm8", "float32", "ulaw", "alaw"):
        out, sr = W.decode_wav(W.encode_wav(s, 16000, encoding=enc))
        assert sr == 16000 and out.dtype == np.int16 and len(out) == len(s)
        if enc == "pcm16":
            assert np.array_equal(out, s)
        elif enc == "float32":
            assert np.array_equal(out, s)  # int16/32768.0 is exact in f32
        elif enc == "pcm8":
            assert np.array_equal(out >> 8, s >> 8)
        else:
            # companding error bounded by segment width (~3% of magnitude)
            err = np.abs(out.astype(np.int32) - s.astype(np.int32))
            assert err.max() <= np.maximum(np.abs(s.astype(np.int32)) // 16, 64).max()
            # idempotent: re-encoding the quantized signal is stable
            out2, _ = W.decode_wav(W.encode_wav(out, 16000, encoding=enc))
            assert np.array_equal(out2, out)


def test_wav_unknown_format_raises_honestly():
    import struct

    import numpy as np
    import pytest

    from pii_detection_service_spark.sources import wavcodec as W

    data = bytearray(W.encode_wav(W.synth_clip(1)))
    i = bytes(data).index(b"fmt ")
    struct.pack_into("<H", data, i + 8, 2)  # audioFormat 2 = ADPCM
    with pytest.raises(NotImplementedError, match="audioFormat"):
        W.decode_wav(bytes(data))


def test_audio_stats_encoding_agnostic(spark):
    """audio_stats over a µ-law table must produce keep decisions matching
    the pcm16 table (companding noise is far below the rule thresholds)."""
    import pandas as pd

    from pii_detection_service_spark.operators import multimodal
    from pii_detection_service_spark.sources import wavcodec as W

    def table(enc):
        def gen(batches):
            for pdf in batches:
                ids = pdf["id"].tolist()
                yield pd.DataFrame(
                    {
                        "audio_id": [f"aud_{i:08d}" for i in ids],
                        "bytes": [
                            W.encode_wav(W.synth_clip(int(i)), encoding=enc)
                            for i in ids
                        ],
                    }
                )

        return spark.range(60).mapInPandas(gen, "audio_id string, bytes binary")

    base = {
        r["audio_id"]: (r["keep"], r["drop_reason"])
        for r in multimodal.audio_keep_decision(
            multimodal.audio_stats(table("pcm16"))
        ).collect()
    }
    comp = {
        r["audio_id"]: (r["keep"], r["drop_reason"])
        for r in multimodal.audio_keep_decision(
            multimodal.audio_stats(table("ulaw"))
        ).collect()
    }
    assert base == comp

"""ARPA model loading (KenLM interchange format): backoff semantics,
round-trip against the built-in LM, and scoring with a loaded model as
Models.lm."""

import math

import numpy as np
import pytest

from pii_detection_service_spark.functions import quality


def test_builtin_lm_roundtrips_through_arpa(tmp_path):
    """export → load must reproduce the built-in table (and therefore the
    built-in perplexity) up to the log10 text round-trip ulp."""
    p = str(tmp_path / "builtin.arpa")
    quality.export_builtin_lm_arpa(p)
    tbl = quality.load_arpa_char_bigram(p)
    assert tbl.shape == quality._LM_TBL.shape
    assert np.allclose(tbl, quality._LM_TBL, rtol=0, atol=1e-12)
    for text in ["the quick brown fox", "el zorro", "", "a", "zzzz qqqq"]:
        assert quality.perplexity(text, tbl) == pytest.approx(
            quality.perplexity(text), rel=1e-9
        )


def test_backoff_semantics(tmp_path):
    """Unlisted bigrams must score backoff(a) + uni(b), not a flat floor —
    the actual ARPA contract."""
    ln10 = math.log(10.0)
    p = str(tmp_path / "tiny.arpa")
    with open(p, "w") as f:
        f.write(
            "\\data\\\nngram 1=3\nngram 2=1\n\n"
            "\\1-grams:\n"
            "-1.0\ta\t-0.5\n"
            "-2.0\tb\t0.0\n"
            "-0.30103\t<s>\t0.0\n"
            "\n\\2-grams:\n"
            "-0.5\ta b\n"
            "\n\\end\\\n"
        )
    tbl = quality.load_arpa_char_bigram(p).reshape(quality._NC, quality._NC)
    a, b, s = ord("a"), ord("b"), ord("^")
    assert tbl[a, b] == pytest.approx(-0.5 * ln10)          # listed bigram
    assert tbl[b, a] == pytest.approx((0.0 - 1.0) * ln10)    # bow(b)+uni(a)
    assert tbl[a, a] == pytest.approx((-0.5 - 1.0) * ln10)   # bow(a)+uni(a)
    assert tbl[s, b] == pytest.approx(-2.0 * ln10)           # bow(<s>)+uni(b)
    # symbols absent from the unigram section fall to the kernel floor
    z = ord("z")
    assert tbl[a, z] == pytest.approx(-0.5 * ln10 + quality._FLOOR)


def test_malformed_arpa_raises(tmp_path):
    p = str(tmp_path / "bad.arpa")
    with open(p, "w") as f:
        f.write("\\data\\\nngram 3=1\n\n\\3-grams:\n-1.0 a b c\n\\end\\\n")
    with pytest.raises(ValueError, match="1- and 2-gram"):
        quality.load_arpa_char_bigram(p)


def test_broadcast_scoring_matches_driver(spark, tmp_path):
    """The production wiring: the loaded table travels as Models.lm, which
    stage.score broadcasts and scores captions in Arrow batches against —
    distributed results must equal the driver-side kernel row-for-row."""
    from pii_detection_service_spark import udfs
    from pii_detection_service_spark.plans import stage

    p = str(tmp_path / "m.arpa")
    quality.export_builtin_lm_arpa(p)
    models = udfs.Models(lm=quality.load_arpa_char_bigram(p))

    texts = [f"caption number {i} with the thing" for i in range(50)] + ["", "zz"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, caption string"
    )
    got = {
        r["doc_id"]: r["ppl"]
        for r in stage.score(df, models).select("doc_id", "ppl").collect()
    }
    tbl = quality.load_arpa_char_bigram(p)
    for i, t in enumerate(texts):
        assert got[i] == pytest.approx(quality.perplexity(t, tbl), rel=0)
        assert got[i] == pytest.approx(quality.perplexity(t), rel=1e-9)


def test_synth_arpa_is_large_and_loads_with_backoff(tmp_path):
    """The bench-scale artifact: ≥10⁴ bigram entries, deterministic bytes,
    and real backoff semantics on the ~20% of pairs left unlisted."""
    ln10 = math.log(10.0)
    p = str(tmp_path / "big.arpa")
    n = quality.export_synth_arpa(p)
    assert n >= 10_000
    # byte-stable across invocations (no RNG anywhere)
    p2 = str(tmp_path / "big2.arpa")
    quality.export_synth_arpa(p2)
    assert open(p, "rb").read() == open(p2, "rb").read()
    tbl = quality.load_arpa_char_bigram(p).reshape(quality._NC, quality._NC)
    # listed pair scores its entry; the (a*131+b)%5==0 holes score backoff
    pairs = [
        (x, y)
        for x in range(ord("a"), ord("z"))
        for y in range(ord("a"), ord("z"))
    ]
    hole = next(p for p in pairs if (p[0] * 131 + p[1]) % 5 == 0)
    a, b = next(p for p in pairs if (p[0] * 131 + p[1]) % 5 != 0)
    uni = lambda c: (-1.0 - 3.0 * ((c * 2654435761) % 1000) / 1000.0) * ln10  # noqa: E731
    bow = lambda c: (-((c * 40503) % 997) / 997.0) * ln10  # noqa: E731
    bi = lambda x, y: (  # noqa: E731
        -0.5 - 3.0 * (((x * 131 + y) * 2246822519) % 1000) / 1000.0
    ) * ln10
    assert tbl[a, b] == pytest.approx(bi(a, b), rel=1e-12)
    assert tbl[hole] == pytest.approx(bow(hole[0]) + uni(hole[1]), rel=1e-12)


def test_large_arpa_distributed_scoring_matches_driver(spark, tmp_path):
    """End-to-end seam at artifact scale: the ≥10⁴-entry synth ARPA flows
    through load → broadcast → the PRODUCTION score path (stage.score /
    score_batch), and the distributed ppl equals the driver-side
    perplexity(text, tbl) row-for-row; langid and keep/drop still run the
    builtin profiles."""
    from pii_detection_service_spark import udfs
    from pii_detection_service_spark.plans import stage

    p = str(tmp_path / "big.arpa")
    quality.export_synth_arpa(p)
    models = udfs.Models(lm=quality.load_arpa_char_bigram(p))

    texts = [f"caption number {i} with the thing on the table" for i in range(40)]
    texts += ["", "zz", "the the the", "él ñandú 〠 non-latin ⽕"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, caption string"
    )
    scored = stage.score(df, models).select("doc_id", "lang", "ppl", "keep")
    got = {r["doc_id"]: r for r in scored.collect()}

    tbl = quality.load_arpa_char_bigram(p)
    for i, t in enumerate(texts):
        assert got[i]["ppl"] == quality.perplexity(t, tbl)
        lang, _ = quality.lang_and_ppl(t)  # langid unchanged by the LM swap
        assert got[i]["lang"] == lang


def test_score_batch_arpa_roundtrip_matches_builtin():
    """score_batch with the builtin-exported-then-loaded ARPA table must
    reproduce the builtin scoring (ppl to 1e-9 relative, everything else
    exactly) — the invariant behind pipeline_scores_arpa_quantized sharing
    pipeline_scores_quantized's exact oracle."""
    import tempfile

    import pandas as pd

    from pii_detection_service_spark import udfs

    with tempfile.NamedTemporaryFile(suffix=".arpa", mode="w", delete=False) as f:
        p = f.name
    quality.export_builtin_lm_arpa(p)
    tbl = quality.load_arpa_char_bigram(p)
    caps = pd.Series(
        ["the quick brown fox", "el zorro marron", "", "a", "zzzz ~~~ !!!"]
    )
    a = udfs.score_batch(caps)
    b = udfs.score_batch(caps, udfs.Models(lm=tbl))
    for col in a.columns:
        if col == "ppl":
            assert np.allclose(a[col], b[col], rtol=1e-9, atol=0)
        else:
            assert a[col].tolist() == b[col].tolist()


def test_word_level_arpa_raises_instead_of_degenerate_table(tmp_path):
    """A standard word-level KenLM ARPA file must raise, not silently
    return the all-floor table that scores every document identically."""
    p = str(tmp_path / "word.arpa")
    with open(p, "w") as f:
        f.write(
            "\\data\\\nngram 1=3\nngram 2=2\n\n"
            "\\1-grams:\n-1.0\tthe\t-0.5\n-1.2\tcat\t0.0\n-0.3\t<s>\t0.0\n"
            "\n\\2-grams:\n-0.5\tthe cat\n-0.9\t<s> the\n"
            "\n\\end\\\n"
        )
    with pytest.raises(ValueError, match="word-level"):
        quality.load_arpa_char_bigram(p)

"""Distributed char-bigram LM training: the Spark aggregation must be
bit-identical to a pure-Python trainer, the trained table must flow
through the production scoring path as Models.lm, and training must
actually help (the point of domain fitting: in-domain text scores lower
perplexity than under the out-of-domain builtin)."""

import numpy as np
import pyspark.sql.functions as F

from pii_detection_service_spark import udfs
from pii_detection_service_spark.functions import quality
from pii_detection_service_spark.operators import lmtrain, pipeline, relational

SF = "/root/testdata/sf0.001"


def test_trained_table_matches_pure_python(spark):
    """Spark-trained table == driver-trained table, every one of the
    257² cells, bit-for-bit (counts are exact integers and both sides
    apply the same float ops in the same order)."""
    d = relational.table(spark, SF, "documents")
    got = lmtrain.train_char_bigram_lm(d)
    texts = [r["text"] for r in d.select("text").collect()]
    want = lmtrain.train_char_bigram_lm_ref(texts)
    assert got.shape == want.shape
    assert np.array_equal(got, want)


def test_trained_table_nonlatin_clips_to_shared_bucket(spark):
    """Codepoints ≥ 256 fold into the scoring kernel's 'any non-latin'
    symbol during TRAINING too — train and score share one symbol space."""
    rows = [("héllo wörld",), ("日本語のテキスト",), ("",)]
    d = spark.createDataFrame(rows, "text string")
    got = lmtrain.train_char_bigram_lm(d)
    want = lmtrain.train_char_bigram_lm_ref([r[0] for r in rows])
    assert np.array_equal(got, want)
    # the CJK bigrams all folded to the (256, 256) cell
    assert got[256 * quality._NC + 256] > quality._FLOOR


def test_trained_lm_scores_through_pipeline_seam(spark):
    """A trained table plugs into pipeline.score_documents as Models.lm:
    the ppl column equals a driver-side perplexity(text, tbl) recompute under
    the trained table, and differs from the builtin run (the swap
    engaged)."""
    d = relational.table(spark, SF, "documents")
    tbl = lmtrain.train_char_bigram_lm(d)
    trained = {
        r["doc_id"]: r["ppl"]
        for r in pipeline.score_documents(spark, SF, udfs.Models(lm=tbl)).collect()
    }
    builtin = {
        r["doc_id"]: r["ppl"]
        for r in pipeline.score_documents(spark, SF).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    for doc_id, text in list(texts.items())[:50]:
        want = round(quality.perplexity(text, tbl), 4)
        assert trained[doc_id] == want, doc_id
    assert any(trained[k] != builtin[k] for k in trained)


def test_trained_lm_fits_corpus_better_than_builtin(spark):
    """Mean corpus perplexity under the corpus-trained LM is lower than
    under the builtin seed LM — the reason a pipeline trains on a trusted
    slice instead of shipping a stand-in."""
    d = relational.table(spark, SF, "documents")
    tbl = lmtrain.train_char_bigram_lm(d)
    texts = [r["text"] for r in d.select("text").collect() if r["text"]]
    ppl_trained = np.mean([quality.perplexity(t, tbl) for t in texts])
    ppl_builtin = np.mean([quality.perplexity(t) for t in texts])
    assert ppl_trained < ppl_builtin


def test_count_table_totals_are_corpus_bigram_count(spark):
    """sum(cnt) == Σ_docs (len(wrapped) - 1): nothing dropped, nothing
    double-counted, empty docs contribute exactly the ^$ bigram."""
    d = relational.table(spark, SF, "documents")
    total = (
        lmtrain.bigram_count_table(d)
        .agg(F.sum("cnt").alias("s"))
        .collect()[0]["s"]
    )
    want = sum(
        len("^" + (r["text"] or "").lower() + "$") - 1
        for r in d.select("text").collect()
    )
    assert total == want


# --- trained langid (Models.langid, mirroring Models.lm) ---------------------


def test_trained_langid_tables_match_pure_python(spark):
    """Spark-trained per-language tables == driver-trained tables across
    every (cell, language), bit-for-bit, including which languages exist."""
    d = relational.table(spark, SF, "documents")
    langs, got = lmtrain.train_langid_tables(d)
    pairs = [(r["lang"], r["text"]) for r in d.select("lang", "text").collect()]
    want_langs, want = lmtrain.train_langid_tables_ref(pairs)
    assert langs == want_langs
    assert got.shape == want.shape
    assert np.array_equal(got, want)


def test_trained_langid_excludes_unlabeled_rows(spark):
    """Rows whose lang is outside LANGID_TRAIN_LANGS (e.g. 'und', 'xx')
    contribute nothing — the trainer learns only from the trusted slice."""
    rows = [("en", "the cat sat"), ("und", "zzzz qqqq"), ("xx", "jjjj")]
    d = spark.createDataFrame(rows, "lang string, text string")
    langs, tbl = lmtrain.train_langid_tables(d)
    assert langs == ["en"]
    _, want = lmtrain.train_langid_tables_ref([("en", "the cat sat")])
    assert np.array_equal(tbl, want)


def test_trained_langid_scores_through_pipeline_seam(spark):
    """Trained langid tables plug into pipeline.score_documents as
    Models.langid: the lang column equals a driver-side argmax recompute
    under the trained tables (ties → first max → smallest code, langs
    sorted), the 'und' rules stay model-independent, and ppl is untouched
    by the swap."""
    d = relational.table(spark, SF, "documents")
    langs, tbl = lmtrain.train_langid_tables(d)
    models = udfs.Models(langid=(langs, tbl))
    trained = {
        r["doc_id"]: (r["lang"], r["ppl"])
        for r in pipeline.score_documents(spark, SF, models).collect()
    }
    builtin = {
        r["doc_id"]: (r["lang"], r["ppl"])
        for r in pipeline.score_documents(spark, SF).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    for doc_id, text in texts.items():
        want_lang, _ = quality.lang_and_ppl(text, None, (langs, tbl))
        assert trained[doc_id][0] == want_lang, doc_id
        assert trained[doc_id][1] == builtin[doc_id][1], doc_id  # ppl unchanged


def test_trained_langid_separates_planted_languages(spark):
    """Train on a tiny labeled slice, score held-out text of each language:
    the trained model labels each correctly — the reason the seam exists."""
    rows = [
        ("en", "the quick brown fox jumps over the lazy dog and the bird"),
        ("en", "this is a photo of a person with a thing on the table"),
        ("fr", "le renard brun saute par dessus le chien paresseux"),
        ("fr", "ceci est une photo d'une personne avec une chose sur la table"),
    ]
    d = spark.createDataFrame(rows, "lang string, text string")
    langs, tbl = lmtrain.train_langid_tables(d)
    assert langs == ["en", "fr"]
    model = (langs, tbl)
    assert quality.lang_and_ppl("the dog jumps over the fox", None, model)[0] == "en"
    assert quality.lang_and_ppl("le chien saute sur une table", None, model)[0] == "fr"
    assert quality.lang_and_ppl("", None, model)[0] == "und"
    assert quality.lang_and_ppl("12345 678", None, model)[0] == "und"

"""Distributed char-bigram LM training — the corpus trains its own
quality-scoring model.

The r4 ARPA work proved the model-swap seam (export → parse → broadcast →
score); this module closes the remaining loop: ESTIMATE the model from the
corpus with one Spark aggregation, so the pipeline can bootstrap a
domain-fitted perplexity filter from the very data it is about to filter —
the standard web-scale recipe (train a small LM on a trusted slice, score
the crawl with it).

Training recipe (the builtin `_bigram_logprobs` semantics, lifted from one
seed string to a corpus): every document is sentinel-wrapped
``^ + lower(text) + $``, adjacent codepoint pairs are counted in the
scoring kernel's clipped 257-symbol space (codepoints ≥ 256 fold to the
kernel's "any non-latin" bucket — so train and score share one symbol
space by construction), counts aggregate corpus-wide, and add-one
smoothing gives ``lp = ln((c+1) / (total + V))`` with ``V = distinct
bigrams + 1``. Unobserved bigrams stay at the kernel floor, exactly like
the builtin table.

Scale shape: the count aggregation is one explode + one groupBy whose key
space is BOUNDED BY THE VOCABULARY (≤ 257² = 66,049 ids), never by corpus
size — partial aggregation combines map-side, the shuffle moves at most
66k rows per mapper, and the driver collect is a model constant (same
class as the IVF centroid and CC checksum collects). At 100 TB the plan is
unchanged; only the map side grows.
"""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.quality import _FLOOR, _NC
from .relational import table

# Spark-SQL expression twins (mirrored literally in the DuckDB oracle):
# clipped codepoints of the sentinel-wrapped lowered text, then bigram ids
# a * 257 + b — the exact id space of quality._bigram_ids.
_WRAPPED = "concat('^', lower(text), '$')"
_CLIPPED_CS = "transform(split(t, ''), c -> least(ascii(c), 256))"
_BIGRAM_IDS = (
    "transform(sequence(1, length(t) - 1), i -> "
    f"element_at(cs, i) * {_NC}L + element_at(cs, i + 1))"
)


def _count_table(d: DataFrame) -> DataFrame:
    """(lang, bigram_id, cnt, lp) over a (lang, text) frame — per-class
    clipped-bigram counts plus their add-one-smoothed natural-log
    probability under the builtin profile semantics (quality.
    _bigram_logprobs lifted to a corpus: per-class total and V = distinct
    bigrams + 1). lp is quantized to 6 decimals for engine portability;
    _fold recomputes the unquantized value driver-side. One explode + one
    groupBy on a ≤ n_classes × 66k-id key; the per-class totals (≤
    n_classes rows) join back by broadcast."""
    ids = (
        d.select("lang", F.expr(_WRAPPED).alias("t"))
        .select("lang", F.expr(_CLIPPED_CS).alias("cs"), "t")
        .select("lang", F.explode(F.expr(_BIGRAM_IDS)).alias("bigram_id"))
    )
    counts = ids.groupBy("lang", "bigram_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = counts.groupBy("lang").agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("v")
    )
    return counts.join(F.broadcast(tot), "lang").select(
        "lang",
        "bigram_id",
        "cnt",
        F.round(
            F.log((F.col("cnt") + 1) / (F.col("total") + F.col("v") + 1)), 6
        ).alias("lp"),
    )


def _fold(counts: DataFrame, langs: list[str] | None = None):
    """The driver fold: collect (lang, bigram_id, cnt) and build the
    (_NC², n_classes) natural-log table, ``lp = ln((c+1) / (total + V))``
    per class. ``langs`` defaults to the classes seen. The collect is
    bounded by n_classes × 66,049 ids, not the corpus."""
    rows = counts.select("lang", "bigram_id", "cnt").collect()
    langs = langs or sorted({r["lang"] for r in rows})
    totals = {l: 0 for l in langs}
    vs = {l: 0 for l in langs}
    for r in rows:
        totals[r["lang"]] += r["cnt"]
        vs[r["lang"]] += 1
    tbl = np.full((_NC * _NC, len(langs)), _FLOOR, dtype=np.float64)
    for r in rows:
        l = r["lang"]
        tbl[r["bigram_id"], langs.index(l)] = math.log(
            (r["cnt"] + 1) / (totals[l] + vs[l] + 1)
        )
    return langs, tbl


def _one_class(d: DataFrame, text_col: str) -> DataFrame:
    """The perplexity LM's counts: the langid count table with one class."""
    return _count_table(
        d.select(F.lit("").alias("lang"), F.col(text_col).alias("text"))
    )


def bigram_count_table(d: DataFrame, text_col: str = "text") -> DataFrame:
    """(bigram_id, cnt, lp) — corpus-wide clipped-bigram counts plus their
    add-one-smoothed natural-log probability (quantized to 6 decimals for
    engine portability; the unquantized value is recomputed driver-side by
    train_char_bigram_lm). One explode + one groupBy on a ≤ 66k-id key."""
    return _one_class(d, text_col).drop("lang")


def lm_train_bigram_counts(spark, sf_dir) -> DataFrame:
    """Registered query: the trainer's count/probability table over the
    documents corpus — the driver-checked half of LM training (the
    driver-side table assembly below is a bounded fold over this exact
    output, pinned by pytest parity against a pure-Python trainer)."""
    return bigram_count_table(table(spark, sf_dir, "documents"))


def train_char_bigram_lm(d: DataFrame, text_col: str = "text") -> np.ndarray:
    """Corpus → (_NC²,) natural-log scoring table, directly consumable by
    quality.perplexity(text, tbl) and as ``udfs.Models(lm=...)`` (stage.score,
    pipeline.score_documents, udfs.score_batch). The collect is bounded by
    the 66,049-id vocabulary, not the corpus."""
    return _fold(_one_class(d, text_col), [""])[1][:, 0]


def train_char_bigram_lm_ref(texts) -> np.ndarray:
    """Pure-Python reference trainer (no Spark) — the golden twin pytest
    pins train_char_bigram_lm against, bit-for-bit."""
    counts: dict[int, int] = {}
    for x in texts:
        t = "^" + x.lower() + "$"
        c = np.minimum(
            np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32), 256
        ).astype(np.int64)
        for bid in (c[:-1] * _NC + c[1:]).tolist():
            counts[bid] = counts.get(bid, 0) + 1
    total = sum(counts.values())
    v = len(counts) + 1
    tbl = np.full(_NC * _NC, _FLOOR, dtype=np.float64)
    for bid, c in counts.items():
        tbl[bid] = math.log((c + 1) / (total + v))
    return tbl


# --- trained langid ----------------------------------------------------------
# The perplexity model has had a full production-swap story since r4 (ARPA
# artifact / corpus-trained table → Models.lm); the langid char-bigram profiles
# stayed builtin constants. This closes the asymmetry with the SAME recipe:
# estimate per-language bigram tables from a LABELED slice with one
# vocabulary-bounded aggregation, passed as Models.langid through every
# scoring path. The key space is n_langs × 66,049 ids — still a model
# constant, never corpus-sized, so the plan is unchanged at 100 TB.

# Languages the trainer learns from (the keep/drop gate's allowed set —
# rows labeled anything else are not trusted training data).
LANGID_TRAIN_LANGS = ("de", "en", "es", "fr")
_LANG_IN = ", ".join(f"'{l}'" for l in LANGID_TRAIN_LANGS)


def langid_bigram_count_table(
    d: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """(lang, bigram_id, cnt, lp) — per-language clipped-bigram counts from
    the labeled slice (rows whose lang is in LANGID_TRAIN_LANGS), plus
    their add-one-smoothed natural-log probability (see _count_table)."""
    return _count_table(
        d.select(F.col(lang_col).alias("lang"), F.col(text_col).alias("text"))
        .where(F.expr(f"lang in ({_LANG_IN})"))
    )


def langid_train_bigram_counts(spark, sf_dir) -> DataFrame:
    """Registered query: the langid trainer's per-language count/probability
    table over the labeled documents slice — the driver-checked half of
    langid training (counts integer-exact, lp quantized; the driver-side
    table assembly is a bounded fold over this output, pinned by pytest
    parity against a pure-Python trainer)."""
    return langid_bigram_count_table(table(spark, sf_dir, "documents"))


def train_langid_tables(
    d: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> tuple[list[str], np.ndarray]:
    """Labeled corpus → (langs, (_NC², n_langs) natural-log table), directly
    consumable by quality.lang_and_ppl's langid_model parameter and as
    ``udfs.Models(langid=...)``. The collect is bounded by n_langs × 66,049
    ids."""
    return _fold(langid_bigram_count_table(d, text_col, lang_col))


def train_langid_tables_ref(pairs) -> tuple[list[str], np.ndarray]:
    """Pure-Python reference trainer over (lang, text) pairs — the golden
    twin pytest pins train_langid_tables against, bit-for-bit."""
    by_lang: dict[str, dict[int, int]] = {}
    for lang, x in pairs:
        if lang not in LANGID_TRAIN_LANGS:
            continue
        t = "^" + x.lower() + "$"
        c = np.minimum(
            np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32), 256
        ).astype(np.int64)
        counts = by_lang.setdefault(lang, {})
        for bid in (c[:-1] * _NC + c[1:]).tolist():
            counts[bid] = counts.get(bid, 0) + 1
    langs = sorted(by_lang)
    tbl = np.full((_NC * _NC, len(langs)), _FLOOR, dtype=np.float64)
    for li, lang in enumerate(langs):
        counts = by_lang[lang]
        total = sum(counts.values())
        v = len(counts) + 1
        for bid, c in counts.items():
            tbl[bid, li] = math.log((c + 1) / (total + v))
    return langs, tbl

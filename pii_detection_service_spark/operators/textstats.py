"""Text-analysis operators for the training-data pipeline, expressed with
native Spark functions (whole-stage codegen, no Python) wherever the
semantics allow. Each has an exact DuckDB oracle in queries.py.

- stopword langid (SQL-portable twin of quality.langid_stopword)
- quality scoring (length / symbol ratio / repetition / word entropy)
- document fingerprinting (polynomial rolling hash)
- BIO label derivation + prefix strip (A8 — fully native higher-order fns)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.quality import (
    LANG_MARKERS,
    MAX_CHARS,
    MAX_SYMBOL_RATIO,
    MAX_TOP_WORD_RATIO,
    MIN_CHARS,
    MIN_WORDS,
)
from .relational import table


def _marker_count(col: str, langcode: str):
    pat = r"\b(?:%s)\b" % "|".join(LANG_MARKERS[langcode])
    return F.size(F.regexp_extract_all(F.lower(F.col(col)), F.lit(pat), F.lit(0)))


def langid_stopword(spark, sf_dir) -> DataFrame:
    """Marker-word-voting language ID; exact twin of
    quality.langid_stopword (ties → lexicographically smallest code)."""
    d = table(spark, sf_dir, "documents")
    scores = {l: _marker_count("text", l).alias(f"{l}_s") for l in sorted(LANG_MARKERS)}
    d = d.select("doc_id", *scores.values())
    best = F.greatest(*[F.col(f"{l}_s") for l in sorted(LANG_MARKERS)])
    pred = F.when(best == 0, "und")
    for l in sorted(LANG_MARKERS):  # alphabetical ⇒ python min() tie-break
        pred = pred.when(F.col(f"{l}_s") == best, l)
    return d.select(
        "doc_id", "de_s", "en_s", "es_s", "fr_s", pred.alias("lang_pred")
    )


def quality_score(spark, sf_dir) -> DataFrame:
    """Keep/drop heuristics computed 100% JVM-side: at 100 TB these rules
    run in codegen over the scan with zero Python."""
    d = table(spark, sf_dir, "documents")
    text = F.col("text")
    words = F.split(text, " ")
    n_chars = F.length(text)
    n_words = F.size(words)
    n_sym = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    # Word counts via ONE linear run-length pass over the sorted word array
    # (O(n log n)/row) instead of re-filtering the array per distinct word
    # (O(distinct·n)/row — the interpreted-HOF cost class that made long
    # documents a scale risk). Entropy terms accumulate as each run closes,
    # i.e. in ascending word order — the oracle folds in the same order.
    d = (
        d.withColumn("ws_", F.array_sort(words))
        .withColumn("nw_", F.size("ws_"))
        .withColumn(
            "rl_",
            F.expr(
                "aggregate(ws_, "
                "named_struct('bc', 0, 's', cast(0.0 as double), 'cc', 0, 'cg', ''), "
                "(acc, w) -> if(acc.cc > 0 and w = acc.cg, "
                "  named_struct('bc', greatest(acc.bc, acc.cc + 1), 's', acc.s, "
                "               'cc', acc.cc + 1, 'cg', w), "
                "  named_struct('bc', greatest(acc.bc, 1), "
                "               's', acc.s + if(acc.cc = 0, cast(0.0 as double), "
                "                    (acc.cc / nw_) * ln(acc.cc / nw_)), "
                "               'cc', 1, 'cg', w)), "
                "acc -> named_struct('maxc', acc.bc, "
                "  'ent', acc.s + (acc.cc / nw_) * ln(acc.cc / nw_)))"
            ),
        )
    )
    # ratios stay UNROUNDED: they are rational (int/int division, identical
    # IEEE doubles in every engine); SQL round() diverges cross-engine on
    # exact decimal halves (e.g. odd/128), so rounding would break parity
    sym_ratio = n_sym / n_chars
    top_ratio = F.col("rl_.maxc") / n_words
    entropy = F.round(-F.col("rl_.ent"), 6)
    keep = (
        (n_chars >= MIN_CHARS)
        & (n_chars <= MAX_CHARS)
        & (n_words >= MIN_WORDS)
        & (sym_ratio <= MAX_SYMBOL_RATIO)
        & (top_ratio <= MAX_TOP_WORD_RATIO)
    )
    reason = (
        F.when(n_chars < MIN_CHARS, "too_short")
        .when(n_chars > MAX_CHARS, "too_long")
        .when(n_words < MIN_WORDS, "too_few_words")
        .when(sym_ratio > MAX_SYMBOL_RATIO, "symbol_heavy")
        .when(top_ratio > MAX_TOP_WORD_RATIO, "repetitive")
        .otherwise("")
    )
    return d.select(
        "doc_id",
        n_chars.alias("len_chars"),
        n_words.alias("n_words"),
        sym_ratio.alias("symbol_ratio"),
        top_ratio.alias("top_word_ratio"),
        entropy.alias("word_entropy"),
        keep.alias("keep"),
        reason.alias("drop_reason"),
    )


def tokenize_a2(spark, sf_dir) -> DataFrame:
    """A2 — the reference's regex findall tokenizer (preprocessor.py:26-30)
    run NATIVELY via regexp_extract_all (JVM, no Python): paragraph breaks,
    literal \\uXXXX escapes, single punctuation, word runs."""
    d = table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(
        F.col("text"), F.lit(r"\n\n+|\\u[0-9a-fA-F]{4}|[^\w\s]|[\w]+"), F.lit(0)
    )
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.concat_ws("\x01", toks).alias("tokens_joined"),
    )


def fingerprint(spark, sf_dir) -> DataFrame:
    """Document fingerprint: polynomial rolling hash over codepoints,
    mod 1e9+7 — native aggregate (JVM), portable to the SQL oracle."""
    d = table(spark, sf_dir, "documents")
    fp = F.expr(
        "aggregate(transform(split(text, ''), c -> ascii(c)), 0L, "
        "(acc, x) -> (acc * 31 + x) % 1000000007)"
    )
    return d.select("doc_id", fp.alias("fp"))


# Synthetic ▁-subword array derived from words: long words split into a
# ▁-marked head piece + continuation piece, wrapped in sentinels — the
# DeBERTa token shape (predictor.py:59-63) built natively so A6/A7 have an
# exact SQL oracle.
_SUBWORDS = (
    "concat(array('[CLS]'), flatten(transform(split(text, ' '), w -> "
    "case when length(w) > 3 then array(concat('▁', substring(w, 1, 2)), substring(w, 3)) "
    "else array(concat('▁', w)) end)), array('[SEP]'))"
)


def reconstruct_text(spark, sf_dir) -> DataFrame:
    """A6 — detokenize ▁-marked subwords (preprocessor.py:32-51) as a native
    fold: sentinels skipped, ▁ token → space + stripped, continuation →
    direct append. Self-validating: reconstructed == text."""
    d = table(spark, sf_dir, "documents")
    rec = F.expr(
        f"aggregate({_SUBWORDS}, '', (acc, x) -> "
        "case when x in ('[CLS]', '[SEP]') then acc "
        "when x like '▁%' then case when acc = '' then substring(x, 2) "
        "else concat(acc, ' ', substring(x, 2)) end "
        "else concat(acc, x) end)"
    )
    return d.select(
        "doc_id", rec.alias("reconstructed"), (rec == F.col("text")).alias("roundtrip_ok")
    )


def clean_tokens(spark, sf_dir) -> DataFrame:
    """A7 — sentinel strip + leading-▁ strip (preprocessor.py:53-59) as
    native slice + transform; output re-joined for comparison."""
    d = table(spark, sf_dir, "documents")
    cleaned = F.expr(
        f"transform(slice({_SUBWORDS}, 2, size({_SUBWORDS}) - 2), x -> "
        "case when x like '▁%' and length(x) > 1 then substring(x, 2) else x end)"
    )
    return d.select("doc_id", F.concat_ws(" ", cleaned).alias("cleaned_tokens"))


_PSEUDO_LABELS = (
    "transform(split(text, ' '), w -> "
    "case when w like '%@%' then 'B-EMAIL' "
    "when w rlike '^[0-9]+$' then 'B-ID_NUM' "
    "when w rlike '^[A-Z]' then 'B-NAME_STUDENT' "
    "else 'O' end)"
)


def fbeta_arrays(spark, sf_dir) -> DataFrame:
    """G1 over real aligned label ARRAYS: true = pseudo-BIO labels, pred =
    the same sequence shifted left one token (deterministic divergence) —
    exploded to token level, micro-F5 aggregated per lang, drift per G2.
    This is the exact shape of the reference's evaluate-performance path
    (ml_service_app.py:106-128) run as one distributed aggregate."""
    d = table(spark, sf_dir, "documents")
    pairs = F.expr(
        f"transform({_PSEUDO_LABELS}, (l, i) -> struct(l as t, "
        f"coalesce(try_element_at({_PSEUDO_LABELS}, i + 2), 'O') as p))"
    )
    ex = d.select("doc_id", "lang", F.explode(pairs).alias("pair"))
    tp = F.sum(F.when(F.col("pair.t") == F.col("pair.p"), 1).otherwise(0))
    mism = F.sum(F.when(F.col("pair.t") != F.col("pair.p"), 1).otherwise(0))
    f5 = (26.0 * tp) / (26.0 * tp + 25.0 * mism + mism)
    return ex.groupBy("lang").agg(
        tp.alias("tp"), mism.alias("mism"), f5.alias("f5"), (f5 < 0.8).alias("drifting")
    )


def tfidf_top_terms(spark, sf_dir) -> DataFrame:
    """TF-IDF salient terms, top-3 per document — the corpus-statistics op a
    training-data pipeline runs for topic/quality signals. Three shuffles by
    design: (doc,term) partial-agg for tf, term-agg for document frequency,
    then a term-keyed join back (term cardinality is high → no broadcast)
    and one window per doc. The corpus size joins in as a broadcast scalar,
    never a driver-side constant baked into the plan."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    w = d.select(
        "doc_id", F.size(words).alias("n_words"), F.explode(words).alias("term")
    )
    tf = w.groupBy("doc_id", "n_words", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = F.broadcast(d.agg(F.count(F.lit(1)).alias("n_total")))
    tfidf = F.round(
        (F.col("tf").cast("double") / F.col("n_words"))
        * F.log(F.col("n_total").cast("double") / F.col("df")),
        6,
    )
    scored = tf.join(dfreq, "term").crossJoin(total).select(
        "doc_id", "term", tfidf.alias("tfidf")
    )
    rank_w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(rank_w))
        .where(F.col("rn") <= 3)
        .select("doc_id", F.col("rn").cast("int").alias("rn"), "term", "tfidf")
    )


def label_strip(spark, sf_dir) -> DataFrame:
    """A8 — BIO prefix strip as a native higher-order transform
    (validation_preprocessor.py:7-13). Pseudo-BIO labels derive per word
    (email-ish → B-EMAIL, numeric → B-ID_NUM, capitalized → B-NAME_STUDENT);
    output re-joined for robust comparison."""
    d = table(spark, sf_dir, "documents")
    labels = F.expr(
        "transform(split(text, ' '), w -> "
        "case when w like '%@%' then 'B-EMAIL' "
        "when w rlike '^[0-9]+$' then 'B-ID_NUM' "
        "when w rlike '^[A-Z]' then 'B-NAME_STUDENT' "
        "else 'O' end)"
    )
    stripped = F.transform(labels, lambda l: F.regexp_replace(l, "^[BI]-", ""))
    n_pii = F.size(F.filter(labels, lambda l: l != "O"))
    return d.select(
        "doc_id",
        F.concat_ws(" ", stripped).alias("stripped_labels"),
        n_pii.alias("n_pii_tokens"),
    )


# Gopher-style repetition thresholds (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", table A1): drop when the most frequent word 2-gram
# covers > 20% of characters, or the most frequent 3-gram > 18%.
GOPHER_TOP2_MAX = 0.20
GOPHER_TOP3_MAX = 0.18


def _top_ngram_frac(col: str) -> "F.Column":
    """chars(most frequent n-gram) · count / chars(text) over a
    pre-computed n-gram array column — 100% JVM-side higher-order
    functions; rows are independent → map-only at any scale. Counting is
    ONE linear run-length pass over the SORTED gram array (O(n log n) per
    row; equal grams are adjacent after the sort), replacing the
    O(distinct·n) re-filter-per-distinct-gram shape that made long
    documents (Gopher's actual target) a scale risk. Ties break to the
    lexicographically smallest n-gram — the ascending scan with a
    strict-> best update yields exactly that argmax. Overlapping
    occurrences can double-count characters (e.g. 'spam spam spam'), so
    the fraction clips at 1.0 — matching the public RedPajama
    implementation of the Gopher rules."""
    expr = f"""
    case when size({col}) < 1 then cast(0.0 as double) else
      aggregate(array_sort({col}),
                named_struct('bc', 0, 'bg', '', 'cc', 0, 'cg', ''),
                (acc, g) -> if(acc.cc > 0 and g = acc.cg,
                            named_struct(
                              'bc', if(acc.cc + 1 > acc.bc, acc.cc + 1, acc.bc),
                              'bg', if(acc.cc + 1 > acc.bc, g, acc.bg),
                              'cc', acc.cc + 1, 'cg', g),
                            named_struct(
                              'bc', if(acc.bc < 1, 1, acc.bc),
                              'bg', if(acc.bc < 1, g, acc.bg),
                              'cc', 1, 'cg', g)),
                acc -> least(cast(acc.bc * length(acc.bg) as double) / length(text),
                             cast(1.0 as double)))
    end
    """
    return F.expr(expr)


def _gram_expr(n: int) -> str:
    """SQL expression for the word n-gram array of `text` (empty array for
    docs shorter than n words — slice() with a non-positive length raises,
    so the guard is load-bearing). Built as a zip_with over n shifted
    slices of the word array — n array copies total, O(n_words) per row.
    The previous transform(sequence(...)) shape called slice() once PER
    POSITION (an O(n_words) copy each), i.e. O(n_words^2) per row — the
    actual long-document scale killer (60x slower at 2k words/doc; the
    counting pass was never the bottleneck). Spark's common-subexpression
    elimination computes the repeated split() once. Shared by
    gopher_repetition and its tests."""
    ws = "split(text, ' ')"
    m = f"(size({ws}) - {n - 1})"
    core = f"slice({ws}, 1, {m})"
    for j in range(2, n + 1):
        core = (
            f"zip_with({core}, slice({ws}, {j}, {m}), "
            f"(a, b) -> concat(a, ' ', b))"
        )
    return f"if(size({ws}) < {n}, array(), {core})"


# Remaining published Gopher quality rules (Rae et al. 2021, appendix A1.1,
# as implemented publicly in RedPajama-Data/Dolma): word count bounds, mean
# word length bounds, symbol-to-word ratio (# and ...), bullet-started /
# ellipsis-ended line fractions, fraction of words with an alphabetic
# character, and the minimum stop-word count. Together with the repetition
# rules above this is the full keep/drop gate a 100 TB text filter runs.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.10
GOPHER_MAX_BULLET_LINE_FRAC = 0.90
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.30
GOPHER_MIN_ALPHA_WORD_FRAC = 0.80
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORDS = 2

# The synthetic corpus is single-line, single-space text, which would leave
# the line-based rules degenerate (every doc = one bullet-free line). The
# query therefore derives a multi-line variant DETERMINISTICALLY inside the
# plan — ' table ' opens a bullet line, ' slow ' closes the previous line
# with an ellipsis, ' hash ' becomes a '#' symbol — with the identical
# replace chain in the DuckDB oracle, so the rules are exercised on varied
# real inputs (bullet lines, ellipsis lines, non-alpha tokens, # symbols)
# while both engines see byte-identical text. Replacements are sequential
# non-overlapping left-to-right in both engines.
_GOPHER_TEXT = (
    "replace(replace(replace(text, ' table ', concat(chr(10), '- table ')), "
    "' slow ', concat('...', chr(10), 'slow ')), ' hash ', ' # ')"
)
_STOPWORD_SET = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)


def gopher_quality(spark, sf_dir) -> DataFrame:
    """Full Gopher quality rules (minus the repetition family, which
    gopher_repetition carries): all metrics are rational (int/int or
    exact-multiple-of-3/int divisions → bit-identical IEEE doubles across
    engines), so outputs stay unrounded. 100% JVM-side map-only
    expressions; rows are independent → the plan is a projected scan at
    any scale."""
    d = table(spark, sf_dir, "documents").withColumn("gt_", F.expr(_GOPHER_TEXT))
    d = (
        d.withColumn("ls_", F.split("gt_", r"\n"))
        .withColumn("ws_", F.split("gt_", r"[ \n]"))
    )
    n_words = F.size("ws_")
    n_lines = F.size("ls_")
    mean_wlen = F.expr("aggregate(ws_, 0, (a, w) -> a + length(w))") / n_words
    n_hash = F.length("gt_") - F.length(F.expr("replace(gt_, '#', '')"))
    n_ellipsis = (
        F.length("gt_") - F.length(F.expr("replace(gt_, '...', '')"))
    ) / 3
    sym_ratio = (n_hash + n_ellipsis) / n_words
    bullet_frac = (
        F.size(
            F.expr("filter(ls_, l -> l like '- %' or l like '• %' or l like '* %')")
        )
        / n_lines
    )
    ellipsis_frac = (
        F.size(F.expr("filter(ls_, l -> l like '%...' or l like '%…')")) / n_lines
    )
    alpha_frac = F.size(F.expr("filter(ws_, w -> w rlike '[A-Za-z]')")) / n_words
    stop_hits = F.size(F.expr(f"filter(ws_, w -> w in ({_STOPWORD_SET}))"))
    keep = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_wlen >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_wlen <= GOPHER_MAX_MEAN_WORD_LEN)
        & (sym_ratio <= GOPHER_MAX_SYMBOL_WORD_RATIO)
        & (bullet_frac <= GOPHER_MAX_BULLET_LINE_FRAC)
        & (ellipsis_frac <= GOPHER_MAX_ELLIPSIS_LINE_FRAC)
        & (alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (stop_hits >= GOPHER_MIN_STOPWORDS)
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        sym_ratio.alias("sym_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep_gopher"),
    )


def gopher_repetition(spark, sf_dir) -> DataFrame:
    """Gopher repetition rules: fraction of characters covered by the most
    frequent word 2-/3-gram, and the keep decision at the published
    thresholds. Unrounded rational outputs (int·int/int divisions are
    bit-identical across engines)."""
    d = table(spark, sf_dir, "documents")
    for n in (2, 3):
        d = d.withColumn(f"gs{n}", F.expr(_gram_expr(n)))
    return d.select(
        "doc_id",
        _top_ngram_frac("gs2").alias("top2_frac"),
        _top_ngram_frac("gs3").alias("top3_frac"),
    ).withColumn(
        "keep_rep",
        (F.col("top2_frac") <= GOPHER_TOP2_MAX)
        & (F.col("top3_frac") <= GOPHER_TOP3_MAX),
    )


# The rest of the published Gopher repetition family (Rae et al. 2021 A1.1,
# thresholds as in the public RedPajama implementation): top-4-gram char
# fraction, duplicate 5..10-gram char fractions (characters covered by
# n-grams occurring more than once: sum over dup grams of count*len(gram)
# / chars, clipped at 1), and duplicate-line fraction + duplicate-line
# CHAR fraction over the derived multi-line text. Together with
# gopher_repetition (top-2/3-gram) this is the complete rule set.
GOPHER_TOP4_MAX = 0.16
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
GOPHER_DUP_LINE_MAX = 0.30
GOPHER_DUP_LINE_CHAR_MAX = 0.20


def _dup_ngram_frac(col: str) -> "F.Column":
    """Characters covered by DUPLICATE n-grams: ONE linear run-length pass
    over the sorted gram array accumulating count*len(gram) for runs of
    length >= 2 (the same O(n log n)/row machinery as _top_ngram_frac —
    never a per-distinct-gram refilter), divided by chars, clipped at 1."""
    expr = f"""
    case when size({col}) < 1 then cast(0.0 as double) else
      aggregate(array_sort({col}),
                named_struct('s', 0L, 'cc', 0, 'cg', ''),
                (acc, g) -> if(acc.cc > 0 and g = acc.cg,
                            named_struct(
                              's', acc.s + if(acc.cc = 1, 2 * length(g), length(g)),
                              'cc', acc.cc + 1, 'cg', g),
                            named_struct('s', acc.s, 'cc', 1, 'cg', g)),
                acc -> least(cast(acc.s as double) / length(text),
                             cast(1.0 as double)))
    end
    """
    return F.expr(expr)


def gopher_duplication(spark, sf_dir) -> DataFrame:
    """The duplication half of Gopher's repetition rules: top-4-gram char
    fraction, duplicate-5..10-gram char fractions, and duplicate-line
    fraction + duplicate-line char fraction over the deterministically
    derived multi-line text (_GOPHER_TEXT — the corpus is single-line, so
    the line rules need the same injected variety quality_gopher_full
    uses). All outputs are rational or clipped rational divisions →
    unrounded exact parity with the relational DuckDB twin."""
    d = table(spark, sf_dir, "documents")
    d = d.withColumn("gs4", F.expr(_gram_expr(4)))
    for n in GOPHER_DUP_NGRAM_MAX:
        d = d.withColumn(f"gd{n}", F.expr(_gram_expr(n)))
    d = d.withColumn("gt_", F.expr(_GOPHER_TEXT))
    d = d.withColumn("ls_", F.split("gt_", r"\n"))
    n_lines = F.size("ls_")
    # duplicate-line fraction: lines occurring >= 2 times, counted per
    # occurrence; char version weights each duplicate occurrence by its
    # length over the multi-line text's length
    dup_line = F.expr(
        """
        aggregate(array_sort(ls_), named_struct('c', 0L, 'ch', 0L, 'cc', 0, 'cg', ''),
          (acc, l) -> if(acc.cc > 0 and l = acc.cg,
            named_struct('c', acc.c + if(acc.cc = 1, 2L, 1L),
                         'ch', acc.ch + if(acc.cc = 1, 2 * length(l), length(l)),
                         'cc', acc.cc + 1, 'cg', l),
            named_struct('c', acc.c, 'ch', acc.ch, 'cc', 1, 'cg', l)),
          acc -> named_struct('n', acc.c, 'ch', acc.ch))
        """
    )
    d = d.withColumn("dl_", dup_line)
    top4 = _top_ngram_frac("gs4")
    cols = [
        top4.alias("top4_frac"),
    ]
    keep = top4 <= GOPHER_TOP4_MAX
    for n, thr in GOPHER_DUP_NGRAM_MAX.items():
        frac = _dup_ngram_frac(f"gd{n}")
        cols.append(frac.alias(f"dup{n}_frac"))
        keep = keep & (frac <= thr)
    dup_line_frac = F.col("dl_.n") / n_lines
    dup_line_char = F.least(
        F.col("dl_.ch") / F.length("gt_"), F.lit(1.0)
    )
    keep = (
        keep
        & (dup_line_frac <= GOPHER_DUP_LINE_MAX)
        & (dup_line_char <= GOPHER_DUP_LINE_CHAR_MAX)
    )
    return d.select(
        "doc_id",
        *cols,
        dup_line_frac.alias("dup_line_frac"),
        dup_line_char.alias("dup_line_char_frac"),
        keep.alias("keep_dup"),
    )

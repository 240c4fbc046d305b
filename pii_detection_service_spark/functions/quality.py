"""Quality-filter kernels: language ID, perplexity, keep/drop heuristics.

The north rule adds these on top of the reference's PII semantics: fastText-
style language ID, KenLM-style n-gram perplexity, and heuristic keep/drop
rules (length, symbol ratio, repetition). No fastText/KenLM binaries exist in
this container, so both models are small, deterministic, built-in tables —
the *Spark-side shape* (Arrow-batched scoring, one pass, zero per-row
Python at the Spark level) is the real deliverable.

Two langid implementations:
- ``langid_stopword``  — marker-word voting. Deliberately expressible in
  both Spark native functions and ANSI SQL, so the DuckDB oracle can verify
  the distributed version exactly.
- ``langid_char_ngram`` — character-bigram log-likelihood scorer (closer to
  fastText's character-n-gram spirit); UDF-only, rows-only driver check.
"""

from __future__ import annotations

import math
import re
from collections import Counter

# --- stopword-marker langid (SQL-portable) ---------------------------------
# Word-boundary marker sets per language. Voting: count marker hits per
# language; argmax with ties broken by language code ascending; rows with
# zero hits everywhere → "und".
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "is", "of", "to", "with", "for"),
    "es": ("el", "la", "de", "que", "los", "con", "por"),
    "de": ("der", "die", "und", "das", "mit", "für", "ist"),
    "fr": ("le", "la", "les", "des", "est", "avec", "pour"),
}

_MARKER_RES = {
    lang: re.compile(r"\b(?:%s)\b" % "|".join(ws), re.IGNORECASE)
    for lang, ws in LANG_MARKERS.items()
}


def langid_stopword(text: str) -> str:
    scores = {lang: len(pat.findall(text)) for lang, pat in _MARKER_RES.items()}
    best = max(scores.values())
    if best == 0:
        return "und"
    return min(l for l, s in scores.items() if s == best)


# --- char-bigram langid (fastText-flavored; UDF-only) -----------------------
# Per-language bigram frequency profiles derived from fixed tiny seed text.
_SEED_TEXT = {
    "en": "the quick brown fox jumps over the lazy dog and this is a photo of "
          "a person with the thing on the table in the room",
    "es": "el rapido zorro marron salta sobre el perro perezoso y esta es una "
          "foto de una persona con la cosa en la mesa de la habitacion",
    "de": "der schnelle braune fuchs springt über den faulen hund und das ist "
          "ein foto von einer person mit dem ding auf dem tisch im zimmer",
    "fr": "le renard brun rapide saute par dessus le chien paresseux et ceci "
          "est une photo d'une personne avec la chose sur la table de la salle",
}


def _bigram_logprobs(text: str) -> dict[str, float]:
    counts: dict[str, int] = {}
    t = "^" + text.lower() + "$"
    for i in range(len(t) - 1):
        bg = t[i : i + 2]
        counts[bg] = counts.get(bg, 0) + 1
    total = sum(counts.values())
    v = len(counts) + 1
    return {bg: math.log((c + 1) / (total + v)) for bg, c in counts.items()}


_PROFILES = {lang: _bigram_logprobs(txt) for lang, txt in _SEED_TEXT.items()}
_FLOOR = math.log(1e-4)

# Vectorized scoring tables: codepoints are clipped to 256 (all profile
# bigrams are latin-1, so any clipped bigram scores the same _FLOOR a dict
# miss would). Scalar and batch paths share these tables, so golden tests
# and the Arrow UDFs agree bit-for-bit by construction.
import numpy as np  # noqa: E402

_LANGS = sorted(_PROFILES)
_NC = 257  # 0..255 literal, 256 = "any non-latin codepoint"


def _fill(table_col, prof):
    for bg, lp in prof.items():
        a, b = ord(bg[0]), ord(bg[1])
        if a < 256 and b < 256:
            table_col[a * _NC + b] = lp


_LANG_TBL = np.full((_NC * _NC, len(_LANGS)), _FLOOR, dtype=np.float64)
for _li, _lang in enumerate(_LANGS):
    _fill(_LANG_TBL[:, _li], _PROFILES[_lang])

_LM = _bigram_logprobs(" ".join(_SEED_TEXT.values()))
_LM_TBL = np.full(_NC * _NC, _FLOOR, dtype=np.float64)
_fill(_LM_TBL, _LM)


def _bigram_ids(t: str) -> np.ndarray:
    c = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
    c = np.minimum(c, 256).astype(np.int64)
    return c[:-1] * _NC + c[1:]


def langid_char_ngram(
    text: str, langid_model: tuple[list[str], np.ndarray] | None = None
) -> str:
    """Argmax language by char-bigram log-likelihood; '' / no-letter → 'und'.
    Ties break to the lexicographically smallest language code.
    ``langid_model`` is a (langs, table) pair as in lang_and_ppl_batch;
    None is the builtin profile set."""
    langs, lang_tbl = (_LANGS, _LANG_TBL) if langid_model is None else langid_model
    t = text.lower()
    if not any(c.isalpha() for c in t):
        return "und"
    if len(t) < 2:
        return "und"
    sums = lang_tbl[_bigram_ids(t)].sum(axis=0)
    return langs[int(np.argmax(sums))]  # argmax → first max → smallest code


def perplexity(text: str, tbl: np.ndarray = _LM_TBL) -> float:
    """exp(-mean log p) under a char-bigram table — the built-in LM by
    default, or a loaded one (load_arpa_char_bigram, lmtrain); empty text
    → inf stand-in 1e9. Deterministic, monotone in 'unusualness' of the
    text."""
    t = "^" + text.lower() + "$"
    if len(t) < 3:
        return 1e9
    ids = _bigram_ids(t)
    return float(math.exp(-tbl[ids].sum() / len(ids)))


def lang_and_ppl(
    text: str,
    lm_tbl: np.ndarray | None = None,
    langid_model: tuple[list[str], np.ndarray] | None = None,
) -> tuple[str, float]:
    """(langid_char_ngram(text), perplexity(text)) in one call: the one-row
    call of lang_and_ppl_batch, whose docstring gives the model seams."""
    langs, ppls = lang_and_ppl_batch([text], lm_tbl, langid_model)
    return langs[0], ppls[0]


# Transient arrays of a batch are bounded by scoring it in chunks of rows
# holding at most this many codepoints (~7 MB of codepoints, ids, LM values).
_CHUNK_BIGRAMS = 1 << 18
# (steps × rows) slots of one zero-padded langid gather in _segment_sums.
_PAD_SLOTS = 1 << 16
# str.isalpha of codepoints 0..255; index 256 (the clipped id) is a
# placeholder that _lang_and_ppl_chunk overwrites per codepoint.
_ALPHA_LATIN1 = np.array([chr(c).isalpha() for c in range(256)] + [False])


def lang_and_ppl_batch(
    texts: list[str],
    lm_tbl: np.ndarray | None = None,
    langid_model: tuple[list[str], np.ndarray] | None = None,
) -> tuple[list[str], list[float]]:
    """Langid + perplexity over a whole batch: one lower per row, then per
    chunk one join, one ``utf-32-le`` encode and one bigram-id pass over
    all rows. Row for row bit-identical to (langid_char_ngram(text),
    perplexity(text, lm_tbl)): every row's sums are taken over the same
    values in the same order as those references take them (property-
    tested in tests/test_properties.py).

    ``lm_tbl`` swaps the perplexity model for a loaded ARPA or trained table
    (load_arpa_char_bigram, lmtrain → udfs.Models.lm) without touching the
    langid profiles. ``langid_model`` is the symmetric seam for langid: a
    (langs, (_NC², n_langs) table) pair from lmtrain.train_langid_tables
    (udfs.Models.langid). The 'und' rules (empty / <2 chars / no letter)
    and the argmax tie-break (first max → lexicographically smallest code,
    langs being sorted) are model-independent."""
    tbl = _LM_TBL if lm_tbl is None else lm_tbl
    langs, lang_tbl = (_LANGS, _LANG_TBL) if langid_model is None else langid_model
    lowered = [t.lower() for t in texts]
    lens = np.fromiter(map(len, lowered), np.int64, len(lowered))
    # each row is "^" + text + "$" in the chunk's string: len + 2 codepoints
    ends = (lens + 2).cumsum()
    out_langs: list[str] = []
    out_ppls: list[float] = []
    lo = 0
    while lo < len(lowered):
        base = ends[lo - 1] if lo else 0
        hi = max(int(ends.searchsorted(base + _CHUNK_BIGRAMS, "right")), lo + 1)
        chunk_langs, chunk_ppls = _lang_and_ppl_chunk(
            lowered[lo:hi], lens[lo:hi], tbl, langs, lang_tbl
        )
        out_langs += chunk_langs
        out_ppls += chunk_ppls
        lo = hi
    return out_langs, out_ppls


def _lang_and_ppl_chunk(lowered, lens, tbl, langs, lang_tbl):
    """lang_and_ppl_batch over lowercased rows joined as "^t0$^t1$...":
    row i's "^" sits at ``starts[i]``, its len+1 sentinel-wrapped bigrams
    (perplexity's) start there and its len-1 plain-text bigrams
    (langid's) one later; the "$^" bigram between rows is never read."""
    cps = np.frombuffer(("^" + "$^".join(lowered) + "$").encode("utf-32-le"), np.uint32)
    clipped = np.minimum(cps, 256).astype(np.int64)
    ids = clipped[:-1] * _NC + clipped[1:]
    starts = np.zeros(len(lens), np.int64)
    (lens[:-1] + 2).cumsum(out=starts[1:])

    # perplexity: one contiguous-slice sum per row, the reduction
    # perplexity() runs on its own gathered array, and math.exp as there
    lm = tbl.take(ids)
    add = np.add.reduce  # ndarray.sum of a 1-D array, less its Python wrapper
    ppls = [
        math.exp(-add(lm[s : s + n]) / n) if n > 1 else 1e9
        for s, n in zip(starts.tolist(), (lens + 1).tolist())
    ]

    # langid: 'und' unless the row has 2+ chars and a letter
    alpha = _ALPHA_LATIN1[clipped]
    wide = (cps > 255).nonzero()[0]
    if wide.size:
        cp, inv = np.unique(cps[wide], return_inverse=True)
        alpha[wide] = np.array([chr(c).isalpha() for c in cp.tolist()])[inv]
    rows = (np.logical_or.reduceat(alpha, starts) & (lens >= 2)).nonzero()[0]
    out = ["und"] * len(lens)
    if rows.size:
        sums = _segment_sums(lang_tbl, ids, starts[rows] + 1, lens[rows] - 1)
        for i, k in zip(rows.tolist(), sums.argmax(axis=1).tolist()):
            out[i] = langs[k]
    return out, ppls


def _segment_sums(tbl2: np.ndarray, ids: np.ndarray, starts, counts) -> np.ndarray:
    """Row r: ``tbl2[ids[starts[r] : starts[r] + counts[r]]].sum(axis=0)``
    (counts >= 1) with its table rows added in index order, the order
    ndarray.sum takes along the outer axis of a C-contiguous array with
    2+ inner elements. So each sum is langid_char_ngram's bit for bit
    (with one language the argmax is 0 whatever the order).

    Segments are taken longest first in groups of similar length: a group
    of R segments, the longest K rows long, is gathered as one zero-padded
    (K, R, langs) array and summed over its outer axis, so every segment
    is added in order and the padding adds exact zeros. A group holds
    segments longer than half its longest and at most _PAD_SLOTS (K, R)
    slots, which bounds both the padding and the array."""
    order = (-counts).argsort(kind="stable")
    neg = -counts[order]  # ascending
    sums = np.empty((len(counts), tbl2.shape[1]), dtype=tbl2.dtype)
    i = 0
    while i < len(order):
        k = -int(neg[i])
        half = int(neg.searchsorted(-(k // 2), "left"))  # first count <= k/2
        rows = order[i : min(half, i + max(_PAD_SLOTS // k, 1))]
        steps = np.arange(k)[:, None]
        inside = steps < counts[rows]
        pos = np.where(inside, starts[rows] + steps, 0)
        vals = tbl2.take(ids[pos], axis=0)
        vals[~inside] = 0.0
        sums[rows] = vals.sum(axis=0)
        i += len(rows)
    return sums


# --- ARPA model loading (the KenLM interchange format) ----------------------
# The built-in _LM is a stand-in; production perplexity models ship as ARPA
# files (the public text format KenLM reads and writes). This seam loads a
# char-bigram ARPA model into the SAME flat table shape the vectorized
# kernel scores against, with real backoff semantics:
#     p(b|a) = bigram(a,b)            if the bigram is listed
#            = backoff(a) + uni(b)    otherwise
# so a loaded model drops into perplexity(text, tbl)/broadcast without
# touching the pinned built-in kernel. ARPA stores log10; the kernel
# scores natural logs — converted on load.

_LN10 = math.log(10.0)
_S_TOK, _E_TOK = "<s>", "</s>"  # ARPA sentence sentinels ↔ kernel's ^/$
_SP_TOK = "<sp>"  # whitespace can't survive whitespace-separated ARPA lines


def _arpa_char(tok: str) -> int | None:
    """ARPA token → clipped codepoint id (the kernel's 257-symbol space).
    <s>/</s> map to the kernel's ^/$ sentinels, <sp> to space (the usual
    char-LM escape); other multi-char tokens are not char-grams → None
    (skipped)."""
    if tok == _S_TOK:
        return ord("^")
    if tok == _E_TOK:
        return ord("$")
    if tok == _SP_TOK:
        return ord(" ")
    if len(tok) == 1:
        return min(ord(tok), 256)
    return None


def load_arpa_char_bigram(path: str) -> np.ndarray:
    """Parse a char-bigram ARPA file into a (_NC²,) natural-log table.

    Real ARPA semantics: listed bigrams score their entry; unlisted ones
    score backoff(a) + uni(b); symbols absent from the unigram section
    score the kernel's _FLOOR. Malformed sections raise ValueError."""
    uni = np.full(_NC, _FLOOR, dtype=np.float64)
    bow = np.zeros(_NC, dtype=np.float64)  # backoff weight, log-domain
    bigrams: list[tuple[int, int, float]] = []
    section = None
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("ngram ") or line == "\\data\\":
                continue
            if line.startswith("\\") and line.endswith("-grams:"):
                section = int(line[1])
                if section > 2:
                    raise ValueError("only 1- and 2-gram sections are loaded")
                continue
            if line == "\\end\\":
                break
            # ARPA lines mix tab (after the logprob) and space (between
            # gram tokens); whitespace tokens are escaped (<sp>), so a
            # plain whitespace split is unambiguous
            parts = line.split()
            if section == 1:
                if len(parts) < 2:
                    raise ValueError(f"malformed 1-gram line: {line!r}")
                a = _arpa_char(parts[1])
                if a is not None:
                    uni[a] = float(parts[0]) * _LN10
                    if len(parts) >= 3:
                        bow[a] = float(parts[2]) * _LN10
            elif section == 2:
                if len(parts) < 3:
                    raise ValueError(f"malformed 2-gram line: {line!r}")
                a, b = _arpa_char(parts[1]), _arpa_char(parts[2])
                if a is not None and b is not None:
                    bigrams.append((a, b, float(parts[0]) * _LN10))
            elif section is not None:
                raise ValueError(f"line outside a known section: {line!r}")
    if not bigrams:
        # a word-level ARPA file (the most common KenLM artifact) parses
        # "successfully" with every multi-char token skipped — returning
        # the degenerate all-floor table would silently score every
        # document identically. Honest seam: raise instead.
        raise ValueError(
            "no char bigrams loaded — this looks like a word-level ARPA "
            "model; this kernel scores char-bigram models (single-char "
            "tokens plus <s>/</s>/<sp>)"
        )
    tbl = bow[:, None] + uni[None, :]  # backoff path for every pair
    for a, b, lp in bigrams:
        tbl[a, b] = lp
    return tbl.reshape(_NC * _NC)


def _tok(c: int) -> str:
    ch = chr(c)
    return {"^": _S_TOK, "$": _E_TOK, " ": _SP_TOK}.get(ch, ch)


def _write_arpa(path: str, unigrams, bigrams) -> None:
    """Write a char-bigram ARPA file. ``unigrams``: (codepoint, log10 prob,
    log10 backoff); ``bigrams``: (a, b, log10 prob). Values are written
    with ``repr`` so a reload is exact."""
    with open(path, "w", encoding="utf-8") as f:
        f.write("\\data\\\n")
        f.write(f"ngram 1={len(unigrams)}\nngram 2={len(bigrams)}\n\n")
        f.write("\\1-grams:\n")
        for c, lp, bow in unigrams:
            f.write(f"{lp!r}\t{_tok(c)}\t{bow!r}\n")
        f.write("\n\\2-grams:\n")
        for a, b, lp in bigrams:
            f.write(f"{lp!r}\t{_tok(a)} {_tok(b)}\n")
        f.write("\n\\end\\\n")


def export_builtin_lm_arpa(path: str) -> None:
    """Write the built-in bigram LM as an ARPA file (round-trip seam: the
    builtin's missing-bigram floor is expressed as uni(b)=_FLOOR with zero
    backoff, so load_arpa_char_bigram reproduces _LM_TBL)."""
    symbols = sorted({ord(bg[0]) for bg in _LM} | {ord(bg[1]) for bg in _LM})
    _write_arpa(
        path,
        [(c, _FLOOR / _LN10, 0.0) for c in symbols],
        [(ord(bg[0]), ord(bg[1]), lp / _LN10) for bg, lp in sorted(_LM.items())],
    )


def export_synth_arpa(path: str, n_extra_symbols: int = 160) -> int:
    """Write a LARGE deterministic char-bigram ARPA model (≥10⁴ bigram
    entries) for end-to-end artifact-scale tests and benches: the
    broadcast/scoring seam must be proven with a realistically-sized
    model, not just the ~1k-entry builtin round-trip.

    Symbols: the builtin LM's alphabet plus the first ``n_extra_symbols``
    printable latin-1 codepoints — every unigram gets a deterministic
    logprob and backoff weight, and each ordered pair (a, b) gets a
    listed bigram unless ``(a * 131 + b) % 5 == 0`` (so ~20% of pairs
    exercise the backoff path at scoring time). Logprobs come from a
    fixed integer mix — no RNG, so the artifact is byte-stable across
    runs. Returns the number of bigram entries written."""
    base = sorted({ord(bg[0]) for bg in _LM} | {ord(bg[1]) for bg in _LM})
    extra = [
        c
        for c in range(33, 256)
        if chr(c).isprintable() and not chr(c).isspace() and c not in base
    ][:n_extra_symbols]
    symbols = sorted(set(base) | set(extra))

    def uni_lp(a: int) -> float:  # log10 in [-4.0, -1.0), deterministic
        return -1.0 - 3.0 * ((a * 2654435761) % 1000) / 1000.0

    def bow_w(a: int) -> float:  # log10 backoff in [-1.0, 0.0)
        return -((a * 40503) % 997) / 997.0

    def bi_lp(a: int, b: int) -> float:  # log10 in [-3.5, -0.5)
        return -0.5 - 3.0 * (((a * 131 + b) * 2246822519) % 1000) / 1000.0

    bigrams = [
        (a, b, bi_lp(a, b))
        for a in symbols
        for b in symbols
        if (a * 131 + b) % 5 != 0
    ]
    _write_arpa(path, [(c, uni_lp(c), bow_w(c)) for c in symbols], bigrams)
    return len(bigrams)


# --- word-entropy (SQL-portable repetition metric) --------------------------

def word_entropy(text: str) -> float:
    """Shannon entropy (nats) of the word-frequency distribution of ``text``
    split on single spaces. Expressible with higher-order functions in both
    Spark and DuckDB, so it carries an exact oracle."""
    words = text.split(" ")
    n = len(words)
    if n == 0:
        return 0.0
    counts: dict[str, int] = {}
    for w in words:
        counts[w] = counts.get(w, 0) + 1
    return -sum((c / n) * math.log(c / n) for c in counts.values())


# --- keep/drop heuristics ----------------------------------------------------
MIN_CHARS = 10
MAX_CHARS = 2048      # mirrors the reference's INFERENCE_MAX_LENGTH cap
                      # (constants.py:22) as an explicit, logged rule
MIN_WORDS = 3
MAX_SYMBOL_RATIO = 0.30
MAX_TOP_WORD_RATIO = 0.50
MAX_PERPLEXITY = 1000.0  # tiny seed LM → high absolute ppl; mash scores ~5000
ALLOWED_LANGS = frozenset({"en", "es", "de", "fr"})

_NON_WORD_RE = re.compile(r"[^\w\s]")
# The ASCII characters _NON_WORD_RE matches, as a str.translate table that
# deletes them: on ASCII text the count is the length the deletion removes.
_ASCII_SYMBOLS = dict.fromkeys(c for c in range(128) if _NON_WORD_RE.match(chr(c)))


def symbol_ratio(text: str) -> float:
    if not text:
        return 1.0
    if text.isascii():
        return (len(text) - len(text.translate(_ASCII_SYMBOLS))) / len(text)
    return len(_NON_WORD_RE.findall(text)) / len(text)


def keep_decision(text: str, lang: str, ppl: float) -> tuple[bool, str]:
    """(keep, drop_reason) — first failing rule wins; '' when kept.

    Rule order is part of the contract (golden-tested): too_short,
    too_long, too_few_words, symbol_heavy, repetitive, bad_lang, high_ppl.
    """
    if len(text) < MIN_CHARS:
        return False, "too_short"
    if len(text) > MAX_CHARS:
        return False, "too_long"
    words = text.split()  # one split feeds both word rules (no empties)
    if len(words) < MIN_WORDS:
        return False, "too_few_words"
    if symbol_ratio(text) > MAX_SYMBOL_RATIO:
        return False, "symbol_heavy"
    counts = Counter(words)
    if max(counts.values()) / len(words) > MAX_TOP_WORD_RATIO:
        return False, "repetitive"
    if lang not in ALLOWED_LANGS:
        return False, "bad_lang"
    if ppl > MAX_PERPLEXITY:
        return False, "high_ppl"
    return True, ""

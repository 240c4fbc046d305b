"""Regex + gazetteer BIO PII tagger + scrubber (A12-equivalent).

Replaces the reference's DeBERTa token-classification forward pass
(predictor.py:65-92) with deterministic span tagging over the same 13-label
vocabulary (textref.LABELS). Operates on *word tokens with character
offsets* so the scrubber can splice placeholders into the original text
exactly — kept rows with no PII are byte-identical.

Word tokenization reproduces the reference's sample fixture token shape
(constants.py:30-35: whitespace split, trailing sentence punctuation
separated, honorific abbreviations like "Dr." kept intact).

Spec and scan forms. Each PII class has a spec regex (EMAIL_RE, URL_RE,
ID_RE, PHONE_RE, ADDRESS_RE, USERNAME_RE): the definition, which the tests
use as the reference. The tagger runs a scan form of each that finds
exactly the spec's ``finditer`` spans. A regex that opens with ``\b``, a
lookbehind or an optional group makes sre start a match attempt at every
character of the caption; each scan form opens with a character class
instead (a digit, a capital, '+', '(', '@' or 'u'), so sre's search loop
skips every other character in C. The boundary the spec tests before that
character becomes a lookbehind after it, and at every position the scan
form tries the spec's paths in the spec's order, so it matches where the
spec matches and ends where the spec ends (Hypothesis-tested per class on
adversarial alphabets). URL_RE already opens with literals ('h' or 'w')
and is its own scan form; EMAIL's is the linear ``_email_spans``.

Pure Python on purpose: called per-batch from Arrow UDFs (pandas Series of
strings in, lists out) and directly from golden tests.
"""

from __future__ import annotations

import re
import string
from bisect import bisect_left, bisect_right
from itertools import accumulate, chain, compress, count
from operator import itemgetter

TRAILING_PUNCT = ".,!?;:"
ABBREVIATIONS = frozenset(
    {"Dr.", "Mr.", "Mrs.", "Ms.", "Prof.", "Jr.", "Sr.", "St.", "vs.", "etc."}
)

# One token per match, each with the whitespace before it: a trailing
# punctuation character (the previous character is not whitespace, so the
# word's core is already out), an abbreviation whose rest is trailing
# punctuation, a word's core (up to its last non-punctuation character), or
# the first character of an all-punctuation word. Every match starts at a
# token start, so each character is read a bounded number of times.
_PUNCT_CLASS = re.escape(TRAILING_PUNCT)
_TOKEN_RE = re.compile(
    r"(\s*)((?<=\S)\S|(?:%s)(?=[%s]*(?!\S))|\S*[^\s%s]|\S)"
    % (
        "|".join(re.escape(a) for a in sorted(ABBREVIATIONS, key=lambda a: (-len(a), a))),
        _PUNCT_CLASS,
        _PUNCT_CLASS,
    )
)

# --- span regexes (applied to raw text; longest-class-first precedence) ----
# The spec regexes; the tagger runs the scan forms below them (module
# docstring). finditer over EMAIL_RE retries the local part from every
# start, quadratic on runs like "a.a.a...@"; _email_spans is linear.
EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
_EMAIL_LOCAL = frozenset(string.ascii_letters + string.digits + "._%+-")
_EMAIL_DOMAIN_RE = re.compile(r"[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
URL_RE = re.compile(r"(?:https?://|www\.)[^\s]+?(?=[.,;:!?]?(?:\s|$))")
# US-style phone: 415-555-9876 / (555) 123-4567 / +1 212 555 1234
PHONE_RE = re.compile(
    r"(?:\+?1[ .-])?(?:\(\d{3}\)[ .-]?|\d{3}[ .-])\d{3}[ .-]\d{4}\b"
)
# SSN-style 123-45-6789, long digit runs, or explicit id tokens like AB-491823
ID_RE = re.compile(r"\b\d{3}-\d{2}-\d{4}\b|\b\d{8,}\b|\b[A-Z]{2}-\d{6,}\b")
STREET_SUFFIX = (
    "St|Street|Ave|Avenue|Rd|Road|Blvd|Boulevard|Ln|Lane|Drive|Way|Court|Ct|Plaza|Square"
)
ADDRESS_RE = re.compile(
    r"\b\d{1,5} (?:[A-Z][a-z]+ ){1,3}(?:%s)\b\.?" % STREET_SUFFIX
)
USERNAME_RE = re.compile(r"(?<![\w.])@[A-Za-z][A-Za-z0-9_]{2,}\b|\bu/[A-Za-z0-9_]{3,}\b")

# Scan forms. The lead character is a word character in ID, ADDRESS and the
# u/ handle, so the spec's leading \b is "the character before it is not a
# word character"; (?<=\d) / (?<=[A-Z]) / (?<=\+) / (?<=\() / (?<=1) pick
# the spec path the lead character allows, in the spec's order.
_ID_SCAN = re.compile(
    r"[\dA-Z](?<!\w[\dA-Z])"
    r"(?:(?<=\d)\d\d(?:-\d\d-\d{4}|\d{5,})\b|(?<=[A-Z])[A-Z]-\d{6,}\b)"
)
_PHONE_SCAN = re.compile(
    r"[+(\d](?:(?:(?<=\+)1|(?<=1))[ .-](?:\(\d{3}\)[ .-]?|\d{3}[ .-])"
    r"|(?<=\()\d{3}\)[ .-]?|(?<=\d)\d\d[ .-])\d{3}[ .-]\d{4}\b"
)
_ADDRESS_SCAN = re.compile(
    r"\d(?<!\w\d)\d{0,4} (?:[A-Z][a-z]+ ){1,3}(?:%s)\b\.?" % STREET_SUFFIX
)
_USERNAME_SCAN = re.compile(
    r"@(?<![\w.]@)[A-Za-z][A-Za-z0-9_]{2,}\b|u(?<!\wu)/[A-Za-z0-9_]{3,}\b"
)

# Gazetteer of given names (NAME_STUDENT). Fixed, versioned: a real pipeline
# broadcasts a large list; semantics are identical.
FIRST_NAMES = frozenset(
    """alice robert gilberto maria john jane carlos ana luis sofia james mary
    linda michael sarah david emma wei li chen yuki hans anna pierre claire
    ahmed fatima olga ivan diego lucia marco paolo kenji aiko raj priya noah
    liam olivia ava elena pablo andres veronica hiroshi mei jean marie
    """.split()
)
HONORIFICS = frozenset({"dr.", "mr.", "mrs.", "ms.", "prof.", "dr", "mr", "mrs", "ms", "prof"})


def extend_gazetteer(extra_names) -> frozenset:
    """The builtin given names plus ``extra_names``, lowercased: the span
    finder folds candidate words, not the set, so entries must be
    lowercase. Pass the result as the ``gazetteer`` argument of the
    tagger functions (or ``udfs.Models(gazetteer=...)``)."""
    return FIRST_NAMES | {n.lower() for n in extra_names}


# Toxicity gazetteer (north rule: "regex + gazetteer PII/toxicity
# scrubbing"). Deliberately mild, fixed, versioned stand-ins — a production
# pipeline swaps in a real blocklist; semantics (word-boundary match,
# [TOXIC] mask, kept rows otherwise byte-identical) are what's tested.
TOXIC_WORDS = frozenset(
    "damn hell crap idiot stupid moron jerk loser freakin frickin".split()
)
TOXIC_RE = re.compile(
    r"\b(?:%s)\b" % "|".join(sorted(TOXIC_WORDS)), re.IGNORECASE
)

# Tag precedence: earlier wins on overlap. The spec regexes, the reference
# the tests hold _pii_spans to.
_SPAN_RES: list[tuple[str, re.Pattern[str]]] = [
    ("EMAIL", EMAIL_RE),
    ("URL_PERSONAL", URL_RE),
    ("ID_NUM", ID_RE),
    ("PHONE_NUM", PHONE_RE),
    ("STREET_ADDRESS", ADDRESS_RE),
    ("USERNAME", USERNAME_RE),
]

# Classes whose vocabulary has no I- form (single-token entities).
_NO_I = frozenset({"EMAIL", "USERNAME"})

_DIGIT_RE = re.compile(r"\d")
_UPPER_RE = re.compile(r"[A-Z]")


def _email_spans(text: str) -> list[tuple[int, int]]:
    """The (start, end) spans of ``EMAIL_RE.finditer(text)`` in time linear
    in ``len(text)``. '@' is in neither the local-part nor the domain class,
    so a match is: the maximal local-part run ending at some '@' (cut at
    the previous match's end), then the regex's domain part after it. The
    '@'s are visited in order; each local run is walked once and each
    domain run (which stops at the next '@') is matched once, so every
    character is read a bounded number of times."""
    out: list[tuple[int, int]] = []
    pos = 0
    at = text.find("@")
    while at != -1:
        start = at
        while start > pos and text[start - 1] in _EMAIL_LOCAL:
            start -= 1
        m = _EMAIL_DOMAIN_RE.match(text, at + 1) if start < at else None
        if m is None:
            at = text.find("@", at + 1)
            continue
        pos = m.end()
        out.append((start, pos))
        at = text.find("@", pos)
    return out


def _tokenize(text: str) -> tuple[list[str], list[int], list[int]]:
    """word_tokenize's tokens as three columns (words, starts, ends): one
    ``_TOKEN_RE.findall`` gives (whitespace, token) pairs that tile the
    text, so a running sum of their lengths is every token's start and
    end. Trailing whitespace is stripped first: no token follows it, and
    findall would retry ``\\s*`` from each of its characters."""
    pairs = _TOKEN_RE.findall(text.rstrip())
    bounds = list(accumulate(map(len, chain.from_iterable(pairs))))
    return list(map(itemgetter(1), pairs)), bounds[0::2], bounds[1::2]


def word_tokenize(text: str) -> list[tuple[str, int, int]]:
    """Whitespace (text, start, end) tokens; trailing sentence punctuation is
    peeled into its own token unless the word is a known abbreviation.

    Reproduces the reference fixture token shape (constants.py:30-35):
    ``"now." → ["now", "."]`` but ``"Dr." → ["Dr."]``; phone numbers and
    emails stay intact.
    """
    return list(zip(*_tokenize(text)))


def find_pii_spans(
    text: str, gazetteer: frozenset = FIRST_NAMES
) -> list[tuple[int, int, str]]:
    """All PII character spans as (start, end, class), non-overlapping,
    precedence EMAIL > URL > ID > PHONE > ADDRESS > USERNAME > NAME.
    ``gazetteer`` is the lowercase given-name set."""
    return _pii_spans(text, None, gazetteer)[0]


def _pii_spans(
    text: str, cols, gazetteer: frozenset
) -> tuple[list[tuple[int, int, str]], bytearray]:
    """find_pii_spans plus its claim map: byte i of ``taken`` is 1 iff
    character i lies in a claimed span. A candidate (s, e) is free iff
    ``taken.find(1, s, e) == -1`` — a scan of its own range only, so the
    claims cost time linear in the caption however many spans it holds
    (testing each candidate against every claimed span is quadratic in
    span count). ``cols`` is ``_tokenize(text)`` when the caller already
    has it, else None.

    Each class runs its scan form (module docstring) in precedence order.
    A class is skipped outright when a character or substring every match
    of it contains is absent from the caption (a digit, '@', "http",
    "www.", "u/"); each gate is a necessary condition of its spec regex,
    so skipping changes no result."""
    spans: list[tuple[int, int, str]] = []
    taken = bytearray(len(text))

    def scan(pat):
        return map(re.Match.span, pat.finditer(text))

    has_digit = _DIGIT_RE.search(text) is not None
    has_at = "@" in text
    for cls, found in (
        ("EMAIL", has_at and _email_spans(text)),
        ("URL_PERSONAL", ("http" in text or "www." in text) and scan(URL_RE)),
        ("ID_NUM", has_digit and scan(_ID_SCAN)),
        ("PHONE_NUM", has_digit and scan(_PHONE_SCAN)),
        ("STREET_ADDRESS", has_digit and scan(_ADDRESS_SCAN)),
        ("USERNAME", (has_at or "u/" in text) and scan(_USERNAME_SCAN)),
    ):
        for s, e in found or ():
            if taken.find(1, s, e) == -1:
                spans.append((s, e, cls))
                taken[s:e] = b"\x01" * (e - s)

    if text.isascii() and _UPPER_RE.search(text) is None:
        # gazetteer names require a capitalized word; outside ASCII
        # str.isupper() has capitals [A-Z] misses (U+212A KELVIN SIGN
        # lowercases to 'k'), so only ASCII text may skip the name scan
        spans.sort()
        return spans, taken

    if cols is None:
        cols = _tokenize(text)
    spans += _name_spans(*cols, taken, gazetteer)
    spans.sort()
    return spans, taken


def _name_spans(
    words: list[str], starts: list[int], ends: list[int], taken: bytearray, gazetteer: frozenset
) -> list[tuple[int, int, str]]:
    """Gazetteer names, claimed in ``taken``: a known given name
    (capitalized) optionally followed by further capitalized words
    (surnames) extends the span. An honorific immediately before is NOT
    part of the span (fixture: "Dr." is O). Only a capitalized token can
    open a name, so only those tokens are visited."""
    spans = []
    n = len(words)
    resume = 0  # tokens before this one belong to the previous name
    for i in compress(count(), map(str.isupper, map(itemgetter(0), words))):
        if (
            i < resume
            or words[i].lower() not in gazetteer
            or taken.find(1, starts[i], ends[i]) != -1
        ):
            continue
        j = i + 1
        while j < n:
            wj, sj, ej = words[j], starts[j], ends[j]
            if not (
                wj[:1].isupper()
                and wj.replace("-", "").isalpha()
                and wj.lower() not in HONORIFICS
                and taken.find(1, sj, ej) == -1
                and sj == ends[j - 1] + 1  # contiguous words
            ):
                break
            j += 1
        s, e = starts[i], ends[j - 1]
        spans.append((s, e, "NAME_STUDENT"))
        taken[s:e] = b"\x01" * (e - s)
        resume = j
    return spans


def _label_tokens(starts: list[int], ends: list[int], spans) -> list[str]:
    """BIO labels for the tokens (starts, ends): a token takes the class of
    the first span it overlaps. Spans are sorted and disjoint, so each
    span's tokens are one run found by bisection, less a first token the
    previous span already labeled."""
    labels = ["O"] * len(starts)
    labeled = 0  # tokens before this index carry an earlier span's label
    for s, e, cls in spans:
        i = max(bisect_right(ends, s), labeled)
        k = bisect_left(starts, e, i)
        if i < k:
            inner = "B-" + cls if cls in _NO_I else "I-" + cls
            labels[i:k] = ["B-" + cls] + [inner] * (k - i - 1)
            labeled = k
    return labels


def _splice(text: str, spans) -> str:
    if not spans:
        return text
    parts: list[str] = []
    pos = 0
    for s, e, cls in spans:
        parts.append(text[pos:s])
        parts.append("[" + cls + "]")
        pos = e
    parts.append(text[pos:])
    return "".join(parts)


def tag(
    text: str, gazetteer: frozenset = FIRST_NAMES
) -> tuple[list[str], list[str]]:
    """Word tokens + aligned BIO labels for ``text``.

    First token overlapping a span gets ``B-<class>``, subsequent ones
    ``I-<class>`` (classes without an I- form in the 13-label vocabulary —
    EMAIL, USERNAME — repeat ``B-``, though spans for those are single-token
    by construction).
    """
    words, starts, ends = cols = _tokenize(text)
    spans, _ = _pii_spans(text, cols, gazetteer)
    return words, _label_tokens(starts, ends, spans)


def _toxic_word_absent(text: str) -> bool:
    """No toxic word is a substring of ``text.lower()``. For ASCII text this
    is exactly "TOXIC_RE cannot match": re.IGNORECASE on ASCII characters
    is lowercase comparison. Outside ASCII it is not, because IGNORECASE
    applies full case folding (U+017F 'ſ' matches 's') that str.lower()
    does not reproduce, so callers test only ASCII text with it."""
    lower = text.lower()
    return not any(map(lower.__contains__, TOXIC_WORDS))


def find_toxic_spans(text: str, taken: bytearray) -> list[tuple[int, int, str]]:
    """Toxicity gazetteer spans (class TOXIC), skipping anything already
    claimed by a PII span (``taken``: the claim map of _pii_spans). Not
    part of the 13-label BIO vocabulary — toxic words stay labeled O;
    scrubbing masks them with [TOXIC].

    TOXIC_RE opens with ``\\b`` and is case-insensitive, so no scan form
    can skip ahead in C; on ASCII text it runs only when some toxic word
    is a substring of the lowercased text, a gate that is exact there
    (_toxic_word_absent). Non-ASCII text always runs it."""
    if text.isascii() and _toxic_word_absent(text):
        return []
    return [
        (m.start(), m.end(), "TOXIC")
        for m in TOXIC_RE.finditer(text)
        if taken.find(1, m.start(), m.end()) == -1
    ]


# any char that lets a rule fire: trailing punct to peel, digits/@ for the
# PII regexes (\d — Unicode-aware, matching exactly what PHONE/ID/ADDRESS
# can match), uppercase for the gazetteer
_TRIGGER_RE = re.compile(r"[.,!?;:@A-Z]|\d")


def _is_plain(text: str) -> bool:
    """True when NO tagger rule can fire: no trailing punctuation to peel,
    no character any PII regex requires (digits, '@', uppercase for
    gazetteer names), no url/handle substring, no toxic match. Each
    check is a strict necessary condition of the rule it gates, so the
    fast path is bit-identical to the full path (property-tested).

    The toxic check is _toxic_word_absent, exact only for ASCII text
    (regression-tested on 'ſtupid'). Running TOXIC_RE here instead is exact
    everywhere but ~3x the whole gate's cost (11.5µs vs 4µs measured — the
    gate IS the hot path for plain captions), so non-ASCII text falls
    through to the full path (exotic case folding only exists outside
    ASCII; such rows are rare in a caption corpus)."""
    if _TRIGGER_RE.search(text) is not None:
        return False
    if "http" in text or "www." in text or "u/" in text:
        return False
    return text.isascii() and _toxic_word_absent(text)


def tag_and_scrub(
    text: str, gazetteer: frozenset = FIRST_NAMES, mask_toxic: bool = True
) -> tuple[list[str], list[str], str, int, int]:
    """Fused tag + scrub: tokenization and span search run ONCE (the Arrow
    UDF hot path). Returns (tokens, labels, scrubbed, n_pii, n_toxic);
    tokens/labels/PII-scrub identical to calling tag() and scrub(), with
    toxicity masking applied on top of the PII splice unless
    ``mask_toxic`` is False (then scrubbed, n_pii == scrub(text) and
    n_toxic is 0)."""
    if _is_plain(text):
        # str.split() == \S+ finditer when nothing needs peeling; no rule
        # can produce a span, so labels are all O and text is untouched
        toks_fast = text.split()
        return toks_fast, ["O"] * len(toks_fast), text, 0, 0
    words, starts, ends = cols = _tokenize(text)
    spans, taken = _pii_spans(text, cols, gazetteer)
    toxic = find_toxic_spans(text, taken) if mask_toxic else []
    return (
        words,
        _label_tokens(starts, ends, spans),
        _splice(text, sorted(spans + toxic) if toxic else spans),
        len(spans),
        len(toxic),
    )


def scrub(text: str, gazetteer: frozenset = FIRST_NAMES) -> tuple[str, int]:
    """Replace every PII span with ``[<CLASS>]``; returns (scrubbed, n_spans).

    Splices on the original string, so PII-free text is returned
    byte-identical (caption-preservation invariant for kept rows).
    """
    spans = find_pii_spans(text, gazetteer=gazetteer)
    return _splice(text, spans), len(spans)

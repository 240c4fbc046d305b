"""Golden tests for the regex+gazetteer tagger against the reference's own
fixture sentences (app/services/ml_service/constants.py:29-35) — the
F1>=0.99 keep/drop+scrub target is anchored on exact agreement here."""

import pytest

from pii_detection_service_spark.functions import quality, tagger


def test_word_tokenize_matches_reference_fixture_1():
    text = "Alice Johnson called from 212-555-1234. Her email is alice.j@example.com."
    toks = [t[0] for t in tagger.word_tokenize(text)]
    assert toks == [
        "Alice", "Johnson", "called", "from", "212-555-1234", ".",
        "Her", "email", "is", "alice.j@example.com", ".",
    ]


def test_word_tokenize_matches_reference_fixture_2():
    text = "Dr. Robert Smith will see you now. His office number at 456 Elm St is 415-555-9876."
    toks = [t[0] for t in tagger.word_tokenize(text)]
    assert toks == [
        "Dr.", "Robert", "Smith", "will", "see", "you", "now", ".",
        "His", "office", "number", "at", "456", "Elm", "St", "is",
        "415-555-9876", ".",
    ]


def test_tag_matches_reference_labels_1():
    text = "Alice Johnson called from 212-555-1234. Her email is alice.j@example.com."
    _, labels = tagger.tag(text)
    assert labels == [
        "B-NAME_STUDENT", "I-NAME_STUDENT", "O", "O", "B-PHONE_NUM", "O",
        "O", "O", "O", "B-EMAIL", "O",
    ]


def test_tag_matches_reference_labels_2():
    text = "Dr. Robert Smith will see you now. His office number at 456 Elm St is 415-555-9876."
    _, labels = tagger.tag(text)
    assert labels == [
        "O", "B-NAME_STUDENT", "I-NAME_STUDENT", "O", "O", "O", "O", "O",
        "O", "O", "O", "O", "B-STREET_ADDRESS", "I-STREET_ADDRESS",
        "I-STREET_ADDRESS", "O", "B-PHONE_NUM", "O",
    ]


def test_tag_notebook_style_pii():
    # inference_deberta.ipynb cell-1 sample: parenthesized phone + SSN id
    text = "Call (555) 123-4567 or SSN 123-45-6789 at http://my.site/u"
    toks, labels = tagger.tag(text)
    by_tok = dict(zip(toks, labels))
    assert by_tok["(555)"] == "B-PHONE_NUM"
    assert by_tok["123-4567"] == "I-PHONE_NUM"
    assert by_tok["123-45-6789"] == "B-ID_NUM"
    assert by_tok["http://my.site/u"] == "B-URL_PERSONAL"


def test_tag_username():
    toks, labels = tagger.tag("ping @alice_w on the forum")
    assert labels[1] == "B-USERNAME"


def test_scrub_replaces_spans_and_preserves_clean_text():
    text = "Alice Johnson called from 212-555-1234."
    scrubbed, n = tagger.scrub(text)
    assert scrubbed == "[NAME_STUDENT] called from [PHONE_NUM]."
    assert n == 2
    clean = "a plain caption with no private data at all"
    assert tagger.scrub(clean) == (clean, 0)  # byte-identical


def test_labels_stay_in_vocabulary():
    from pii_detection_service_spark.functions.textref import LABELS

    vocab = set(LABELS)
    samples = [
        "Alice Johnson called from 212-555-1234. Her email is alice.j@example.com.",
        "Dr. Robert Smith will see you now. His office number at 456 Elm St is 415-555-9876.",
        "Call (555) 123-4567 or SSN 123-45-6789 at http://my.site/u now",
        "ping @alice_w and visit www.example.org today",
    ]
    for s in samples:
        toks, labels = tagger.tag(s)
        assert len(toks) == len(labels)
        assert set(labels) <= vocab


def test_langid_stopword():
    assert quality.langid_stopword("the cat and the dog is here") == "en"
    assert quality.langid_stopword("el perro de la casa con los gatos") == "es"
    assert quality.langid_stopword("xyz qqq zzz") == "und"


def test_langid_char_ngram_separates_seed_languages():
    assert quality.langid_char_ngram("the quick brown fox jumps over the dog") == "en"
    assert quality.langid_char_ngram("el zorro marron salta sobre el perro") == "es"
    assert quality.langid_char_ngram("12345 !!!") == "und"


def test_perplexity_ordering():
    # fluent English scores lower than keyboard mash; deterministic
    fluent = quality.perplexity("a photo of a person in the room")
    mash = quality.perplexity("zxqj wqxz jjqx qzjx")
    assert fluent < mash
    assert quality.perplexity("") == 1e9


def test_keep_decision_rules_in_order():
    ok = "a nice photo of the person with the table"
    ppl = quality.perplexity(ok)
    assert quality.keep_decision(ok, "en", ppl) == (True, "")
    assert quality.keep_decision("short", "en", 1.0) == (False, "too_short")
    assert quality.keep_decision("x" * 3000, "en", 1.0) == (False, "too_long")
    assert quality.keep_decision("hello there_world", "en", 1.0)[1] == "too_few_words"
    assert quality.keep_decision("$$$ !!! ### %%% @@@", "en", 1.0)[1] == "symbol_heavy"
    assert quality.keep_decision("spam spam spam spam", "en", 1.0)[1] == "repetitive"
    assert quality.keep_decision(ok, "xx", 1.0)[1] == "bad_lang"
    assert quality.keep_decision(ok, "en", 1e6)[1] == "high_ppl"


def test_word_entropy():
    assert quality.word_entropy("a a a a") == 0.0
    import math
    assert abs(quality.word_entropy("a b") - math.log(2)) < 1e-12


def test_toxicity_masked_not_dropped():
    text = "a photo of the dog, what a stupid damn scene honestly"
    toks, labels, scrubbed, n_pii, n_toxic = tagger.tag_and_scrub(text)
    assert n_pii == 0 and n_toxic == 2
    assert scrubbed == "a photo of the dog, what a [TOXIC] [TOXIC] scene honestly"
    assert set(labels) == {"O"}  # toxicity is not a BIO PII class
    # PII takes precedence over an overlapping toxic word
    both = "email crap.damn@example.com now damn it"
    _, _, s2, p2, t2 = tagger.tag_and_scrub(both)
    assert p2 == 1 and t2 == 1
    assert s2 == "email [EMAIL] now [TOXIC] it"


def test_casefold_homoglyph_toxic_still_scrubbed():
    """U+017F 'ſ' matches 's' under re.IGNORECASE full case folding, but not
    under str.lower() — the fast-path gate must not skip scrubbing for it
    (ADVICE r1: lower()-substring gate let 'ſtupid' through unscrubbed)."""
    text = "ſtupid thing here"
    _, _, scrubbed, n_pii, n_toxic = tagger.tag_and_scrub(text)
    assert n_toxic == 1
    assert scrubbed == "[TOXIC] thing here"
    # the fast-path predicate itself must classify it as not-plain
    assert not tagger._is_plain(text)


def test_non_ascii_capital_name_tagged_without_ascii_capital():
    """U+212A KELVIN SIGN is uppercase and lowercases to 'k', so "Kenji"
    spelled with it is a gazetteer name whether or not the caption holds an
    ASCII capital: an [A-Z] gate alone must not skip the name scan."""
    for lead in ("met", "Met"):
        text = lead + " \u212aenji today"
        _, labels, scrubbed, n_pii, n_toxic = tagger.tag_and_scrub(text)
        assert labels == ["O", "B-NAME_STUDENT", "O"]
        assert (scrubbed, n_pii, n_toxic) == (lead + " [NAME_STUDENT] today", 1, 0)


@pytest.mark.parametrize(
    "unit, reps",
    [
        # EMAIL_RE.finditer retries the local part from every start position
        ("a.", 5_000),
        # span-dense captions: checking each candidate against every span
        # already claimed (and each toxic match against every PII span)
        # is quadratic in span count
        ("12345678 ", 500),
        ("@abc ", 1_000),
        ("415-555-9876 ", 400),
        ("http://a.co/x ", 400),
        ("damn 12345678 ", 400),
        ("12 Main St ", 400),
        ("u/abc ", 1_000),
    ],
    ids=["email", "id", "handle", "phone", "url", "toxic_beside_id", "address", "reddit_handle"],
)
def test_tag_time_grows_linearly(unit, reps):
    """A hostile span-dense caption must not stall a task: tagging 10x the
    input costs ~10x the time, not ~100x. The trailing '@' ends the
    hostile email run (and opens the '@'-gated classes for the others)."""
    import time

    def best(text):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            tagger.tag_and_scrub(text + "@")
            times.append(time.perf_counter() - t0)
        return min(times)

    small, large = best(unit * reps), best(unit * (10 * reps))
    assert large / small < 30, (small, large)

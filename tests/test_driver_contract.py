"""Driver-contract smoke: entry() runs, queries()/oracle_sql() consistent,
plus JSON ingest sources (S1/S2)."""

import json
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod

from pii_detection_service_spark.sources import json_ingest


def test_queries_and_oracles_consistent():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25
    # UDF-backed entries are the only ones without an oracle
    no_oracle = set(qs) - set(oracles)
    assert no_oracle == {
        "pipeline_score_documents",
        "pipeline_predict_documents",
        "multimodal_decode_stats",
        "multimodal_decode_stats_mixed",
        "multimodal_features",
        "multimodal_audio_stats",
        "multimodal_resize",
        "multimodal_video_frames",
        "multimodal_gif_frames",
        "multimodal_webp_frames",
        "sim_topk_cosine_fast",
    }


def test_driver_window_is_all_exact_oracled():
    """The driver checks the first 50 registered queries; every one of
    those slots must carry an exact DuckDB oracle, so rows-only entries
    stay after slot 50."""
    oracles = entry_mod.oracle_sql()
    window = list(entry_mod.queries())[:50]
    assert len(window) == 50
    assert [n for n in window if oracles.get(n) is None] == []


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert {"keep", "scrubbed_caption", "lang"} <= set(df.columns)


def test_envelope_ingest(spark, tmp_path):
    p = tmp_path / "env.json"
    p.write_text(json.dumps({"sample_pii_data": [{"full_text": "hi \\n there"}]}))
    df = json_ingest.read_envelope(spark, str(p), "sample_pii_data")
    assert df.collect()[0]["full_text"] == "hi \\n there"


def test_pii_dataset_ingest(spark, tmp_path):
    docs = [
        {
            "document": 1,
            "full_text": "a b",
            "tokens": ["a", "b"],
            "trailing_whitespace": [True, False],
            "labels": ["O", "O"],
        }
    ]
    p = tmp_path / "train.json"
    p.write_text(json.dumps(docs))
    train = json_ingest.read_pii_dataset(spark, str(p), is_train=True)
    r = train.collect()[0]
    assert r["tokens"] == ["a", "b"] and r["labels"] == ["O", "O"]
    test = json_ingest.read_pii_dataset(spark, str(p), is_train=False)
    assert "labels" not in test.columns


def test_gopher_repetition_edge_cases_and_ground_truth(spark):
    """Gopher repetition fractions on planted docs: empty/short docs score
    0, pathological repeats clip at 1.0, and a normal doc matches an
    independent pure-Python recompute of count·len/chars with the
    (count desc, gram asc) tie-break."""
    import collections

    import pyspark.sql.functions as F

    from pii_detection_service_spark.operators import textstats

    docs = [
        (0, ""),
        (1, "one"),
        (2, "a b"),
        (3, "spam spam spam spam spam"),
        (4, "the cat sat on the cat mat and the cat ran"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    # route the builder through a temp dir shape: call internals directly
    for n in (2, 3):
        d = d.withColumn(f"gs{n}", F.expr(textstats._gram_expr(n)))
    got = {
        r["doc_id"]: (r["t2"], r["t3"])
        for r in d.select(
            "doc_id",
            textstats._top_ngram_frac("gs2").alias("t2"),
            textstats._top_ngram_frac("gs3").alias("t3"),
        ).collect()
    }
    assert got[0] == (0.0, 0.0) and got[1] == (0.0, 0.0)
    assert got[2] == (1.0, 0.0)      # 'a b' covers every char
    assert got[3] == (1.0, 1.0)      # overlapping repeats clip at 1.0

    def ref(text, n):
        ws = text.split(" ")
        grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
        if not grams:
            return 0.0
        c = collections.Counter(grams)
        mx = max(c.values())
        g = min(k for k, v in c.items() if v == mx)
        return min(1.0, mx * len(g) / len(text))

    assert got[4] == (ref(docs[4][1], 2), ref(docs[4][1], 3))


def test_gopher_full_rules_golden(spark, tmp_path):
    """Full Gopher A1.1 rules (Rae et al. 2021): planted docs each trip one
    specific rule, a clean ≥50-word doc passes all, and every metric
    matches an independent pure-Python recompute over the SAME derived
    multi-line text the query builds (bullets via ' table ', ellipses via
    ' slow ', '#' via ' hash ')."""
    import re

    from pii_detection_service_spark.operators import textstats as ts

    good = ("the quick brown fox jumps over the lazy dog near river stone "
            "while birds sing songs about warm summer days under blue sky "
            "and children play games with small round balls on green grass "
            "before dinner time when family gathers around wooden benches "
            "sharing stories that make everyone laugh with joy tonight")
    assert len(good.split()) >= 50
    docs = [
        (0, good),                                        # passes all rules
        (1, "the cat and the dog"),                       # too few words
        (2, " ".join(["the", "and"] + ["supercalifragilistic"] * 60)),  # mean len > 10
        (3, good + " " + " ".join(["hash"] * 40)),        # symbol ratio > 0.1
        (4, "start " + " table x slow y" * 40 + " the cat and the end"),  # bullet lines
        (5, " ".join(["cat", "dog", "fox", "owl"] * 15)), # < 2 stop words
        (6, " ".join(["the", "and"] + ["123"] * 60)),     # alpha frac < 0.8
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    d.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r.asDict()
        for r in ts.gopher_quality(spark, str(tmp_path)).collect()
    }

    def ref(text):
        t = (
            text.replace(" table ", "\n- table ")
            .replace(" slow ", "...\nslow ")
            .replace(" hash ", " # ")
        )
        ls = t.split("\n")
        ws = re.split("[ \n]", t)
        n_w, n_l = len(ws), len(ls)
        mean_wlen = sum(len(w) for w in ws) / n_w
        sym = (t.count("#") + t.count("...")) / n_w
        bullets = sum(l.startswith(("- ", "• ", "* ")) for l in ls) / n_l
        ell = sum(l.endswith(("...", "…")) for l in ls) / n_l
        alpha = sum(bool(re.search("[A-Za-z]", w)) for w in ws) / n_w
        stops = sum(w in ts.GOPHER_STOPWORDS for w in ws)
        keep = (
            ts.GOPHER_MIN_WORDS <= n_w <= ts.GOPHER_MAX_WORDS
            and ts.GOPHER_MIN_MEAN_WORD_LEN <= mean_wlen <= ts.GOPHER_MAX_MEAN_WORD_LEN
            and sym <= ts.GOPHER_MAX_SYMBOL_WORD_RATIO
            and bullets <= ts.GOPHER_MAX_BULLET_LINE_FRAC
            and ell <= ts.GOPHER_MAX_ELLIPSIS_LINE_FRAC
            and alpha >= ts.GOPHER_MIN_ALPHA_WORD_FRAC
            and stops >= ts.GOPHER_MIN_STOPWORDS
        )
        return (n_w, mean_wlen, sym, bullets, ell, alpha, stops, keep)

    for doc_id, text in docs:
        g = got[doc_id]
        assert (
            g["n_words"], g["mean_word_len"], g["sym_word_ratio"],
            g["bullet_line_frac"], g["ellipsis_line_frac"],
            g["alpha_word_frac"], g["stop_hits"], g["keep_gopher"],
        ) == ref(text), f"doc {doc_id}"
    assert got[0]["keep_gopher"] is True
    for i in range(1, 7):
        assert got[i]["keep_gopher"] is False, f"doc {i} should drop"
    # note: str.count('...') counts non-overlapping occurrences left-to-
    # right, the same rule as the replace-length trick in both engines


def test_gopher_duplication_golden(spark, tmp_path):
    """Duplication rules on planted docs: a repeated 5-gram trips exactly
    the dup5..dup8 bands it covers, repeated ' table ' injections create
    duplicate '- table ...' lines, and every fraction matches an
    independent pure-Python recompute (count*len over duplicated grams /
    chars, clipped at 1)."""
    import collections

    from pii_detection_service_spark.operators import textstats as ts

    rep = "alpha beta gamma delta epsilon"
    docs = [
        # clean doc long enough that a once-occurring top 4-gram covers
        # < 16% of its characters (the rule penalizes short docs by design)
        (0, " ".join(f"w{i}x{i * 7 % 13}" for i in range(40))),
        (1, f"{rep} x {rep} y {rep} z"),                 # repeated 5-gram
        (2, "a table b slow a table b slow a table b slow end"),  # dup lines
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    d.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r.asDict()
        for r in ts.gopher_duplication(spark, str(tmp_path)).collect()
    }

    def grams(ws, n):
        return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]

    def ref(text):
        ws = text.split(" ")
        out = {}
        c4 = collections.Counter(grams(ws, 4))
        if c4:
            mx = max(c4.values())
            g = min(k for k, v in c4.items() if v == mx)
            out["top4_frac"] = min(1.0, mx * len(g) / len(text))
        else:
            out["top4_frac"] = 0.0
        for n in ts.GOPHER_DUP_NGRAM_MAX:
            c = collections.Counter(grams(ws, n))
            s = sum(v * len(k) for k, v in c.items() if v >= 2)
            out[f"dup{n}_frac"] = min(1.0, s / len(text))
        t = (
            text.replace(" table ", "\n- table ")
            .replace(" slow ", "...\nslow ")
            .replace(" hash ", " # ")
        )
        ls = t.split("\n")
        lc = collections.Counter(ls)
        out["dup_line_frac"] = sum(v for v in lc.values() if v >= 2) / len(ls)
        out["dup_line_char_frac"] = min(
            1.0, sum(v * len(k) for k, v in lc.items() if v >= 2) / len(t)
        )
        keep = (
            out["top4_frac"] <= ts.GOPHER_TOP4_MAX
            and all(
                out[f"dup{n}_frac"] <= thr
                for n, thr in ts.GOPHER_DUP_NGRAM_MAX.items()
            )
            and out["dup_line_frac"] <= ts.GOPHER_DUP_LINE_MAX
            and out["dup_line_char_frac"] <= ts.GOPHER_DUP_LINE_CHAR_MAX
        )
        out["keep_dup"] = keep
        return out

    for doc_id, text in docs:
        want = ref(text)
        g = got[doc_id]
        for k, v in want.items():
            assert g[k] == v, (doc_id, k, g[k], v)
    assert got[0]["keep_dup"] is True
    assert got[1]["keep_dup"] is False and got[1]["dup5_frac"] > 0.15
    assert got[2]["keep_dup"] is False and got[2]["dup_line_frac"] > 0.3

"""Arrow-batched scoring UDFs — where Python touches caption data. (Other
operators run their own Arrow-batched ``mapInPandas`` kernels: codecs,
sketches, ANN scoring.)

The reference processes one document per HTTP request and reloads its model
per request (ml_service_app.py:59-60, predictor.py:70). Here everything is
batch-vectorized: Spark hands us Arrow record batches as pandas Series, the
kernels in ``functions/`` run per batch, and the scoring models travel as
one ``Models`` value: the builtins by default, or a production set that
``plans.stage.score`` broadcasts once per job — the Spark-idiomatic
replacement for the reference's model-cache-on-disk (predictor.py:30-35).
No module state is swapped per batch.

Zero per-row Python at the Spark level; per-element work inside a batch is
intrinsic to regex tagging (as it would be for fastText/KenLM C calls).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd

from .functions import quality, tagger, textref

SCORE_DDL = (
    "lang string, ppl double, keep boolean, drop_reason string, "
    "tokens array<string>, labels array<string>, n_pii int, n_toxic int, "
    "scrubbed_caption string"
)


class Models(NamedTuple):
    """The scoring models as one value; each field defaults to the builtin.

    - ``lm``: (_NC²,) natural-log char-bigram perplexity table
      (quality.load_arpa_char_bigram, lmtrain.train_char_bigram_lm);
    - ``langid``: (langs, (_NC², n_langs) table) profiles
      (lmtrain.train_langid_tables);
    - ``gazetteer``: lowercase given names (tagger.extend_gazetteer)."""

    lm: np.ndarray = quality._LM_TBL
    langid: tuple[list[str], np.ndarray] = (quality._LANGS, quality._LANG_TBL)
    gazetteer: frozenset = tagger.FIRST_NAMES


BUILTIN = Models()


def score_batch(captions: pd.Series, models: Models = BUILTIN) -> pd.DataFrame:
    """One fused scoring pass over a caption batch: langid + perplexity +
    keep/drop heuristics + BIO PII tagging + scrub (SURVEY.md §2.9 UDF
    batch 1+2 fused — one Arrow hop instead of two), under ``models``."""
    lm, langid, gaz = models
    caps = captions.fillna("")
    lp = caps.map(  # fused: one lower + one bigram encode
        lambda t: quality.lang_and_ppl(t, lm, langid)
    )
    langs = pd.Series([x[0] for x in lp], index=caps.index)
    ppls = pd.Series([x[1] for x in lp], index=caps.index)
    kd = [
        quality.keep_decision(c, l, p)
        for c, l, p in zip(caps, langs, ppls)
    ]
    # one tokenize+span pass per row
    tagged = caps.map(lambda t: tagger.tag_and_scrub(t, gaz))
    return pd.DataFrame(
        {
            "lang": langs,
            "ppl": ppls,
            "keep": [k for k, _ in kd],
            "drop_reason": [r for _, r in kd],
            "tokens": [t[0] for t in tagged],
            "labels": [t[1] for t in tagged],
            "n_pii": pd.Series([t[3] for t in tagged], dtype="int32"),
            "n_toxic": pd.Series([t[4] for t in tagged], dtype="int32"),
            "scrubbed_caption": [t[2] for t in tagged],
        },
        index=caps.index,
    )


def make_score_struct_udf(models_bc=None):
    """Scalar pandas_udf: caption in → struct of scored columns out. Only
    the caption column crosses the Arrow boundary; bytes/phash/etc. stay
    JVM-side. ``models_bc`` is an optional Broadcast of a ``Models``
    value; None scores with the builtins."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(f"struct<{SCORE_DDL}>")
    def score_struct(captions: pd.Series) -> pd.DataFrame:
        return score_batch(
            captions, BUILTIN if models_bc is None else models_bc.value
        )

    return score_struct


def predict_pipeline_batch(texts: pd.Series) -> pd.DataFrame:
    """The reference's /save-essay ML path (SURVEY.md §3.1), batched:
    A1 decode → A2 tokenize → A12 tag → scrub. Emits the document-table
    shape columns (tokens, labels) plus scrubbed text."""
    decoded = texts.fillna("").map(textref.decode_escapes)
    tagged = decoded.map(tagger.tag)
    scrubbed = decoded.map(tagger.scrub)
    return pd.DataFrame(
        {
            "full_text": decoded,
            "tokens": [t for t, _ in tagged],
            "labels": [l for _, l in tagged],
            "scrubbed_text": [s for s, _ in scrubbed],
            "n_pii": pd.Series([n for _, n in scrubbed], dtype="int32"),
        },
        index=texts.index,
    )

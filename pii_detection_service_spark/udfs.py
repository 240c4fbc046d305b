"""Arrow-batched scoring UDFs — where Python touches caption data. (Other
operators run their own Arrow-batched ``mapInPandas`` kernels: codecs,
sketches, ANN scoring.)

The reference processes one document per HTTP request and reloads its model
per request (ml_service_app.py:59-60, predictor.py:70). Here everything is
batch-vectorized: the scoring UDF is a scalar ``arrow_udf`` that gets each
Arrow record batch's caption column as a ``pa.Array`` and returns the
scored struct as a ``pa.StructArray`` built straight from the kernel's
columns, with no pandas object on either side. Langid and perplexity run
once per batch (quality.lang_and_ppl_batch); keep/drop and the tagger run
per row. The scoring models travel as one ``Models`` value: the builtins by
default, or a production set that ``plans.stage.score`` broadcasts once per
job — the Spark-idiomatic replacement for the reference's
model-cache-on-disk (predictor.py:30-35). No module state is swapped per
batch. ``score_batch`` is the same kernel over a pandas Series, for
driver-side checks.

Zero per-row Python at the Spark level; per-element work inside a batch is
intrinsic to regex tagging (as it would be for fastText/KenLM C calls).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import from_arrow_type

from .functions import quality, tagger, textref

# The scored struct: built as this Arrow type, declared to Spark as DDL.
SCORE_TYPE = pa.struct(
    [
        ("lang", pa.string()),
        ("ppl", pa.float64()),
        ("keep", pa.bool_()),
        ("drop_reason", pa.string()),
        ("tokens", pa.list_(pa.string())),
        ("labels", pa.list_(pa.string())),
        ("n_pii", pa.int32()),
        ("n_toxic", pa.int32()),
        ("scrubbed_caption", pa.string()),
    ]
)
SCORE_DDL = ", ".join(
    f"{f.name} {from_arrow_type(f.type).simpleString()}" for f in SCORE_TYPE
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


def _score_columns(caps: list[str], models: Models) -> dict:
    """One fused scoring pass over a caption batch: langid + perplexity
    (one batch kernel) + keep/drop heuristics + BIO PII tagging + scrub
    (SURVEY.md §2.9 UDF batch 1+2 fused — one Arrow hop instead of two),
    under ``models``; the columns of SCORE_TYPE as Python lists."""
    lm, langid, gaz = models
    langs, ppls = quality.lang_and_ppl_batch(caps, lm, langid)
    kd = list(map(quality.keep_decision, caps, langs, ppls))
    # one tokenize+span pass per row
    tagged = [tagger.tag_and_scrub(c, gaz) for c in caps]
    return {
        "lang": langs,
        "ppl": ppls,
        "keep": [k for k, _ in kd],
        "drop_reason": [r for _, r in kd],
        "tokens": [t[0] for t in tagged],
        "labels": [t[1] for t in tagged],
        "n_pii": [t[3] for t in tagged],
        "n_toxic": [t[4] for t in tagged],
        "scrubbed_caption": [t[2] for t in tagged],
    }


def score_arrow(captions: pa.Array, models: Models = BUILTIN) -> pa.StructArray:
    """The scoring UDF's kernel: a caption array (nulls score as "") in,
    the SCORE_TYPE struct array out, built straight from the columns."""
    caps = captions.fill_null("").to_pylist()
    cols = _score_columns(caps, models)
    return pa.StructArray.from_arrays(
        [pa.array(cols[f.name], f.type) for f in SCORE_TYPE], fields=list(SCORE_TYPE)
    )


def score_batch(captions: pd.Series, models: Models = BUILTIN) -> pd.DataFrame:
    """score_arrow's columns as a DataFrame over ``captions``' index:
    object columns (token and label lists as Python lists), float64 ppl,
    bool keep, int32 counts."""
    cols = _score_columns(captions.fillna("").tolist(), models)
    df = pd.DataFrame(cols, index=captions.index)
    return df.astype({"n_pii": "int32", "n_toxic": "int32"})


def make_score_struct_udf(models_bc=None):
    """Scalar arrow_udf: caption in → struct of scored columns out. Only
    the caption column crosses the Arrow boundary; bytes/phash/etc. stay
    JVM-side, and no pandas object is built on either side of the kernel.
    ``models_bc`` is an optional Broadcast of a ``Models`` value; None
    scores with the builtins."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(f"struct<{SCORE_DDL}>")
    def score_struct(captions: pa.Array) -> pa.Array:
        return score_arrow(
            captions, BUILTIN if models_bc is None else models_bc.value
        )

    return score_struct


def predict_pipeline_batch(texts: pd.Series) -> pd.DataFrame:
    """The reference's /save-essay ML path (SURVEY.md §3.1), batched:
    A1 decode → A2 tokenize → A12 tag → scrub, with one tokenize and one
    span search per row (tag_and_scrub, PII spans only). Emits the
    document-table shape columns (tokens, labels) plus scrubbed text."""
    decoded = texts.fillna("").map(textref.decode_escapes)
    tagged = [tagger.tag_and_scrub(t, mask_toxic=False) for t in decoded]
    return pd.DataFrame(
        {
            "full_text": decoded,
            "tokens": [t[0] for t in tagged],
            "labels": [t[1] for t in tagged],
            "scrubbed_text": [t[2] for t in tagged],
            "n_pii": pd.Series([t[3] for t in tagged], dtype="int32"),
        },
        index=texts.index,
    )

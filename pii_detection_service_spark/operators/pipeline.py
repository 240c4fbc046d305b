"""Pipeline operators over testdata (UDF-backed).

The langid/perplexity kernels ARE exact-oracled via pipeline_scores_quantized
(the bigram models inline into the DuckDB twin as VALUES); the full
score/predict queries stay rows-only because the regex tagger's span
semantics (peeling, overlap precedence, gazetteer windows) are not
reasonably SQL-expressible — their correctness is pinned by golden tests
against reference fixtures instead."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .. import udfs
from ..plans import stage
from .relational import table

def score_documents(spark, sf_dir, models: udfs.Models | None = None) -> DataFrame:
    """The flagship stage's scoring pass (stage.score) with documents.text
    as captions. ``models`` optionally swaps in production models (ARPA or
    trained LM, trained langid profiles, a large gazetteer)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("caption")
    )
    # Arrow scoring is CPU-bound: when the source provides fewer splits than
    # cores (single-row-group parquet here), the one-off repartition is far
    # cheaper than serializing the scoring on one task. At 100 TB the source
    # has thousands of splits and AQE handles layout — this guard only
    # triggers on small inputs. Split-count estimate = total scan bytes /
    # maxPartitionBytes from Catalyst's analysis-time statistics (no RDD
    # conversion, and unlike a raw file COUNT it is right in both
    # directions: many tiny files still coalesce below `par` splits, and
    # few huge files still produce plenty). maxPartitionBytes is read as the
    # JVM parsed it, so every size suffix Spark accepts means the same here.
    par = spark.sparkContext.defaultParallelism
    scan_bytes = int(d._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if scan_bytes < par * max_split:
        d = d.repartition(par)
    return stage.score(d, models).select(
        "doc_id",
        "lang",
        F.round("ppl", 4).alias("ppl"),
        "keep",
        "drop_reason",
        "n_pii",
        "n_toxic",
        "scrubbed_caption",
    )


def scores_oracle(spark, sf_dir) -> DataFrame:
    """Quantized-score projection of the PRODUCTION scoring kernel, built so
    the langid/perplexity UDFs get an exact DuckDB oracle instead of a
    rows-only check: the char-bigram models are small fixed tables, so the
    oracle SQL inlines them as VALUES and recomputes lang, ppl and the full
    keep/drop rule chain relationally. ppl is quantized to 4 decimals on
    both sides — the kernel sums logprobs with numpy pairwise summation,
    the SQL twin with a sequential fold, and rounding collapses the
    last-ulp difference (boundary straddle would need the two sums to
    differ across a 5e-5 decimal boundary — checked empirically at both
    SFs). Runs through score_documents, i.e. the real Arrow kernel path."""
    return score_documents(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.col("ppl").alias("ppl_q"),
        "keep",
        "drop_reason",
    )


def scores_oracle_arpa(spark, sf_dir) -> DataFrame:
    """The quantized-score projection with the perplexity model flowing
    through the FULL production artifact seam: builtin LM → ARPA text file
    (KenLM interchange format) → load_arpa_char_bigram → broadcast →
    Arrow-batched scoring. Shares pipeline_scores_quantized's exact DuckDB
    oracle: the ARPA round-trip reproduces the builtin table to ≤1e-12 in
    the log domain (shortest-repr log10 text), and the 4-decimal ppl
    quantization absorbs that ulp noise exactly as it absorbs the
    numpy-pairwise vs SQL-sequential summation difference (boundary
    straddle re-checked empirically at both SFs with the loaded table).
    What this pins beyond pipeline_scores_quantized: the export → parse →
    backoff-expansion → broadcast → per-task resolution path is
    value-preserving end-to-end under the driver's hash compare."""
    import os
    import tempfile

    from ..functions import quality

    path = os.path.join(tempfile.gettempdir(), "pii_spark_builtin_lm.arpa")
    if not os.path.exists(path):
        quality.export_builtin_lm_arpa(path)
    models = udfs.Models(lm=quality.load_arpa_char_bigram(path))
    return score_documents(spark, sf_dir, models).select(
        "doc_id",
        "lang",
        F.col("ppl").alias("ppl_q"),
        "keep",
        "drop_reason",
    )


def scores_oracle_trained_langid(spark, sf_dir) -> DataFrame:
    """The quantized-score projection with the LANGID model flowing through
    the full trained seam: per-language bigram tables estimated from the
    corpus's labeled slice (lmtrain.train_langid_tables), quantized to 6
    decimals (so the DuckDB twin — which re-trains the same tables IN SQL —
    sums identical IEEE doubles), passed as Models.langid, and scored
    through the production Arrow kernel. Beyond langid_train_bigram_counts
    (which pins the trained TABLE), this pins the argmax/`und`-rule/keep-
    chain behavior of the trained model end to end under the driver's hash
    compare; the perplexity side stays the builtin (already exact-oracled),
    so a mismatch isolates to the langid swap."""
    import numpy as np

    from . import lmtrain
    from .relational import table

    d = table(spark, sf_dir, "documents")
    langs, tbl = lmtrain.train_langid_tables(d)
    models = udfs.Models(langid=(langs, np.round(tbl, 6)))
    return score_documents(spark, sf_dir, models).select(
        "doc_id",
        "lang",
        F.col("ppl").alias("ppl_q"),
        "keep",
        "drop_reason",
    )


def predict_documents(spark, sf_dir) -> DataFrame:
    """The reference's /save-essay predict path (SURVEY §3.1), batched:
    decode → tokenize/tag → scrub, over documents.text."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def fn(batches):
        for pdf in batches:
            out = udfs.predict_pipeline_batch(pdf["text"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out[["doc_id", "tokens", "labels", "scrubbed_text", "n_pii"]]

    res = d.mapInPandas(
        fn,
        schema="doc_id long, tokens array<string>, labels array<string>, "
        "scrubbed_text string, n_pii int",
    )
    return res.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.concat_ws(" ", "labels").alias("labels_joined"),
        "scrubbed_text",
        "n_pii",
    )

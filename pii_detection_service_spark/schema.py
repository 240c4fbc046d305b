"""Declared StructTypes (the reference declares all schemas too —
app/infra/database_manager.py:11-29; no inference anywhere)."""

from __future__ import annotations

import pyspark.sql.types as T

# BASELINE.json input_hint — the primary pipeline input.
INPUT_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

# Per-partition lineage rows (north rule: resumable with lineage + metrics;
# plays the role the reference's `model` table plays — database_manager.py:22-29).
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("n_kept", T.LongType(), True),
        T.StructField("n_pii_rows", T.LongType(), True),
        T.StructField("runtime_sec", T.DoubleType(), True),
        T.StructField("status", T.StringType(), True),
    ]
)

# Per-run metrics rows: one per (lang, keep, drop_reason) of the buckets a
# run processed, stamped with the driver's commit time (a UTC instant, read
# back as ``timestamp``).
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("lang", T.StringType(), True),
        T.StructField("keep", T.BooleanType(), True),
        T.StructField("drop_reason", T.StringType(), True),
        T.StructField("count", T.LongType(), False),
        T.StructField("run_ts", T.TimestampType(), False),
    ]
)

"""The flagship distributed stage (north rule).

read → one fused Arrow scoring pass → phash-bucket partitioning (salted for
the dominant-language skew) → partitioned write + per-bucket lineage +
metrics → resume by filtering out the buckets completed lineage records.

Scale design notes (the part that must survive 1000 executors / 100 TB):
- The scoring pass is MAP-ONLY: no shuffle between scan and scored rows.
  The only shuffle in the whole job is the single explicit rebalance that
  lays rows out by (bucket, salt) before the write — and that one exists *on
  purpose* (the north rule's explicit phash-bucket layout). AQE sizes it:
  it coalesces small (bucket, salt) partitions into few reducers and splits
  a partition that is still too large, so no reducer count is fixed here.
- Salting: phash buckets can be skewed (near-duplicate clusters share a
  phash; the dominant-language cluster concentrates rows). The shuffle key is
  (bucket, salt) with salt = pmod(xxhash64(image_id), SALT_FACTOR), so one hot
  bucket hashes to SALT_FACTOR keys while file layout stays
  bucket-partitioned.
- Resume: lineage rows are written per bucket after the data commit.
  On restart, the done bucket ids are collected (lineage is tiny) and
  pruned with a plain ``NOT IN`` scan filter — no join — and the data
  write uses dynamic partition overwrite so a bucket that died mid-write is
  rewritten idempotently, never duplicated.
- Sink is partitioned Parquet here; on a real cluster the same plan targets
  an Iceberg table (writeTo(...).overwritePartitions()) — semantics match
  (idempotent per-partition replace), this sandbox has no Iceberg runtime.
- Lineage and run metrics come from ONE collected aggregate over a
  column-pruned scan (bucket/lang/keep/drop_reason/n_pii) of the
  just-written output, so they equal what was written even when tasks
  retry, and the scoring UDF never runs twice. The driver folds it into
  per-bucket lineage rows and per-(lang, keep, drop_reason) metrics rows and
  writes each as one small Parquet file through the out_dir's Hadoop
  FileSystem (temporary hidden name, then rename): no Spark write job.

The reference analog: its whole /save-essay HTTP pipeline
(backend_service_app.py:139-196 → ml_service_app.py:40-104) is this one lazy
chain; its `model` lineage table (database_manager.py:22-29) is our lineage
parquet.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from .. import udfs
from ..schema import LINEAGE_SCHEMA, METRICS_SCHEMA

DEFAULT_BUCKETS = 64
SALT_FACTOR = 8


def score(df: DataFrame, models: udfs.Models | None = None) -> DataFrame:
    """Map-only fused scoring pass (langid/ppl/keep/tag/scrub).

    Scalar arrow_udf, NOT mapInPandas: only the caption column is
    Arrow-serialized to the Python worker; image bytes and the other
    passthrough columns never leave the JVM. At 10^12 rows the bytes
    column is ~10-20x the caption volume, so this is the difference
    between shipping captions and shipping the whole table through
    Python. ``models`` (udfs.Models) swaps in production models (ARPA or
    corpus-trained LM, trained langid profiles, a large gazetteer) and is
    broadcast once here; None scores with the builtins and broadcasts
    nothing."""
    models_bc = (
        None if models is None else df.sparkSession.sparkContext.broadcast(models)
    )
    scored = df.withColumn(
        "_scored", udfs.make_score_struct_udf(models_bc)(F.col("caption"))
    )
    return scored.select(*df.columns, "_scored.*")


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """North rule: explicit partitioning on phash-derived buckets.

    Null-safe: a NULL phash falls back to hashing image_id. Without this,
    null rows land in the hive default partition AND the resume filter
    `NOT bucket IN (done)` evaluates to NULL for them — they would be
    silently dropped from every resumed run (tested)."""
    key = F.coalesce(F.col("phash"), F.xxhash64("image_id"))
    return df.withColumn("bucket", F.pmod(key, F.lit(n_buckets)).cast("int"))


def completed_buckets(spark: SparkSession, lineage_dir: str) -> DataFrame:
    """Buckets with a ``done`` lineage row under ``lineage_dir``. The probe
    for lineage files goes through the Hadoop FileSystem, so any URI Spark
    writes to (plain path, ``file://``, ``hdfs://``, ``s3a://``) is seen;
    it costs milliseconds on a fresh run, where ``spark.read.parquet`` of
    the missing directory would take ~70 ms to raise. With no lineage the
    result is an empty ``LocalTableScan``: collecting it launches no Spark
    job and no Python worker (``createDataFrame([])`` would go through the
    Python-parallelize path)."""
    pattern = spark._jvm.org.apache.hadoop.fs.Path(lineage_dir + "/*.parquet")
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.globStatus(pattern):
        return (
            spark.read.parquet(lineage_dir)
            .where(F.col("status") == "done")
            .select("bucket")
            .distinct()
        )
    return spark.sql("SELECT CAST(NULL AS INT) AS bucket WHERE false")


def run_stage(
    spark: SparkSession,
    src: DataFrame,
    out_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    salt_factor: int = SALT_FACTOR,
    resume: bool = True,
    models: udfs.Models | None = None,
) -> dict:
    """Run (or resume) the full stage. Returns run metrics. ``models``
    swaps the scoring models for production artifacts, as in
    pipeline.score_documents; the CLI builds it from --arpa-lm /
    --train-lm / --gazetteer / --langid-train-source."""
    data_dir = os.path.join(out_dir, "data")
    lineage_dir = os.path.join(out_dir, "lineage")
    metrics_dir = os.path.join(out_dir, "metrics")

    t0 = time.monotonic()
    df = with_bucket(src, n_buckets)

    # lineage is tiny (≤ n_buckets rows) → collect the done set and prune
    # with a plain NOT IN filter: no join at all, evaluated during the scan.
    # When the SOURCE table is itself partitioned by the bucket column
    # (Iceberg `PARTITIONED BY bucket`), this same predicate prunes at the
    # file level and a resumed run reads only pending buckets' data.
    done_ids: list[int] = (
        [r["bucket"] for r in completed_buckets(spark, lineage_dir).collect()]
        if resume
        else []
    )
    if done_ids:
        df = df.where(~F.col("bucket").isin(done_ids))

    scored = score(df, models)

    # THE one shuffle: explicit (bucket, salt) layout. Salt spreads hot
    # buckets (duplicate phash clusters / dominant language) over
    # salt_factor hash keys; files stay partitioned by bucket only. The
    # rebalance lets AQE pick the reducer count from the shuffle's size and
    # split a partition that is still skewed.
    salted = scored.withColumn(
        "salt", F.pmod(F.xxhash64("image_id"), F.lit(salt_factor)).cast("int")
    )
    out = salted.hint("rebalance", "bucket", "salt").drop("salt")

    # Overwrite mode: dynamic (per-partition replace) ONLY when resuming —
    # a fresh run writes every bucket, so a static full overwrite is
    # semantically identical and ~5x faster (dynamic stages files and moves
    # them per partition; measured 47s vs 9.7s at 200k rows). On resume,
    # static would delete completed buckets' data — dynamic is required.
    # Passed as a per-write option (NOT spark.conf.set) so the session-global
    # partitionOverwriteMode is never mutated — other writes in the same
    # SparkSession keep whatever mode the user configured.
    #
    # The data sink is dominated by the bytes column, which is already
    # entropy-coded (PNG/JPEG): recompressing with snappy costs ~2x the
    # whole stage wall time for ~0% size win (measured 94s→45s at 1M rows).
    out.write.option(
        "partitionOverwriteMode", "dynamic" if done_ids else "static"
    ).option("compression", "uncompressed").mode("overwrite").partitionBy(
        "bucket"
    ).parquet(data_dir)

    # Lineage and metrics from ONE collected aggregate over the written
    # output: a column-pruned scan (partition column from the directory
    # layout, so the bucket filter prunes at file level), scoped to buckets
    # processed THIS run so resumed runs never duplicate lineage. The read
    # schema is the written one, so no footer-reading job infers it. The
    # result is tiny (buckets x langs x drop reasons); the driver folds it.
    keys = ["bucket", "lang", "keep", "drop_reason"]
    written = spark.read.schema(out.schema).parquet(data_dir)
    if done_ids:
        written = written.where(~F.col("bucket").isin(done_ids))
    runtime = time.monotonic() - t0
    groups = (
        written.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.count_if(F.col("n_pii") > 0).alias("n_pii_rows"),
        )
        .collect()
    )
    per_bucket: dict[int, list[int]] = {}
    per_reason: dict[tuple, int] = {}
    for g in groups:
        b = per_bucket.setdefault(g["bucket"], [0, 0, 0])
        b[0] += g["count"]
        b[1] += g["count"] if g["keep"] else 0
        b[2] += g["n_pii_rows"]
        k = (g["lang"], g["keep"], g["drop_reason"])
        per_reason[k] = per_reason.get(k, 0) + g["count"]
    lineage_rows = [
        {"bucket": b, "n_rows": n, "n_kept": kept, "n_pii_rows": pii,
         "runtime_sec": float(runtime), "status": "done"}
        for b, (n, kept, pii) in sorted(per_bucket.items())
    ]
    # no pending bucket (a no-op resume) → nothing to commit
    if lineage_rows:
        _put_parquet(spark, lineage_rows, LINEAGE_SCHEMA, lineage_dir)
        run_ts = datetime.now(timezone.utc)
        _put_parquet(
            spark,
            [{"lang": lang, "keep": keep, "drop_reason": reason, "count": n,
              "run_ts": run_ts}
             for (lang, keep, reason), n in per_reason.items()],
            METRICS_SCHEMA,
            metrics_dir,
        )

    return {
        "rows": sum(r["n_rows"] for r in lineage_rows),
        "kept": sum(r["n_kept"] for r in lineage_rows),
        "pii_rows": sum(r["n_pii_rows"] for r in lineage_rows),
        "runtime_sec": runtime,
        "resumed_noop": not lineage_rows,
    }


def _put_parquet(
    spark: SparkSession, rows: list[dict], schema: T.StructType, dir_uri: str
) -> None:
    """Append ``rows`` under ``dir_uri`` as one Parquet file, without a
    Spark job: pyarrow encodes it on the driver and the bytes go through
    the directory's Hadoop FileSystem, so any URI Spark writes to works.
    The file is written under a hidden ``.<name>.tmp`` name and renamed to
    ``part-<uuid>.parquet`` once closed. Spark and pyarrow readers skip
    hidden files and the resume probe globs ``*.parquet``, so a crash
    before the rename leaves nothing a reader sees."""
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)), buf)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = Path(dir_uri, f".{name}.tmp")
    fs = tmp.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.create(tmp, False)
    try:
        stream.write(buf.getvalue().to_pybytes())
    finally:
        stream.close()
    if not fs.rename(tmp, Path(dir_uri, name)):
        raise OSError(f"could not rename {tmp} to {name} under {dir_uri}")

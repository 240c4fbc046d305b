"""Iceberg sink — the production path the north rule names.

This sandbox has no Iceberg runtime on the classpath, so the flagship
stage (`plans/stage.py`) targets a partitioned-parquet layout whose
semantics are the exact twin of the Iceberg calls below:

| Iceberg (production)                        | parquet twin (here) |
|---|---|
| `CREATE TABLE ... PARTITIONED BY (bucket)`  | `partitionBy("bucket")` directory layout |
| `writeTo(t).overwritePartitions()`          | dynamic partition-overwrite (resume path) |
| full `writeTo(t).createOrReplace()`         | static overwrite (fresh-run path) |
| `MERGE INTO ... ON t.image_id = s.image_id` | `operators/merge.merge_update` left join (AQE: broadcast or sort-merge) |
| snapshot metadata / time travel             | per-bucket lineage rows (`_lineage` table) |
| `expire_snapshots` maintenance              | lineage append retention (S5 analog) |

Everything here fails fast with a clear message when the runtime is
missing, and composes the real DataFrameWriterV2 calls when it is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime jar is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.catalog.Catalog"
        )
        return True
    except Exception:
        return False


def write_stage_iceberg(
    spark: SparkSession,
    scored: DataFrame,
    table: str,
    fresh: bool,
) -> None:
    """Commit the scored stage output to an Iceberg table.

    fresh=True → `createOrReplace()` (full replace, the static-overwrite
    twin); fresh=False → `overwritePartitions()` (idempotent per-partition
    replace for resumed runs — a bucket that died mid-write is rewritten,
    never duplicated, exactly the dynamic-overwrite semantics the parquet
    stage uses)."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on the classpath. Run with "
            "--packages org.apache.iceberg:iceberg-spark-runtime-4.0 and a "
            "configured catalog, or use plans.stage.run_stage (the "
            "partitioned-parquet semantic twin)."
        )
    writer = scored.writeTo(table)
    if fresh:
        writer.partitionedBy(scored["bucket"]).createOrReplace()
    else:
        writer.overwritePartitions()

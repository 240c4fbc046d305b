"""Iceberg production path: gated on runtime availability with the parquet
stage as semantic twin (this sandbox has no Iceberg jar)."""

import pytest

from pii_detection_service_spark.plans import iceberg, stage
from pii_detection_service_spark.sources.synth import synth_spark


def test_iceberg_absent_detected(spark):
    assert iceberg.iceberg_available(spark) is False


def test_write_stage_iceberg_fails_fast_with_guidance(spark):
    src = synth_spark(spark, 10)
    scored = stage.score(stage.with_bucket(src, 4))
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        iceberg.write_stage_iceberg(spark, scored, "cat.db.images_scored", fresh=True)

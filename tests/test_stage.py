"""End-to-end tests for the flagship stage: golden parity between the
distributed pipeline and the pure-Python reference semantics, plus the
north-rule invariants (resume, pixel/caption preservation, bucketing)."""

import os
import sys

import numpy as np
import pyspark.sql.functions as F
import pytest

from pii_detection_service_spark.functions import quality, tagger
from pii_detection_service_spark.plans import stage
from pii_detection_service_spark.sources import imagecodec, synth

N = 300


@pytest.fixture(scope="module")
def src(spark):
    return synth.synth_spark(spark, N).cache()


def test_scored_matches_pure_python_golden(spark, src):
    """F1 target anchor: the Spark pipeline's keep/drop + scrubbed caption
    must agree with the shared pure-Python semantics on every row (exact
    agreement ⇒ F1 = 1.0 ≥ 0.99)."""
    scored = stage.score(src).select(
        "image_id", "caption", "lang", "keep", "drop_reason",
        "scrubbed_caption", "n_pii", "n_toxic",
    )
    rows = {r["image_id"]: r for r in scored.collect()}
    assert len(rows) == N
    mismatches = 0
    for i in range(N):
        image_id = f"img_{i:08d}"
        cap = synth.caption_for(i)
        lang = quality.langid_char_ngram(cap)
        keep, reason = quality.keep_decision(cap, lang, quality.perplexity(cap))
        _, _, scrubbed, n_pii, n_toxic = tagger.tag_and_scrub(cap)
        r = rows[image_id]
        if (
            r["keep"] != keep
            or r["drop_reason"] != reason
            or r["scrubbed_caption"] != scrubbed
            or r["n_pii"] != n_pii
            or r["n_toxic"] != n_toxic
            or r["lang"] != lang
        ):
            mismatches += 1
    assert mismatches == 0


def test_caption_byte_equality_for_kept_clean_rows(spark, src):
    scored = stage.score(src)
    kept_clean = scored.where(
        F.col("keep") & (F.col("n_pii") == 0) & (F.col("n_toxic") == 0)
    )
    bad = kept_clean.where(F.col("scrubbed_caption") != F.col("caption")).count()
    assert bad == 0
    assert kept_clean.count() > 0
    # toxic rows exist and are masked, not dropped
    toxic = scored.where(F.col("n_toxic") > 0)
    assert toxic.count() > 0
    assert toxic.where(F.col("scrubbed_caption").contains("[TOXIC]")).count() == toxic.count()


def test_pixel_preservation_invariant(spark, src):
    """input_hint invariant: decoded pixels allclose / PSNR≥40dB vs source."""
    sample = src.limit(30).select("image_id", "bytes", "fmt").collect()
    for r in sample:
        i = int(r["image_id"].split("_")[1])
        px = synth.pixels_for(i)
        dec = imagecodec.decode(bytes(r["bytes"]), r["fmt"])
        if r["fmt"] == "png":
            assert np.array_equal(px, dec)
        else:
            assert imagecodec.psnr(px, dec) >= 40.0


def test_run_stage_and_resume(spark, src, tmp_path):
    out = str(tmp_path / "stage_out")
    m1 = stage.run_stage(spark, src, out, n_buckets=8, salt_factor=2)
    assert m1["rows"] == N
    assert 0 < m1["kept"] < N
    assert m1["pii_rows"] > 0

    # output is partitioned by bucket on disk (explicit phash-derived layout)
    buckets = sorted(
        d for d in os.listdir(os.path.join(out, "data")) if d.startswith("bucket=")
    )
    assert len(buckets) == 8

    # lineage has one done row per bucket
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.where("status = 'done'").select("bucket").distinct().count() == 8
    assert lineage.count() == 8

    # metrics table: per-(lang, keep, drop_reason) counts sum to all rows
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert {"lang", "keep", "drop_reason", "count"} <= set(metrics.columns)
    assert metrics.agg(F.sum("count")).head()[0] == N

    # resume: everything complete → no recompute, no duplicate rows/lineage
    m2 = stage.run_stage(spark, src, out, n_buckets=8, salt_factor=2)
    assert m2["resumed_noop"]
    assert set(m2) == set(m1)  # one result shape, no-op resume included
    data = spark.read.parquet(os.path.join(out, "data"))
    assert data.count() == N
    assert spark.read.parquet(os.path.join(out, "lineage")).count() == 8


def test_null_tolerant_source_and_null_safe_buckets(spark, tmp_path):
    """input_hint sources may carry nulls (caption/fmt/phash). The stage
    must process every row, and NULL phash must NOT produce a NULL bucket:
    the hive default partition breaks the resume NOT-IN filter (NULL
    predicate → row silently dropped from resumed runs)."""
    from pii_detection_service_spark.sources import synth

    df = synth.synth_spark(spark, 50)
    df = df.withColumn(
        "caption", F.when(F.col("phash") % 5 == 0, None).otherwise(F.col("caption"))
    ).withColumn(
        "fmt", F.when(F.col("phash") % 7 == 0, None).otherwise(F.col("fmt"))
    ).withColumn(
        "phash", F.when(F.col("phash") % 11 == 0, None).otherwise(F.col("phash"))
    )
    assert df.where(F.col("phash").isNull()).count() > 0  # nulls planted
    out = str(tmp_path / "null_out")
    m = stage.run_stage(spark, df, out, n_buckets=4, salt_factor=2)
    assert m["rows"] == 50
    dirs = os.listdir(os.path.join(out, "data"))
    assert not any("HIVE_DEFAULT" in d for d in dirs)
    # resumed run is a clean no-op — null-phash rows are NOT re-pending
    m2 = stage.run_stage(spark, df, out, n_buckets=4, salt_factor=2)
    assert m2["resumed_noop"]
    assert spark.read.parquet(os.path.join(out, "data")).count() == 50


def test_bucket_filter_prunes_partitions_on_read(spark, src, tmp_path):
    """Reading the stage output with a bucket predicate must prune at the
    PARTITION level (PartitionFilters in the scan, not a row filter over
    all files) — this is what makes the resume NOT-IN filter metadata-only
    over a bucket-partitioned table."""
    out = str(tmp_path / "prune_out")
    stage.run_stage(spark, src, out, n_buckets=8, salt_factor=2)
    read = spark.read.parquet(os.path.join(out, "data")).where("bucket = 3")
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "(bucket" in plan.split("PartitionFilters")[1][:80]
    # and the NOT-IN resume shape prunes the same way
    anti = spark.read.parquet(os.path.join(out, "data")).where(
        ~F.col("bucket").isin([0, 1, 2])
    )
    aplan = anti._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in aplan
    assert anti.select("bucket").distinct().count() == 5


# The crash-resume tests run against a plain path and a ``file://`` URI
# out_dir: the file system is set up on the local path, and run_stage gets
# the URI form.
_OUT_SCHEMES = pytest.mark.parametrize(
    "scheme", ["", "file://"], ids=["path", "file_uri"]
)


@_OUT_SCHEMES
def test_resume_processes_only_missing_buckets(spark, src, tmp_path, scheme):
    out = str(tmp_path / "partial_out")
    # simulate a crashed run: process only buckets 0-3 by pre-marking 4-7 done
    pre = spark.createDataFrame(
        [(b, 0, 0, 0, 0.0, "done") for b in range(4, 8)],
        "bucket int, n_rows long, n_kept long, n_pii_rows long, runtime_sec double, status string",
    )
    os.makedirs(out, exist_ok=True)
    pre.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "lineage"))

    m = stage.run_stage(spark, src, scheme + out, n_buckets=8, salt_factor=2)
    expected = (
        stage.with_bucket(src, 8).where(F.col("bucket") < 4).count()
    )
    assert m["rows"] == expected  # only pending buckets were scored
    data = spark.read.parquet(os.path.join(out, "data"))
    assert set(
        r["bucket"] for r in data.select("bucket").distinct().collect()
    ) == set(range(4))


def test_stage_plan_is_map_only_plus_one_shuffle(spark, src, tmp_path, monkeypatch):
    """Scale guard: scoring adds NO shuffle; the job's only exchange is the
    explicit (bucket, salt) rebalance, whose reducer count AQE picks.
    Checked on a plan rebuilt here AND on the DataFrame run_stage actually
    writes to <out>/data (captured by wrapping DataFrameWriter.parquet), so
    a second shuffle or a fixed-count repartition added inside run_stage
    fails this test too."""
    import re

    from pyspark.sql.readwriter import DataFrameWriter

    df = stage.with_bucket(src, 8)
    scored = stage.score(df)
    salted = scored.withColumn(
        "salt", F.pmod(F.xxhash64("image_id"), F.lit(2)).cast("int")
    ).hint("rebalance", "bucket", "salt")
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1

    written = []
    parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        if path.endswith("/data"):
            written.append(self._df)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    stage.run_stage(spark, src, str(tmp_path / "out"), n_buckets=8, salt_factor=2)
    assert len(written) == 1
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    exchange = (
        r"Exchange hashpartitioning\(bucket#\d+, salt#\d+, \d+\), "
        r"REBALANCE_PARTITIONS_BY_COL"
    )
    assert len(re.findall(exchange, plan)) == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_run_stage_resumes_through_file_uri(spark, src, tmp_path):
    """Resume sees lineage behind a storage URI, not only a plain local
    path: a rerun into the same ``file://`` out_dir is a no-op, and lineage
    keeps one row per bucket (no full rescore, no duplicate lineage)."""
    out = "file://" + str(tmp_path / "uri_out")
    assert stage.run_stage(spark, src, out, n_buckets=8, salt_factor=2)["rows"] == N
    m2 = stage.run_stage(spark, src, out, n_buckets=8, salt_factor=2)
    assert m2["resumed_noop"]
    lineage = spark.read.parquet(out + "/lineage")
    assert lineage.count() == 8
    assert lineage.select("bucket").distinct().count() == 8
    assert spark.read.parquet(out + "/data").count() == N


def test_one_scoring_path(spark, tmp_path):
    """stage.score and pipeline.score_documents run the same scalar Arrow
    UDF: exactly one ArrowEvalPython node each, and no MapInPandas (which
    would ship every column through Python)."""
    from pii_detection_service_spark.operators import pipeline

    sf = str(tmp_path / "sf")
    docs = spark.createDataFrame([(1, "a photo of Alice")], "doc_id long, text string")
    docs.write.parquet(f"{sf}/documents.parquet")
    images = spark.read.parquet(f"{sf}/documents.parquet").withColumnRenamed("text", "caption")
    for df in (stage.score(images), pipeline.score_documents(spark, sf)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan
        assert "MapInPandas" not in plan, plan


@_OUT_SCHEMES
def test_resume_after_torn_file_rewrites_bucket_idempotently(
    spark, src, tmp_path, scheme
):
    """Crash DURING a bucket's data write: the bucket dir holds a torn
    (half-written, unreadable) parquet part and lineage never recorded the
    bucket. Resume must rewrite that bucket's partition atomically (dynamic
    partition overwrite replaces the whole directory, torn file included) —
    no duplicate rows, no unreadable leftovers, exact row parity."""
    out = str(tmp_path / "torn_out")
    stage.run_stage(spark, src, scheme + out, n_buckets=8, salt_factor=2)

    victim = 3
    vdir = os.path.join(out, "data", f"bucket={victim}")
    parts = [f for f in os.listdir(vdir) if f.endswith(".parquet")]
    assert parts
    # tear the first part: truncate to half (invalid parquet footer) — the
    # file system state a mid-write executor kill leaves behind
    torn = os.path.join(vdir, parts[0])
    blob = open(torn, "rb").read()
    with open(torn, "wb") as f:
        f.write(blob[: len(blob) // 2])
    # and the crash happened before lineage committed the bucket
    ldir = os.path.join(out, "lineage")
    lineage = spark.read.parquet(ldir).where(F.col("bucket") != victim).collect()
    import shutil

    shutil.rmtree(ldir)
    spark.createDataFrame(
        lineage,
        "bucket int, n_rows long, n_kept long, n_pii_rows long, "
        "runtime_sec double, status string",
    ).coalesce(1).write.mode("overwrite").parquet(ldir)

    m = stage.run_stage(spark, src, scheme + out, n_buckets=8, salt_factor=2)
    expected_victim = (
        stage.with_bucket(src, 8).where(F.col("bucket") == victim).count()
    )
    assert m["rows"] == expected_victim  # only the torn bucket reprocessed

    data = spark.read.parquet(os.path.join(out, "data"))  # all parts readable
    assert data.count() == src.count()
    assert data.select("image_id").distinct().count() == src.count()
    assert spark.read.parquet(ldir).where("status = 'done'").count() == 8


def test_fresh_resume_probe_launches_no_job(spark, tmp_path):
    """With no lineage yet, the resume probe's empty result is collected on
    the driver without a Spark job (an empty createDataFrame would launch
    one through the Python-parallelize path)."""
    sc = spark.sparkContext
    group = "fresh-resume-probe"
    sc.setJobGroup(group, "resume probe over a missing lineage dir")
    try:
        done = stage.completed_buckets(spark, str(tmp_path / "missing" / "lineage"))
        assert done.collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert done.schema.simpleString() == "struct<bucket:int>"


def test_fresh_run_launches_four_jobs_and_no_commit_write_job(
    spark, src, tmp_path, monkeypatch
):
    """Per-call floor: a fresh run_stage launches at most 4 Spark jobs (the
    data write's map and reduce stages, and the two of the collected
    read-back aggregate). Lineage and metrics are committed from the
    driver: the only DataFrame write is the data write, and no Spark write
    job's ``_SUCCESS`` marker appears under lineage/ or metrics/."""
    from pyspark.sql.readwriter import DataFrameWriter

    written = []
    parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        written.append(path)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    src.count()  # materialize the fixture's own cache outside the group
    out = tmp_path / "floor_out"
    sc = spark.sparkContext
    group = "fresh-run-stage"
    sc.setJobGroup(group, "one fresh run_stage call")
    try:
        stage.run_stage(spark, src, str(out), n_buckets=8, salt_factor=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4
    assert written == [str(out / "data")]
    for d in ("lineage", "metrics"):
        names = os.listdir(out / d)
        assert "_SUCCESS" not in names
        assert [n for n in names if n.endswith(".parquet")]


@_OUT_SCHEMES
def test_resume_after_crash_before_commit_rename(spark, src, tmp_path, scheme):
    """Crash between creating and renaming the commit files: the run wrote
    a bucket's data, and its lineage and metrics files exist only as
    hidden, cut-short ``.part-*.parquet.tmp`` files. The resume probe and
    Spark readers skip them, and the next resume redoes that bucket with
    exact row parity (no duplicate rows, lineage or metrics counts)."""
    out = str(tmp_path / "crash_out")
    victim = 3
    bucketed = stage.with_bucket(src, 8)
    first = bucketed.where(F.col("bucket") != victim).drop("bucket")
    stage.run_stage(spark, first, scheme + out, n_buckets=8, salt_factor=2)

    dirs = [os.path.join(out, d) for d in ("lineage", "metrics")]
    before = {d: set(os.listdir(d)) for d in dirs}
    m = stage.run_stage(spark, src, scheme + out, n_buckets=8, salt_factor=2)
    n_victim = bucketed.where(F.col("bucket") == victim).count()
    assert m["rows"] == n_victim
    for d in dirs:
        [name] = [f for f in set(os.listdir(d)) - before[d] if f.endswith(".parquet")]
        blob = open(os.path.join(d, name), "rb").read()
        with open(os.path.join(d, f".{name}.tmp"), "wb") as f:
            f.write(blob[: len(blob) // 2])
        os.remove(os.path.join(d, name))
        os.remove(os.path.join(d, f".{name}.crc"))

    ldir, mdir = (scheme + d for d in dirs)
    done = {r["bucket"] for r in stage.completed_buckets(spark, ldir).collect()}
    assert done == set(range(8)) - {victim}
    assert spark.read.parquet(ldir).count() == 7
    metric_rows = lambda: spark.read.parquet(mdir).agg(F.sum("count")).head()[0]  # noqa: E731
    assert metric_rows() == N - n_victim

    m = stage.run_stage(spark, src, scheme + out, n_buckets=8, salt_factor=2)
    assert m["rows"] == n_victim
    data = spark.read.parquet(os.path.join(out, "data"))
    assert data.count() == N
    assert data.select("image_id").distinct().count() == N
    lineage = spark.read.parquet(ldir)
    assert lineage.count() == 8
    assert lineage.select("bucket").distinct().count() == 8
    assert metric_rows() == N


def _commit_matches_written(spark, out, run_buckets, m):
    """This run's lineage rows and metrics equal direct aggregates over the
    buckets it wrote; every lineage and metrics file has the names and
    types of LINEAGE_SCHEMA / METRICS_SCHEMA (so ``run_ts`` reads back as
    ``timestamp``); the returned counts are the lineage sums."""
    from pii_detection_service_spark.schema import LINEAGE_SCHEMA, METRICS_SCHEMA

    data = spark.read.parquet(os.path.join(out, "data")).where(
        F.col("bucket").isin(run_buckets)
    )
    want = {
        r["bucket"]: (r["n_rows"], r["n_kept"], r["n_pii_rows"])
        for r in data.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((F.col("n_pii") > 0).cast("long")).alias("n_pii_rows"),
        ).collect()
    }
    ldir = os.path.join(out, "lineage")
    lineage = spark.read.parquet(ldir).where(F.col("bucket").isin(run_buckets))
    got = {
        r["bucket"]: (r["n_rows"], r["n_kept"], r["n_pii_rows"])
        for r in lineage.collect()
    }
    assert got == want
    assert lineage.count() == len(run_buckets)
    assert (m["rows"], m["kept"], m["pii_rows"]) == tuple(
        sum(v[i] for v in want.values()) for i in range(3)
    )

    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    key = ("lang", "keep", "drop_reason", "count")
    direct = data.groupBy("lang", "keep", "drop_reason").count()
    assert sorted(map(tuple, metrics.select(*key).collect())) == sorted(
        map(tuple, direct.select(*key).collect())
    )

    for d, declared in (("lineage", LINEAGE_SCHEMA), ("metrics", METRICS_SCHEMA)):
        spec = [(f.name, f.dataType) for f in declared.fields]
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert files
        for f in files:
            schema = spark.read.parquet(os.path.join(out, d, f)).schema
            assert [(g.name, g.dataType) for g in schema.fields] == spec, f


def test_commit_parity_fresh_and_resumed(spark, src, tmp_path):
    """The lineage/metrics commit equals direct aggregates over the written
    output, on a fresh run and on a resume over partial lineage, and leaves
    no cached or persisted RDD behind."""
    sc = spark.sparkContext
    src.count()  # materialize the fixture's own cache before the snapshot
    persisted = set(sc._jsc.getPersistentRDDs().keys())

    fresh = str(tmp_path / "fresh_out")
    m = stage.run_stage(spark, src, fresh, n_buckets=8, salt_factor=2)
    assert set(sc._jsc.getPersistentRDDs().keys()) == persisted
    _commit_matches_written(spark, fresh, list(range(8)), m)

    resumed = str(tmp_path / "resumed_out")
    os.makedirs(resumed)
    spark.createDataFrame(
        [(b, 0, 0, 0, 0.0, "done") for b in range(4, 8)],
        "bucket int, n_rows long, n_kept long, n_pii_rows long, "
        "runtime_sec double, status string",
    ).coalesce(1).write.parquet(os.path.join(resumed, "lineage"))
    m = stage.run_stage(spark, src, resumed, n_buckets=8, salt_factor=2)
    assert set(sc._jsc.getPersistentRDDs().keys()) == persisted
    _commit_matches_written(spark, resumed, list(range(4)), m)

    # a resume with nothing pending returns early, still unpersisted
    assert stage.run_stage(spark, src, resumed, n_buckets=8, salt_factor=2)[
        "resumed_noop"
    ]
    assert set(sc._jsc.getPersistentRDDs().keys()) == persisted


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="zip invalidation is lazy on 3.12+")
def test_score_workers_skip_unchanged_zip_rereads(spark):
    """Python workers import pyspark from pyspark.zip, and every task starts
    with importlib.invalidate_caches(). Once stage.score has run in the
    workers, a follow-up UDF there sees that call re-read no archive
    (zipcache's stat check), where the stdlib re-reads it once per cached
    zip importer."""
    import pyarrow as pa

    df = spark.createDataFrame(
        [(f"img_{i}", f"a photo of caption {i}") for i in range(40)],
        "image_id string, caption string",
    ).repartition(4)
    scored = stage.score(df)

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pii_detection_service_spark  # noqa: F401 — installs in a task

        rows = sum(b.num_rows for b in batches)
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pa.RecordBatch.from_pydict(
            {"rows": [rows], "zip_importers": [importers], "reads": [len(reads)]}
        )

    got = scored.mapInArrow(probe, "rows long, zip_importers long, reads long").collect()
    assert len(got) == 4 and sum(r["rows"] for r in got) == 40
    assert all(r["zip_importers"] > 0 for r in got), got
    assert all(r["reads"] == 0 for r in got), got

"""Physical-plan guards: the properties that matter at 100 TB must be
visible in the executed plan, not assumed — filter pushdown to the parquet
scan, broadcast for the small join side, salt actually balancing skew."""

import pyspark.sql.functions as F

from pii_detection_service_spark.operators import relational, similarity

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_f1_filter_pushed_to_scan(spark):
    plan = _plan(relational.filter_sort_limit(spark, SF))
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan or "IsNotNull(lang)" in plan
    # top-N must not materialize a global sort
    assert "TakeOrderedAndProject" in plan


def test_f2_point_lookup_pushdown_and_column_pruning(spark):
    df = relational.point_lookup(spark, SF)
    plan = _plan(df)
    assert "EqualTo(doc_id,42)" in plan
    # ReadSchema must not include unused columns — documents has exactly 5,
    # all selected here; check pruning on a narrower projection instead
    narrow = relational.table(spark, SF, "documents").select("doc_id")
    nplan = _plan(narrow)
    assert "text" not in nplan.split("ReadSchema")[1][:200]


def test_topk_cosine_uses_broadcast(spark):
    plan = _plan(similarity.topk_cosine(spark, SF))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_salt_balances_skewed_bucket(spark):
    """All rows share one phash bucket (worst-case skew); the (bucket, salt)
    repartition must spread them over multiple shuffle partitions."""
    n = 2000
    df = spark.range(n).select(
        F.concat(F.lit("id_"), F.col("id")).alias("image_id"),
        F.lit(7).alias("bucket"),
    )
    salted = df.withColumn(
        "salt", F.pmod(F.xxhash64("image_id"), F.lit(8)).cast("int")
    ).repartition(16, "bucket", "salt")
    sizes = (
        salted.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    nonempty = [r["count"] for r in sizes]
    assert len(nonempty) >= 4  # skew spread across reducers, not one
    assert max(nonempty) < n  # no single partition holds everything


def test_region_rollup_broadcasts_both_dims(spark):
    """nation/region are tiny at any scale — the fact side must never
    shuffle for this join."""
    from pii_detection_service_spark.operators import joins

    plan = _plan(joins.region_rollup(spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_semi_anti_join_types(spark):
    from pii_detection_service_spark.operators import joins

    assert "LeftSemi" in _plan(joins.semi_join_big_spenders(spark, SF))
    assert "LeftAnti" in _plan(joins.anti_join_inactive(spark, SF))


def test_salted_join_shuffles_on_composite_key(spark):
    """The skew demo must actually shuffle on (lang, salt) — a broadcast
    plan would have no skew to mitigate."""
    from pii_detection_service_spark.operators import joins

    plan = _plan(joins.salted_skew_join(spark, SF))
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "hashpartitioning(lang" in plan and "salt" in plan


def test_sessionize_single_shuffle(spark):
    """Both windows and the final aggregate share the user_id partitioning:
    exactly one exchange in the whole plan."""
    from pii_detection_service_spark.operators import events

    plan = _plan(events.sessionize(spark, SF))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 2


def test_dedup_exact_partial_aggregation(spark):
    """Hash-groupBy must do map-side partial aggregation (two HashAggregate
    nodes around the exchange)."""
    from pii_detection_service_spark.operators import dedup

    plan = _plan(dedup.exact_dedup(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_dedup_group_min_has_no_window(spark):
    """The band-group min must be groupBy+join (AQE-splittable), never a
    Window over (band, band_key) — a hot band group under a Window sorts
    in ONE task, the skew shape template-heavy corpora trigger. Guards
    minhash_survivors and every _star_edges consumer (dedup_clusters,
    jaccard_candidates, phash_candidates) at once (they share
    _with_grp_min)."""
    from pii_detection_service_spark.operators import dedup

    for builder in (
        dedup.minhash_survivors,
        dedup.jaccard_candidates,
        dedup.phash_candidates,
    ):
        plan = (
            builder(spark, SF)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan, plan[:1500]
        assert "HashAggregate" in plan  # the group-min partial aggregate


def test_simhash_candidates_no_window_and_checkpointed_sketch(spark):
    """The band group-min must be the skew-safe groupBy+join shape (no
    Window sort over a potentially hot band group), and the Arrow sketch
    must be materialized once — its four plan consumers read the
    checkpointed scan, not four copies of the kernel."""
    from pii_detection_service_spark.operators import dedup

    df = dedup.simhash_candidates(spark, SF)
    plan = _plan(df)
    assert "Window" not in plan
    # exactly zero live Python-kernel stages: every consumer reads the
    # localCheckpoint (ExistingRDD / LocalTableScan-style leaf)
    assert "FlatMapsInPandas" not in plan and "MapInPandas" not in plan
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_ivf_learned_search_single_scan_no_join(spark):
    """Learned-IVF search must stay the one-map-only-scan shape: probe
    cells resolved driver-side → literal IN filter, no join/broadcast in
    the search plan."""
    from pii_detection_service_spark.operators import similarity

    df = similarity.ann_ivf_learned(spark, SF, n_probe=2)
    plan = _plan(df)
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_audio_keep_is_pure_column_ops_over_stats(spark):
    """The keep rules must not add a shuffle or extra Python stage beyond
    the stats kernel itself."""
    from pii_detection_service_spark.operators import multimodal

    df = multimodal.audio_keep_decision(
        multimodal.audio_stats(multimodal.synth_audio_table(spark, 20))
    )
    plan = _plan(df)
    assert "Exchange" not in plan  # map-only end to end


def test_score_documents_repartition_guard_reads_spark_size_parse(spark):
    """The small-input repartition guard sizes splits with the JVM's own
    parse of spark.sql.files.maxPartitionBytes: '1p' is a petabyte (far
    above the scan, so the scoring input is round-robined over every core),
    and a split size far below the sf0.001 scan leaves the source splits
    alone."""
    from pii_detection_service_spark.operators import pipeline

    key = "spark.sql.files.maxPartitionBytes"
    par = spark.sparkContext.defaultParallelism
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "1p")
        plan = _plan(pipeline.score_documents(spark, SF))
        assert f"RoundRobinPartitioning({par})" in plan
        spark.conf.set(key, "1b")
        plan = _plan(pipeline.score_documents(spark, SF))
        assert "RoundRobinPartitioning" not in plan
    finally:
        spark.conf.set(key, old)

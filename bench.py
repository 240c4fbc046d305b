"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline set = the flagship scoring stage (the north-rule workload) plus the
operators that dominate a training-data pipeline at scale (dedup sketches,
similarity, core aggregates). Metric: images/sec of the flagship stage
(rows scored per second), per-query wall seconds alongside.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pii-spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pii_detection_service_spark import queries as q

    headline = [
        "pipeline_score_documents",   # flagship: langid+ppl+keep/drop+tag+scrub
        "dedup_exact",
        "dedup_minhash_signatures",
        "sim_topk_cosine",
        "ann_lsh_buckets",
        "lineitem_pricing",
        "events_hourly",
        "quality_score",
        "langid_stopword",
        "fingerprint",
        "join_shipping_priority",
        "events_sessionize",
        "tfidf_top_terms",
        "dedup_clusters",
        # round-2 additions: candidate-restricted verify, multi-probe/IVF
        # ANN, and the exact-oracled quantized scoring kernel
        "dedup_jaccard_candidates",
        "ann_search_multiprobe",
        "ann_search_ivf",
        "pipeline_scores_quantized",
        # round-3 additions: 64-bit simhash banding + Hamming verify,
        # Lloyd-learned IVF, and the audio keep/drop gate
        "dedup_simhash_candidates",
        "ann_search_ivf_learned",
        "multimodal_audio_keep",
        "quality_gopher_repetition",
        # round-4 additions: image-side phash near-dup (candidates AND
        # transitive clusters) and the scoring kernel behind the full
        # ARPA artifact seam
        "dedup_phash_candidates",
        "dedup_phash_clusters",
        "pipeline_scores_arpa_quantized",
        # cross-modal union clustering (image phash ∪ caption LSH edges)
        "dedup_crossmodal_clusters",
        # distributed LM training (vocabulary-bounded count aggregation)
        "lm_train_bigram_counts",
        # deterministic language-balanced downsampling (mixture shaping)
        "sample_lang_balanced",
        # round-5 additions: the full Gopher rule set (map-only scan) and
        # the trained-langid counts (vocabulary-bounded aggregation)
        "quality_gopher_full",
        "langid_train_bigram_counts",
        "quality_gopher_dup",
    ]

    # Warm the Python worker pool (each worker cold-imports pandas/numpy
    # once per session — a cluster amortizes this; the bench measures
    # steady-state throughput, not interpreter startup).
    import pandas as _pd  # noqa: F401

    spark.range(0, int(cpus) * 4, 1, int(cpus)).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()

    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in headline:
        builder = q.SPARK_BUILDERS[name]
        t0 = time.monotonic()
        n = builder(spark, sf_dir).count()
        times[name] = round(time.monotonic() - t0, 3)
        rows[name] = n

    # flagship throughput: the scoring stage over a pre-materialized
    # image+caption table (input_hint schema), measured as images/sec.
    # Generation is cached to parquet OUTSIDE the timed region so runs at
    # different parallelism levels read the identical input files.
    from pii_detection_service_spark.plans import stage
    from pii_detection_service_spark.sources.synth import synth_spark

    n_images = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "200000"))
    cache = f"/tmp/spark_graft_bench_images_v4_{n_images}.parquet"
    if not os.path.isdir(cache):
        synth_spark(spark, n_images).repartition(64).write.mode(
            "overwrite"
        ).parquet(cache)
    import pyspark.sql.functions as F

    src = spark.read.parquet(cache)
    t0 = time.monotonic()
    scored = stage.score(stage.with_bucket(src, 64))
    # aggregate over scored columns — a bare count() would let Catalyst
    # prune the row-preserving scoring UDF out of the executed plan
    row = scored.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("keep").cast("long")).alias("kept")
    ).collect()[0]
    n = row["n"]
    assert 0 < row["kept"] < n
    t_images = time.monotonic() - t0
    times["image_stage"] = round(t_images, 3)
    rows["image_stage"] = n
    images_per_sec = round(n / t_images, 1)

    # full stage incl. the (bucket, salt) shuffle, partitioned write, and
    # lineage/metrics commit — the north rule's end-to-end workload.
    import shutil
    import tempfile

    # bucket/salt sized to the data: 32×2 = 64 reducers ≈ file count that
    # matches this volume (512 reducers → tiny files + commit overhead; at
    # 100 TB you raise n_buckets, not the salt).
    # Warm the write path once (committer + codegen init is a per-session
    # one-time ~25s cost a long-lived cluster amortizes — same rationale as
    # the python-worker warmup above).
    warm_dir = tempfile.mkdtemp(prefix="bench_stage_warm_")
    stage.run_stage(
        spark, synth_spark(spark, 1000), warm_dir,
        n_buckets=4, salt_factor=2,
    )
    shutil.rmtree(warm_dir, ignore_errors=True)
    out_dir = tempfile.mkdtemp(prefix="bench_stage_")
    t0 = time.monotonic()
    m = stage.run_stage(spark, src, out_dir, n_buckets=32, salt_factor=2)
    t_write = time.monotonic() - t0
    times["image_stage_write"] = round(t_write, 3)
    rows["image_stage_write"] = m["rows"]
    shutil.rmtree(out_dir, ignore_errors=True)

    # scaling efficiency from the dedicated harness (BENCH/scaling.py) if a
    # measurement exists — local[N] vs local[4N] on identical input.
    scaling = None
    scaling_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "scaling.json"
    )
    if os.path.isfile(scaling_path):
        with open(scaling_path) as f:
            scaling = json.load(f).get("scaling_efficiency")

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "rows": rows,
                "images_per_sec": images_per_sec,
                "scaling_efficiency_n_to_4n": scaling,
                "cpus": int(cpus),
                "sf": float(sf),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

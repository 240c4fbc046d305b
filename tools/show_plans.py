"""Dump formatted physical plans for the load-bearing queries → PLANS.md.

The properties that matter at 100 TB must be visible in the plan:
PushedFilters reaching the scan, pruned ReadSchema, broadcast exchanges on
small sides, partial aggregation, a single explicit exchange in the
flagship stage. tests/test_plans.py asserts these; this dossier makes them
reviewable.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.001"


def main():
    import pyspark.sql.functions as F
    from pyspark.sql import SparkSession

    from pii_detection_service_spark import queries as q
    from pii_detection_service_spark.plans import stage
    from pii_detection_service_spark.sources.synth import synth_spark

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    picks = [
        "f1_filter_sort_limit",
        "f2_point_lookup",
        "dedup_exact",
        "dedup_minhash_signatures",
        "sim_topk_cosine",
        "window_topn_per_lang",
        "g1_fbeta_arrays",
        "lineitem_pricing",
        "join_region_rollup",
        "join_gazetteer_hits",
        "join_shipping_priority",
        "join_salted_skew",
        "join_anti_inactive",
        "events_sessionize",
        "tfidf_top_terms",
        # round-2 scale-path queries
        "dedup_jaccard_candidates",
        "dedup_embedding_cosine",
        "ann_search_multiprobe",
        "ann_search_ivf",
        # round-3 scale-path queries
        "dedup_simhash_candidates",
        "ann_search_ivf_learned",
        "multimodal_audio_keep",
        "quality_gopher_repetition",
        # round-4 scale-path queries
        "dedup_phash_candidates",
        "pipeline_scores_arpa_quantized",
        "dedup_crossmodal_clusters",
        "lm_train_bigram_counts",
        "sample_lang_balanced",
        # round-5 scale-path queries
        "quality_gopher_full",
        "langid_train_bigram_counts",
        "pipeline_scores_trained_langid",
    ]
    out = ["# PLANS — formatted physical plans for load-bearing queries", ""]
    for name in picks:
        df = q.SPARK_BUILDERS[name](spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", "```", buf.getvalue().strip(), "```", ""]

    # flagship stage: score + salted bucket repartition (the ONE shuffle)
    src = synth_spark(spark, 1000)
    df = stage.score(stage.with_bucket(src, 8))
    salted = df.withColumn(
        "salt", F.pmod(F.xxhash64("image_id"), F.lit(2)).cast("int")
    ).repartition(16, "bucket", "salt")
    buf = io.StringIO()
    with redirect_stdout(buf):
        salted.explain("formatted")
    out += ["## flagship_stage (score → salted bucket repartition)", "",
            "```", buf.getvalue().strip(), "```", ""]

    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()

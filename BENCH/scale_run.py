"""Large-scale bench: the stage + dedup family at 5M / 20M rows (25-100x
the per-round bench volume) — the "would this survive 100x?" evidence run.
Each decade has historically surfaced a new bug class (599 s shingle fold
at 5M; band-group skew and checkpoint I/O are what the 20M notch watches).

Reuses the PRODUCTION operator code paths unchanged: the caption corpus is
written as a documents.parquet table and the dedup operators are called
with that directory as sf_dir, exactly as the driver calls them. Per-query
wall seconds and rows/sec land in BENCH/scale{N}m.json; compare across
rounds AND across notches (per-row seconds should stay ~flat) to catch
regressions sf0.1 hides.

Forcing note: every timed query aggregates over its computed outputs —
a bare count() lets Catalyst prune projected expressions (minhash/simhash
sketches would never execute).

Usage: python BENCH/scale_run.py [n_rows]   (default 5,000,000)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pii-spark-scale-bench")
        .config("spark.sql.shuffle.partitions", str(cpus * 4))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import pyspark.sql.functions as F

    from pii_detection_service_spark.plans import stage
    from pii_detection_service_spark.sources.synth import synth_spark

    # image table: ~1.9 KB/row on disk (measured: 9.1 GB at 5M). Building
    # it at the largest notches can exceed the sandbox's free disk together
    # with the stage-write output — in that case the image legs are SKIPPED
    # LOUDLY (no silent cap) and the dedup family still runs at full n over
    # a directly-synthesized caption table (identical rows: caption_for(i)
    # is the same generator the image path embeds).
    img_cache = f"/tmp/spark_graft_bench_images_v4_{n}.parquet"
    have_images = os.path.isdir(img_cache)
    if not have_images:
        free = shutil.disk_usage("/tmp").free
        need = int(2.5 * n * 1900)  # cache + stage-write output + slack
        if free > need:
            synth_spark(spark, n).repartition(256).write.mode(
                "overwrite"
            ).parquet(img_cache)
            have_images = True
        else:
            print(
                f"SKIPPING image-stage legs at n={n}: building the image "
                f"cache + stage output needs ~{need >> 30} GiB, free "
                f"{free >> 30} GiB. Dedup family still runs at full n; "
                "image-stage evidence comes from the largest notch that "
                "fits (see scale5m.json).",
                file=sys.stderr,
            )

    docs_dir = f"/tmp/spark_graft_scale_docs_v4_{n}"
    docs_path = os.path.join(docs_dir, "documents.parquet")
    if not os.path.isdir(docs_path):
        if have_images:
            src = spark.read.parquet(img_cache)
            (
                src.select(
                    F.substring("image_id", 5, 8).cast("long").alias("doc_id"),
                    F.col("caption").alias("text"),
                    F.lit("en").alias("lang"),
                    F.lit("synth").alias("source"),
                    F.length("caption").alias("n_chars"),
                )
                .repartition(256)
                .write.mode("overwrite")
                .parquet(docs_path)
            )
        else:
            import pandas as pd

            from pii_detection_service_spark.sources.synth import caption_for

            def gen(batches):
                for pdf in batches:
                    caps = [caption_for(int(i)) for i in pdf["id"]]
                    yield pd.DataFrame(
                        {
                            "doc_id": pdf["id"],
                            "text": caps,
                            "lang": ["en"] * len(caps),
                            "source": ["synth"] * len(caps),
                            "n_chars": [len(c) for c in caps],
                        }
                    )

            (
                spark.range(0, n, 1, 256)
                .mapInPandas(
                    gen,
                    "doc_id long, text string, lang string, source string, "
                    "n_chars int",
                )
                .write.mode("overwrite")
                .parquet(docs_path)
            )

    # python worker warmup (cluster-amortized startup)
    spark.range(0, cpus * 4, 1, cpus).mapInPandas(
        lambda it: (p for p in it), schema="id long"
    ).count()

    from pii_detection_service_spark.operators import dedup
    from pii_detection_service_spark.operators.relational import table

    times: dict[str, float] = {}
    rows: dict[str, int] = {}

    # SPARK_GRAFT_SCALE_ONLY=name1,name2 runs a subset of legs (used by the
    # r5 20M run to extend the r4 20M file with the new-family legs without
    # re-paying the ~17-minute dedup block on the same box). Skips are
    # printed — no silent caps.
    only = os.environ.get("SPARK_GRAFT_SCALE_ONLY")
    only_set = set(only.split(",")) if only else None

    def timed(name, fn):
        if only_set is not None and name not in only_set:
            print(f"  {name}: SKIPPED (SPARK_GRAFT_SCALE_ONLY)", file=sys.stderr)
            return
        t0 = time.monotonic()
        out = fn()
        times[name] = round(time.monotonic() - t0, 2)
        rows[name] = out
        print(f"  {name}: {times[name]}s ({out} rows)", file=sys.stderr)

    sig_force = [F.sum(f"mh{j}") for j in range(8)]
    timed(
        "dedup_exact",
        lambda: dedup.exact_dedup(spark, docs_dir).count(),
    )
    timed(
        "dedup_minhash_signatures",
        lambda: len(dedup.minhash_signatures(spark, docs_dir).agg(*sig_force).collect()),
    )
    timed(
        "dedup_minhash_bands",
        lambda: dedup.minhash_band_candidates(spark, docs_dir).count(),
    )
    timed(
        "dedup_minhash_survivors",
        lambda: len(
            dedup.minhash_survivors(spark, docs_dir).agg(F.sum("dup_of")).collect()
        ),
    )
    timed(
        "dedup_simhash",
        lambda: len(
            dedup.simhash64_sketch(table(spark, docs_dir, "documents"))
            .agg(*[F.sum(f"sh{i}") for i in range(4)])
            .collect()
        ),
    )
    timed(
        "dedup_simhash_candidates",
        lambda: dedup.simhash_candidates(spark, docs_dir).count(),
    )
    cc_tel: dict = {}
    timed(
        "dedup_clusters",
        lambda: dedup.dedup_clusters(spark, docs_dir, telemetry=cc_tel).count(),
    )
    print(f"  dedup_clusters telemetry: {cc_tel}", file=sys.stderr)
    timed(
        "jaccard_candidates",
        lambda: dedup.jaccard_candidates(spark, docs_dir).count(),
    )
    # image-side near-dup: the banding/star-edge/verify machinery over n
    # synthetic int64 phashes (generating n REAL images would be
    # disk-bound; the operator's cost is independent of hash provenance).
    # 10% of rows form one near-dup cluster (<= 2-bit perturbations of a
    # shared hash — the template/logo skew case), the rest are xxhash64
    # pseudo-random.
    phash_tbl = spark.read.parquet(docs_path).select(
        F.col("doc_id").alias("nid"),
        F.format_string("img_%09d", "doc_id").alias("image_id"),
        F.expr(
            "if(doc_id % 10 = 0, "
            "  7777777777777777 ^ shiftleft(cast(1 as bigint), "
            "      cast(doc_id % 62 as int)) "
            "    ^ shiftleft(cast(1 as bigint), cast((doc_id * 31) % 62 as int)), "
            "  xxhash64(doc_id))"
        ).alias("phash"),
    )
    timed(
        "phash_candidates",
        lambda: dedup.phash_near_dup_candidates(phash_tbl).count(),
    )
    # transitive image clustering over the same table: the 10% template
    # cluster (≤2-bit perturbations of one hash) is a CC stress — a
    # ~n/10-member component whose star edges must collapse without a
    # hot task or round blowup (telemetry printed below).
    cc_tel_ph: dict = {}
    timed(
        "phash_clusters",
        lambda: dedup.phash_cluster_labels(
            phash_tbl, telemetry=cc_tel_ph
        ).count(),
    )
    print(f"  phash_clusters telemetry: {cc_tel_ph}", file=sys.stderr)

    # cross-modal clustering: the union graph (phash Hamming edges ∪
    # caption LSH-Jaccard edges) over ONE table — the 10% template phash
    # cluster and the ~10% degenerate exact-caption clusters overlap, so
    # connected components must collapse a multi-100k-member cross-modal
    # component without a hot task.
    xm_tbl = (
        spark.read.parquet(docs_path)
        .select(F.col("doc_id").alias("nid"), F.col("text").alias("caption"))
        .join(phash_tbl, "nid")
        .select("nid", "image_id", "caption", "phash")
    )
    cc_tel_xm: dict = {}
    timed(
        "crossmodal_clusters",
        lambda: dedup.crossmodal_cluster_labels(
            xm_tbl, telemetry=cc_tel_xm
        ).count(),
    )
    print(f"  crossmodal telemetry: {cc_tel_xm}", file=sys.stderr)

    # distributed LM training: one explode + vocabulary-bounded groupBy +
    # bounded driver fold — per-row cost must stay flat with n.
    from pii_detection_service_spark.operators import lmtrain

    from pii_detection_service_spark.functions.quality import _FLOOR

    timed(
        "lm_train_char_bigram",
        lambda: int(
            (
                lmtrain.train_char_bigram_lm(spark.read.parquet(docs_path))
                != _FLOOR
            ).sum()
        ),
    )

    # deterministic language-balanced downsampling: tiny vocabulary-keyed
    # agg + broadcast join + map-only filter. Skew probe built in: 'en'
    # holds 50% of rows (the hot-language case) — irrelevant to this
    # operator by construction, since the per-group work is a broadcast
    # threshold compare, never a per-group shuffle. Wall must track the
    # scan linearly.
    from pii_detection_service_spark.operators import sampling as smp

    timed(
        "sample_lang_balanced",
        lambda: smp.balanced_sample(
            spark.read.parquet(docs_path).select(
                "doc_id",
                F.expr(
                    "if(doc_id % 2 = 0, 'en', "
                    "concat('l', cast(doc_id % 19 as string)))"
                ).alias("lang"),
            ),
            "lang",
            cap=max(1000, n // 1000),
        ).count(),
    )

    # chained mixture shaping → LM training (the production recipe: cap the
    # hot language, then train the perplexity model ON THE SAMPLE): the
    # sample is a map-only filter feeding the vocabulary-bounded count agg,
    # so the chain's wall must track one scan + one bounded shuffle.
    def _sample_then_train():
        d = spark.read.parquet(docs_path).select(
            "doc_id",
            "text",
            F.expr(
                "if(doc_id % 2 = 0, 'en', "
                "concat('l', cast(doc_id % 19 as string)))"
            ).alias("lang"),
        )
        sampled = smp.balanced_sample(d, "lang", cap=max(1000, n // 100))
        tbl = lmtrain.train_char_bigram_lm(sampled)
        return int((tbl != _FLOOR).sum())

    timed("sample_then_lm_train", _sample_then_train)

    # flagship score-only throughput (map-only Arrow pass)
    ips = None
    if have_images:
        src = spark.read.parquet(img_cache)
        t0 = time.monotonic()
        row = (
            stage.score(stage.with_bucket(src, 64))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("keep").cast("long")).alias("kept"),
            )
            .collect()[0]
        )
        assert 0 < row["kept"] < row["n"]
        times["image_stage_score"] = round(time.monotonic() - t0, 2)
        rows["image_stage_score"] = row["n"]
        ips = round(row["n"] / times["image_stage_score"], 1)
        print(f"  score: {ips} images/sec", file=sys.stderr)

        # full stage incl. the one (bucket, salt) shuffle + partitioned write
        out_dir = tempfile.mkdtemp(prefix="scale_stage_")
        t0 = time.monotonic()
        m = stage.run_stage(spark, src, out_dir, n_buckets=64, salt_factor=4)
        times["image_stage_write"] = round(time.monotonic() - t0, 2)
        rows["image_stage_write"] = m["rows"]
        shutil.rmtree(out_dir, ignore_errors=True)

    result = {
        "n_rows": n,
        "cpus": cpus,
        "images_per_sec_score": ips,
        "image_stage_skipped_for_disk": not have_images,
        "queries_sec": times,
        "rows": rows,
        "total_sec": round(sum(times.values()), 2),
    }
    print(json.dumps(result))
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, f"scale{n // 1_000_000}m.json")
    if only_set is not None and os.path.exists(path):
        # subset run: MERGE the new legs into the existing notch file so a
        # partial re-run never clobbers previously measured legs; per-leg
        # provenance is the git history of this file
        with open(path) as f:
            prev = json.load(f)
        prev["queries_sec"].update(result["queries_sec"])
        prev["rows"].update(result["rows"])
        if result["images_per_sec_score"] is not None:
            prev["images_per_sec_score"] = result["images_per_sec_score"]
            prev["image_stage_skipped_for_disk"] = result[
                "image_stage_skipped_for_disk"
            ]
        prev["total_sec"] = round(sum(prev["queries_sec"].values()), 2)
        result = prev
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()

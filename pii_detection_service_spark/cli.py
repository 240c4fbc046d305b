"""spark-submit entrypoint for the flagship stage.

Usage (cluster — spark-submit runs a script, not a module; the launcher
script imports this CLI and the package rides in --py-files):
    spark-submit --py-files pii_detection_service_spark.zip \
        tools/submit_stage.py \
        --source /path/to/images_table --out /path/to/out \
        --buckets 4096 --salt 16

Usage (sandbox / synthetic):
    python -m pii_detection_service_spark.cli --synthetic 100000 \
        --out /tmp/stage_out --cores 32

Throughput and N→4N scaling are measured by perfbench/run.py (the
benchmark in BENCHMARK.json); this CLI is the operational entry.
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="quality-filter + PII-scrub stage")
    p.add_argument("--source", help="input parquet/Iceberg path (input_hint schema)")
    p.add_argument("--synthetic", type=int, default=0, help="generate N synthetic rows instead")
    p.add_argument("--out", required=True, help="output directory (data/lineage/metrics)")
    p.add_argument("--buckets", type=int, default=64, help="phash-derived bucket count")
    p.add_argument("--salt", type=int, default=8, help="salt factor for skewed buckets")
    p.add_argument("--cores", default=None, help="local[N] cores (omit on a real cluster)")
    p.add_argument("--no-resume", action="store_true", help="ignore existing lineage")
    p.add_argument("--arpa-lm", help="char-bigram ARPA model file: swap the "
                   "perplexity model for this production artifact")
    p.add_argument("--train-lm", action="store_true",
                   help="self-bootstrap: train the perplexity LM on the "
                   "source captions before scoring them")
    p.add_argument("--gazetteer", help="newline-separated given-name file to "
                   "extend the PII gazetteer")
    p.add_argument("--langid-train-source",
                   help="labeled documents parquet (lang, text) to train the "
                   "langid profiles on")
    args = p.parse_args(argv)
    if args.arpa_lm and args.train_lm:
        p.error("--arpa-lm and --train-lm are mutually exclusive")
    if args.buckets < 1 or args.salt < 1:
        p.error("--buckets and --salt must be at least 1")

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("pii-quality-filter-stage")
    if args.cores:
        builder = builder.master(f"local[{args.cores}]").config(
            "spark.sql.shuffle.partitions", str(args.cores)
        )
    spark = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .getOrCreate()
    )

    from .plans import stage
    from .sources.synth import synth_spark

    if args.synthetic:
        src = synth_spark(spark, args.synthetic)
    elif args.source:
        src = spark.read.parquet(args.source)
    else:
        p.error("one of --source / --synthetic is required")

    from .functions.quality import load_arpa_char_bigram
    from .functions.tagger import extend_gazetteer
    from .operators import lmtrain
    from .udfs import Models

    models = {}  # the fields of the one Models value the stage scores with
    if args.arpa_lm:
        models["lm"] = load_arpa_char_bigram(args.arpa_lm)
    elif args.train_lm:
        models["lm"] = lmtrain.train_char_bigram_lm(src, text_col="caption")
    if args.gazetteer:
        with open(args.gazetteer, encoding="utf-8") as f:
            models["gazetteer"] = extend_gazetteer(ln.strip() for ln in f if ln.strip())
    if args.langid_train_source:
        models["langid"] = lmtrain.train_langid_tables(
            spark.read.parquet(args.langid_train_source)
        )

    metrics = stage.run_stage(
        spark,
        src,
        args.out,
        n_buckets=args.buckets,
        salt_factor=args.salt,
        resume=not args.no_resume,
        models=Models(**models) if models else None,
    )
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()

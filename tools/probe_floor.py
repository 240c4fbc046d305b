"""Per-call floor of ``run_stage``: median wall and Spark jobs per fresh call.

Usage: python tools/probe_floor.py [--rows 320,32000] [--calls 5] [--seed N]

Inputs are the first ``--rows`` rows of the ``stage_caption_mix`` benchmark
input (``perfbench.inputs``, seeded), spread over 4 partitions and cached
before timing. Each size gets one untimed warm-up call, then ``--calls``
fresh calls into new out_dirs at the benchmark's bucket and salt counts, in
one ``local[4]`` session set up as the benchmark sets it up. A call's jobs are the ones its job group
launched. A small input's wall time is mostly the floor (planning, job
launches, the commit), not the scoring; the ratio of the two medians shows
how much of a full call that floor is.

A last line gives the score-only floor: ``stage.score`` over the first 40
rows in 4 partitions, written to the noop sink, median of ``--calls`` after
one warm-up. That is one Python UDF task per core and almost no scoring,
so it measures the per-task Python floor (worker task setup, the Arrow
hop) apart from the shuffle, the write and the commit. Run from the
repository root.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, ".")

from perfbench import inputs  # noqa: E402
from pii_detection_service_spark.plans import stage  # noqa: E402

SCORE_ONLY_ROWS = 40


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", default="320,32000")
    ap.add_argument("--calls", type=int, default=5)
    ap.add_argument("--seed", type=int, default=311)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    with tempfile.TemporaryDirectory() as work:
        inp = inputs.stage_input("stage_caption_mix", args.seed, work)
        for n in (int(x) for x in args.rows.split(",")):
            # limit() leaves one partition; spread the rows back over the
            # cores before caching, or scoring would run on one of them
            src = spark.read.parquet(inp.path).limit(n).repartition(4).cache()
            src.count()
            walls, jobs = [], set()
            for i in range(args.calls + 1):
                group = f"floor-{n}-{i}"
                sc.setJobGroup(group, "one fresh run_stage call")
                t = time.perf_counter()
                stage.run_stage(
                    spark, src, os.path.join(work, f"out-{n}-{i}"),
                    n_buckets=inputs.N_BUCKETS, salt_factor=inputs.SALT,
                )
                wall = time.perf_counter() - t
                sc.setLocalProperty("spark.jobGroup.id", None)
                if i:  # call 0 warms up
                    walls.append(wall)
                    jobs.add(len(sc.statusTracker().getJobIdsForGroup(group)))
            src.unpersist()
            print(
                f"rows {n}: median {statistics.median(walls):.3f} s over "
                f"{len(walls)} calls (min {min(walls):.3f}, max {max(walls):.3f}); "
                f"Spark jobs per call {sorted(jobs)}"
            )
        src = spark.read.parquet(inp.path).limit(SCORE_ONLY_ROWS).repartition(4).cache()
        src.count()
        walls = []
        for i in range(args.calls + 1):
            t = time.perf_counter()
            stage.score(src).write.format("noop").mode("overwrite").save()
            if i:
                walls.append(time.perf_counter() - t)
        src.unpersist()
        print(
            f"score-only {SCORE_ONLY_ROWS} rows / 4 partitions: median "
            f"{statistics.median(walls):.3f} s over {len(walls)} calls "
            f"(min {min(walls):.3f}, max {max(walls):.3f})"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

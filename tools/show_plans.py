"""Dump formatted physical plans for the load-bearing queries → PLANS.md.

The properties that matter at 100 TB must be visible in the plan:
PushedFilters reaching the scan, pruned ReadSchema, broadcast exchanges on
small sides, partial aggregation, a single explicit exchange in the
flagship stage. tests/test_plans.py asserts these; this dossier makes them
reviewable.

Usage: python tools/show_plans.py [name ...]
With no names every section is rebuilt. With names only those sections
are rebuilt; every other section of PLANS.md is kept byte for byte. A
name that is not listed below exits 2 before Spark starts. Expression ids
(``doc_id#12L``), exchange plan ids and RDD ids are renumbered per section
in order of first use, so a rebuilt section differs from the committed one
only where its plan does.
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.001"
HEADER = "# PLANS — formatted physical plans for load-bearing queries"
FLAGSHIP = "flagship_stage"
TITLES = {FLAGSHIP: "flagship_stage (run_stage's written DataFrame: score → "
          "salted bucket rebalance)"}

PICKS = [
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
    FLAGSHIP,
]


def renumber(plan: str) -> str:
    """Replace session-global expression, plan and RDD ids with 1, 2, ...
    in order of first use within this plan."""
    for pat in (r"#(\d+)", r"plan_id=(\d+)", r"RDD\[(\d+)\]"):
        ids: dict[str, int] = {}
        plan = re.sub(
            pat,
            lambda m: m.group(0).replace(
                m.group(1), str(ids.setdefault(m.group(1), len(ids) + 1))
            ),
            plan,
        )
    return plan


def section(name: str, df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = renumber(buf.getvalue().strip())
    return "\n".join([f"## {TITLES.get(name, name)}", "", "```", plan, "```", ""])


def read_sections(path: str) -> dict[str, str]:
    """PLANS.md split into {name: section text}, keyed by the first word of
    each ``## `` heading."""
    if not os.path.exists(path):
        return {}
    out: dict[str, str] = {}
    with open(path) as f:
        parts = re.split(r"^(?=## )", f.read(), flags=re.M)
    for part in parts[1:]:
        out[part[3:].split()[0]] = part.rstrip("\n") + "\n"
    return out


def flagship_df(spark):
    """The DataFrame run_stage writes to <out>/data, captured by wrapping
    DataFrameWriter.parquet for one run."""
    from pyspark.sql.readwriter import DataFrameWriter

    from pii_detection_service_spark.plans import stage
    from pii_detection_service_spark.sources.synth import synth_spark

    written = []
    parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        if path.endswith("/data"):
            written.append(self._df)
        return parquet(self, path, *args, **kwargs)

    DataFrameWriter.parquet = capture
    try:
        with tempfile.TemporaryDirectory() as out:
            stage.run_stage(
                spark, synth_spark(spark, 1000), os.path.join(out, "stage"),
                n_buckets=8, salt_factor=2,
            )
    finally:
        DataFrameWriter.parquet = parquet
    (df,) = written
    return df


def main():
    names = sys.argv[1:] or PICKS
    unknown = sorted(set(names) - set(PICKS))
    if unknown:
        print(f"unknown plan name(s): {', '.join(unknown)}")
        sys.exit(2)

    from pyspark.sql import SparkSession

    from pii_detection_service_spark import queries as q

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sections = read_sections("PLANS.md")
    for name in PICKS:
        if name in names:
            df = flagship_df(spark) if name == FLAGSHIP else q.SPARK_BUILDERS[name](spark, SF)
            sections[name] = section(name, df)

    with open("PLANS.md", "w") as f:
        f.write("\n".join([HEADER, ""] + [sections[n] for n in PICKS if n in sections]))
    print(f"wrote {len(names)} section(s) of PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()

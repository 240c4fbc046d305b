"""The benchmark's operations: timed ``plans.stage.run_stage`` calls for
the two stage workloads, and the ``operators.*`` query suite that every
traced run times once. Output checks, the full-evaluation guard and the
skip-layer variants live here too.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import time
import traceback

import numpy as np
import pandas as pd

from . import inputs, tracing

NPROC = len(os.sched_getaffinity(0))
SCALE_CORES = max(1, NPROC // 4)  # the N of the N -> 4N scaling pair
CHECK_SAMPLE = 256  # rows per run compared against udfs.score_batch
KERNEL_SAMPLE = 2000  # captions in the single-thread kernel timing
LONGEST_SAMPLE = 16  # longest captions added to the slowest-row timing
DROP_REASONS = (
    "too_short", "too_long", "too_few_words", "symbol_heavy", "repetitive",
    "bad_lang", "high_ppl",
)
# operators.* builders the traced run times. Left out: the two
# connected-components queries, dedup_crossmodal_clusters and dedup_clusters.
# Their round loops cost 6-11 s per pass whatever the data size, as much as
# the other seven together.
QUERIES = (
    "pipeline_score_documents", "dedup_minhash_signatures", "dedup_jaccard_candidates",
    "quality_gopher_dup", "events_sessionize", "ann_search_ivf_learned", "tfidf_top_terms",
)
WORKLOADS = tuple(inputs.STAGE_SPECS)


# --- Spark session ----------------------------------------------------------


def start_spark(cores: int, work: str):
    from pyspark.sql import SparkSession

    # -XX:-UsePerfData: the JVMs would otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # the environment variable, not spark.local.dir, wins when both are set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    for d in ("eventlog", "spark-local", "jtmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work}/jtmp -XX:-UsePerfData")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", "file://" + os.path.join(work, "eventlog"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process started and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def noop_write(df) -> None:
    """Full evaluation with no sink cost: every output column is computed."""
    df.write.format("noop").mode("overwrite").save()


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --- stage workloads ----------------------------------------------------------


class StageWorkload:
    def __init__(self, name: str, seed: int, work: str):
        self.name, self.seed, self.work = name, seed, work
        self.expected = None
        self.ops: list[dict] = []

    def generate(self):
        self.inp = inputs.stage_input(self.name, self.seed, self.work)

    def warm(self, spark, first_file_only: bool = False) -> None:
        """One untimed run_stage, so timed calls find the JVM compiled and
        the Python workers started. Over the full input unless
        ``first_file_only`` (enough once the JVM is warm)."""
        from pii_detection_service_spark.plans import stage

        src = f"{self.inp.path}/part-00000.parquet" if first_file_only else self.inp.path
        out = os.path.join(self.work, "warm_out")
        stage.run_stage(spark, spark.read.parquet(src), out,
                        n_buckets=inputs.N_BUCKETS, salt_factor=inputs.SALT)
        shutil.rmtree(out)

    def reference_plan(self, spark) -> dict:
        from pii_detection_service_spark.plans import stage

        src = spark.read.parquet(self.inp.path)
        df = stage.score(stage.with_bucket(src, inputs.N_BUCKETS))
        return tracing.plan_counts(df._jdf.queryExecution().executedPlan().treeString())

    def op(self, spark, spans=None, resume: inputs.ResumeSeed | None = None) -> dict:
        """One timed run_stage call into a fresh output directory, then the
        output checks. With ``resume``, the call instead resumes the
        prepared partial output through a ``file://`` URI."""
        from pii_detection_service_spark.plans import stage

        out = os.path.join(self.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        if resume:
            shutil.copytree(resume.out, out, copy_function=os.link)
        target = "file://" + out if resume else out
        pending = resume.pending_rows if resume else self.inp.rows
        src = spark.read.parquet(self.inp.path)
        rec = {"kind": "resume" if resume else "run_stage",
               "cores": spark.sparkContext.defaultParallelism,
               "traced": spans is not None, "problems": []}
        rec["t0"] = time.time()
        try:
            with contextlib.ExitStack() as stack:
                if spans is not None:
                    stack.enter_context(tracing.stage_spans(spans))
                    stack.enter_context(spans.span("run_stage"))
                    rec["span"] = len(spans.items) - 1
                m = stage.run_stage(spark, src, target, n_buckets=inputs.N_BUCKETS,
                                    salt_factor=inputs.SALT)
            rec["t1"] = time.time()
            rec["wall"] = rec["t1"] - rec["t0"]
            rec["rows_scored"] = m.get("rows", 0)
            rec["images_per_s"] = pending / rec["wall"]
            rec["rows_rescored_ratio"] = rec["rows_scored"] / pending
            rec["out_dir"] = out
            rec.update(self.check(out, rec["problems"]))
            if resume:
                rec["completed_buckets_seen"] = self._seen_by_stage(spark, resume)
        except Exception:
            rec.setdefault("t1", time.time())
            rec["problems"].append(traceback.format_exc(limit=3))
        self.ops.append(rec)
        return rec

    def _seen_by_stage(self, spark, resume: inputs.ResumeSeed) -> int:
        """Done buckets ``stage.completed_buckets`` reports for the prepared
        lineage at the URI the resumed call was given (re-prepared, since
        that call has appended to it)."""
        from pii_detection_service_spark.plans import stage

        out = os.path.join(self.work, "seen")
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(resume.out, out, copy_function=os.link)
        return stage.completed_buckets(spark, f"file://{out}/lineage").count()

    def check(self, out: str, problems: list) -> dict:
        """Written rows equal input rows with each image_id once; a seeded
        sample matches udfs.score_batch; write/lineage facts for the record."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from pii_detection_service_spark import udfs

        tbl = ds.dataset(f"{out}/data", format="parquet", partitioning="hive").to_table(
            columns=["image_id", "keep", "drop_reason", "n_pii", "scrubbed_caption"]
        )
        if tbl.num_rows != self.inp.rows:
            problems.append(f"wrote {tbl.num_rows} rows for {self.inp.rows} input rows")
        if pc.count_distinct(tbl.column("image_id")).as_py() != tbl.num_rows:
            problems.append("an image_id was written more than once")
        if self.expected is None:
            rng = np.random.default_rng([self.seed, 0xC4])
            ids = sorted(rng.choice(sorted(self.inp.captions), CHECK_SAMPLE, replace=False))
            exp = udfs.score_batch(pd.Series([self.inp.captions[i] for i in ids]))
            exp.index = ids
            self.expected = exp
        got = tbl.filter(pc.is_in(tbl.column("image_id"), pa.array(list(self.expected.index))))
        got = got.to_pandas().set_index("image_id").reindex(self.expected.index)
        for col in ("keep", "drop_reason", "n_pii", "scrubbed_caption"):
            if not (got[col].astype(object) == self.expected[col].astype(object)).all():
                problems.append(f"sampled {col} differs from udfs.score_batch")
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(f"{out}/data")
            for f in fs if f.endswith(".parquet") and not f.endswith("-seed.parquet")
        ]
        lineage = ds.dataset(f"{out}/lineage", format="parquet").to_table(columns=["bucket"])
        keep = tbl.column("keep").to_numpy(zero_copy_only=False)
        reasons = pd.Series(tbl.column("drop_reason").to_pylist()).value_counts()
        return {
            "files_written": len(files),
            "bytes_written": sum(os.path.getsize(f) for f in files),
            "lineage_dup_rows": lineage.num_rows - len(set(lineage.column("bucket").to_pylist())),
            "rows": {
                "rows.kept": int(keep.sum()),
                "rows.pii": int((tbl.column("n_pii").to_numpy() > 0).sum()),
                **{f"rows.drop.{r}": int(reasons.get(r, 0)) for r in DROP_REASONS},
            },
        }

    def variants(self, spark) -> dict:
        """Skip-layer variants on the same input, each fully evaluated into
        a noop sink, best of two: scan; + bucket; + Arrow hop with a no-op
        struct UDF of udfs.SCORE_DDL; + the real scoring UDF."""
        from pii_detection_service_spark import udfs
        from pii_detection_service_spark.plans import stage

        src = spark.read.parquet(self.inp.path)
        bucketed = lambda: stage.with_bucket(src, inputs.N_BUCKETS)  # noqa: E731
        plans = {
            "scan": lambda: src,
            "bucket": bucketed,
            "hop": lambda: _with_attr(udfs, "make_score_struct_udf", _noop_struct_udf,
                                      lambda: stage.score(bucketed())),
            "score": lambda: stage.score(bucketed()),
        }
        best = timed_variants(plans)
        return {
            "sources.scan_s": best["scan"],
            "stage.with_bucket_s": best["bucket"] - best["scan"],
            "udfs.arrow_hop_s": best["hop"] - best["bucket"],
            "udfs.score_s": best["score"] - best["hop"],
        }

    def kernel_sample(self) -> tuple[list[str], list[str]]:
        """A seeded caption sample for the per-row costs, and the input's
        longest distinct captions, where a hostile row sits if there is one
        (a random sample of the size used here would miss most of them)."""
        rng = np.random.default_rng([self.seed, 0xD5])
        caps = list(self.inp.captions.values())
        sample = [caps[i] for i in rng.choice(len(caps), min(KERNEL_SAMPLE, len(caps)), replace=False)]
        return sample, sorted(set(caps), key=len)[-LONGEST_SAMPLE:]

    def guard(self, ev: tracing.EventLog, ref: dict) -> None:
        """Full-evaluation guard: the executed data write of every timed
        run_stage keeps each Python-eval / Window / HOF node of stage.score."""
        for rec in self.ops:
            if "wall" not in rec:
                continue
            plans = ev.plans_between(rec["t0"], rec["t1"], f"{rec['out_dir']}/data")
            counts = [tracing.plan_counts(p) for p in plans]
            if not counts or not any(tracing.keeps_nodes(ref, c) for c in counts):
                rec["problems"].append(f"timed plan lost nodes of {ref}: {counts}")


def _with_attr(owner, attr, value, build):
    """Build a plan with ``owner.attr`` temporarily replaced."""
    orig = getattr(owner, attr)
    setattr(owner, attr, value)
    try:
        return build()
    finally:
        setattr(owner, attr, orig)


def _noop_struct_udf(*_models):
    """Stand-in for udfs.make_score_struct_udf: the same Arrow hop (caption
    in, SCORE_DDL struct out) with no scoring work."""
    from pyspark.sql.functions import pandas_udf

    from pii_detection_service_spark import udfs

    @pandas_udf(f"struct<{udfs.SCORE_DDL}>")
    def noop_score(captions: pd.Series) -> pd.DataFrame:
        n = len(captions)
        return _empty_scores(n, captions.index)

    return noop_score


def _empty_scores(n: int, index) -> pd.DataFrame:
    empty = [[] for _ in range(n)]
    return pd.DataFrame(
        {
            "lang": [""] * n, "ppl": np.zeros(n), "keep": np.ones(n, dtype=bool),
            "drop_reason": [""] * n, "tokens": empty, "labels": empty,
            "n_pii": np.zeros(n, dtype=np.int32), "n_toxic": np.zeros(n, dtype=np.int32),
            "scrubbed_caption": [""] * n,
        },
        index=index,
    )


def timed_variants(plans: dict) -> dict:
    """Best of two noop-sink writes of each plan."""
    best = {}
    for _ in range(2):
        for name, build in plans.items():
            df = build()
            t = time.perf_counter()
            noop_write(df)
            best[name] = min(best.get(name, float("inf")), time.perf_counter() - t)
    return best


# --- corpus_queries -----------------------------------------------------------

_DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def digest_frame(df):
    """One-row aggregate over a hash of every output column (doubles
    rounded to 6 places), so no column can be pruned from the plan."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    def col(f):
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, (T.DoubleType, T.FloatType)):
            return F.round(c, 6)
        if isinstance(t, T.ArrayType) and isinstance(t.elementType, (T.DoubleType, T.FloatType)):
            return F.transform(c, lambda x: F.round(x, 6))
        return c

    h = F.xxhash64(*[col(f) for f in df.schema.fields]).alias("pb_h")
    return df.select(h).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod("pb_h", F.lit(4294967291))).alias("s"),
        F.bit_xor("pb_h").alias("x"),
    )


class QuerySuite:
    """Registered ``operators.*`` builders over a fixed sf0.01-shaped corpus,
    in seeded order. Each is timed from the builder call, which includes
    eager work, through a digest that fully evaluates it."""

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        rng = np.random.default_rng([seed, 0xE6])
        self.order = [QUERIES[i] for i in rng.permutation(len(QUERIES))]
        with open(_DIGESTS) as f:
            self.digests = json.load(f)
        self.ops: list[dict] = []

    def generate(self):
        self.dir = inputs.corpus_input(self.work)

    def warm(self, spark) -> None:
        """One untimed suite pass: every query's first run in a session
        compiles its generated code."""
        n = len(self.ops)
        self.suite(spark)
        del self.ops[n:]

    def query(self, spark, name: str) -> dict:
        """Builder call (eager work included) through full evaluation."""
        from pii_detection_service_spark import queries

        rec = {"kind": "query", "name": name, "cores": spark.sparkContext.defaultParallelism,
               "problems": []}
        rec["t0"] = time.time()
        try:
            df = queries.SPARK_BUILDERS[name](spark, self.dir)
            rec["builder_s"] = time.time() - rec["t0"]
            row = digest_frame(df).collect()[0]
        except Exception:
            rec["t1"] = time.time()
            rec["problems"].append(traceback.format_exc(limit=3))
            self.ops.append(rec)
            return rec
        rec["t1"] = time.time()
        rec["wall"] = rec["t1"] - rec["t0"]
        rec["digest"] = [row["n"], row["s"], row["x"]]
        if rec["digest"] != self.digests.get(name):
            rec["problems"].append(f"digest {rec['digest']} != {self.digests.get(name)}")
        ref = tracing.plan_counts(df._jdf.queryExecution().executedPlan().treeString())
        timed = tracing.plan_counts(
            digest_frame(df)._jdf.queryExecution().executedPlan().treeString()
        )
        if not tracing.keeps_nodes(ref, timed):
            rec["problems"].append(f"timed plan {timed} lost nodes of {ref}")
        rec["plan_nodes"] = ref
        self.ops.append(rec)
        return rec

    def suite(self, spark) -> dict:
        """One pass in seeded order: name -> (builder_s, wall_s)."""
        recs = [self.query(spark, name) for name in self.order]
        return {r["name"]: (r.get("builder_s", 0.0), r.get("wall", 0.0)) for r in recs}

    def record_digests(self, spark) -> None:
        """Rewrite digests.json from one pass over the suite."""
        self.digests = {}
        for name in QUERIES:
            self.query(spark, name)
        with open(_DIGESTS, "w") as f:
            json.dump({r["name"]: r["digest"] for r in self.ops}, f, indent=1)
            f.write("\n")

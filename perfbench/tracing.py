"""Measurement from outside the program: spans around calls into the
layers' public functions, Spark's own event log, plan-node counts for the
full-evaluation guard, the process-tree RSS sampler and the single-thread
kernel timings."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import threading
import time

# --- spans ------------------------------------------------------------------


class Spans:
    """In-memory spans (name, start, end, parent) written out with the
    record when the run ends."""

    def __init__(self):
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.items)
        self.items.append(
            {"name": name, "start": time.time(), "end": None,
             "parent": self._stack[-1] if self._stack else None}
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.items[idx]["end"] = time.time()

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a spanning wrapper; returns an undo."""
        orig = getattr(owner, attr)

        def wrapped(*a, **kw):
            label = name(a) if callable(name) else name
            with self.span(label):
                return orig(*a, **kw)

        setattr(owner, attr, wrapped)
        return lambda: setattr(owner, attr, orig)


@contextlib.contextmanager
def stage_spans(spans: Spans):
    """Spans around every call ``run_stage`` makes into a layer: the
    ``plans.stage`` functions it looks up as module globals, and the Spark
    actions it triggers (reads, collects, writes)."""
    from pyspark.sql import readwriter
    from pyspark.sql.classic.dataframe import DataFrame

    from pii_detection_service_spark.plans import stage

    def write_name(a):
        return "write:" + str(a[1]).rstrip("/").rsplit("/", 1)[-1]

    undos = [
        spans.wrap(stage, "with_bucket", "stage.with_bucket"),
        spans.wrap(stage, "score", "stage.score"),
        spans.wrap(stage, "completed_buckets", "stage.completed_buckets"),
        spans.wrap(readwriter.DataFrameReader, "parquet", "sources.read"),
        spans.wrap(readwriter.DataFrameWriter, "parquet", write_name),
        spans.wrap(DataFrame, "collect", "spark.collect"),
    ]
    try:
        yield
    finally:
        for undo in reversed(undos):
            undo()


def stage_layers(spans: list[dict], op: int) -> dict:
    """Attribute one traced ``run_stage`` call (span index ``op``) to named
    layers by its direct child spans. Actions before the data write belong
    to the resume check or plan building; those after it to the
    lineage/metrics commit."""
    kids = [s for s in spans if s["parent"] == op]
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    data = next(s for s in kids if s["name"] == "write:data")
    before = [s for s in kids if s["end"] <= data["start"]]
    out = {
        "stage.completed_buckets_s": sum(
            dur(s) for s in before if s["name"] in ("stage.completed_buckets", "spark.collect")
        ),
        "stage.plan_s": sum(
            dur(s) for s in before if s["name"] in ("stage.with_bucket", "stage.score")
        ),
        "run_stage.write_s": dur(data),
        "run_stage.commit_s": sum(dur(s) for s in kids if s["start"] >= data["end"]),
    }
    out["run_stage.layer_coverage"] = sum(out.values()) / dur(spans[op])
    return out


# --- Spark event log ----------------------------------------------------------

_PY_NODES = {
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "ArrowWindowPython", "Window",
}


def plan_counts(tree: str) -> dict:
    """Python-eval / Window node counts and higher-order-function lambdas
    in a plan tree string (one node per line)."""
    counts: dict[str, int] = {}
    for line in tree.splitlines():
        m = re.match(r"^[\s:+\-*|]*(?:\(\d+\)\s*)?([A-Za-z]+)", line)
        if m and m.group(1) in _PY_NODES:
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    lam = tree.count("lambdafunction(")
    if lam:
        counts["lambdafunction"] = lam
    return counts


def plan_info_tree(info: dict, depth: int = 0) -> str:
    """Render an event-log ``sparkPlanInfo`` as a tree string."""
    lines = ["  " * depth + info.get("simpleString", info.get("nodeName", ""))]
    for child in info.get("children", []):
        lines.append(plan_info_tree(child, depth + 1))
    return "\n".join(lines)


def keeps_nodes(reference: dict, timed: dict) -> bool:
    return all(timed.get(k, 0) >= v for k, v in reference.items())


class EventLog:
    """The parts of Spark's JSON event log the benchmark reads: SQL
    executions with their plans, stage times, and per-task metrics."""

    def __init__(self, log_dir: str):
        self.executions: dict[tuple, dict] = {}
        self.stages: list[dict] = []
        self.tasks: dict[tuple, list] = {}
        for app, path in enumerate(sorted(glob.glob(os.path.join(log_dir, "*")))):
            with open(path) as f:
                for line in f:
                    self._event(app, json.loads(line))

    def _event(self, app: int, ev: dict) -> None:
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = self.executions.setdefault(
                (app, ev["executionId"]), {"time": ev.get("time"), "plans": []}
            )
            ex["plans"].append(plan_info_tree(ev["sparkPlanInfo"]))
            if ev.get("time"):
                ex["time"] = ev["time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stages.append(
                {
                    "key": (app, info["Stage ID"], info["Stage Attempt ID"]),
                    "start": info.get("Submission Time", 0) / 1000,
                    "end": info.get("Completion Time", 0) / 1000,
                }
            )
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            ti = ev["Task Info"]
            sr = tm.get("Shuffle Read Metrics", {})
            self.tasks.setdefault((app, ev["Stage ID"], ev["Stage Attempt ID"]), []).append(
                {
                    "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1000,
                    "ok": ev["Task End Reason"]["Reason"] == "Success",
                    "gc": tm.get("JVM GC Time", 0) / 1000,
                    "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    "sw": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    + sr.get("Total Records Read", 0),
                }
            )

    def plans_between(self, t0: float, t1: float, needle: str) -> list[str]:
        """Plan strings of SQL executions started in [t0, t1] (epoch s)
        whose plan mentions ``needle``."""
        out = []
        for ex in self.executions.values():
            if ex["time"] is not None and t0 * 1000 <= ex["time"] <= t1 * 1000:
                out.extend(p for p in ex["plans"] if needle in p)
        return out

    def stage_metrics(self, t0: float, t1: float) -> dict:
        """Task and stage metrics of every stage submitted in [t0, t1]. A
        stage that reads shuffle output is a reduce stage, any other a map
        stage. The skew is max/median task time of the longest reduce
        stage."""
        sel = [s for s in self.stages if t0 <= s["start"] <= t1]
        m = dict.fromkeys(
            ["run_stage.map_stage_s", "run_stage.reduce_stage_s",
             "run_stage.shuffle_write_bytes", "run_stage.spill_bytes",
             "run_stage.tasks_failed", "jvm.gc_s"], 0
        )
        slowest = (0.0, 1.0)
        for s in sel:
            tasks = self.tasks.get(s["key"], [])
            wall = s["end"] - s["start"]
            reduce = any(t["sr"] for t in tasks)
            m["run_stage.reduce_stage_s" if reduce else "run_stage.map_stage_s"] += wall
            m["run_stage.shuffle_write_bytes"] += sum(t["sw"] for t in tasks)
            m["run_stage.spill_bytes"] += sum(t["spill"] for t in tasks)
            m["run_stage.tasks_failed"] += sum(not t["ok"] for t in tasks)
            m["jvm.gc_s"] += sum(t["gc"] for t in tasks)
            durs = [t["dur"] for t in tasks]
            if reduce and wall > slowest[0]:
                slowest = (wall, max(durs) / max(statistics.median(durs), 1e-3))
        m["run_stage.reduce_task_skew"] = slowest[1]
        m["run_stage.spark_stages"] = len(sel)
        return m


# --- process-tree RSS -------------------------------------------------------


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, each shared page
    counted once: the sum of proportional set sizes. Plain RSS would count
    the pages that forked Python workers share with their daemon once per
    worker."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory of this process plus every descendant (the JVM
    and its Python workers), sampled every second on a daemon thread. One
    sample costs ~40 ms of kernel time (the JVM's page tables are walked),
    so sampling faster would slow the run it measures."""

    PERIOD_S = 1.0

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# --- single-thread kernel timings -----------------------------------------


def kernel_costs(captions: list[str], longest: list[str]) -> dict:
    """µs/row of each scoring component and of the fused batch over one
    caption sample, in this process, median of three passes. Assembly is
    the fused cost minus the components' sum, so it reads below zero when
    the host's noise over the four passes exceeds it. The slowest single tag
    is taken over the sample and the ``longest`` captions."""
    import pandas as pd

    from pii_detection_service_spark import udfs
    from pii_detection_service_spark.functions import quality, tagger

    n = len(captions)
    series = pd.Series(captions)
    runs: dict[str, list[float]] = {k: [] for k in ("ppl", "keep", "tag", "fused", "max_tag")}
    for _ in range(3):
        t = time.perf_counter()
        lp = [quality.lang_and_ppl(c) for c in captions]
        runs["ppl"].append(time.perf_counter() - t)
        t = time.perf_counter()
        for c, (lang, ppl) in zip(captions, lp):
            quality.keep_decision(c, lang, ppl)
        runs["keep"].append(time.perf_counter() - t)
        tag_times = []
        for c in captions + longest:
            t = time.perf_counter()
            tagger.tag_and_scrub(c)
            tag_times.append(time.perf_counter() - t)
        runs["tag"].append(sum(tag_times[:n]))
        runs["max_tag"].append(max(tag_times))
        t = time.perf_counter()
        udfs.score_batch(series)
        runs["fused"].append(time.perf_counter() - t)
    med = {k: statistics.median(v) for k, v in runs.items()}
    us = lambda s: s / n * 1e6  # noqa: E731
    return {
        "quality.lang_and_ppl_us": us(med["ppl"]),
        "quality.keep_decision_us": us(med["keep"]),
        "tagger.tag_and_scrub_us": us(med["tag"]),
        "udfs.score_batch_us": us(med["fused"]),
        "udfs.assembly_us": us(med["fused"] - med["ppl"] - med["keep"] - med["tag"]),
        "tagger.max_row_ms": med["max_tag"] * 1e3,
    }

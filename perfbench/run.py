"""Layered benchmark of the quality-filter stage.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The program is imported from that
checkout, and every file the run writes stays under ``.perfbench_work/``
there. Stdout gets one line per metric, then one JSON result line. The full
record (raw trials, spans, event-log stage metrics) goes to
``.perfbench_work/records/<workload>_s<seed>_t<trace>.json``.

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is a separate
run that times each layer from outside (see LAYERS.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpu_jiffies() -> list[int]:
    """Machine-wide user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _setup(wl, work: str):
    """Generate the seeded input three times (median reported), start Spark
    and make two untimed warm-up operations: the first compiles the JVM's
    code paths and starts the Python workers, and the second still runs
    well above the later calls' wall. Set-up time is the median generation
    plus session start plus warm-up."""
    from perfbench import workloads

    gens = []
    for _ in range(3):
        t = time.perf_counter()
        wl.generate()
        gens.append(time.perf_counter() - t)
    t = time.perf_counter()
    spark = workloads.start_spark(workloads.NPROC, work)
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    for _ in range(2):
        wl.warm(spark)
    warm_s = time.perf_counter() - t
    setup = {"gen_s": gens, "session_s": session_s, "warm_s": warm_s,
             "setup_s": statistics.median(gens) + session_s + warm_s}
    return spark, setup


def _loop(seconds: float, trace: bool, step, min_ops: int) -> None:
    """Closed loop: the next operation starts when the previous one ends,
    until ``seconds`` have passed and ``min_ops`` operations are done. A
    traced run alternates untraced and traced operations."""
    t0 = time.time()
    i = 0
    while True:
        step(trace and i % 2 == 1)
        i += 1
        if time.time() - t0 >= seconds and i >= min_ops:
            return


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from perfbench import inputs, tracing, workloads as W

    wl = W.StageWorkload(name, seed, work)
    spark, setup = _setup(wl, work)
    ref = wl.reference_plan(spark)
    spans = tracing.Spans()
    # a traced run needs one untraced and one traced call; a plain run five
    # calls for a steady median
    _loop(seconds, trace, lambda traced: wl.op(spark, spans if traced else None),
          min_ops=2 if trace else 5)
    layers, suite = {}, W.QuerySuite(seed, work)
    if trace:
        layers.update(wl.variants(spark))
        resumed = wl.op(spark, resume=inputs.resume_seed(wl.inp, seed, work))
        suite.generate()
        suite.warm(spark)
        queries = suite.suite(spark)
        spark.stop()
        spark = W.start_spark(W.SCALE_CORES, work)
        wl.warm(spark, first_file_only=True)
        wl.op(spark)
    spark.stop()  # completes the event log
    ev = tracing.EventLog(os.path.join(work, "eventlog"))
    wl.guard(ev, ref)

    fresh = [r for r in wl.ops if r["kind"] == "run_stage" and not r["problems"]]
    full = [r for r in fresh if r["cores"] == W.NPROC]
    plain = [r for r in full if not r["traced"]]
    metrics = {"images_per_s": W.median([r["images_per_s"] for r in plain]),
               "out_bytes_per_in_byte": W.median([r["bytes_written"] for r in plain])
               / wl.inp.in_bytes,
               "setup_s": setup["setup_s"]}
    if trace:
        traced = [r for r in full if r["traced"]]
        last = traced[-1]
        layers.update(ev.stage_metrics(last["t0"], last["t1"]))
        layers.update(tracing.stage_layers(spans.items, last["span"]))
        layers.update(tracing.kernel_costs(*wl.kernel_sample()))
        layers.update(last["rows"])
        scaled = [r["images_per_s"] for r in fresh if r["cores"] == W.SCALE_CORES]
        layers["scaling_eff_n_4n"] = metrics["images_per_s"] / (
            W.NPROC / W.SCALE_CORES * W.median(scaled))
        layers["trace.overhead_s"] = (W.median([r["wall"] for r in traced])
                                      - W.median([r["wall"] for r in plain]))
        layers["run_stage.files_written"] = last["files_written"]
        layers["run_stage.bytes_written"] = last["bytes_written"]
        layers["resume.images_per_s"] = resumed.get("images_per_s", 0.0)
        layers["run_stage.rows_rescored_ratio"] = resumed.get("rows_rescored_ratio", 0.0)
        layers["lineage.dup_rows"] = resumed.get("lineage_dup_rows", 0)
        layers["stage.completed_buckets_seen"] = resumed.get("completed_buckets_seen", 0)
        for q, (builder_s, wall) in queries.items():
            layers[f"queries.{q}_builder_s"] = builder_s
            layers[f"queries.{q}_s"] = wall
        layers["queries.suite_s"] = sum(wall for _, wall in queries.values())
    return {
        "metrics": metrics, "layers": layers, "setup": setup, "ops": wl.ops + suite.ops,
        "spans": spans.items, "reference_plan": ref, "query_order": suite.order,
        "input": {"rows": wl.inp.rows, "in_bytes": wl.inp.in_bytes},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pii_detection_service_spark")):
        print(f"no pii_detection_service_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)
    from perfbench import tracing, workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {W.WORKLOADS}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    cpu0 = _cpu_jiffies()
    try:
        with tracing.RssSampler() as rss:
            rec = run_workload(args.workload, args.seed, args.seconds, trace, work)
    finally:
        W.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    rec["metrics"]["peak_rss_mb"] = rss.peak / 2**20
    # steal: time the hypervisor ran something else; it explains slow runs
    rec["cpu_s"] = dict(zip(("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"),
                            ((b - a) / os.sysconf("SC_CLK_TCK") for a, b in zip(cpu0, _cpu_jiffies()))))

    attempted = len(rec["ops"])
    failed = sum(1 for r in rec["ops"] if r["problems"])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    source = rec["layers"] if trace else rec["metrics"]
    metrics = {k: {"value": float(source[k]), "unit": u} for k, u in units.items()}
    rec.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=trace,
               nproc=W.NPROC, scale_cores=W.SCALE_CORES, attempted=attempted, failed=failed)
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    path = os.path.join(base, "records", f"{args.workload}_s{args.seed}_t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, default=str)

    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine is imported from the checkout
this file sits in. Every run pins its own environment before Spark
starts: at most 4 cores, a per-run work directory (Spark local dirs,
temp files, generated inputs, sinks, checkpoints) that is removed when
the run ends, and the checkout on PYTHONPATH so the Python workers that
serve mapInPandas and pandas UDFs can import the engine.

--trace 0 prints the end-to-end metrics; --trace 1 records spans and
Spark counters, prints the per-layer metrics, and writes the spans to
.perfbench_traces/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CPUS = 4


def pin_environment(work: str) -> None:
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # no hsperfdata file in the system temp dir: the run writes only
        # inside its checkout
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    sys.path.insert(0, ROOT)


class Context:
    def __init__(self, args, work, tracer, sizes):
        self.sizes = sizes
        self.seed = args.seed
        self.seconds = args.seconds
        self.perturb = args.perturb
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = tracer
        self.t0 = T0
        self.spark = None
        self.stream_run_ids: list[str] = []


def layer_metrics(ctx, res, counters_snapshot, names) -> dict[str, float]:
    """Per-layer metrics of the timed region, per round (one query pass,
    or one micro-batch); a layer the workload does not use reads 0."""
    from spans import stage_totals

    import workloads

    tr = ctx.tracer
    jobs, stages = counters_snapshot
    n = len(res.round_s)
    pass_ids = {s.id for s in tr.find("pass")}

    def timed(s):
        while s.parent is not None:
            if s.parent in pass_ids:
                return True
            s = tr.spans[s.parent]
        return False

    jobs_of: dict[str, int] = {}
    for j in jobs.values():
        jobs_of[j["group"]] = jobs_of.get(j["group"], 0) + 1
    leaf = [s for s in tr.spans if s.name in ("construct", "action") and timed(s)]
    stream_groups = set(ctx.stream_run_ids)
    timed_groups = {s.group for s in leaf} | stream_groups
    tot = stage_totals(
        [sid for j in jobs.values() if j["group"] in timed_groups for sid in j["stages"]],
        stages,
    )

    m = dict.fromkeys(names, 0.0)
    for phase in ("construct", "action"):
        spans = [s for s in leaf if s.name == phase]
        m[f"plans.{phase}_s"] = sum(s.dur for s in spans) / n
        m[f"plans.{phase}_jobs"] = sum(jobs_of.get(s.group, 0) for s in spans) / n
        for q in workloads.CURATE_QUERIES:
            m[f"plans.{q}.{phase}_s"] = sum(s.dur for s in spans if s.attrs["query"] == q) / n
    for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        m[f"session.{k}"] = tot[k] / n
    m["sources.input_mb"] = tot["input_mb"] / n
    m["streaming.batch_jobs"] = sum(jobs_of.get(g, 0) for g in stream_groups) / n
    m.update(res.layers)
    m["trace.round_s"] = statistics.median(res.round_s)
    return m


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    ap.add_argument(
        "--perturb", action="store_true", help="corrupt one output row before checking"
    )
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "ds_caselaw_ingester_spark")):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    from spans import SparkCounters, Tracer

    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Context(args, work, tracer, workloads.TINY if args.tiny else workloads.Sizes())
    spark = None
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed):
            from ds_caselaw_ingester_spark.session import get_spark

            with tracer.span("session"):
                spark = get_spark("perfbench")
            ctx.spark = spark
            tracer.sc = spark.sparkContext
            with tracer.span("workload", workload=args.workload):
                res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            snap = SparkCounters(spark.sparkContext).snapshot()
            metrics = layer_metrics(ctx, res, snap, [m["name"] for m in spec["per_layer"]])
            tracer.dump(
                os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-{args.seed}.jsonl"),
                {"jobs": len(snap[0]), "stages": len(snap[1])},
            )
        else:
            metrics = {
                "setup_s": res.setup_s,
                "pass_s": statistics.median(res.round_s),
                "ops_per_s": res.timed_ops / res.timed_s,
                "driver_peak_rss_mb": res.peak_rss_mb,
            }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    for p in res.problems:
        print(f"check failed: {p}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not res.problems,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())

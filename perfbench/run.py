#!/usr/bin/env python3
"""Benchmark runner for the temperature lakehouse engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The runner generates the workload's
inputs from the seed, starts the engine's Spark session, runs the
measured pass and checks its outputs, then prints a human-readable
report followed by one JSON line (the last line of stdout):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are the per-layer metrics of a
traced run, which also measures the closed-loop parts untraced first
and reports the difference as tracing overhead. Everything the run writes
stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (the run's report and trace) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import phases
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "bytes_per_user_byte": "ratio",
}

SPANS = [
    "session.start",
    "sources.read",
    "schemas.validate",
    "operators.clean_hourly",
    "operators.daily_tmax",
    "operators.daily_tmax.write",
    "operators.features",
    "eval.load",
    "eval.fit_predict",
    "eval.report",
    "sql.insert",
    "sql.merge",
    "sql.update",
    "sql.delete",
    "sql.select",
    "sql.time_travel",
    "sql.optimize",
    "llm.quality",
    "llm.dedup.exact",
    "llm.dedup.minhash",
    "llm.embed",
    "llm.vector_index.build",
    "llm.vector_index.topk",
]
SPAN_FIELDS = {"self_s": "s", "jobs": "count", "tasks": "count", "driver_gap_s": "s"}

LAYER_EXTRA = {
    "sources.read.input_bytes": "B",
    "sources.read.files": "count",
    "operators.clean_hourly.shuffle_bytes": "B",
    "operators.daily_tmax.shuffle_bytes": "B",
    "operators.features.shuffle_bytes": "B",
    "table.versions": "count",
    "table.manifest_bytes": "B",
    "table.data_files": "count",
    "table.dv_files": "count",
    "table.bytes_on_disk": "B",
    "sql.optimize.bytes_rewritten": "B",
    "sql.select.files_read": "count",
    "llm.dedup.minhash.candidate_pairs": "count",
    "llm.dedup.minhash.useful_ratio": "ratio",
    "llm.vector_index.topk.candidates_scanned": "count",
    "llm.vector_index.topk.recall_at_k": "ratio",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.rows_per_batch": "count",
    "streaming.backlog_files": "count",
    "session.jvm_peak_rss_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_bytes": "B",
    "spark.driver_gap_s": "s",
    "bench.probe_s": "s",
    "bench.loadavg_1m": "load",
    "bench.generator_late_ms": "ms",
    "bench.trace_overhead_frac": "ratio",
}


# per-layer metrics read off a span's harvested counters
FROM_SPANS = {
    "sources.read.input_bytes": ("sources.read", "input_bytes"),
    "sources.read.files": ("sources.read", "files_read"),
    "operators.clean_hourly.shuffle_bytes": ("operators.clean_hourly", "shuffle_bytes"),
    "operators.daily_tmax.shuffle_bytes": ("operators.daily_tmax", "shuffle_bytes"),
    "operators.features.shuffle_bytes": ("operators.features", "shuffle_bytes"),
    "sql.select.files_read": ("sql.select", "files_read"),
    "llm.vector_index.topk.candidates_scanned": ("llm.vector_index.topk", "scan_rows"),
}


def per_layer_units() -> dict[str, str]:
    units = {f"{s}.{f}": u for s in SPANS for f, u in SPAN_FIELDS.items()}
    units.update(LAYER_EXTRA)
    return units


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    the run's work directory, and size the session to this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf spark.appStateStore.asyncTracking.enable=false",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def start_session(tracer):
    from temp_data_pipeline_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark)
        spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def shutdown() -> None:
    """Stop the session and the JVM the gateway launched, and wait for
    it to exit."""
    from pyspark import SparkContext

    from temp_data_pipeline_spark.session import stop_spark

    gateway = SparkContext._gateway
    stop_spark()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def phase_counters(spark, t0: float, t1: float) -> dict:
    """Spark totals of the jobs submitted inside [t0, t1]."""
    jobs = [j for j in tracing.spark_jobs(spark) if t0 <= j["t0"] <= t1]
    busy = tracing.union_length([(j["t0"], min(j["t1"], t1)) for j in jobs])
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.executor_cpu_s": sum(j["cpu_s"] for j in jobs),
        "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        "spark.driver_gap_s": (t1 - t0) - busy,
    }


def end_to_end(setup_s: float, out) -> dict:
    """The end-to-end metrics. ``op_p50_ms`` is the geometric mean of
    the median latency of each operation group the workload reports
    (every sample of a group pooled), so a change to one group moves
    it by that group's ratio to the power 1/groups."""
    return {
        "setup_s": setup_s,
        "op_p50_ms": phases.geomean([phases.pct(v, 50) for v in out.latency_ms.values()]),
        "bytes_per_user_byte": out.disk_bytes / out.user_bytes if out.user_bytes else float("nan"),
    }


def set_up(wl, ctx, tracer) -> dict:
    """Session start, input generation and engine-side preparation,
    repeated (the first repetition also launches the JVM), then one
    warm-up pass of the workload. setup_s = median repetition + warm-up.
    Only the last repetition is traced: a restart clears the status
    store."""
    from temp_data_pipeline_spark.session import stop_spark

    times = []
    for rep in range(SETUP_REPS):
        last = rep == SETUP_REPS - 1
        t0 = time.perf_counter()
        ctx.spark = start_session(tracer if last else tracing.Tracer(None, False))
        inputs = os.path.join(ctx.work, f"inputs-{rep}")
        info = wl.generate(ctx, inputs)
        wl.prepare(ctx, inputs)
        times.append(time.perf_counter() - t0)
        if not last:
            stop_spark()
            shutil.rmtree(inputs, ignore_errors=True)
    enabled, tracer.enabled = tracer.enabled, False
    t0 = time.perf_counter()
    wl.warm_up(ctx)
    warm_up_s = time.perf_counter() - t0
    tracer.enabled = enabled
    return {
        "inputs_dir": inputs,
        "inputs": info,
        "setup_times_s": times,
        "warm_up_s": warm_up_s,
        "setup_s": statistics.median(times) + warm_up_s,
    }


def per_layer(tracer, ctx, out, conditions: dict, window: tuple[float, float], overhead: float) -> dict:
    """Every per-layer metric of a traced pass; a span the workload never
    opened reads 0."""
    units = per_layer_units()
    layer = {k: 0.0 for k in units}
    harvest = tracer.harvest()
    for name, row in harvest.items():
        for f in SPAN_FIELDS:
            layer[f"{name}.{f}"] = row[f]
    for metric, (name, f) in FROM_SPANS.items():
        if name in harvest:
            layer[metric] = harvest[name][f]
    layer.update(out.layer)
    layer.update(phase_counters(ctx.spark, *window))
    layer.update(conditions)
    layer["session.jvm_peak_rss_mb"] = tracing.jvm_peak_rss_mb(ctx.spark)
    layer["bench.trace_overhead_frac"] = overhead
    return {k: float(layer[k]) for k in units}


def run(args) -> dict:
    if args.workload not in phases.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(phases.WORKLOADS)}")
    wl = phases.Workload(args.workload, phases.WORKLOADS[args.workload])
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(outdir, exist_ok=True)
    configure_env(work)
    tracer = tracing.Tracer(None, bool(args.trace))
    ctx = phases.Ctx(work=work, seed=args.seed, seconds=args.seconds, tracer=tracer)
    try:
        setup = set_up(wl, ctx, tracer)
        conditions = {"bench.probe_s": tracing.cpu_probe(), "bench.loadavg_1m": os.getloadavg()[0]}
        if args.trace:
            # the closed-loop parts untraced first, then the whole pass
            # traced on fresh state
            tracer.enabled = False
            plain = wl.run(ctx, "plain", closed_loop_only=True)
            plain_s = sum(wl.walls.values())
            tracer.enabled = True
            wl.prepare(ctx, setup["inputs_dir"])
        t0w, t0 = time.time(), time.perf_counter()
        out = wl.run(ctx, "measured")
        wall = time.perf_counter() - t0
        window = (t0w, time.time())
        conditions = {
            "bench.probe_s": max(conditions["bench.probe_s"], tracing.cpu_probe()),
            "bench.loadavg_1m": max(conditions["bench.loadavg_1m"], os.getloadavg()[0]),
        }
        e2e = end_to_end(setup["setup_s"], out)
        detail = {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in out.detail.items()}
        detail["failed_frac"] = {"value": ctx.failed / max(1, ctx.attempted), "unit": "ratio", "n": ctx.attempted}
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            **{k: v for k, v in setup.items() if k != "inputs_dir"},
            "measured_wall_s": wall,
            "groups": {k: {"p50_ms": phases.pct(v, 50), "n": len(v)} for k, v in out.latency_ms.items()},
            "end_to_end": e2e,
            "detail": detail,
            "conditions": conditions,
            "failures": ctx.failures[:20],
        }
        if args.trace:
            traced_s = sum(wl.walls[p.name] for p in wl.parts if p.closed_loop)
            layer = per_layer(tracer, ctx, out, conditions, window, traced_s / plain_s - 1.0)
            report.update(
                per_layer=layer,
                untraced={
                    "wall_s": plain_s,
                    "traced_wall_s": traced_s,
                    "groups": {k: phases.pct(v, 50) for k, v in plain.latency_ms.items()},
                },
                spans=tracer.tree(),
            )
            metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer_units().items()}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        path = os.path.join(outdir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(path, "w") as f:
            json.dump(report, f, indent=1, default=str)
        print_report(report)
        return {
            "correct": ctx.failed == 0,
            "attempted": int(ctx.attempted),
            "failed": int(ctx.failed),
            "metrics": metrics,
        }
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)


def print_report(report: dict) -> None:
    print(f"workload {report['workload']} seed {report['seed']} seconds {report['seconds']}")
    print(f"  inputs: {json.dumps(report['inputs'], default=str)[:300]}")
    print("  setup_s reps: " + ", ".join(f"{t:.3f}" for t in report["setup_times_s"]))
    print(f"  warm-up pass: {report['warm_up_s']:.3f}")
    for k, v in report["end_to_end"].items():
        print(f"  {k:<24} {v:14.4f}")
    for k, d in report["groups"].items():
        print(f"  group {k:<18} {d['p50_ms']:14.4f} ms      n={d['n']}")
    for k, d in report["detail"].items():
        print(f"  {k:<24} {d['value']:14.4f} {d['unit']:<7} n={d['n']}")
    for k, v in report["conditions"].items():
        print(f"  {k:<24} {v:14.4f}")
    if "per_layer" in report:
        print(f"  tracing overhead: {report['per_layer']['bench.trace_overhead_frac']:+.3f}")
    for msg in report["failures"]:
        print(f"  FAILED: {msg}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "temp_data_pipeline_spark")):
        print(f"engine package temp_data_pipeline_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The lakehouse engine's benchmark: one closed-loop client in one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the engine. It generates its input
tables from ``--seed`` (``gen.py``), starts a Spark session on
``local[$SPARK_GRAFT_CPUS]`` (default: every core), builds the workload's
fixtures, runs untimed warm-up passes that check every output against
DuckDB, then measures the number of whole passes that fills
``--seconds`` on the reference host (a fixed count, so a slower host
measures the same work). Everything it writes stays under
``.perfbench_work/`` in the checkout and is removed at the end.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics: the measuring time is split
into an untraced half and a traced half (spans, Spark stage counters,
Catalyst phases, streaming progress), so the tracing overhead is measured in
the same process. The line before it is a full report (environment record,
every metric with its sample counts, per-layer summaries and self times);
``--trace 1`` also writes the spans to ``.perfbench_work/spans-*.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from probe import cpu_seconds, host_cpu_ticks, median, peak_rss_mb, tail  # noqa: E402

DEFAULT_SF = 0.01

# Metrics printed on the last line, with their units: END_TO_END (bounded in
# BENCHMARK.json) untraced, PER_LAYER traced. Each applies to every
# workload. setup_s is wall time; cpu_s_per_op is the CPU time of the
# process tree (``probe.cpu_seconds``) rather than a wall-clock throughput
# or latency, which spread up to twice as much over ten seeds on a shared
# 4-core host (README.md). The full report carries every end-to-end metric
# of the workload, wall-clock ones included.
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "sources.load_tables_s": "s",
    "query.construct_s": "s",
    "query.construct_jobs": "count",
    "query.action_s": "s",
    "query.action_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "plans.ckpt.released": "count",
    "plans.ckpt.release_s": "s",
    "plans.ckpt.pinned_rdds": "count",
    "trace.ops_per_s_overhead": "1/s",
}
SETUP_LAYERS = ("session.start_s", "registry.import_s", "sources.load_tables_s")
# Per-layer metrics printed as their total over the traced window rather
# than their median per operation: only the iterative queries register run
# checkpoints, so the median operation releases none.
SUMMED = ("plans.ckpt.released", "plans.ckpt.release_s", "plans.ckpt.pinned_rdds")


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _parse(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=DEFAULT_SF, help="input scale factor")
    p.add_argument(
        "--inject-miscount",
        action="store_true",
        help="self-test only: expect one row too many from the first query",
    )
    return p.parse_args(argv)


def _start_spark(workload: str, work: str):
    from nyc_taxi_lakehouse_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{workload}",
        warehouse_dir=os.path.join(work, "warehouse"),
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM PySpark launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _unit(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_frac", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _summaries(records) -> dict:
    """Median, sum, sample count and unit of every layer value over
    ``records``."""
    values: dict[str, list] = {}
    for r in records:
        for k, v in r.layers.items():
            values.setdefault(k, []).append(v)
    return {
        k: {"median": median(vs), "sum": sum(vs), "n": len(vs), "unit": _unit(k)}
        for k, vs in values.items()
    }


def _end_to_end(report: dict, window: dict, has_writes: bool) -> dict:
    """Every end-to-end metric that applies to the workload, by name, with
    its unit; the tails also carry their percentile and sample count."""
    out = {
        "setup_s": {"value": report["setup_wall_s"], "unit": "s"},
        "setup_cpu_s": {"value": report["setup_cpu_s"], "unit": "s"},
        "ops_per_s": {"value": window["ops_per_s"], "unit": "1/s"},
        "cpu_s_per_op": {"value": window["cpu_s_per_op"], "unit": "s"},
        "read_p50_s": {"value": window["read_p50_s"], "unit": "s"},
        "read_tail_s": {**window["read_tail"], "unit": "s"},
        "peak_rss_mb": {"value": report["peak_rss_mb"], "unit": "MiB"},
        "error_rate": {"value": report["error_rate"], "unit": "ratio"},
    }
    if has_writes:
        out["write_p50_s"] = {"value": window["write_p50_s"], "unit": "s"}
        out["write_tail_s"] = {**window["write_tail"], "unit": "s"}
        out["input_rows_per_s"] = {"value": window["input_rows_per_s"], "unit": "rows/s"}
    return out


def _latencies(records) -> dict:
    """Per-operation latencies and CPU seconds by name, warm-up and timed
    apart."""
    out: dict[str, dict[str, list]] = {}
    for r in records:
        phase = "timed" if r.timed else "warmup"
        by = out.setdefault(r.name, {"warmup": [], "timed": [], "timed_cpu_s": []})
        by[phase].append(round(r.latency_s, 4))
        if r.timed:
            by["timed_cpu_s"].append(round(r.cpu_s, 3))
    return out


def _window(records, wall: float) -> dict:
    reads = [r.latency_s for r in records if r.kind == "read"]
    writes = [r.latency_s for r in records if r.kind == "write"]
    return {
        "cpu_s_per_op": sum(r.cpu_s for r in records) / len(records),
        "ops": len(records),
        "wall_s": wall,
        "ops_per_s": len(records) / wall,
        "read_p50_s": median(reads),
        "read_tail": tail(reads),
        "write_p50_s": median(writes),
        "write_tail": tail(writes),
        "input_rows_per_s": sum(r.input_rows for r in records) / wall,
    }


def bench(args, root: str, work: str) -> tuple[dict, dict]:
    from gen import write as gen_write
    from harness import Harness
    from workloads import WORKLOADS

    env = {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "sf": args.sf,
        "seed": args.seed,
        "loadavg_before": list(os.getloadavg()),
    }
    data_dir = os.path.join(work, "data")
    # Input generation is the benchmark's own work, not the engine's: it is
    # left out of the set-up figures.
    g0, gen_cpu0 = time.perf_counter(), cpu_seconds()
    gen_write(data_dir, args.seed, args.sf)
    gen_s, gen_cpu = time.perf_counter() - g0, cpu_seconds() - gen_cpu0

    t0 = time.perf_counter()
    spark = _start_spark(args.workload, work)
    setup = {"session.start_s": time.perf_counter() - t0}
    try:
        import pyspark

        env["pyspark"] = pyspark.__version__
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")

        t0 = time.perf_counter()
        from nyc_taxi_lakehouse_spark.registry import all_queries

        specs = all_queries()
        setup["registry.import_s"] = time.perf_counter() - t0

        from nyc_taxi_lakehouse_spark.sources.tables import load_tables
        from tests.oracle import duck_connection

        h = Harness(spark, args.workload)
        wl = WORKLOADS[args.workload](h, data_dir, work, args.seed)
        t0 = time.perf_counter()
        load_tables(spark, data_dir, wl.tables(specs))
        setup["sources.load_tables_s"] = time.perf_counter() - t0

        wl.inject_miscount = args.inject_miscount
        wl.setup(specs, duck_connection(data_dir))
        wl.warmup()
        setup_wall_s = _process_age_s() - gen_s
        setup_cpu = cpu_seconds() - gen_cpu

        windows = {}
        halves = [("untraced", False), ("traced", True)] if args.trace else [("untraced", False)]
        passes = wl.passes(args.seconds / len(halves))
        for label, traced in halves:
            h.set_trace(traced)
            first = len(h.records)
            host0 = host_cpu_ticks()
            wall = wl.measure(passes)
            host1 = host_cpu_ticks()
            windows[label] = _window(h.records[first:], wall)
            windows[label]["passes"] = passes
            busy = {k: host1[k] - host0[k] for k in host0}
            windows[label]["host_steal_frac"] = busy["steal"] / max(1, busy["busy"] + busy["steal"])
        peak = peak_rss_mb()
        env["loadavg_after"] = list(os.getloadavg())
    finally:
        _stop_spark(spark)

    env["host_overloaded"] = max(env["loadavg_before"][0], env["loadavg_after"][0]) > env["nproc"]
    attempted = len(h.records)
    failed = sum(not r.ok for r in h.records)
    main = windows["untraced"]
    report = {
        "workload": args.workload,
        "env": env,
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "failures": [f"{r.name}: {r.error}" for r in h.records if not r.ok][:20],
        "gen_s": gen_s,
        "setup_wall_s": setup_wall_s,
        "setup_cpu_s": setup_cpu,
        "setup_layers": {**setup, **wl.setup_layers},
        "windows": windows,
        "peak_rss_mb": peak,
        "latencies": _latencies(h.records),
    }
    report["end_to_end"] = _end_to_end(report, main, main["write_p50_s"] is not None)
    report["end_to_end"].update(wl.extra_metrics())
    metrics = {k: report["end_to_end"][k]["value"] for k in END_TO_END}
    if args.trace:
        traced = [r for r in h.records if r.timed and r.traced]
        layers = _summaries(traced)
        report["layers"] = layers
        report["layers_by_op"] = {
            name: _summaries([r for r in traced if r.name == name])
            for name in dict.fromkeys(r.name for r in traced)
        }
        report["self_s"] = h.tracer.self_times()
        report["trace_overhead_ops_per_s"] = (
            windows["traced"]["ops_per_s"] - windows["untraced"]["ops_per_s"]
        )
        metrics = {k: setup[k] for k in SETUP_LAYERS}
        for k in PER_LAYER:
            if k not in metrics:
                stat = "sum" if k in SUMMED else "median"
                metrics[k] = layers.get(k, {}).get(stat) or 0.0
        metrics["trace.ops_per_s_overhead"] = report["trace_overhead_ops_per_s"]
        h.tracer.dump(os.path.join(root, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json"))
    return report, metrics


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "nyc_taxi_lakehouse_spark", "registry.py")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Keep every temporary file the engine, Spark and the JVM write inside the
    # checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    try:
        report, metrics = bench(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = {**END_TO_END, **PER_LAYER}
    print(json.dumps(report, default=float))
    print(
        json.dumps(
            {
                "correct": report["failed"] == 0,
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())

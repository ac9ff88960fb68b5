#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny scale (sf 0.001, 1 s of measuring).

    python3 perfbench/selftest.py

Run from the root of a checkout. For every workload it checks that an
untraced run prints every end-to-end metric and a traced run every
per-layer metric, each with its unit, that the full report carries the
workload's own metrics, that the checkpoint and streaming layers see work,
and that the outputs check out. It then injects a
wrong expected row count and checks that it shows up as a failed
operation. Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# End-to-end metrics each workload's full report must name, with a unit.
# The tails are null when a run has fewer than 11 samples.
_E2E = ["setup_s", "setup_cpu_s", "ops_per_s", "cpu_s_per_op", "read_p50_s", "read_tail_s", "peak_rss_mb", "error_rate"]
REPORT_E2E = {
    "marts_interactive": _E2E,
    "lake_etl_cdc": _E2E + ["write_p50_s", "write_tail_s", "input_rows_per_s", "space_amp"],
}
# Per-layer metrics each workload's traced report must carry besides PER_LAYER.
REPORT_ONLY = {
    "marts_interactive": [],
    "lake_etl_cdc": [
        "layers.versioned.append_s",
        "layers.versioned.merge_upsert_s",
        "layers.versioned.delete_where_s",
        "layers.versioned.compact_s",
        "layers.versioned.files_written",
        "layers.versioned.bytes_written",
        "layers.versioned.read_s",
        "layers.versioned.time_travel_read_s",
        "layers.versioned.pruned_read_s",
        "layers.versioned.prune_kept_frac",
        "layers.mor.delete_where_s",
        "layers.mor.read_s",
        "layers.pipelines.ingest_facts_s",
        "layers.pipelines.refresh_mart_s",
        "layers.streaming.cdc.drain_s",
        "layers.streaming.batches",
        "layers.streaming.add_batch_ms",
        "layers.streaming.get_batch_ms",
        "layers.streaming.query_planning_ms",
        "layers.streaming.wal_commit_ms",
        "layers.streaming.state_rows_peak",
        "layers.streaming.state_memory_bytes_peak",
        "setup_layers.streaming.replay.encode_s",
    ],
}

# (operation, layer metric) pairs that must be nonzero in a traced run:
# q_label_propagation releases its run checkpoint, and a CDC drain's Spark
# stages are attributed to the drain although they run under the stream's
# job group.
LAYERS_AT_WORK = {
    "marts_interactive": [("q_label_propagation", "plans.ckpt.released")],
    "lake_etl_cdc": [("streaming.cdc.drain", "spark.stages")],
}


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", "7",
        "--seconds", "1",
        "--trace", str(trace),
        "--sf", "0.001",
        *extra,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def _lookup(report: dict, dotted: str):
    head, _, rest = dotted.partition(".")
    node = report.get(head, {})
    return node.get(rest, {}).get("median") if head == "layers" else node.get(rest)


def main() -> int:
    problems = []
    for workload in WORKLOADS:
        for trace, names in ((0, END_TO_END), (1, PER_LAYER)):
            report, final = run(workload, trace)
            tag = f"{workload} --trace {trace}"
            if set(final) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: last line keys {sorted(final)}")
            if not final.get("correct") or final.get("failed"):
                problems.append(f"{tag}: outputs failed their checks: {report['failures']}")
            for name, unit in names.items():
                m = final["metrics"].get(name)
                if m is None or m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {name} missing or without unit {unit}: {m}")
            e2e = report["end_to_end"]
            for name in REPORT_E2E[workload]:
                if name not in e2e or "unit" not in e2e[name] or "value" not in e2e[name]:
                    problems.append(f"{tag}: report lacks end-to-end metric {name}")
            if trace:
                for dotted in REPORT_ONLY[workload]:
                    if not isinstance(_lookup(report, dotted), (int, float)):
                        problems.append(f"{tag}: report lacks {dotted}")
                for op, layer in LAYERS_AT_WORK[workload]:
                    got = report["layers_by_op"].get(op, {}).get(layer, {}).get("sum")
                    if not got:
                        problems.append(f"{tag}: {layer} of {op} is {got}, expected work")
            print(f"# checked {tag}", file=sys.stderr)
    report, final = run("marts_interactive", 0, "--inject-miscount")
    if final["failed"] < 1 or final["correct"]:
        problems.append(f"an injected wrong count did not fail an operation: {final}")
    for p in problems:
        print(f"FAIL {p}")
    print("selftest: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

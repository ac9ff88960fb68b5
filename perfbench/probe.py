"""Measurement helpers: latency summaries, spans, Spark job attribution,
Catalyst phases, Structured Streaming progress, and process CPU and memory.

Everything here observes the engine from outside, through Spark's public
status APIs (``statusTracker``, the local UI's REST API, a
``StreamingQueryListener``) and ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager


def tail(values: list[float]) -> dict:
    """Latency at the highest percentile with at least 10 samples beyond
    it (the 11th largest sample), with the percentile and sample count.
    With 10 samples or fewer there is no such percentile: value is None."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return {"value": None, "percentile": None, "n": n}
    k = n - 11
    return {"value": xs[k], "percentile": round(100.0 * (k + 1) / n, 2), "n": n}


def median(values: list[float]):
    return statistics.median(values) if values else None


# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent span id and operation id.
    A disabled tracer records nothing and costs one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the part
        of it covered by its children."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) - child_cover.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- Spark jobs, stages and Catalyst ------------------------------------------


class SparkProbe:
    """Per-operation Spark attribution. ``begin`` tags every job the
    operation starts with the job group ``<workload>:<op>:<i>``; the stage
    counters come from the local UI's REST API (trace mode only)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group: str | None = None

    def begin(self, group: str) -> None:
        self.group = group
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group: str | None = None) -> list[int]:
        """Jobs of ``group``, by default the current operation's."""
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group or self.group))

    def stage_totals(self, job_ids: list[int], timeout_s: float = 5.0) -> dict:
        """Sum stage counters over ``job_ids``. The status store is fed by
        an asynchronous listener, so poll until every stage has finished."""
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        totals = {
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "shuffle_write_bytes": 0,
            "input_bytes": 0,
        }
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/stages"
        deadline = time.monotonic() + timeout_s
        for sid in sorted(stage_ids):
            while True:
                attempts = self._get(f"{base}/{sid}?details=false")
                if attempts is None or all(
                    a["status"] in ("COMPLETE", "FAILED", "SKIPPED") for a in attempts
                ) or time.monotonic() > deadline:
                    break
                time.sleep(0.02)
            for a in attempts or []:
                if a["status"] != "COMPLETE":
                    continue
                totals["stages"] += 1
                totals["tasks"] += a["numCompleteTasks"]
                totals["executor_run_s"] += a["executorRunTime"] / 1000.0
                totals["shuffle_write_bytes"] += a["shuffleWriteBytes"]
                totals["input_bytes"] += a["inputBytes"]
        return totals

    @staticmethod
    def _get(url: str):
        try:
            with urllib.request.urlopen(url, timeout=5) as r:
                return json.load(r)
        except OSError:
            return None


def consume(df) -> tuple[int, object]:
    """Run ``df``'s own QueryExecution to completion and count its rows.

    This consumes every output column of the plan exactly as built (a
    ``count()`` would let the optimizer prune columns), and it leaves the
    QueryExecution that actually ran in hand, so its planning tracker can
    be read afterwards."""
    qe = df._jdf.queryExecution()
    return qe.toRdd().count(), qe


def catalyst_phases(qe) -> dict[str, float]:
    """analysis / optimization / planning milliseconds from the
    QueryPlanningTracker of the QueryExecution that ran."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# -- Structured Streaming -------------------------------------------------------


def make_stream_listener():
    """A StreamingQueryListener that keeps each progress event's batch id,
    phase durations and state-store size, in arrival order."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Recorder(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            states = p.stateOperators or []
            self.batches.append(
                {
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "input_rows": p.numInputRows,
                    "add_batch_ms": d.get("addBatch", 0),
                    "get_batch_ms": d.get("getBatch", 0),
                    "query_planning_ms": d.get("queryPlanning", 0),
                    "wal_commit_ms": d.get("walCommit", 0),
                    "state_rows": sum(s.numRowsTotal for s in states),
                    "state_memory_bytes": sum(s.memoryUsedBytes for s in states),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Recorder()


# -- process CPU, memory and host ----------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree() -> list[int]:
    todo, seen = [os.getpid()], []
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.append(pid)
            todo.extend(_children(pid))
    return seen


_TCK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """CPU seconds used so far by this process tree: utime + stime of
    every process, with its exited threads and reaped children (cutime +
    cstime), from /proc. This covers the Python driver and its workers and
    every JVM thread: Spark's scheduler, task and stream threads, the
    garbage collector and the JIT compiler."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TCK


def host_cpu_ticks() -> dict[str, int]:
    """Host-wide busy, idle and stolen ticks from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "idle": v[3] + v[4], "steal": v[7]}


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus every descendant
    (the JVM that PySpark launched), in MiB."""
    return sum(_vm_hwm_kb(p) for p in _tree()) / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total

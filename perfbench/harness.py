"""The closed-loop operation runner shared by every workload.

One client, one process: each operation starts only after the previous one
has finished. An operation is timed end to end, tagged with the Spark job
group ``<workload>:<op>:<i>``, checked, and recorded as a read or a write.
A wrong result, an exception, or a persisted RDD left pinned after
``release_run_checkpoints`` marks the operation failed.
"""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass, field

from probe import SparkProbe, Tracer, catalyst_phases, consume, cpu_seconds


class CheckFailed(Exception):
    pass


def expect(name: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{name}: got {got!r}, expected {want!r}")


@dataclass
class OpRecord:
    name: str
    kind: str  # "read" or "write"
    timed: bool
    latency_s: float
    cpu_s: float  # CPU seconds of the process tree, see probe.cpu_seconds
    ok: bool
    error: str | None = None
    traced: bool = False
    input_rows: int = 0
    layers: dict = field(default_factory=dict)


class Harness:
    def __init__(self, spark, workload: str):
        from nyc_taxi_lakehouse_spark.plans.ckpt import (
            persistent_rdd_count,
            release_run_checkpoints,
        )

        self.spark = spark
        self.workload = workload
        self.trace = False
        self.tracer = Tracer(False)
        self.probe = SparkProbe(spark)
        self._release = release_run_checkpoints
        self._pinned = lambda: persistent_rdd_count(spark)
        self.baseline_rdds = self._pinned()
        self.records: list[OpRecord] = []
        self.timed = False
        self.check_s = 0.0  # verification time spent inside the timed window
        # Job groups besides the operation's own whose jobs the operation
        # caused, e.g. a streaming query's run id: StreamExecution runs its
        # micro-batches under that job group, not the caller's.
        self.extra_groups: set[str] = set()
        self._seq = 0

    def set_trace(self, on: bool) -> None:
        self.trace = on
        self.tracer.enabled = on

    def span(self, name: str):
        return self.tracer.span(name)

    def run(self, name: str, kind: str, fn, check=None, input_rows: int = 0) -> OpRecord:
        """Run one operation. ``fn(layers)`` does the work and may fill the
        ``layers`` dict; ``check(result)`` verifies its output outside the
        timed interval and raises on a mismatch. ``input_rows`` is the
        number of source rows the operation consumes."""
        i = self._seq
        self._seq += 1
        layers: dict = {}
        self.extra_groups.clear()
        self.tracer.op_id = f"{self.workload}:{name}:{i}"
        self.probe.begin(self.tracer.op_id)
        err = None
        result = None
        cpu0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{name}"):
                result = fn(layers)
                with self.span("plans.ckpt.release"):
                    r0 = time.perf_counter()
                    layers["plans.ckpt.released"] = self._release()
                    layers["plans.ckpt.release_s"] = time.perf_counter() - r0
        except Exception as e:  # an operation failure is a measured outcome
            err = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
            self._release()
        latency = time.perf_counter() - t0
        cpu = cpu_seconds() - cpu0
        # Verification jobs run outside the operation's job group, so the
        # spark.* counters hold the operation's own work only.
        self.probe.end()
        c0 = time.perf_counter()
        pinned = self._pinned() - self.baseline_rdds
        layers["plans.ckpt.pinned_rdds"] = pinned
        if err is None and pinned > 0:
            err = f"{pinned} persisted RDD(s) left pinned"
        if err is None and check is not None:
            try:
                check(result)
            except Exception as e:
                err = f"{type(e).__name__}: {e}"
        if self.trace:
            self._spark_layers(layers)
        if self.timed:
            self.check_s += time.perf_counter() - c0
        rec = OpRecord(
            name, kind, self.timed, latency, cpu, err is None, err, self.trace, input_rows, layers
        )
        if err is not None:
            print(f"# FAILED {self.tracer.op_id}: {err}", file=sys.stderr)
        self.records.append(rec)
        self.tracer.op_id = None
        return rec

    def query(self, build, layers: dict) -> int:
        """Build a DataFrame and consume it; records construction and
        action time and jobs, and the Catalyst phases of the plan that ran.
        Returns the row count."""
        jobs0 = self._jobs()
        with self.span("query.construct"):
            c0 = time.perf_counter()
            df = build()
            layers["query.construct_s"] = time.perf_counter() - c0
        jobs1 = self._jobs()
        with self.span("query.action"):
            a0 = time.perf_counter()
            rows, qe = consume(df)
            layers["query.action_s"] = time.perf_counter() - a0
        if self.trace:
            jobs2 = self._jobs()
            layers["query.construct_jobs"] = len(jobs1 - jobs0)
            layers["query.action_jobs"] = len(jobs2 - jobs1)
            for phase, ms in catalyst_phases(qe).items():
                layers[f"catalyst.{phase}_ms"] = ms
        return rows

    def _jobs(self) -> set:
        return set(self.probe.job_ids()) if self.trace else set()

    def _spark_layers(self, layers: dict) -> None:
        jobs = self.probe.job_ids()
        for group in self.extra_groups:
            jobs += self.probe.job_ids(group)
        totals = self.probe.stage_totals(jobs)
        for k, v in totals.items():
            layers[f"spark.{k}"] = v

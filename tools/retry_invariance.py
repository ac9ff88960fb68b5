#!/usr/bin/env python
"""Task-retry invariance harness (VERDICT r9 #2 — the never-measured
failure dimension).

On a real cluster, individual TASKS fail and re-execute routinely
(executor churn, preemption, speculative execution). A query whose
result depends on attempt-local state — unseeded per-task sampling,
attempt-dependent row order feeding collect_list/first, non-idempotent
accumulator side effects — passes every single-attempt test and then
silently corrupts results at scale. No oracle run can see it, because
the oracle path never retries.

This harness runs each selected query TWICE in a retry-capable session
(master local[N,F] with F>=2 task failures allowed — the default
local[*] kills the job on the first failure, which is why this runs in
its own process, not the shared test session):

1. clean — the normal query path (the oracle-verified plan);
2. injected — every source table wrapped in a schema-preserving
   mapInArrow pass-through that raises iff
   (TaskContext.partitionId() == 0 and attemptNumber() == 0), so the
   first attempt of the first partition of EVERY stage that executes a
   scan fails once and Spark re-attempts it.

PASS = the order-independent content hash (plans.invariance.content_hash)
matches between the two runs. The injection wrapper itself is a row-wise
identity, so ANY mismatch is attempt-dependent nondeterminism in the
query — a real scale bug.

Scope note: the probe exercises re-execution of scan-bearing stages
(including under AQE re-planning and inside the iterative loops' per-
round jobs). Reduce-side-only task retry is not separately injectable
without plan surgery; shuffle-fetch retry paths are exercised indirectly
when a failed map task's outputs are regenerated.

--speculation mode (VERDICT r10 #5) — the CONCURRENT-duplicate cousin of
the fail-once probe: instead of raising, the injected wrapper SLEEPS on
(partition 0, attempt 0), and the session runs with spark.speculation
armed aggressively (100ms interval, 0.1 quantile, 1.2 multiplier,
efficiency gate off) so the scheduler launches a duplicate attempt that
RACES the slow original to commit. Fail-once retry can never see
first-attempt-wins nondeterminism because attempt 0 never completes;
here both attempts complete and whichever commits first wins. A
speculative attempt can only be scheduled on a DIFFERENT host than the
running original (TaskSetManager skips same-host duplicates — measured:
local[N] and local-cluster never launch one), so this mode runs against
tools/spec_cluster.py's fake two-host standalone cluster (two workers on
distinct loopback addresses the scheduler compares as distinct hosts).
PASS = content hash identical to the clean run in the same session;
the sweep is non-vacuous only if the duplicate-attempt accumulator shows
speculative attempts actually executed probe code.

Usage:
  python tools/retry_invariance.py [--sf=sf0.01] [--queries=a,b,c]
                                   [--speculation] [--sleep=4.0]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_lakehouse_spark.plans.ckpt import release_run_checkpoints
from nyc_taxi_lakehouse_spark.plans.invariance import content_hash
from nyc_taxi_lakehouse_spark.registry import all_queries
from nyc_taxi_lakehouse_spark.session import get_spark
from nyc_taxi_lakehouse_spark.sources import tables as tables_mod

# Heavy, gate-bearing defaults: iterative loops (CC, pagerank, BFS),
# the big pair-join dedups, the production chain, and the join-dense
# analytics core — the plans where a retry seam would matter most.
DEFAULT_QUERIES = [
    "q_dedup_minhash",
    "q_dedup_chargram",
    "q_dedup_clusters",
    "q_dedup_prod_pipeline",
    "q_pagerank",
    "q_bfs_hops",
    "q_zone_performance",
    "q_ingest_clean",
]

INJECT = {"on": False}

# Speculation-mode plumbing: seconds the slow probe sleeps, and the
# accumulator counting probe executions by attempts > 0 (i.e. duplicate
# attempts the scheduler actually launched — the non-vacuousness signal).
SLEEP = {"s": 4.0}
DUP_ACC = None


def _fail_first_attempt(batches):
    from pyspark import TaskContext

    tc = TaskContext.get()
    if tc is not None and tc.partitionId() == 0 and tc.attemptNumber() == 0:
        raise RuntimeError(
            "retry_invariance: injected task fault (partition 0, attempt 0)"
        )
    yield from batches


def _make_slow_first_attempt(sleep_s: float, dup_acc):
    """Speculation probe: the ORIGINAL attempt of partition 0 stalls long
    enough for the armed scheduler to launch a duplicate on the other
    host; the duplicate (attempt > 0) runs at full speed — and usually
    wins the commit race — while bumping the duplicate counter. Updates
    from a LOSING result-task duplicate are dropped by the accumulator
    protocol, but the winner's always count, so acc > 0 ⇔ a duplicate
    attempt's output was actually consumed somewhere in the sweep."""

    def _slow_first_attempt(batches):
        import time as _time

        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is not None and tc.partitionId() == 0:
            if tc.attemptNumber() == 0:
                _time.sleep(sleep_s)
            else:
                dup_acc.add(1)
        yield from batches

    return _slow_first_attempt


def _install_injection(spark, probe=_fail_first_attempt):
    """Wrap load_tables so every source frame (and its temp view) goes
    through the injected probe when INJECT['on'] is set. Rebinds the
    symbol in every already-imported operator module — they from-import
    load_tables by name, so patching only the source module would miss
    them."""
    orig = tables_mod.load_tables

    def wrapped(spark, sf_dir, tables=None):
        out = orig(spark, sf_dir, tables)
        if not INJECT["on"]:
            return out
        for name, df in out.items():
            faulty = df.mapInArrow(probe, df.schema)
            faulty.createOrReplaceTempView(name)
            out[name] = faulty
        return out

    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("nyc_taxi_lakehouse_spark"):
            continue
        if getattr(mod, "load_tables", None) is orig:
            mod.load_tables = wrapped
    tables_mod.load_tables = wrapped


def _speculation_session(master_url: str, repo_root: str):
    """Cluster session with speculation armed aggressively. The
    efficiency gate (Spark 3.4+) would veto speculating the probe's
    sleeping task (its data-rate heuristics don't model a stall), so it
    is disabled; quantile/multiplier are set so one slow task among
    fast siblings triggers immediately."""
    return get_spark(
        app_name="speculation_invariance",
        master=master_url,
        extra_conf={
            "spark.driver.host": "127.0.0.1",
            "spark.executor.memory": "1500m",
            "spark.executor.cores": "4",
            "spark.speculation": "true",
            "spark.speculation.interval": "100ms",
            "spark.speculation.quantile": "0.1",
            "spark.speculation.multiplier": "1.2",
            "spark.speculation.efficiency.enabled": "false",
            # A stage must have a COMPLETED sibling before the scheduler
            # can judge a task slow (minFinishedForSpeculation), and the
            # bench-SF parquet files are small enough to scan as ONE
            # task — which can never speculate. Split scans into many
            # small tasks so every probed stage has fast siblings.
            "spark.sql.files.maxPartitionBytes": "65536",
            "spark.sql.files.openCostInBytes": "0",
            # Executors are separate JVMs whose python workers must
            # import this repo (registered UDF helpers) with the SAME
            # interpreter as the driver.
            "spark.executorEnv.PYTHONPATH": repo_root,
            "spark.pyspark.python": sys.executable,
        },
    )


def _sweep(spark, names: list[str], sf_dir: str, label: str) -> int:
    specs = all_queries()
    failures = 0
    for name in names:
        spec = specs[name]
        INJECT["on"] = False
        t0 = time.time()
        clean = content_hash(spec.fn(spark, sf_dir))
        release_run_checkpoints()
        t_clean = time.time() - t0
        INJECT["on"] = True
        try:
            t0 = time.time()
            injected = content_hash(spec.fn(spark, sf_dir))
            t_inj = time.time() - t0
            release_run_checkpoints()
        finally:
            INJECT["on"] = False
        ok = clean == injected
        failures += 0 if ok else 1
        print(
            f"{name}: {'PASS' if ok else 'FAIL'} "
            f"clean={clean} injected={injected} "
            f"({t_clean:.1f}s vs {t_inj:.1f}s under {label})",
            flush=True,
        )
    return failures


def main() -> int:
    sf = "sf0.01"
    names = list(DEFAULT_QUERIES)
    speculation = False
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf = a.split("=", 1)[1]
        elif a.startswith("--queries="):
            names = a.split("=", 1)[1].split(",")
        elif a == "--speculation":
            speculation = True
        elif a.startswith("--sleep="):
            SLEEP["s"] = float(a.split("=", 1)[1])
    sf_dir = f"/root/testdata/{sf}"
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    if speculation:
        global DUP_ACC
        from spec_cluster import fake_two_host_cluster

        with fake_two_host_cluster() as master_url:
            spark = _speculation_session(master_url, repo_root)
            spark.sparkContext.setLogLevel("ERROR")
            DUP_ACC = spark.sparkContext.accumulator(0)
            _install_injection(
                spark, _make_slow_first_attempt(SLEEP["s"], DUP_ACC)
            )
            failures = _sweep(spark, names, sf_dir, "speculation")
            dups = DUP_ACC.value
            print(
                f"== speculation invariance: {len(names) - failures}/"
                f"{len(names)} PASS; duplicate attempts executed: {dups} ==",
                flush=True,
            )
            spark.stop()
        if dups == 0:
            print(
                "VACUOUS: no speculative duplicate ever executed — the "
                "scheduler never raced an attempt; treat as failure",
                flush=True,
            )
            return 2
        return 1 if failures else 0

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    # THE load-bearing conf: allow task re-attempts. Default local[*]
    # aborts the job on the first task failure, so nothing would retry.
    spark = get_spark(
        app_name="retry_invariance", master=f"local[{cpus},3]"
    )
    spark.sparkContext.setLogLevel("ERROR")
    _install_injection(spark)
    failures = _sweep(spark, names, sf_dir, "retry")
    print(f"== retry invariance: {len(names) - failures}/{len(names)} PASS ==")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

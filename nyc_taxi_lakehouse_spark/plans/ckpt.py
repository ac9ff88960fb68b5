"""Checkpoint lifecycle for iterative operators and materialize-once tables.

Loops go through ``iterate``: it materializes each round (fused with the
round's convergence probe into one Spark action), evicts the superseded
round once the next one has materialized, releases the loop's inputs on
return and on every raise, and hands the final round to the caller, who
registers it (``register_run_checkpoint``) when the returned plan reads it
or evicts it (``evict_round_checkpoint``) when the result is a driver
value. Tables materialized once per query go through ``round_checkpoint``
and the same register-or-evict choice. No module outside this one calls
``localCheckpoint`` or ``checkpoint`` (tests/test_ckpt_lifecycle.py scans
for it), so this is the one place that decides when blocks die.

Why eviction matters: a long-lived session never released superseded
rounds on its own — their blocks stayed persisted until the driver GC'd
the Python frame and the async ContextCleaner caught up, which at decade
scale (sf1-equivalent) produced GC churn and repeat-run OOMs at the
default 8 GiB single-JVM heap.

Safety model: checkpoints TRUNCATE lineage, so an action on an evicted
frame fails LOUDLY (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) rather than
silently recomputing stale data — misplacing an evict is a crash in
tests, never a wrong answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Session conf that opts the iterative production loops into RELIABLE
# per-round checkpoints (VERDICT r9 #1). Local checkpoints TRUNCATE
# lineage into executor-memory blocks: the right default for a single
# JVM, but on a real cluster ANY executor loss mid-loop kills the job
# (fail-loud, never wrong — yet at 100 TB executor loss is routine, not
# exceptional, and a multi-hour CC/k-core/dedup run restarting from zero
# is an operational cost). With this conf set to "true" (and a checkpoint
# dir configured via sc.setCheckpointDir — HDFS-class storage on a
# cluster), round state goes through Dataset.checkpoint() instead:
# round files survive executor loss and the loop resumes from the last
# materialized round on task re-execution. Same eviction discipline:
# superseded rounds' checkpoint FILES are deleted eagerly, so the dir
# holds O(live rounds), not O(iterations). Measured overhead at sf0.1 is
# quoted in PLANS.md (reliable rounds pay a write+read of the round
# state vs memory-speed local blocks).
RELIABLE_CONF = "spark.lakehouse.checkpoint.reliable"

# Test injection point (failure-domain tests): called with the newly
# materialized checkpoint frame after every round_checkpoint. Lets the
# suite simulate an executor losing a round's blocks mid-loop — local
# mode must then fail LOUDLY (truncated lineage, no recompute path) and
# reliable mode must survive with identical results.
_post_checkpoint_hook = None


def _reliable(spark) -> bool:
    return str(spark.conf.get(RELIABLE_CONF, "false")).lower() == "true"


def round_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize one round of iterative-loop state.

    Default: ``localCheckpoint`` (executor-memory blocks, lineage
    truncated — O(1) plans, memory-speed, single-failure-domain). With
    session conf ``spark.lakehouse.checkpoint.reliable=true``: a
    RELIABLE ``Dataset.checkpoint()`` to the configured checkpoint dir,
    surviving executor loss at the cost of a round-state write+read.
    """
    spark = df.sparkSession
    if _reliable(spark):
        if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
            raise RuntimeError(
                f"{RELIABLE_CONF}=true but no checkpoint dir is set — call "
                "spark.sparkContext.setCheckpointDir(<fault-tolerant path>) "
                "first (HDFS/object-store on a cluster; reliable round "
                "state must live OUTSIDE the executors to survive their "
                "loss)."
            )
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=True)
    if _post_checkpoint_hook is not None:
        _post_checkpoint_hook(out)
    return out


def round_checkpoint_probe(df: DataFrame, probe):
    """Checkpoint one round AND evaluate a convergence probe with a single
    Spark action where that is safe (optimization r11, guide §1.2/§2.4:
    the iterative loops were job-count bound — every round paid one job to
    materialize the checkpoint and a second to read the convergence
    scalar off it).

    ``probe`` is a callable ``DataFrame -> value`` that must run exactly
    one action over the WHOLE frame (count / scalar aggregate — anything
    that scans every partition; a LIMIT probe would leave partitions
    unmaterialized and is rejected by the contract below).

    Local mode: ``localCheckpoint(eager=False)`` marks the plan's RDD for
    checkpointing, and the probe's action is the materializing scan — the
    partitions are persisted as they are computed, so one job both builds
    the round state and answers the probe. Reliable mode keeps the eager
    two-action form: a non-eager reliable ``Dataset.checkpoint()`` writes
    its files by RECOMPUTING the lineage at job end (the classic
    reliable-checkpoint gotcha), which would double the round's work.

    The failure-domain hook fires after materialization in both modes,
    preserving the kill-the-materialized-round injection contract.
    Returns ``(checkpointed_frame, probe_value)``.
    """
    if _reliable(df.sparkSession):
        out = round_checkpoint(df)  # eager; hook fires inside
        return out, probe(out)
    out = df.localCheckpoint(eager=False)
    value = probe(out)  # materializes the checkpoint blocks in this job
    if _post_checkpoint_hook is not None:
        _post_checkpoint_hook(out)
    return out, value


def deferred_round_checkpoint(df: DataFrame) -> DataFrame:
    """Round checkpoint whose materialization is deliberately DEFERRED to a
    downstream consumer in the same round (optimization r11, guide §1.2:
    the frontier loops paid one eager job per intermediate frame). Use when
    the round's fused probe action (round_checkpoint_probe over a union
    that CONTAINS this frame) is guaranteed to scan every partition — the
    probe job then materializes both checkpoints at once.

    Local mode: ``localCheckpoint(eager=False)``. Reliable mode keeps the
    eager form — a non-eager reliable ``Dataset.checkpoint()`` re-runs its
    lineage at job end to write the round files (the classic gotcha), so
    deferring would double the round's work there.
    """
    if _reliable(df.sparkSession):
        return round_checkpoint(df)
    out = df.localCheckpoint(eager=False)
    if _post_checkpoint_hook is not None:
        _post_checkpoint_hook(out)
    return out


def evict_round_checkpoint(df: DataFrame) -> None:
    """Release the storage behind a round_checkpoint()ed DataFrame.

    ``df`` must be the checkpointed frame itself (its analyzed plan is the
    LogicalRDD the checkpoint produced), not a transformation of one — the
    guard raises on anything else so a refactor that slips a projection in
    between fails red instead of silently leaking the blocks.

    Local checkpoints: non-blocking unpersist — the BlockManager frees the
    partitions asynchronously, which is fine because the next round's
    materialization has already completed by the time any caller invokes
    this. Reliable checkpoints: the superseded round's files are deleted
    from the checkpoint dir eagerly (the async ReferenceTracking cleaner
    only runs on driver GC, unbounded lag at decade scale) — an action on
    an evicted frame then fails loudly with a missing-checkpoint-file
    error, the same misuse-is-a-crash model as the local path.
    """
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        raise TypeError(
            "evict_round_checkpoint expects the checkpointed frame "
            f"itself; analyzed plan is {plan.getClass().getSimpleName()}, "
            "not LogicalRDD"
        )
    jrdd = plan.rdd()
    ckpt_file = jrdd.getCheckpointFile()
    if ckpt_file.isDefined():
        spark = df.sparkSession
        jvm = spark.sparkContext._jvm
        path = jvm.org.apache.hadoop.fs.Path(ckpt_file.get())
        fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        fs.delete(path, True)
    jrdd.unpersist(False)


def iterate(init, step, probe=None, *, rounds, until=None,
            must_converge=False, inputs=()):
    """Run an iterative loop over checkpointed round state.

    Round 0 is ``init``; round ``i`` (1..``rounds``) is ``step(state,
    value, i)`` over the previous round's checkpointed ``state`` and its
    probe ``value``. A step that returns None declares the previous round
    the fixpoint without running another one (an empty frontier, nothing
    left to peel). Each round is materialized in ONE Spark action
    together with ``probe`` (``round_checkpoint_probe``; the probe must
    scan the whole frame), or by an eager ``round_checkpoint`` with
    ``value`` None when there is no probe.

    After round ``i`` materialized, ``until((prev_state, prev_value),
    (state, value))`` decides whether it is the fixpoint; only then is the
    previous round evicted, so ``until`` may still read both frames. With
    ``must_converge`` set, a loop whose ``until`` never held within
    ``rounds`` raises RuntimeError (silent partial convergence would be a
    wrong answer); without it ``rounds`` is a budget. ``inputs`` are the
    caller's loop-internal checkpoints (edge sets, component tables),
    evicted on return and on every raise; a raise also evicts the live
    round, so a caller that catches and retries pins nothing.

    Returns ``(state, value, rounds_run)``. The final ``state`` is the
    caller's: register it when the returned plan reads it, evict it when
    the result is a driver value.
    """

    def materialize(df):
        if probe is None:
            return round_checkpoint(df), None
        return round_checkpoint_probe(df, probe)

    live = []  # materialized (state, value) rounds not yet evicted
    try:
        live.append(materialize(init))
        for i in range(1, rounds + 1):
            prev = live[-1]
            nxt = step(*prev, i)
            if nxt is None:
                return (*prev, i - 1)
            live.append(materialize(nxt))
            done = until is not None and until(prev, live[-1])
            evict_round_checkpoint(live.pop(0)[0])
            if done:
                return (*live[0], i)
        if must_converge:
            name = getattr(step, "__qualname__", "iterate")
            raise RuntimeError(
                f"{name.replace('.<locals>', '')} did not converge in "
                f"{rounds} rounds; raise the round budget"
            )
        return (*live[0], max(rounds, 0))
    except BaseException:
        for state, _ in live:
            evict_round_checkpoint(state)
        raise
    finally:
        for df in inputs:
            evict_round_checkpoint(df)


# ---------------------------------------------------------------------------
# Run-scoped materialize-once checkpoints (ADVICE r9): several queries
# checkpoint a table ONCE per invocation (the chargram keep table, the
# minhash signature view, the segment table) and the RETURNED plan still
# references it — so the query itself can never evict, and each
# invocation leaves one persisted RDD behind for the session's lifetime.
# Bounded per run, unbounded per session: a bench / oracle-gate session
# that builds these frames hundreds of times re-accumulates exactly the
# pinned-block growth the r8/r9 eviction campaign removed from the
# loops. The fix is a handoff: the query REGISTERS its materialize-once
# checkpoint here, and the harness RELEASES the registry after it has
# consumed the query's result (count/collect/toPandas), when the blocks
# are provably dead. Single-threaded by design — the harnesses (bench,
# oracle gates, scaling reports) run queries sequentially in-process.
# ---------------------------------------------------------------------------

_RUN_CHECKPOINTS: list[DataFrame] = []


def register_run_checkpoint(df: DataFrame) -> DataFrame:
    """Register a materialize-once checkpoint for post-consumption
    release; returns ``df`` so call sites can wrap in-line. The usual
    fail-loud model applies: releasing while a caller still holds the
    result frame makes that frame's next action crash (truncated
    lineage), never return stale data."""
    _RUN_CHECKPOINTS.append(df)
    return df


def release_run_checkpoints() -> int:
    """Evict every registered materialize-once checkpoint (harness call,
    after the current query's result has been consumed). Returns the
    number released. Unpersist is idempotent, so a double release is
    harmless; the LogicalRDD guard still raises on genuine misuse."""
    released = 0
    while _RUN_CHECKPOINTS:
        evict_round_checkpoint(_RUN_CHECKPOINTS.pop())
        released += 1
    return released


def persistent_rdd_count(spark) -> int:
    """Number of currently persisted RDDs in the JVM — the observable the
    checkpoint-lifecycle tests pin (bounded across rounds and across
    repeat runs, instead of growing by one per iteration)."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()

"""Failure-domain posture of the checkpoint-eviction campaign (VERDICT
r9 #1): round 9 made truncated-lineage localCheckpoints load-bearing in
every iterative pipeline. That is the right single-JVM default — but on
a cluster, executor loss at 100 TB is ROUTINE, and a local-checkpoint
round that loses its blocks has no recompute path. These tests pin both
halves of the contract by injecting mid-loop block loss:

- LOCAL mode: the loop must fail LOUDLY (CHECKPOINT_RDD_BLOCK_ID_NOT_
  FOUND) — never return a silently wrong answer from partial state.
- RELIABLE mode (spark.lakehouse.checkpoint.reliable=true + a checkpoint
  dir): the identical injection must be survivable — round state lives
  in checkpoint FILES outside executor memory, so the loop completes
  with results identical to an uninjected run, and superseded rounds'
  files are still evicted eagerly (the dir holds O(1) rounds, not
  O(iterations)).

The injection uses plans.ckpt._post_checkpoint_hook: after a chosen
round materializes, its storage blocks are blocking-unpersisted via the
JVM handle — exactly what losing the executor(s) holding them does to a
single-replica local checkpoint.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_lakehouse_spark.llm.dedup import (
    connected_components,
    kcore_members,
)
from nyc_taxi_lakehouse_spark.plans import ckpt
from nyc_taxi_lakehouse_spark.plans.ckpt import (
    RELIABLE_CONF,
    persistent_rdd_count,
    round_checkpoint,
)


from tests.conftest import geometric_path
from tests.conftest import path_edges as _path_edges


def _drop_blocks(df):
    """Simulate the executors holding this checkpoint's single-replica
    blocks dying: blocking unpersist through the JVM handle."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(True)


class _KillRound:
    """Hook that destroys the k-th round_checkpoint's blocks right after
    it materializes — before the loop's next action consumes it."""

    def __init__(self, k: int):
        self.k = k
        self.calls = 0

    def __call__(self, df):
        self.calls += 1
        if self.calls == self.k:
            _drop_blocks(df)


@pytest.fixture
def reliable(spark, tmp_path):
    """Opt the session into reliable round checkpoints for one test."""
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    spark.conf.set(RELIABLE_CONF, "true")
    try:
        yield str(tmp_path)
    finally:
        spark.conf.set(RELIABLE_CONF, "false")


@pytest.fixture(autouse=True)
def _clear_hook():
    try:
        yield
    finally:
        ckpt._post_checkpoint_hook = None


def test_local_mode_block_loss_fails_loudly_never_wrong(spark):
    spark.conf.set(RELIABLE_CONF, "false")
    edges, verts = geometric_path(spark, 16)  # stays in propagation
    # call 1 = edge checkpoint, 2 = initial labels, 3+ = per-round labels:
    # kill a mid-loop round so the next round reads lost state.
    ckpt._post_checkpoint_hook = _KillRound(4)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        connected_components(edges, verts, max_iter=25).count()


def test_local_mode_star_loop_block_loss_fails_loudly(spark):
    spark.conf.set(RELIABLE_CONF, "false")
    edges = _path_edges(spark, 64)
    ckpt._post_checkpoint_hook = _KillRound(4)  # first contraction round
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        verts = spark.range(64).withColumnRenamed("id", "doc_id")
        connected_components(edges, verts).count()


def test_reliable_mode_survives_the_same_injection(spark, reliable):
    edges, verts = geometric_path(spark, 16)  # stays in propagation

    # Baseline WITHOUT injection, same (reliable) mode.
    expect = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(edges, verts, max_iter=25).collect()
    )

    ckpt._post_checkpoint_hook = _KillRound(4)
    got = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(edges, verts, max_iter=25).collect()
    )
    assert got == expect
    assert len(got) == 16 and {c for _, c in got} == {0}


def test_reliable_mode_kcore_survives_injection(spark, reliable):
    edges = _path_edges(spark, 24)
    expect = sorted(
        r["node"] for r in kcore_members(edges, k=2, rounds=3).collect()
    )
    ckpt._post_checkpoint_hook = _KillRound(3)  # a mid-peel degree round
    got = sorted(
        r["node"] for r in kcore_members(edges, k=2, rounds=3).collect()
    )
    assert got == expect


def test_reliable_guard_message_names_the_fix(spark, tmp_path, monkeypatch):
    """No checkpoint dir + reliable conf => actionable RuntimeError."""
    spark.conf.set(RELIABLE_CONF, "true")
    try:
        empty_opt = spark.sparkContext._jvm.scala.Option.empty()
        real_sc = spark.sparkContext._jsc.sc()

        class _FakeScalaSc:
            def getCheckpointDir(self):
                return empty_opt

            def __getattr__(self, item):
                return getattr(real_sc, item)

        class _FakeJsc:
            def sc(self):
                return _FakeScalaSc()

            def __getattr__(self, item):
                return getattr(spark.sparkContext._jsc, item)

        monkeypatch.setattr(spark.sparkContext, "_jsc", _FakeJsc())
        with pytest.raises(RuntimeError, match="setCheckpointDir"):
            round_checkpoint(spark.range(5))
    finally:
        spark.conf.set(RELIABLE_CONF, "false")


def test_reliable_mode_evicts_superseded_round_files(spark, reliable):
    """The eviction discipline carries over: superseded reliable rounds'
    FILES are deleted eagerly, so a long loop's checkpoint dir holds
    O(live rounds), not O(iterations)."""
    edges, verts = geometric_path(spark, 24)  # 24 min-label rounds
    out = connected_components(edges, verts, max_iter=40)
    assert out.count() == 24
    rdd_dirs = glob.glob(os.path.join(reliable, "*", "rdd-*"))
    # only the FINAL labels round (referenced by the returned plan) may
    # keep its files; ~24 leaked round dirs would mean eviction is lost
    assert len(rdd_dirs) <= 1, rdd_dirs


def test_reliable_mode_bounded_persistent_rdds(spark, reliable):
    """Reliable rounds must not ALSO pin block-manager entries: the
    persistent-RDD bound the r9 lifecycle tests pin for local mode holds
    unchanged under the opt-in."""
    edges, verts = geometric_path(spark, 24)
    before = persistent_rdd_count(spark)
    out = connected_components(edges, verts, max_iter=40)
    assert out.count() == 24
    assert persistent_rdd_count(spark) - before <= 1


def test_local_mode_results_match_reliable_mode(spark, tmp_path):
    """Mode changes durability, never answers: identical cluster labels
    from both modes on a multi-component graph."""
    half = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (5, 6), (6, 7), (7, 8)],
        "src LONG, dst LONG",
    )
    edges = half.unionByName(half.selectExpr("dst AS src", "src AS dst"))
    verts = spark.range(9).withColumnRenamed("id", "doc_id")

    spark.conf.set(RELIABLE_CONF, "false")
    local = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(edges, verts).collect()
    )
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    spark.conf.set(RELIABLE_CONF, "true")
    try:
        rel = sorted(
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(edges, verts).collect()
        )
    finally:
        spark.conf.set(RELIABLE_CONF, "false")
    assert local == rel
    assert {c for _, c in local} == {0, 3, 5}


def test_hits_penultimate_round_is_live(spark):
    """ADVICE r10 adjudicated (graph.py q_hits tail depth): the advice
    claimed rawh[last-1] is dead at loop exit because round_checkpoint
    truncates lineage, so the tail could shrink to 1. It cannot: the
    returned auth leg is the FINAL iteration's uncheckpointed lazy
    half-step over hub_{last-1} — a projection of rawh[last-1] —
    and truncation severs only each rawh's own UPSTREAM lineage, never a
    downstream reader. Pin the liveness via the fail-loud model: evicting
    rawh[last-1] after the query returns must crash the returned plan's
    action. If a future refactor genuinely kills the reference (e.g. by
    checkpointing the final auth), this test flips red and the tail can
    then shrink to 1 deliberately."""
    from nyc_taxi_lakehouse_spark.plans.ckpt import release_run_checkpoints
    from nyc_taxi_lakehouse_spark.registry import all_queries

    spark.conf.set(RELIABLE_CONF, "false")
    captured = []
    ckpt._post_checkpoint_hook = captured.append
    try:
        out = all_queries()["q_hits"].fn(spark, "/root/testdata/sf0.001")
    finally:
        ckpt._post_checkpoint_hook = None
    try:
        # capture order: pairs, deg_c, rawh1..rawh_k (older rawh evicted
        # in-loop) — captured[-2] is rawh[last-1], captured[-1] the final.
        ckpt.evict_round_checkpoint(captured[-2])
        with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
            out.count()
    finally:
        release_run_checkpoints()


@pytest.mark.parametrize(
    "qname",
    ["q_bfs_hops", "q_effective_diameter", "q_spatial_knn_exact",
     "q_kcenter_coreset", "q_hits"],
)
def test_reliable_mode_query_results_match_local(spark, tmp_path, qname):
    """r10 widened round_checkpoint to every iterative loop (BFS,
    diameter, HITS rounds, k-center, k-means, BPE) — each migrated query
    must produce identical results in both modes. Exact spatial kNN has
    no rounds; it stays here as a plan the conf must not change."""
    from nyc_taxi_lakehouse_spark.plans.ckpt import release_run_checkpoints
    from nyc_taxi_lakehouse_spark.plans.invariance import content_hash
    from nyc_taxi_lakehouse_spark.registry import all_queries

    fn = all_queries()[qname].fn
    sf = "/root/testdata/sf0.001"
    spark.conf.set(RELIABLE_CONF, "false")
    local = content_hash(fn(spark, sf))
    release_run_checkpoints()
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    spark.conf.set(RELIABLE_CONF, "true")
    try:
        rel = content_hash(fn(spark, sf))
    finally:
        # release in the finally: a mid-query failure must not leak this
        # query's registered checkpoints into the next test's release call
        release_run_checkpoints()
        spark.conf.set(RELIABLE_CONF, "false")
    assert local == rel and local[1] > 0

"""Checkpoint lifecycle (VERDICT r8 #2): iterative operators must RELEASE
superseded per-round localCheckpoints instead of accumulating them for the
session's lifetime — the accumulation is what GC-churned / OOMed repeat
decade runs at the default 8 GiB single-JVM heap.

The observable is the JVM's persistent-RDD map: bounded by the number of
checkpoints the RETURNED plan still references (≤1 per call), not growing
by one per iteration round or per repeat run.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_taxi_lakehouse_spark.llm.dedup import (
    connected_components,
    kcore_members,
    prod_dedup_chain,
)
from nyc_taxi_lakehouse_spark.plans.ckpt import (
    evict_round_checkpoint,
    persistent_rdd_count,
    release_run_checkpoints,
)


from tests.conftest import geometric_path
from tests.conftest import path_edges as _path_edges


def test_evict_requires_checkpoint_frame(spark):
    ck = spark.range(10).localCheckpoint(eager=True)
    with pytest.raises(TypeError, match="LogicalRDD"):
        evict_round_checkpoint(ck.selectExpr("id * 2 AS y"))
    before = persistent_rdd_count(spark)
    evict_round_checkpoint(ck)
    assert persistent_rdd_count(spark) == before - 1


def test_connected_components_releases_rounds(spark):
    edges, verts = geometric_path(spark, 16)  # 16 min-label rounds
    before = persistent_rdd_count(spark)
    out = connected_components(edges, verts, max_iter=25)
    assert out.count() == 16
    assert out.select("cluster_id").distinct().count() == 1
    # Only the final labels round may survive; ~16 round checkpoints plus
    # the edge checkpoint would linger without eviction.
    assert persistent_rdd_count(spark) - before <= 1

    # Degenerate inputs: an empty edge set (Σ over no rows is NULL, which
    # the probe must read as a fixpoint) and self-loops only (dropped, so
    # also empty). Every vertex is its own cluster, and once the harness
    # releases the run checkpoint nothing stays pinned.
    release_run_checkpoints()
    base = persistent_rdd_count(spark)
    for degenerate in (
        edges.limit(0),
        verts.selectExpr("doc_id AS src", "doc_id AS dst"),
    ):
        out = connected_components(degenerate, verts).collect()
        assert len(out) == 16
        assert all(r.cluster_id == r.doc_id for r in out)
        release_run_checkpoints()
        assert persistent_rdd_count(spark) == base


def test_star_contraction_releases_rounds(spark):
    edges = _path_edges(spark, 64)  # O(log d) rounds, still several
    verts = spark.range(64).withColumnRenamed("id", "doc_id")
    before = persistent_rdd_count(spark)
    out = connected_components(edges, verts, max_iter=30)
    assert out.count() == 64
    assert out.select("cluster_id").distinct().count() == 1
    # Only the fixpoint edge set may survive (the returned labels read it).
    assert persistent_rdd_count(spark) - before <= 1


def test_kcore_releases_rounds(spark):
    edges = _path_edges(spark, 16)  # k=2 peels a path end-in, ~8 rounds
    before = persistent_rdd_count(spark)
    out = kcore_members(edges, k=2, rounds=12)
    assert out.count() == 0  # a path has no 2-core
    assert persistent_rdd_count(spark) - before <= 1


def test_prod_dedup_chain_repeat_runs_bounded(spark):
    # Small corpus with planted near-dup pairs so every stage (signatures,
    # banding, verify, CC) does real work.
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "pack my box with five dozen liquor jugs before the long winter",
        "a stitch in time saves nine but only when the thread is strong",
        "all that glitters is not gold yet the miners keep on digging",
    ]
    rows = []
    for i in range(40):
        t = base[i % 4] + f" variant tail {i // 4}"
        rows.append((i, t))
        rows.append((1000 + i, t + "!"))  # near-dup of row i
    docs = (
        _spark_docs(spark, rows)
    )
    before = persistent_rdd_count(spark)
    for _ in range(3):
        out = prod_dedup_chain(docs)
        assert out.where(~F.col("keep")).count() > 0  # dups actually found
    # One surviving final-labels checkpoint per run; intermediate label
    # rounds, the edge checkpoint, and the 16-column signature table must
    # all have been released (the signature table alone dominated the
    # decade-scale heap).
    assert persistent_rdd_count(spark) - before <= 3


def _spark_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "qname,kept",
    [
        ("q_bfs_hops", 1),               # final dist only
        ("q_effective_diameter", 1),     # final dist only
        ("q_kcenter_coreset", 0),        # returns a driver-side literal
    ],
)
def test_registered_iterative_queries_bounded(spark, qname, kept):
    """The frontier-BFS and k-center loops release superseded rounds; the
    surviving count is exactly what the returned plan still references."""
    from nyc_taxi_lakehouse_spark.registry import all_queries

    fn = all_queries()[qname].fn
    before = persistent_rdd_count(spark)
    out = fn(spark, SF)
    assert out.count() > 0
    assert persistent_rdd_count(spark) - before <= kept


def test_spatial_knn_releases_rounds(spark):
    """Exact kNN is one lazy bound-then-gather plan: it persists nothing,
    so the persistent-RDD map is unchanged after a run."""
    from nyc_taxi_lakehouse_spark.registry import all_queries

    fn = all_queries()["q_spatial_knn_exact"].fn
    before = persistent_rdd_count(spark)
    out = fn(spark, SF)
    assert out.count() > 0
    assert persistent_rdd_count(spark) - before == 0


def test_bpe_train_releases_everything(spark):
    """bpe_train returns a Python list — no plan survives, so every
    per-merge vocab checkpoint must be released."""
    from nyc_taxi_lakehouse_spark.llm.bpe import bpe_train
    from nyc_taxi_lakehouse_spark.sources.tables import load_tables

    docs = load_tables(spark, SF, ["documents"])["documents"]
    before = persistent_rdd_count(spark)
    merges = bpe_train(docs, n_merges=4)
    assert len(merges) == 4
    assert persistent_rdd_count(spark) - before == 0


def test_kmeans_lloyd_releases_rounds(spark):
    from nyc_taxi_lakehouse_spark.llm.similarity import kmeans_lloyd
    from nyc_taxi_lakehouse_spark.sources.tables import load_tables

    emb = load_tables(spark, SF, ["embeddings"])["embeddings"]
    before = persistent_rdd_count(spark)
    assign = kmeans_lloyd(emb, k=4, iterations=4)
    assert assign.count() > 0
    # Final assignment checkpoint only; 4 rounds + the component table
    # would linger without eviction.
    assert persistent_rdd_count(spark) - before <= 1


def test_materialize_once_checkpoints_release_after_consumption(spark):
    """ADVICE r9: the materialize-once sites (chargram keep table, minhash
    signature view, segment table, ...) cannot evict inside the query —
    the returned plan still references the checkpoint. They REGISTER it
    instead, and the harness releases after consuming the result. A
    bench-style repeat loop must therefore stay bounded instead of
    pinning one RDD per invocation."""
    from nyc_taxi_lakehouse_spark.plans.ckpt import (
        _RUN_CHECKPOINTS,
        release_run_checkpoints,
    )
    from nyc_taxi_lakehouse_spark.registry import all_queries

    specs = all_queries()
    sf_dir = "/root/testdata/sf0.001"
    release_run_checkpoints()  # clean slate from earlier tests
    base = persistent_rdd_count(spark)
    # chargram/minhash/segments = materialize-once tables; clusters /
    # hits = iterative loops whose FINAL round the returned plan references
    # (r10 review: those also go through the registry now).
    for _ in range(3):
        for name in ("q_dedup_chargram", "q_dedup_minhash", "q_dedup_segments",
                     "q_dedup_clusters", "q_hits"):
            df = specs[name].fn(spark, sf_dir)
            assert df.count() > 0
            assert len(_RUN_CHECKPOINTS) >= 1, (
                f"{name}: no materialize-once checkpoint registered — the "
                "site lost its register_run_checkpoint wrapper"
            )
            release_run_checkpoints()
    # without release: +1 pinned RDD per invocation (9 here); with it the
    # count returns to baseline every iteration
    assert persistent_rdd_count(spark) - base <= 0


def test_driver_entrypoint_releases_between_queries(spark):
    """VERDICT r10 #4: the external driver iterates __spark_entry__.
    queries() and never calls release_run_checkpoints(), so a 50-query
    correctness window pinned up to ~50 materialize-once RDDs for the
    session. The exported fns now release the PREVIOUS invocation's
    registered checkpoints at the next invocation's construction (the
    driver has fully consumed the previous result by then; fail-loud
    model preserved). Driver-style loop: pinned RDDs must stay bounded
    by ONE query's registrations, never accumulate across queries."""
    import __spark_entry__ as entrymod
    from nyc_taxi_lakehouse_spark.plans.ckpt import release_run_checkpoints

    qs = entrymod.queries()
    release_run_checkpoints()  # clean slate from earlier tests
    base = persistent_rdd_count(spark)
    sf_dir = "/root/testdata/sf0.001"
    # q_hits registers 4 (pairs, deg_c, 2-deep rawh tail); chargram and
    # minhash 1-2 each. Without the wrapper the loop accumulates to ~7.
    for name in ("q_hits", "q_dedup_chargram", "q_dedup_minhash"):
        df = qs[name](spark, sf_dir)
        assert df.count() > 0  # the driver consumes each result
        assert persistent_rdd_count(spark) - base <= 4, (
            f"after {name}: previous query's checkpoints not released at "
            "this query's construction"
        )
    assert release_run_checkpoints() > 0  # last query's registrations
    assert persistent_rdd_count(spark) - base <= 0


def test_release_run_checkpoints_is_idempotent(spark):
    from nyc_taxi_lakehouse_spark.plans.ckpt import (
        register_run_checkpoint,
        release_run_checkpoints,
    )

    ck = register_run_checkpoint(spark.range(10).localCheckpoint(eager=True))
    assert ck.count() == 10
    assert release_run_checkpoints() == 1
    assert release_run_checkpoints() == 0


@pytest.mark.parametrize(
    "qname",
    ["q_heavy_hitters", "q_spearman", "q_capture_recapture", "q_ndcg",
     "q_cohens_kappa", "q_stream_heavy_hitters", "q_multimodal_phash_dedup",
     "q_exact_quantile_bisect", "q_dense_ids"],
)
def test_materialize_once_query_returns_to_baseline(spark, qname):
    """Queries that materialize one table per run either register it (the
    returned plan reads it) or evict it (the result is a driver value):
    after consumption and release nothing stays pinned."""
    from nyc_taxi_lakehouse_spark.plans.ckpt import release_run_checkpoints
    from nyc_taxi_lakehouse_spark.registry import all_queries

    release_run_checkpoints()
    base = persistent_rdd_count(spark)
    out = all_queries()[qname].fn(spark, SF)
    assert out.count() > 0
    release_run_checkpoints()
    assert persistent_rdd_count(spark) <= base


def test_iterate_releases_inputs_and_round_on_raise(spark):
    """A step that fails mid-loop leaves neither the live round nor the
    loop's inputs pinned."""
    from nyc_taxi_lakehouse_spark.plans.ckpt import iterate, round_checkpoint

    base = persistent_rdd_count(spark)
    side = round_checkpoint(spark.range(4))

    def step(df, _value, i):
        if i == 3:
            raise ValueError("boom")
        return df.crossJoin(side.limit(1).selectExpr("id AS k")).select("id")

    with pytest.raises(ValueError, match="boom"):
        iterate(spark.range(8), step, rounds=5, inputs=(side,))
    assert persistent_rdd_count(spark) <= base

    state, value, rounds_run = iterate(
        spark.range(8), lambda df, n, i: None if n == 8 else df, DataFrame.count,
        rounds=5,
    )
    assert (value, rounds_run) == (8, 0)
    evict_round_checkpoint(state)
    assert persistent_rdd_count(spark) <= base


def _checkpoint_calls(source: str) -> list[int]:
    """Line numbers of ``localCheckpoint(...)`` / ``.checkpoint(...)`` calls;
    comments and docstrings are not calls, so they never match."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and (
            (isinstance(node.func, ast.Attribute)
             and node.func.attr in ("localCheckpoint", "checkpoint"))
            or (isinstance(node.func, ast.Name)
                and node.func.id == "localCheckpoint")
        )
    ]


def test_checkpoint_scanner_ignores_comments_and_docstrings():
    src = (
        'def f(df):\n'
        '    """Calls df.localCheckpoint(eager=True) once."""\n'
        '    # df.checkpoint(eager=True)\n'
        '    return df.localCheckpoint(eager=True)\n'
    )
    assert _checkpoint_calls(src) == [4]


def test_checkpoints_only_in_ckpt_module():
    """Every materialize/release decision lives in plans/ckpt.py: any
    other module calling localCheckpoint/checkpoint directly bypasses the
    eviction lifecycle and the reliable-checkpoint conf."""
    import nyc_taxi_lakehouse_spark

    root = pathlib.Path(nyc_taxi_lakehouse_spark.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{line}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root).as_posix() != "plans/ckpt.py"
        for line in _checkpoint_calls(path.read_text())
    ]
    assert not offenders, offenders


_ROUND_CALLS = (
    "round_checkpoint", "round_checkpoint_probe", "deferred_round_checkpoint",
)

# "<module>::<function>" -> why its round loop stays hand-written.
ROUND_LOOP_ALLOWED = {
    "operators/graph.py::q_hits": "the returned plan reads the last two "
    "rounds, so iterate cannot hold it "
    "(test_hits_penultimate_round_is_live)",
}


def _round_loops(source: str) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``for``/``while`` loop whose
    body calls a round-checkpoint helper; comments and docstrings are not
    calls, so they never match."""
    found = []

    def calls_round(node: ast.AST) -> bool:
        return any(
            isinstance(n, ast.Call)
            and (getattr(n.func, "id", None) in _ROUND_CALLS
                 or getattr(n.func, "attr", None) in _ROUND_CALLS)
            for stmt in node.body + node.orelse
            for n in ast.walk(stmt)
        )

    def visit(node: ast.AST, func: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, (ast.For, ast.AsyncFor, ast.While)) and calls_round(node):
            found.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(source), "<module>")
    return found


def test_round_loop_scanner_finds_loop_bodies_only():
    src = (
        'def f(df):\n'
        '    """for _ in range(3): round_checkpoint(df)"""\n'
        '    df = round_checkpoint(df)\n'
        '    for _ in range(3):\n'
        '        # deferred_round_checkpoint(df)\n'
        '        df, n = ckpt.round_checkpoint_probe(df, len)\n'
        '    for _ in range(3):\n'
        '        df = df.filter("x > 0")\n'
        '    return df\n'
        'def g(df):\n'
        '    while df is not None:\n'
        '        df = deferred_round_checkpoint(df)\n'
    )
    assert _round_loops(src) == [("f", 4), ("g", 11)]


def test_round_loops_only_in_ckpt_module():
    """Round loops run on plans.ckpt.iterate, which owns each round's
    materialize, probe and evict: a hand-written loop outside plans/ckpt.py
    re-implements that lifecycle. Allow-listed loops must still exist, so
    a stale entry fails too."""
    import nyc_taxi_lakehouse_spark

    root = pathlib.Path(nyc_taxi_lakehouse_spark.__file__).parent
    loops = [
        (f"{rel}::{func}", f"{rel}:{line}")
        for path in sorted(root.rglob("*.py"))
        if (rel := path.relative_to(root).as_posix()) != "plans/ckpt.py"
        for func, line in _round_loops(path.read_text())
    ]
    offenders = [where for key, where in loops if key not in ROUND_LOOP_ALLOWED]
    assert not offenders, offenders
    assert {key for key, _ in loops} == set(ROUND_LOOP_ALLOWED)

"""Round-6 regression tests.

Covers the ADVICE r05 findings on exact kNN: a supplier that ties the
k-th candidate's dist2 on a cell wall must still win the (dist2, suppkey)
tiebreak, and distances at the grid's extremes must stay exact BIGINT
arithmetic. Every layout is checked against a serial brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _knn_frames(spark, probes, supps):
    """Build the (ck,x,y,pcx,pcy) / (sk,sx,sy,scx,scy) frames the kNN
    helper expects from plain (key, x, y) tuples."""
    from nyc_taxi_lakehouse_spark.operators.spatial import _CELL

    p = spark.createDataFrame(probes, "ck bigint, x bigint, y bigint").select(
        "ck", "x", "y",
        F.expr(f"x DIV {_CELL}").alias("pcx"),
        F.expr(f"y DIV {_CELL}").alias("pcy"),
    )
    s = spark.createDataFrame(supps, "sk bigint, sx bigint, sy bigint").select(
        "sk", "sx", "sy",
        F.expr(f"sx DIV {_CELL}").alias("scx"),
        F.expr(f"sy DIV {_CELL}").alias("scy"),
    ).localCheckpoint(eager=True)
    return p, s


def _brute_knn(probes, supps, k):
    out = {}
    for ck, x, y in probes:
        ranked = sorted(
            ((x - sx) ** 2 + (y - sy) ** 2, sk) for sk, sx, sy in supps
        )
        out[ck] = [(sk, d2, i + 1) for i, (d2, sk) in enumerate(ranked[:k])]
    return out


def test_knn_wall_tie_goes_to_unsearched_supplier(spark):
    """ADVICE r05 (high): probe at exact-boundary coincidence — the k-th
    in-region candidate's dist2 EQUALS wall^2 while an unsearched supplier
    just past the right wall ties that dist2 with a SMALLER suppkey. The
    old `kth <= wall*wall` test declared the probe complete after round 1
    and shipped suppkey 50; exact semantics (and the brute force) pick
    suppkey 10 on the (dist2, sk) tiebreak."""
    from nyc_taxi_lakehouse_spark.operators.spatial import (
        _CELL, _knn_exact,
    )

    wall = 3 * _CELL - 4000  # probe x=4000 in cell 1; right wall of the
    # round-1 region [0,2]^2 sits at x = 3*_CELL
    probes = [(1, 4000, 3000)]
    supps = [
        # inside the searched 3x3 region, dist2 == wall^2 exactly
        (50, 4000, 3000 + wall),
        # first unsearched column (cell x=3): axis distance exactly wall,
        # dist2 == wall^2, and the smaller key wins the tiebreak
        (10, 3 * _CELL, 3000),
    ]
    p, s = _knn_frames(spark, probes, supps)
    got = sorted(
        (r.ck, r.sk, r.dist2, r.rk)
        for r in _knn_exact(spark, p, s, 1).collect()
    )
    assert got == [(1, 10, wall * wall, 1)], got
    expect = _brute_knn(probes, supps, 1)
    assert got == [(1, sk, d2, rk) for sk, d2, rk in expect[1]]


def test_knn_boundary_grid_vs_bruteforce(spark):
    """Sweep a clump of probes/suppliers engineered around cell walls
    (coordinates at exact multiples of _CELL and one-off each side) and
    check the full k=3 result against the serial brute force."""
    from nyc_taxi_lakehouse_spark.operators.spatial import (
        _CELL, _SPACE, _knn_exact,
    )

    xs = [0, 1, _CELL - 1, _CELL, _CELL + 1, 3 * _CELL, 3 * _CELL - 1,
          _SPACE - 1, _SPACE - _CELL]
    probes = [(i + 1, x, (7 * x) % _SPACE) for i, x in enumerate(xs)]
    supps = [
        (100 + i, (x * 13) % _SPACE, (x * 29 + 5) % _SPACE)
        for i, x in enumerate(range(0, _SPACE, _CELL // 2))
    ]
    p, s = _knn_frames(spark, probes, supps)
    got = {}
    for r in _knn_exact(spark, p, s, 3).collect():
        got.setdefault(r.ck, []).append((r.rk, r.sk, r.dist2))
    expect = _brute_knn(probes, supps, 3)
    for ck, rows in expect.items():
        assert sorted(got[ck]) == [(rk, sk, d2) for sk, d2, rk in rows], ck


def test_dbscan_forward_offset_decomposition_property():
    """The r6 symmetry halving rests on a combinatorial identity: every
    unordered eps-pair is generated EXACTLY once by (same-cell a>b) plus
    (probe in one of the 4 forward cells E/NE/N/NW of the base). Pure-
    Python mirror over seeded random point sets — no Spark needed."""
    import random

    from nyc_taxi_lakehouse_spark.operators.spatial import _SPACE

    rng = random.Random(20260815)
    cell = 512
    grid = _SPACE // cell
    eps2 = cell * cell
    fwd = {(1, 0), (1, 1), (0, 1), (-1, 1)}
    for _ in range(20):
        pts = {
            k: (rng.randrange(_SPACE), rng.randrange(_SPACE))
            for k in range(1, rng.randrange(30, 120))
        }
        naive = set()
        for a, (ax, ay) in pts.items():
            for b, (bx, by) in pts.items():
                if a < b and (ax - bx) ** 2 + (ay - by) ** 2 <= eps2:
                    naive.add((a, b))
        halved = set()
        for a, (ax, ay) in pts.items():
            ca = (ax // cell, ay // cell)
            for b, (bx, by) in pts.items():
                if a == b or (ax - bx) ** 2 + (ay - by) ** 2 > eps2:
                    continue
                cb = (bx // cell, by // cell)
                d = (ca[0] - cb[0], ca[1] - cb[1])
                emit = (d == (0, 0) and a > b) or (
                    d in fwd
                    and 0 <= ca[0] < grid and 0 <= ca[1] < grid
                )
                if emit:
                    halved.add((min(a, b), max(a, b)))
                    # each unordered pair must come from exactly one side
        assert halved == naive


def _random_layout(rng, space):
    probes = [(k, rng.randrange(space), rng.randrange(space)) for k in range(1, 25)]
    supps = [(100 + k, rng.randrange(space), rng.randrange(space)) for k in range(30)]
    return probes, supps, 4


def _fewer_than_k_layout(rng, space):
    probes = [(k, rng.randrange(space), rng.randrange(space)) for k in range(1, 9)]
    supps = [(100 + k, rng.randrange(space), rng.randrange(space)) for k in range(2)]
    return probes, supps, 3


def _no_supplier_layout(rng, space):
    probes = [(k, rng.randrange(space), rng.randrange(space)) for k in range(1, 9)]
    return probes, [], 3


def _one_far_cell_layout(rng, space):
    from nyc_taxi_lakehouse_spark.operators.spatial import _CELL

    probes = [(k, rng.randrange(_CELL), rng.randrange(_CELL)) for k in range(1, 9)]
    supps = [
        (100 + k, space - 1 - rng.randrange(_CELL),
         space - 1 - rng.randrange(_CELL))
        for k in range(6)
    ]
    return probes, supps, 4


def _grid_corner_layout(rng, space):
    probes = [
        (1, 0, 0), (2, 0, space - 1), (3, space - 1, 0), (4, space - 1, space - 1),
    ]
    supps = [(100 + k, rng.randrange(space), rng.randrange(space)) for k in range(12)]
    return probes, supps, 3


@pytest.mark.parametrize(
    "layout",
    [_random_layout, _fewer_than_k_layout, _no_supplier_layout,
     _one_far_cell_layout, _grid_corner_layout],
    ids=["seeded", "fewer-than-k", "no-suppliers", "one-far-cell", "grid-corners"],
)
def test_knn_randomized_layout_vs_bruteforce(spark, layout):
    """Seeded probe/supplier layouts (positions arbitrary, not
    hash-derived) through the bound-then-gather plan vs serial brute
    force: a random layout, fewer suppliers than k (the whole-grid
    fallback), no suppliers at all, every supplier in one cell far from
    the probes, and probes in the four grid corners."""
    import random

    from nyc_taxi_lakehouse_spark.operators.spatial import _SPACE, _knn_exact

    probes, supps, k = layout(random.Random(1234), _SPACE)
    p, s = _knn_frames(spark, probes, supps)
    got = {}
    for r in _knn_exact(spark, p, s, k).collect():
        got.setdefault(r.ck, []).append((r.rk, r.sk, r.dist2))
    expect = {
        ck: [(rk, sk, d2) for sk, d2, rk in rows]
        for ck, rows in _brute_knn(probes, supps, k).items()
        if rows
    }
    assert {ck: sorted(rows) for ck, rows in got.items()} == expect

"""Behavioral tests for the round-5 operators: exact kNN via grid
blocking + a per-probe distance bound — pinned against an independent
python brute-force reference (the parity gate's DuckDB oracle is itself
a cross product, but a shared formula bug in the synthetic coordinates
would fool it; this reference recomputes everything from first
principles).
"""

from __future__ import annotations

import duckdb

from .conftest import SF_DIR, SF_SMOKE, spark_jobs


def _duck(sf_dir: str, tables=("customer", "supplier")):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _coords(key: int, mx: int, my: int) -> tuple[int, int]:
    return (key * mx) % 65536, (key * my) % 65536


def test_spatial_knn_exact_vs_bruteforce(spark):
    """Bound-then-gather must yield the TRUE k nearest suppliers for every
    probe — exactly k rows each (|suppliers| >= k at every SF), ranks
    1..k in nondecreasing distance, ties broken by suppkey — equal to
    the serial O(N*M) scan. At the smoke SF the corpus is 10 suppliers
    over 1024 cells, so almost every probe's 3x3 neighborhood is empty
    and the bound genuinely reaches past it (asserted: some true neighbor
    lies beyond the one-cell radius the radius-bounded q_spatial_knn
    would have searched)."""
    from nyc_taxi_lakehouse_spark.operators.spatial import (
        _CELL, _KNN_K, _MX_C, _MX_S, _MY_C, _MY_S,
    )
    from nyc_taxi_lakehouse_spark.registry import all_queries

    got = all_queries()["q_spatial_knn_exact"].fn(spark, SF_SMOKE).collect()
    con = _duck(SF_SMOKE)
    custs = [r[0] for r in con.execute("SELECT c_custkey FROM customer").fetchall()]
    supps = [r[0] for r in con.execute("SELECT s_suppkey FROM supplier").fetchall()]
    assert len(supps) >= _KNN_K

    expected = {}
    for ck in custs:
        cx, cy = _coords(ck, _MX_C, _MY_C)
        ranked = sorted(
            ((cx - sx) ** 2 + (cy - sy) ** 2, sk)
            for sk in supps
            for sx, sy in [_coords(sk, _MX_S, _MY_S)]
        )
        expected[ck] = ranked[:_KNN_K]

    assert len(got) == len(custs) * _KNN_K
    by_probe = {}
    for row in got:
        by_probe.setdefault(row.custkey, []).append((row.rk, row.suppkey, row.dist2))
    assert set(by_probe) == set(expected)
    for ck, rows in by_probe.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, _KNN_K + 1))
        assert [(d2, sk) for _, sk, d2 in rows] == expected[ck]

    # The bound must have done real work: at this sparsity some
    # probe's nearest neighbor lies beyond the 3x3 neighborhood (its
    # distance exceeds 2*CELL, which no cell at Chebyshev distance <= 1
    # can contain).
    max_nn = max(rows[0][2] for rows in by_probe.values())
    assert max_nn > (2 * _CELL) ** 2


def test_spatial_knn_exact_runs_no_construction_jobs(spark):
    """Exact kNN is one lazy plan: building it runs no Spark job, and a
    content-hash collect of it runs at most 12 (the ring loop it replaced
    ran 61 jobs in construction at sf0.01)."""
    from nyc_taxi_lakehouse_spark.plans.invariance import content_hash
    from nyc_taxi_lakehouse_spark.registry import all_queries
    from nyc_taxi_lakehouse_spark.sources.tables import load_tables

    # A table's first load infers its schema (one job each); count the
    # query's own jobs against the warm table memo.
    load_tables(spark, SF_DIR, ["customer", "supplier"])
    fn = all_queries()["q_spatial_knn_exact"].fn
    out, built, _ = spark_jobs(spark, lambda: fn(spark, SF_DIR))
    _, consumed, _ = spark_jobs(spark, lambda: content_hash(out))
    assert built == 0
    assert built + consumed <= 12


def test_dbscan_vs_union_find(spark):
    """DBSCAN recomputed serially: brute-force O(N^2) neighbor scan,
    core flags, union-find over core-core edges, border = min core
    neighbor's cluster — the full per-point (role, cluster) assignment
    must match, and the parameterization must be non-degenerate at the
    smoke SF (at least one core and one noise point)."""
    from nyc_taxi_lakehouse_spark.operators.spatial import (
        _DB_EPS2, _DB_MINPTS, _MX_C, _MY_C,
    )
    from nyc_taxi_lakehouse_spark.registry import all_queries

    got = {
        r.custkey: (r.role, r.cluster_id)
        for r in all_queries()["q_dbscan"].fn(spark, SF_SMOKE).collect()
    }
    con = _duck(SF_SMOKE, ("customer",))
    custs = [r[0] for r in con.execute("SELECT c_custkey FROM customer").fetchall()]
    pts = {ck: _coords(ck, _MX_C, _MY_C) for ck in custs}
    nbrs = {ck: [] for ck in custs}
    for i, a in enumerate(custs):
        ax, ay = pts[a]
        for b in custs[i + 1:]:
            bx, by = pts[b]
            if (ax - bx) ** 2 + (ay - by) ** 2 <= _DB_EPS2:
                nbrs[a].append(b)
                nbrs[b].append(a)
    cores = {ck for ck in custs if len(nbrs[ck]) + 1 >= _DB_MINPTS}

    parent = {ck: ck for ck in cores}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in cores:
        for b in nbrs[a]:
            if b in cores:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min member of the component
    label = {}
    for a in cores:
        root = find(a)
        label.setdefault(root, root)
    comp_min = {}
    for a in cores:
        root = find(a)
        comp_min[root] = min(comp_min.get(root, a), a)
    expected = {}
    for ck in custs:
        if ck in cores:
            expected[ck] = ("core", comp_min[find(ck)])
        else:
            core_nbr_labels = [comp_min[find(b)] for b in nbrs[ck] if b in cores]
            if core_nbr_labels:
                expected[ck] = ("border", min(core_nbr_labels))
            else:
                expected[ck] = ("noise", -1)
    assert got == expected
    roles = {v[0] for v in expected.values()}
    assert "noise" in roles  # non-degenerate parameterization


def test_wasserstein_vs_python(spark):
    """W1 recomputed serially as the exact integral of |F1 - F2| over the
    cent grid: integer cross-multiplied CDF gaps weighted by value gaps.
    Also pins the analytic identity W1 >= |mean1 - mean2| (Jensen) and
    that the early/late split matches the KS convention (2*epoch_s <=
    t0 + t1)."""
    from decimal import ROUND_HALF_UP, Decimal

    from nyc_taxi_lakehouse_spark.registry import all_queries

    row = all_queries()["q_wasserstein"].fn(spark, SF_SMOKE).collect()[0]
    con = _duck(SF_SMOKE, ("events",))
    rows = con.execute(
        "SELECT CAST(floor(epoch(ts)) AS BIGINT), value FROM events "
        "WHERE value IS NOT NULL AND ts IS NOT NULL"
    ).fetchall()
    bounds = con.execute(
        "SELECT CAST(MIN(floor(epoch(ts))) AS BIGINT), "
        "CAST(MAX(floor(epoch(ts))) AS BIGINT) FROM events"
    ).fetchone()
    t0, t1 = bounds
    from collections import defaultdict

    per_v = defaultdict(lambda: [0, 0])
    n1 = n2 = 0
    for es, val in rows:
        cents = int(
            (Decimal(str(val)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        )
        g = 0 if 2 * es <= t0 + t1 else 1
        per_v[cents][g] += 1
        if g == 0:
            n1 += 1
        else:
            n2 += 1
    vs = sorted(per_v)
    cum1 = cum2 = 0
    w1_num = 0
    for i, v in enumerate(vs):
        cum1 += per_v[v][0]
        cum2 += per_v[v][1]
        if i + 1 < len(vs):
            w1_num += abs(n2 * cum1 - n1 * cum2) * (vs[i + 1] - v)
    assert (row.n1, row.n2) == (n1, n2)
    assert row.w1_num_cents == w1_num
    assert abs(row.w1_cents - w1_num / (n1 * n2)) < 1e-9
    mean1 = sum(v * c[0] for v, c in per_v.items()) / n1
    mean2 = sum(v * c[1] for v, c in per_v.items()) / n2
    assert row.w1_cents >= abs(mean1 - mean2) - 1e-9


def test_idw_vs_python(spark):
    """IDW recomputed serially: brute-force radius scan, integer weight
    grid w = 1e9 // (dist2+1), exact moment sums — numerator,
    denominator, neighbor counts, and the single-division estimate must
    all match, and the radius-bounded output must cover exactly the
    customers with >= 1 in-radius supplier."""
    from nyc_taxi_lakehouse_spark.operators.spatial import (
        _IDW_W_SCALE, _MX_C, _MX_S, _MY_C, _MY_S, _R2,
    )
    from nyc_taxi_lakehouse_spark.registry import all_queries

    got = {
        r.custkey: (r.n_nbrs, r.idw_num, r.idw_den, r.est_cents)
        for r in all_queries()["q_idw_interpolation"].fn(spark, SF_SMOKE).collect()
    }
    con = _duck(SF_SMOKE)
    custs = [r[0] for r in con.execute("SELECT c_custkey FROM customer").fetchall()]
    supps = con.execute(
        "SELECT s_suppkey, CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
        " FROM supplier"
    ).fetchall()
    expected = {}
    for ck in custs:
        cx, cy = _coords(ck, _MX_C, _MY_C)
        num = den = n = 0
        for sk, v in supps:
            sx, sy = _coords(sk, _MX_S, _MY_S)
            d2 = (cx - sx) ** 2 + (cy - sy) ** 2
            if d2 <= _R2:
                w = _IDW_W_SCALE // (d2 + 1)
                num += w * v
                den += w
                n += 1
        if n:
            expected[ck] = (n, num, den, num / den)
    assert set(got) == set(expected)
    for ck, (n, num, den, est) in expected.items():
        gn, gnum, gden, gest = got[ck]
        assert (gn, gnum, gden) == (n, num, den)
        assert abs(gest - est) < 1e-9
    assert len(expected) > 0

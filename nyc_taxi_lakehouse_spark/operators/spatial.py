"""Spatial operators — grid-blocked geometric joins and spatial statistics.

The reference's zone analytics join trips to taxi-zone dimension rows by zone
id (comprehensive_analytics.py zone rollups); the GEOMETRIC side of that
problem — "which points are near each other" without a precomputed zone id —
is what a lakehouse needs the moment coordinates arrive raw. The scale
pattern is grid-cell blocking (the planar cousin of geohash bucketing):
assign each point to a square cell whose edge is >= the query radius, join
only the 3x3 cell neighborhood, refine with the exact distance predicate.
The pair space never materializes; the join is a plain equi-join Catalyst
can shuffle or broadcast.

The testdata carries no geo columns, so both queries derive DETERMINISTIC
synthetic planar coordinates from the integer keys via odd multiplicative
hashes mod 2^16 (bijective, engine-identical integer algebra — no RNG, no
engine hash builtins). Every intermediate is exact BIGINT; the only doubles
are final single-division report columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.detsql import DUCK, SPARK, Dialect
from ..plans.ckpt import register_run_checkpoint, round_checkpoint
from ..registry import df_query, sql_query
from ..sources.tables import load_tables

# Odd multiplicative-hash constants (Knuth / xxhash primes — all odd, hence
# bijective mod 2^16). Distinct per axis and per table so customer and
# supplier layouts are uncorrelated.
_MX_C, _MY_C = 2654435761, 2246822519
_MX_S, _MY_S = 3266489917, 668265263
_SPACE = 65536  # coordinate range per axis
_CELL = 2048  # grid cell edge; 32x32 grid, CELL > radius so 3x3 covers it
_GRID = _SPACE // _CELL  # 32
_R2 = 2000 * 2000  # radius 2000 < CELL


def _offsets(d: Dialect) -> str:
    """9-row (dx, dy) neighbor-offset table."""
    if d.name == "spark":
        one = "SELECT explode(sequence(-1, 1))"
    else:
        one = "SELECT unnest(generate_series(-1, 1))"
    return (
        f"SELECT a.dx, b.dy FROM ({one} AS dx) a CROSS JOIN ({one} AS dy) b"
    )


def _spatial_join_sql(d: Dialect) -> str:
    """All customer-supplier pairs within radius 2000 in the synthetic
    65536^2 plane, found by grid blocking: suppliers register in their
    own cell plus the 8 neighbors (9x fanout of the SMALL side only),
    customers join on their single home cell, and the exact integer
    dist^2 <= r^2 refine runs per candidate. Emits the 20 nearest pairs
    (total ordered: dist2, custkey, suppkey) plus the full within-radius
    pair count as a window-free 1-row cross join."""
    cx = d.idiv("c.x", str(_CELL))
    cy = d.idiv("c.y", str(_CELL))
    sx = d.idiv("s.x", str(_CELL))
    sy = d.idiv("s.y", str(_CELL))
    return f"""
WITH cust AS (
  SELECT c_custkey AS ck,
         CAST((c_custkey * {_MX_C}) % {_SPACE} AS BIGINT) AS x,
         CAST((c_custkey * {_MY_C}) % {_SPACE} AS BIGINT) AS y
  FROM customer
),
supp AS (
  SELECT s_suppkey AS sk,
         CAST((s_suppkey * {_MX_S}) % {_SPACE} AS BIGINT) AS x,
         CAST((s_suppkey * {_MY_S}) % {_SPACE} AS BIGINT) AS y
  FROM supplier
),
offsets AS ({_offsets(d)}),
supp_cells AS (
  SELECT s.sk, s.x, s.y,
         {sx} + o.dx AS cx,
         {sy} + o.dy AS cy
  FROM supp s CROSS JOIN offsets o
  WHERE {sx} + o.dx BETWEEN 0 AND {_GRID - 1}
    AND {sy} + o.dy BETWEEN 0 AND {_GRID - 1}
),
pairs AS (
  SELECT c.ck, s.sk,
         (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS dist2
  FROM cust c JOIN supp_cells s ON {cx} = s.cx AND {cy} = s.cy
  WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) <= {_R2}
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs)
SELECT p.ck AS custkey, p.sk AS suppkey,
       CAST(p.dist2 AS BIGINT) AS dist2, t.n_pairs
FROM pairs p CROSS JOIN total t
ORDER BY p.dist2, p.ck, p.sk
LIMIT 20
"""


sql_query(
    "q_spatial_join",
    spark_sql=_spatial_join_sql(SPARK),
    duck_sql=_spatial_join_sql(DUCK),
    tables=["customer", "supplier"],
    doc="Grid-blocked spatial radius join: customer-supplier pairs within "
    "r=2000 in a synthetic 65536^2 plane (deterministic odd-multiplier "
    "hash coordinates — the testdata has no geo columns, documented). The "
    "geohash-bucketing scale pattern: the SMALL side registers in its "
    "3x3 cell neighborhood (9x fanout of suppliers only), the big side "
    "joins on its single home cell, and the exact integer dist^2 refine "
    "prunes candidates — the O(N*M) pair space never materializes and "
    "the join is a broadcastable equi-join. Emits the 20 nearest pairs "
    "(TakeOrderedAndProject — no global sort) with the within-radius "
    "count from a 1-row cross join. All-integer algebra; BIGINT-safe to "
    "~1e9 keys.",
)


def _morans_i_sql(d: Dialect) -> str:
    """Global Moran's I of the customer count field over the fixed 32x32
    grid with rook adjacency. Centering is made exact by scaling: with
    z_i = n_cells*c_i - total (integer), I = (n/W)*(sum_adj z_i z_j)/
    (sum z_i^2) — the 1024^2 scale factor cancels, so every term is
    exact BIGINT and only the final I is a double."""
    if d.name == "spark":
        spine = "SELECT explode(sequence(0, 31)) AS v"
    else:
        spine = "SELECT unnest(generate_series(0, 31)) AS v"
    cellx = d.idiv(f"((c_custkey * {_MX_C}) % {_SPACE})", str(_CELL))
    celly = d.idiv(f"((c_custkey * {_MY_C}) % {_SPACE})", str(_CELL))
    n_cells = _GRID * _GRID
    return f"""
WITH spine AS ({spine}),
grid AS (SELECT a.v AS cx, b.v AS cy FROM spine a CROSS JOIN spine b),
cnt AS (
  SELECT CAST({cellx} AS BIGINT) AS cx,
         CAST({celly} AS BIGINT) AS cy,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM customer GROUP BY {cellx}, {celly}
),
cells AS (
  SELECT g.cx, g.cy, COALESCE(c.c, CAST(0 AS BIGINT)) AS c
  FROM grid g LEFT JOIN cnt c ON c.cx = g.cx AND c.cy = g.cy
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_pts FROM cells),
z AS (
  SELECT cx, cy, {n_cells} * c - (SELECT n_pts FROM tot) AS z FROM cells
),
edges AS (
  SELECT a.z AS za, b.z AS zb
  FROM z a JOIN z b ON b.cx = a.cx + 1 AND b.cy = a.cy
  UNION ALL
  SELECT a.z AS za, b.z AS zb
  FROM z a JOIN z b ON b.cx = a.cx AND b.cy = a.cy + 1
),
num AS (
  SELECT CAST(2 * SUM(za * zb) AS BIGINT) AS num,
         CAST(2 * COUNT(*) AS BIGINT) AS w
  FROM edges
),
den AS (SELECT CAST(SUM(z * z) AS BIGINT) AS den FROM z)
SELECT
  CAST({n_cells} AS BIGINT) AS n_cells,
  t.n_pts,
  n.w,
  n.num,
  d.den,
  (CAST({n_cells} AS DOUBLE) / CAST(n.w AS DOUBLE))
    * (CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE)) AS morans_i,
  -1.0 / CAST({n_cells} - 1 AS DOUBLE) AS expected_i
FROM num n CROSS JOIN den d CROSS JOIN tot t
"""


sql_query(
    "q_morans_i",
    spark_sql=_morans_i_sql(SPARK),
    duck_sql=_morans_i_sql(DUCK),
    tables=["customer"],
    doc="Global Moran's I spatial autocorrelation of the customer density "
    "field on the fixed 32x32 grid (rook adjacency, binary weights). The "
    "mean-centering that usually forces doubles is made exact by scaling: "
    "z_i = 1024*c_i - total is integer and the 1024^2 factor cancels in "
    "I = (n/W)*(sum_adj z_i z_j)/(sum z_i^2), so numerator, denominator, "
    "and W are exact BIGINT and only the final ratio is a double (one "
    "shared IEEE tree). Under the hash-uniform synthetic layout the "
    "statistic validates the CSR null (I ~ E[I] = -1/1023) — the test "
    "asserts exactly that. Corpus-scale work is ONE cell-keyed count "
    "aggregate; the grid spine, adjacency self-joins, and moment sums "
    "all run on the constant 1024-cell grain. BIGINT-safe to ~3e6 "
    "points/cell (z^2 < 2^63/4096).",
)


def _spatial_knn_sql(d: Dialect) -> str:
    """Radius-bounded k-nearest suppliers (k=3) per customer via the same
    grid blocking as q_spatial_join: candidates from the 3x3 cell
    neighborhood, exact integer dist^2 ranking per customer. Documented
    boundary: this is RADIUS-BOUNDED kNN (the standard first pass of a
    distributed kNN join) — a customer whose true 3rd-nearest supplier
    lies beyond its cell neighborhood reports fewer than 3 rows rather
    than a wrong one; q_spatial_knn_exact is the exact completion."""
    cx = d.idiv("c.x", str(_CELL))
    cy = d.idiv("c.y", str(_CELL))
    sx = d.idiv("s.x", str(_CELL))
    sy = d.idiv("s.y", str(_CELL))
    return f"""
WITH cust AS (
  SELECT c_custkey AS ck,
         CAST((c_custkey * {_MX_C}) % {_SPACE} AS BIGINT) AS x,
         CAST((c_custkey * {_MY_C}) % {_SPACE} AS BIGINT) AS y
  FROM customer
),
supp AS (
  SELECT s_suppkey AS sk,
         CAST((s_suppkey * {_MX_S}) % {_SPACE} AS BIGINT) AS x,
         CAST((s_suppkey * {_MY_S}) % {_SPACE} AS BIGINT) AS y
  FROM supplier
),
offsets AS ({_offsets(d)}),
supp_cells AS (
  SELECT s.sk, s.x, s.y,
         {sx} + o.dx AS cx,
         {sy} + o.dy AS cy
  FROM supp s CROSS JOIN offsets o
  WHERE {sx} + o.dx BETWEEN 0 AND {_GRID - 1}
    AND {sy} + o.dy BETWEEN 0 AND {_GRID - 1}
),
cand AS (
  SELECT c.ck, s.sk,
         (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS dist2
  FROM cust c JOIN supp_cells s ON {cx} = s.cx AND {cy} = s.cy
),
ranked AS (
  SELECT ck, sk, dist2,
         ROW_NUMBER() OVER (PARTITION BY ck ORDER BY dist2, sk) AS rk
  FROM cand
)
SELECT ck AS custkey, CAST(rk AS BIGINT) AS rk, sk AS suppkey,
       CAST(dist2 AS BIGINT) AS dist2
FROM ranked WHERE rk <= 3
ORDER BY ck, rk
"""


sql_query(
    "q_spatial_knn",
    spark_sql=_spatial_knn_sql(SPARK),
    duck_sql=_spatial_knn_sql(DUCK),
    tables=["customer", "supplier"],
    doc="Radius-bounded k-nearest-supplier join (k=3) per customer on the "
    "q_spatial_join grid: candidates from the 3x3 cell neighborhood of "
    "each customer's home cell, exact integer dist^2 ranking with "
    "CUSTOMER-partitioned windows (rank<=3 pushes down as "
    "WindowGroupLimit — the exchange carries <=3 rows per probe). The "
    "distributed-kNN first pass; probes whose neighborhood holds fewer "
    "than k candidates report what exists rather than a wrong neighbor "
    "(q_spatial_knn_exact's bound-then-gather plan is the documented "
    "completion). All-integer algebra.",
)


def _mutual_nn_sql(d: Dialect) -> str:
    """Reciprocal (mutual) nearest neighbors between customers and
    suppliers on the grid: A's nearest supplier within its 3x3 cell
    neighborhood AND that supplier's nearest customer is A — the
    stable-pair seed of agglomerative clustering and high-precision
    entity matching. Both directions reuse the same candidate set;
    radius-bounded like q_spatial_knn (documented)."""
    cx = d.idiv("c.x", str(_CELL))
    cy = d.idiv("c.y", str(_CELL))
    sx = d.idiv("s.x", str(_CELL))
    sy = d.idiv("s.y", str(_CELL))
    return f"""
WITH cust AS (
  SELECT c_custkey AS ck,
         CAST((c_custkey * {_MX_C}) % {_SPACE} AS BIGINT) AS x,
         CAST((c_custkey * {_MY_C}) % {_SPACE} AS BIGINT) AS y
  FROM customer
),
supp AS (
  SELECT s_suppkey AS sk,
         CAST((s_suppkey * {_MX_S}) % {_SPACE} AS BIGINT) AS x,
         CAST((s_suppkey * {_MY_S}) % {_SPACE} AS BIGINT) AS y
  FROM supplier
),
offsets AS ({_offsets(d)}),
supp_cells AS (
  SELECT s.sk, s.x, s.y,
         {sx} + o.dx AS cx,
         {sy} + o.dy AS cy
  FROM supp s CROSS JOIN offsets o
  WHERE {sx} + o.dx BETWEEN 0 AND {_GRID - 1}
    AND {sy} + o.dy BETWEEN 0 AND {_GRID - 1}
),
cand AS (
  SELECT c.ck, s.sk,
         (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS dist2
  FROM cust c JOIN supp_cells s ON {cx} = s.cx AND {cy} = s.cy
),
c_best AS (
  SELECT ck, sk, dist2 FROM (
    SELECT ck, sk, dist2,
           ROW_NUMBER() OVER (PARTITION BY ck ORDER BY dist2, sk) AS rk
    FROM cand
  ) r WHERE rk = 1
),
s_best AS (
  SELECT ck, sk FROM (
    SELECT ck, sk,
           ROW_NUMBER() OVER (PARTITION BY sk ORDER BY dist2, ck) AS rk
    FROM cand
  ) r WHERE rk = 1
)
SELECT c.ck AS custkey, c.sk AS suppkey, CAST(c.dist2 AS BIGINT) AS dist2
FROM c_best c JOIN s_best s ON s.ck = c.ck AND s.sk = c.sk
ORDER BY c.ck
"""


sql_query(
    "q_mutual_nn",
    spark_sql=_mutual_nn_sql(SPARK),
    duck_sql=_mutual_nn_sql(DUCK),
    tables=["customer", "supplier"],
    doc="Reciprocal nearest-neighbor pairs between customers and "
    "suppliers on the q_spatial_join grid: customer's nearest supplier "
    "whose own nearest customer is that customer — the mutual-NN "
    "stable pairs that seed agglomerative clustering and high-precision "
    "entity matching (a match both sides agree on needs no threshold). "
    "One candidate set, two direction-partitioned rank windows "
    "(WindowGroupLimit both ways), an equi-join of the two argmins; "
    "radius-bounded like q_spatial_knn, all-integer.",
)


# ---------------------------------------------------------------------------
# Exact kNN via grid blocking + a per-probe distance bound — the completion
# of q_spatial_knn's radius-bounded first pass.
# ---------------------------------------------------------------------------

_KNN_K = 3


def _knn_exact_oracle_sql() -> str:
    """Brute-force exact kNN oracle (DuckDB side only): rank the FULL
    customer x supplier distance matrix per probe. Feasible at oracle
    SFs (1.5e6 pairs at sf0.01); the Spark side must return the
    identical exactly-k set without ever materializing the cross
    product — grid blocking plus a per-probe distance bound."""
    return f"""
WITH cust AS (
  SELECT c_custkey AS ck,
         CAST((c_custkey * {_MX_C}) % {_SPACE} AS BIGINT) AS x,
         CAST((c_custkey * {_MY_C}) % {_SPACE} AS BIGINT) AS y
  FROM customer
),
supp AS (
  SELECT s_suppkey AS sk,
         CAST((s_suppkey * {_MX_S}) % {_SPACE} AS BIGINT) AS x,
         CAST((s_suppkey * {_MY_S}) % {_SPACE} AS BIGINT) AS y
  FROM supplier
),
ranked AS (
  SELECT c.ck, s.sk,
         (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS dist2,
         ROW_NUMBER() OVER (
           PARTITION BY c.ck
           ORDER BY (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y),
                    s.sk) AS rk
  FROM cust c CROSS JOIN supp s
)
SELECT ck AS custkey, CAST(rk AS BIGINT) AS rk, sk AS suppkey,
       CAST(dist2 AS BIGINT) AS dist2
FROM ranked WHERE rk <= {_KNN_K}
ORDER BY custkey, rk
"""


def _knn_exact(
    spark: SparkSession, probes: DataFrame, supp_cell: DataFrame, k: int
) -> DataFrame:
    """Exact kNN as one lazy bound-then-gather plan: no rounds, no
    checkpoint, no driver action.

    `probes` needs (ck, x, y, pcx, pcy); `supp_cell` needs
    (sk, sx, sy, scx, scy). Returns (ck, sk, dist2, rk) with rk in 1..k
    ranked by (dist2, sk).

    Bound: a summed-area table over the fixed grid gives, per home cell,
    the smallest Chebyshev radius r whose grid-clipped block holds >= k
    suppliers (the whole grid when fewer than k exist). Every supplier in
    that block lies within D2, the probe's squared distance to the
    block's farthest corner, so the k-th dist2 is <= D2 and every
    supplier that could beat or tie it on (dist2, sk) has dist2 <= D2.
    Gather: the cells whose nearest point is within D2, equi-joined to
    the suppliers, kept at dist2 <= D2 and ranked. The radius table is
    bounded by the grid (<= _GRID^2 home cells x _GRID radii x 4
    corners); the probe-keyed joins stay adaptive.

    Trade-off: with no rounds there is nothing to checkpoint, so the
    reliable-checkpoint conf does not affect this plan; an executor loss
    recomputes it from the scan."""
    from pyspark.sql.window import Window

    g1 = _GRID + 1
    # sat(i, j) = suppliers in cells with scx < i and scy < j.
    counts = supp_cell.groupBy(
        (F.col("scx") + 1).alias("i"), (F.col("scy") + 1).alias("j")
    ).count()
    row_sum = Window.partitionBy("i").orderBy("j").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    col_sum = Window.partitionBy("j").orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sat = (
        spark.range(g1 * g1)
        .select(F.expr(f"id DIV {g1}").alias("i"), (F.col("id") % g1).alias("j"))
        .join(counts, ["i", "j"], "left")
        .withColumn("row", F.sum(F.coalesce("count", F.lit(0))).over(row_sum))
        .select("i", "j", F.sum("row").over(col_sum).alias("sat"))
    )

    def lo(c: str, r: str):
        return F.greatest(F.col(c) - F.col(r), F.lit(0))

    def hi(c: str, r: str):  # exclusive
        return F.least(F.col(c) + F.col(r), F.lit(_GRID - 1)) + 1

    # Block count for every home cell and radius d, from the four signed
    # corners of the clipped block.
    radii = F.explode(F.sequence(F.lit(0), F.lit(_GRID - 1))).alias("d")
    blocks = (
        probes.select("pcx", "pcy").distinct()
        .select("pcx", "pcy", radii)
        .select(
            "pcx", "pcy", "d",
            F.explode(F.array(*[
                F.struct(cx.alias("i"), cy.alias("j"), F.lit(sign).alias("sign"))
                for cx, cy, sign in (
                    (hi("pcx", "d"), hi("pcy", "d"), 1),
                    (lo("pcx", "d"), hi("pcy", "d"), -1),
                    (hi("pcx", "d"), lo("pcy", "d"), -1),
                    (lo("pcx", "d"), lo("pcy", "d"), 1),
                )
            ])).alias("c"),
        )
        .select("pcx", "pcy", "d", "c.*")
        .join(sat, ["i", "j"])
        .groupBy("pcx", "pcy", "d")
        .agg(F.sum(F.col("sign") * F.col("sat")).alias("cnt"))
    )
    radius = blocks.groupBy("pcx", "pcy").agg(
        F.coalesce(
            F.min(F.when(F.col("cnt") >= k, F.col("d"))), F.lit(_GRID - 1)
        ).alias("r")
    )

    def far(v: str, c: str):  # axis distance to the block's farthest wall
        return F.greatest(
            F.col(v) - lo(c, "r") * _CELL, hi(c, "r") * _CELL - 1 - F.col(v)
        )

    bounded = probes.join(radius, ["pcx", "pcy"]).select(
        "ck", "x", "y", "pcx", "pcy",
        (far("x", "pcx") * far("x", "pcx") + far("y", "pcy") * far("y", "pcy"))
        .alias("D2"),
    )
    reach = F.ceil(F.sqrt("D2") / _CELL) + 1

    def span(c: str):
        return F.explode(F.sequence(
            F.greatest(F.col(c) - reach, F.lit(0)),
            F.least(F.col(c) + reach, F.lit(_GRID - 1)),
        ))

    def gap(v: str, c: str):  # axis distance to the cell's nearest point
        return F.col(v) - F.least(
            F.greatest(F.col(v), F.col(c) * _CELL), F.col(c) * _CELL + _CELL - 1
        )

    cells = (
        bounded.select("ck", "x", "y", "pcy", "D2", span("pcx").alias("scx"))
        .select("ck", "x", "y", "D2", "scx", span("pcy").alias("scy"))
        .filter(gap("x", "scx") * gap("x", "scx") + gap("y", "scy") * gap("y", "scy")
                <= F.col("D2"))
    )
    w = Window.partitionBy("ck").orderBy("dist2", "sk")
    return (
        cells.join(supp_cell, ["scx", "scy"])
        .select(
            "ck", "sk", "D2",
            (
                (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx"))
                + (F.col("y") - F.col("sy")) * (F.col("y") - F.col("sy"))
            ).alias("dist2"),
        )
        .filter(F.col("dist2") <= F.col("D2"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("ck", "sk", "dist2", "rk")
    )


@df_query(
    "q_spatial_knn_exact",
    duck_sql=_knn_exact_oracle_sql(),
    tables=["customer", "supplier"],
    doc=f"EXACT k-nearest-supplier join (k={_KNN_K}) per customer — the "
    "completion of q_spatial_knn's radius-bounded first pass (which keeps "
    "its own oracle row as the documented-boundary anchor), as one lazy "
    "bound-then-gather plan. BOUND: a summed-area table of suppliers per "
    "cell over the fixed 32x32 grid gives each home cell the smallest "
    "Chebyshev radius r whose grid-clipped block holds >= k suppliers "
    "(the whole grid when fewer exist); the probe's squared distance D2 "
    "to that block's farthest corner bounds its k-th dist^2. GATHER: the "
    "cells whose nearest point lies within D2 (exact integer test), "
    "equi-joined to the suppliers, filtered to dist^2 <= D2 and ranked "
    "by (dist^2, suppkey) — every supplier that could beat or tie the "
    "k-th is inside D2, so ties resolve exactly. No rounds, no "
    "checkpoint, no driver action. The oracle is the brute-force cross "
    "product, so a green row certifies exact-kNN semantics end to end. "
    "At 100 TB: the radius table is bounded by the grid (<= 1024 home "
    "cells x 32 radii x 4 corners), the cell join is a plain equi-join, "
    "the probe-keyed joins stay ADAPTIVE (never broadcast-hinted), and "
    "per-probe windows carry <= k rows (WindowGroupLimit) — no cross "
    "product at any scale.",
)
def q_spatial_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "supplier"])
    probes = t["customer"].select(
        F.col("c_custkey").alias("ck"),
        ((F.col("c_custkey") * _MX_C) % _SPACE).cast("bigint").alias("x"),
        ((F.col("c_custkey") * _MY_C) % _SPACE).cast("bigint").alias("y"),
    ).select(
        "ck", "x", "y",
        F.expr(f"x DIV {_CELL}").alias("pcx"),
        F.expr(f"y DIV {_CELL}").alias("pcy"),
    )
    supp_cell = (
        t["supplier"]
        .select(
            F.col("s_suppkey").alias("sk"),
            ((F.col("s_suppkey") * _MX_S) % _SPACE).cast("bigint").alias("sx"),
            ((F.col("s_suppkey") * _MY_S) % _SPACE).cast("bigint").alias("sy"),
        )
        .select(
            "sk", "sx", "sy",
            F.expr(f"sx DIV {_CELL}").alias("scx"),
            F.expr(f"sy DIV {_CELL}").alias("scy"),
        )
    )
    out = _knn_exact(spark, probes, supp_cell, _KNN_K)
    return out.select(
        F.col("ck").alias("custkey"),
        F.col("rk").cast("bigint").alias("rk"),
        F.col("sk").alias("suppkey"),
        F.col("dist2").cast("bigint").alias("dist2"),
    ).orderBy("custkey", "rk")


# ---------------------------------------------------------------------------
# DBSCAN — density-based clustering with grid-blocked neighbor counting.
# ---------------------------------------------------------------------------

_DB_CELL = 512  # eps-sized cell: 3x3 neighborhood covers every eps-ball
_DB_GRID = _SPACE // _DB_CELL  # 128
_DB_EPS2 = _DB_CELL * _DB_CELL
_DB_MINPTS = 4  # |N_eps(p)| including p itself


def _dbscan_oracle_sql() -> str:
    """DuckDB oracle: the same grid-blocked neighbor generation, core
    flags, and a recursive-CTE transitive closure over the core-core
    edge set (the q_dedup_clusters oracle pattern). Border points take
    the MINIMUM cluster label among their core neighbors — the
    deterministic resolution of textbook DBSCAN's scan-order-dependent
    border assignment."""
    acx = f"(a.x // {_DB_CELL})"
    acy = f"(a.y // {_DB_CELL})"
    bcx = f"(b.x // {_DB_CELL})"
    bcy = f"(b.y // {_DB_CELL})"
    return f"""
WITH RECURSIVE cust AS (
  SELECT c_custkey AS ck,
         CAST((c_custkey * {_MX_C}) % {_SPACE} AS BIGINT) AS x,
         CAST((c_custkey * {_MY_C}) % {_SPACE} AS BIGINT) AS y
  FROM customer
),
offsets AS (
  SELECT a.dx, b.dy
  FROM (SELECT unnest(generate_series(-1, 1)) AS dx) a
  CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS dy) b
),
reg AS (
  SELECT b.ck, b.x, b.y, {bcx} + o.dx AS cx, {bcy} + o.dy AS cy
  FROM cust b CROSS JOIN offsets o
  WHERE {bcx} + o.dx BETWEEN 0 AND {_DB_GRID - 1}
    AND {bcy} + o.dy BETWEEN 0 AND {_DB_GRID - 1}
),
nbrs AS (
  SELECT a.ck AS a, r.ck AS b
  FROM cust a JOIN reg r ON {acx} = r.cx AND {acy} = r.cy
  WHERE a.ck <> r.ck
    AND (a.x - r.x) * (a.x - r.x) + (a.y - r.y) * (a.y - r.y) <= {_DB_EPS2}
),
deg AS (
  SELECT c.ck, COALESCE(n.cnt, 0) + 1 AS ncnt
  FROM cust c LEFT JOIN (
    SELECT a AS ck, CAST(COUNT(*) AS BIGINT) AS cnt FROM nbrs GROUP BY a
  ) n ON c.ck = n.ck
),
cores AS (SELECT ck FROM deg WHERE ncnt >= {_DB_MINPTS}),
core_edges AS (
  SELECT n.a AS src, n.b AS dst
  FROM nbrs n
  JOIN cores ca ON n.a = ca.ck
  JOIN cores cb ON n.b = cb.ck
),
reach AS (
  SELECT src AS ck, dst AS reached FROM core_edges
  UNION
  SELECT r.ck, e.dst FROM reach r JOIN core_edges e ON r.reached = e.src
),
core_labels AS (
  SELECT c.ck,
         LEAST(c.ck, COALESCE(MIN(r.reached), c.ck)) AS cluster_id
  FROM cores c LEFT JOIN reach r ON c.ck = r.ck
  GROUP BY c.ck
),
border AS (
  SELECT n.a AS ck, CAST(MIN(l.cluster_id) AS BIGINT) AS cluster_id
  FROM nbrs n
  JOIN core_labels l ON n.b = l.ck
  WHERE n.a NOT IN (SELECT ck FROM cores)
  GROUP BY n.a
)
SELECT c.ck AS custkey,
       CASE WHEN cl.ck IS NOT NULL THEN 'core'
            WHEN bo.ck IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(COALESCE(cl.cluster_id, bo.cluster_id, -1) AS BIGINT)
         AS cluster_id
FROM cust c
LEFT JOIN core_labels cl ON c.ck = cl.ck
LEFT JOIN border bo ON c.ck = bo.ck
ORDER BY custkey
"""


@df_query(
    "q_dbscan",
    duck_sql=_dbscan_oracle_sql(),
    tables=["customer"],
    doc=f"DBSCAN over the synthetic customer plane (eps={_DB_CELL}, "
    f"minPts={_DB_MINPTS} including the point itself): density-based "
    "clustering — the shape-agnostic companion to q_kmeans_step's "
    "centroid clustering and q_dedup_clusters' similarity components. "
    "Neighbor counting is grid-blocked (eps-sized cells) and "
    "SYMMETRY-HALVED: each unordered pair materializes once — 4 forward "
    "cell offsets (E, NE, N, NW) plus an a>b same-cell self-join — then "
    "mirrors, so the candidate join carries half the naive 3x3 fanout "
    "and the pair space never exceeds actual eps-neighborhoods; cluster "
    "formation is connected "
    "components over the CORE-core edge set via the shared adaptive "
    "llm.dedup.connected_components — eps-chains in dense regions exceed "
    "25 hops at sf0.1, so after two min-label rounds the Σ(label) drop "
    "is still 0.36 of the previous one and the routine switches to "
    "large-star/small-star contraction, O(log diameter) rounds; "
    "border points take the MINIMUM cluster label among their core "
    "neighbors, removing textbook DBSCAN's scan-order dependence so the "
    "result is hash-deterministic. The oracle recomputes everything "
    "with a recursive-CTE transitive closure. Output is per-point "
    "(custkey, role, cluster_id; noise = -1) — row count equals the "
    "corpus at every SF. At 100 TB: the cell join is a plain equi-join "
    "on cell keys, core/border/noise are one aggregate each, and the CC "
    "loop state is (vertex, label) pairs hash-partitioned on vertex.",
)
def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dbscan_frame(spark, sf_dir, _DB_CELL, _DB_MINPTS)


def _dbscan_frame(
    spark: SparkSession, sf_dir: str, cell: int, minpts: int
) -> DataFrame:
    """q_dbscan's full pipeline with eps/cell and minPts as parameters
    (cell must divide _SPACE — the grid clip drops indices >= SPACE//cell).
    The registry query pins (cell=_DB_CELL, minpts=_DB_MINPTS); the
    density-scaled SF-scaling run (PLANS.md round-6 row) shrinks eps as
    the plane densifies to hold mean neighborhood size roughly constant,
    pinning the Θ(eps-neighborhood pairs) cost claim."""
    from ..llm.dedup import connected_components

    if _SPACE % cell != 0:
        # Not an assert: under `python -O` a non-dividing cell would pass
        # silently and the grid clip (grid = _SPACE // cell) would drop
        # border cells, losing eps-pairs near the top/right edges.
        raise ValueError(
            f"cell ({cell}) must divide the coordinate space ({_SPACE})"
        )
    grid = _SPACE // cell
    eps2 = cell * cell

    t = load_tables(spark, sf_dir, ["customer"])
    cust = t["customer"].select(
        F.col("c_custkey").alias("ck"),
        ((F.col("c_custkey") * _MX_C) % _SPACE).cast("bigint").alias("x"),
        ((F.col("c_custkey") * _MY_C) % _SPACE).cast("bigint").alias("y"),
    )
    # Symmetry-halved neighbor generation (r6): the eps-neighbor relation
    # is symmetric, so each unordered pair is materialized ONCE and then
    # mirrored — half the candidate join output and half the distance
    # evaluations of the naive 9-offset fanout (measured 3.5 s -> 1.9 s
    # for this stage at sf0.1, neighbor set verified identical). A
    # cross-cell pair's offset (dx, dy) has exactly one representative in
    # the forward half-plane {E, NE, N, NW}; same-cell pairs pair once
    # via the a > b cell self-join.
    fwd = [(1, 0), (1, 1), (0, 1), (-1, 1)]
    reg = (
        cust.select(
            F.col("ck").alias("bk"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                        for dx, dy in fwd
                    ]
                )
            ).alias("o"),
        )
        .select(
            "bk", "bx", "by",
            (F.expr(f"bx DIV {cell}") + F.col("o.dx")).alias("cx"),
            (F.expr(f"by DIV {cell}") + F.col("o.dy")).alias("cy"),
        )
        .filter(
            (F.col("cx") >= 0) & (F.col("cx") <= grid - 1)
            & (F.col("cy") >= 0) & (F.col("cy") <= grid - 1)
        )
    )
    cross_cell = (
        cust.join(
            reg,
            (F.expr(f"x DIV {cell}") == F.col("cx"))
            & (F.expr(f"y DIV {cell}") == F.col("cy")),
        )
        .filter(
            (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
            + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by"))
            <= eps2
        )
        .select(F.col("ck").alias("a"), F.col("bk").alias("b"))
    )
    p, q = cust.alias("p"), cust.alias("q")
    same_cell = (
        p.join(
            q,
            (F.expr(f"p.x DIV {cell}") == F.expr(f"q.x DIV {cell}"))
            & (F.expr(f"p.y DIV {cell}") == F.expr(f"q.y DIV {cell}"))
            & (F.col("p.ck") > F.col("q.ck")),
        )
        .filter(
            (F.col("p.x") - F.col("q.x")) * (F.col("p.x") - F.col("q.x"))
            + (F.col("p.y") - F.col("q.y")) * (F.col("p.y") - F.col("q.y"))
            <= eps2
        )
        .select(F.col("p.ck").alias("a"), F.col("q.ck").alias("b"))
    )
    half = cross_cell.unionAll(same_cell)
    # Mirror via ONE explode, not unionAll(swap): the union INLINES the
    # whole candidate-join subtree (cell join + distance filter, the
    # query's CPU-dense stage) into each branch, computing it twice
    # (optimization r11, guide §2.4 — the _sym_edges lesson applied to
    # the eps-neighbor build). Same row multiset, one pass.
    nbrs = register_run_checkpoint(round_checkpoint(
        half.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("e")
        ).select("e.a", "e.b")
    ))
    deg = nbrs.groupBy("a").agg((F.count("*") + 1).alias("ncnt"))
    cores = register_run_checkpoint(round_checkpoint(
        deg.filter(F.col("ncnt") >= minpts)
        .select(F.col("a").alias("ck"))
    ))
    # No forced broadcasts below: cores/labels/border scale with the
    # corpus (unlike a dimension table), so the joins stay adaptive —
    # AQE broadcasts them locally, shuffles them at cluster scale.
    # Each unordered core pair once: connected_components orients its
    # edges itself.
    core_edges = (
        nbrs.filter(F.col("a") < F.col("b"))
        .join(cores.withColumnRenamed("ck", "a"), "a")
        .join(cores.withColumnRenamed("ck", "b"), "b")
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    core_labels = connected_components(
        core_edges, cores.withColumnRenamed("ck", "doc_id")
    ).select(F.col("doc_id").alias("ck"), "cluster_id")
    border = (
        nbrs.join(core_labels.withColumnRenamed("ck", "b"), "b")
        .join(cores.withColumnRenamed("ck", "a"), "a", "left_anti")
        .groupBy("a")
        .agg(F.min("cluster_id").cast("bigint").alias("cluster_id"))
        .select(F.col("a").alias("ck"), "cluster_id")
    )
    return (
        cust.select("ck")
        .join(core_labels.withColumnRenamed("cluster_id", "ccl"), "ck", "left")
        .join(border.withColumnRenamed("cluster_id", "bcl"), "ck", "left")
        .select(
            F.col("ck").alias("custkey"),
            F.when(F.col("ccl").isNotNull(), "core")
            .when(F.col("bcl").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce(F.col("ccl"), F.col("bcl"), F.lit(-1))
            .cast("bigint")
            .alias("cluster_id"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# Inverse-distance-weighted interpolation — spatial feature enrichment.
# ---------------------------------------------------------------------------

_IDW_W_SCALE = 10**9  # integer weight grid: w = 1e9 DIV (dist2 + 1)


def _idw_sql(d: Dialect) -> str:
    """IDW estimate of supplier account balance at each customer location
    from the radius-2000 neighborhood (the q_spatial_join candidate set):
    est = sum(w_i * v_i) / sum(w_i), w_i = 1/(dist2_i + 1) — the +1
    regularizer handles coincident points and keeps the weight integral:
    w is snapped to the exact integer grid 1e9 DIV (dist2+1), so both
    moment sums are exact BIGINT (|num| <= 1e7 cents * 1e9 * 9 nbrs ~
    9e16 < 2^63) and the estimate is ONE final IEEE division — no
    decimal-division rounding to diverge across engines."""
    cx = d.idiv("c.x", str(_CELL))
    cy = d.idiv("c.y", str(_CELL))
    sx = d.idiv("s.x", str(_CELL))
    sy = d.idiv("s.y", str(_CELL))
    w = d.idiv(str(_IDW_W_SCALE), "(dist2 + 1)")
    return f"""
WITH cust AS (
  SELECT c_custkey AS ck,
         CAST((c_custkey * {_MX_C}) % {_SPACE} AS BIGINT) AS x,
         CAST((c_custkey * {_MY_C}) % {_SPACE} AS BIGINT) AS y
  FROM customer
),
supp AS (
  SELECT s_suppkey AS sk,
         CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS v_cents,
         CAST((s_suppkey * {_MX_S}) % {_SPACE} AS BIGINT) AS x,
         CAST((s_suppkey * {_MY_S}) % {_SPACE} AS BIGINT) AS y
  FROM supplier
),
offsets AS ({_offsets(d)}),
supp_cells AS (
  SELECT s.sk, s.v_cents, s.x, s.y,
         {sx} + o.dx AS cx,
         {sy} + o.dy AS cy
  FROM supp s CROSS JOIN offsets o
  WHERE {sx} + o.dx BETWEEN 0 AND {_GRID - 1}
    AND {sy} + o.dy BETWEEN 0 AND {_GRID - 1}
),
cand AS (
  SELECT c.ck, s.v_cents,
         (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS dist2
  FROM cust c JOIN supp_cells s ON {cx} = s.cx AND {cy} = s.cy
  WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) <= {_R2}
),
weighted AS (
  SELECT ck, v_cents, CAST({w} AS BIGINT) AS w FROM cand
)
SELECT ck AS custkey,
       CAST(COUNT(*) AS BIGINT) AS n_nbrs,
       CAST(SUM(w * v_cents) AS BIGINT) AS idw_num,
       CAST(SUM(w) AS BIGINT) AS idw_den,
       CAST(SUM(w * v_cents) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
         AS est_cents
FROM weighted
GROUP BY ck
ORDER BY custkey
"""


sql_query(
    "q_idw_interpolation",
    spark_sql=_idw_sql(SPARK),
    duck_sql=_idw_sql(DUCK),
    tables=["customer", "supplier"],
    doc="Inverse-distance-weighted spatial interpolation: estimate "
    "supplier account balance at every customer location from the "
    "radius-2000 neighborhood (q_spatial_join's grid-blocked candidate "
    "set) — the 'enrich training examples with spatially-joined "
    "features' operator (kriging's cheap deterministic cousin; think "
    "interpolating weather-station readings onto trip pickups). Weights "
    "are snapped to the exact integer grid 1e9 DIV (dist2+1) — the +1 "
    "regularizer handles coincident points — so both moment sums are "
    "exact BIGINT and the estimate is one final IEEE division; the "
    "exact numerator/denominator ride along as columns. One equi-join "
    "on cell keys + one probe-keyed aggregate; probes with an empty "
    "neighborhood are absent by definition (radius-bounded, the "
    "q_spatial_knn boundary convention).",
)

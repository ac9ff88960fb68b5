"""Iterative graph analytics — PageRank over the trade graph.

Completes the iterative-algorithm family (connected components in
llm/dedup.py, Lloyd k-means in llm/similarity.py) with the third canonical
shape: damped random-walk fixpoint iteration. The graph is the bipartite
customer↔supplier trade graph induced by orders×lineitem (who traded with
whom), made symmetric so no node dangles.

Determinism contract: ranks are EXACT fixed-point BIGINTs (1e12 grid).
Every step is integer arithmetic — contribution = pr DIV deg, damping =
(85·Σ) DIV 100 — associative, order-independent, bit-identical in DuckDB.
No floats anywhere, so the oracle (the same recurrence unrolled as chained
CTEs) hash-matches exactly at any iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.detsql import DUCK, SPARK, Dialect
from ..plans.ckpt import (
    evict_round_checkpoint,
    iterate,
    register_run_checkpoint,
    round_checkpoint,
)
from ..registry import df_query, sql_query
from ..session import DEFAULT_SHUFFLE_PARTITIONS
from ..sources.tables import load_tables

_PR_SCALE = 1_000_000_000_000  # 1e12 fixed-point grid per unit of rank mass
_PR_BASE = (15 * _PR_SCALE) // 100  # (1-d) teleport share, d = 0.85
_PR_ITERS = 5


def _sym_edges(pairs: DataFrame) -> DataFrame:
    """Both orientations of an undirected (a, b) pair set via ONE explode.

    The ``select(a,b).unionAll(select(b,a))`` mirror INLINES the
    pair-building subtree (orders x lineitem join + DISTINCT) into each
    branch, so the plan computes it twice — measured as two identical
    5.5 MB map stages plus two distinct reductions per edge build at
    sf0.1 (optimization r11, guide §2.4: remove duplicated subtrees).
    Exploding a 2-element struct array emits the same row multiset from
    one pass; downstream consumers are orientation-insensitive sets."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _pagerank_oracle(iters: int = _PR_ITERS) -> str:
    """The identical integer recurrence, unrolled as chained CTEs."""
    ctes = [
        """pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
e AS (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg ON edges.src = deg.src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
it0 AS (SELECT node, CAST(%d AS BIGINT) AS pr FROM nodes)"""
        % _PR_SCALE
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""it{i} AS (
  SELECT n.node,
         CAST({_PR_BASE} + (85 * COALESCE(s.inflow, 0)) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(p.pr // e.deg) AS inflow
    FROM e JOIN it{i - 1} p ON e.src = p.node
    GROUP BY e.dst
  ) s ON n.node = s.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT
  node,
  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
  CAST(node // 2 AS BIGINT) AS entity_key,
  pr
FROM it{iters}
"""
    )


@df_query(
    "q_pagerank",
    duck_sql=_pagerank_oracle(),
    tables=["orders", "lineitem"],
    doc="PageRank (d=0.85, 5 synchronous iterations) over the symmetric "
    "customer↔supplier trade graph — the damped-walk centrality that ranks "
    "entities by recursive importance, not raw degree. Exact fixed-point "
    "BIGINT arithmetic end to end (1e12 grid; contribution = pr DIV deg, "
    "damping = 85·Σ DIV 100), so the DuckDB oracle — the same recurrence "
    "unrolled into chained CTEs — hash-matches bit-for-bit. Plan per "
    "round: one hash join of ranks onto the checkpointed edge list (keyed "
    "by src), one sum-aggregate keyed by dst — the classic Pregel "
    "message-pass expressed as join+agg. The edge list (with out-degrees) "
    "is localCheckpointed ONCE and reused every round; at 100 TB it would "
    "be bucketed by src so each iteration's join is exchange-free on the "
    "edge side, and iterations stay at O(diameter-free) fixed count — "
    "bounded, unlike the CC fixpoint. Ranks stay lazy across the 5 rounds "
    "(fixed shallow lineage — no checkpoint churn needed).",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    pairs = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    edges = _sym_edges(pairs)
    # One explicit-width src exchange feeds the degree count and the
    # degree join (the groupBy and the join both reuse it — a single
    # exchange where the unkeyed form paid two), and fixes the checkpoint
    # blocks at the configured parallelism instead of AQE's
    # bytes-coalesced ~10 partitions, so every iteration's stages run on
    # all cores (optimization r11, guide §2.2/§2.4).
    p_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ekeyed = edges.repartition(p_width, "src")
    deg = ekeyed.groupBy("src").agg(F.count("*").alias("deg"))
    # Materialize the (src, dst, deg) edge relation once — every iteration
    # re-reads it, so recomputing the orders×lineitem join per round would
    # multiply the dominant cost by the iteration count.
    e = register_run_checkpoint(round_checkpoint(ekeyed.join(deg, "src")))
    # nodes is read six times (initial ranks + one left join per round):
    # checkpoint the small node list once instead of re-deduplicating the
    # edge relation per round.
    nodes = register_run_checkpoint(
        round_checkpoint(e.select(F.col("src").alias("node")).distinct())
    )
    ranks = nodes.withColumn("pr", F.lit(_PR_SCALE).cast("bigint"))
    for _ in range(_PR_ITERS):
        inflow = (
            e.join(ranks, e.src == ranks.node)
            .select("dst", F.expr("pr DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes.join(inflow, nodes.node == inflow.dst, "left").select(
            "node",
            (
                F.lit(_PR_BASE).cast("bigint")
                + F.expr("(85 * coalesce(inflow, CAST(0 AS BIGINT))) DIV 100")
            ).alias("pr"),
        )
    return ranks.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        F.expr("node DIV 2").alias("entity_key"),
        F.col("pr").cast("bigint").alias("pr"),
    )


# ---------------------------------------------------------------------------
# Triangle counting + global clustering coefficient over the co-purchase
# part graph (parts appearing in the same order share an edge).
# ---------------------------------------------------------------------------

_TRI_SPARK_SQL = f"""
WITH op AS (
  -- Explicit-width repartition keyed on the dedup/self-join key: AQE's
  -- bytes-based coalescing ran the CPU-dense wedge stages on 10-20 tasks
  -- with 32 cores (optimization r11, guide §2.2 — size partitions for the
  -- work, not the bytes). hash(l_orderkey) satisfies the (okey, pkey)
  -- dedup clustering, so the GROUP BY and the ON-okey self-join both run
  -- in place at the configured width with no further exchange.
  SELECT l_orderkey, l_partkey
  FROM (
    SELECT /*+ REPARTITION({DEFAULT_SHUFFLE_PARTITIONS}, l_orderkey) */
           l_orderkey, l_partkey
    FROM lineitem
  ) raw
  GROUP BY l_orderkey, l_partkey
),
e0 AS (
  SELECT u, v
  FROM (
    SELECT /*+ REPARTITION({DEFAULT_SHUFFLE_PARTITIONS}, u) */
           a.l_partkey AS u, b.l_partkey AS v
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  ) pairs
  GROUP BY u, v
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0
  ) GROUP BY node
),
-- Degree-lex orientation: every edge points from the (degree, id)-smaller
-- endpoint to the larger. Each triangle's nodes get a total order
-- n1<n2<n3, so it is generated EXACTLY ONCE as wedge (n1->n2, n1->n3)
-- closed by edge (n2->n3) — and hub nodes (high degree) acquire few
-- OUT-edges, bounding the wedge explosion that makes id-ordering
-- quadratic on skewed graphs.
e AS (
  -- Repartitioned on src at explicit width: the adjacency GROUP BY reuses
  -- the partitioning in place, the intersect-heavy tri scan runs at full
  -- configured parallelism, and — because both consumers of e end in this
  -- IDENTICAL exchange — ReuseExchange computes the oriented edge chain
  -- once instead of inlining it twice (optimization r11).
  SELECT /*+ REPARTITION({DEFAULT_SHUFFLE_PARTITIONS}, src) */ src, dst, dst_d
  FROM (
    SELECT
      CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
           THEN e0.u ELSE e0.v END AS src,
      CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
           THEN e0.v ELSE e0.u END AS dst,
      CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
           THEN dv.d ELSE du.d END AS dst_d
    FROM e0
    JOIN deg du ON e0.u = du.node
    JOIN deg dv ON e0.v = dv.node
  ) oriented
),
adj AS (
  -- out-adjacency arrays under the orientation: hub nodes have FEW
  -- out-edges (degree-lex), so no array is pathological; total array
  -- payload = |E| ids (~10 MB at sf0.1)
  SELECT src, sort_array(collect_list(dst)) AS nbrs
  FROM e GROUP BY src
),
tri AS (
  -- Edge-iterator (Chiba–Nishizeki): per oriented edge (u,v), triangles
  -- based at it = |N_out(u) ∩ N_out(v)| — the 36M-row wedge stream the
  -- previous wedge-closure form materialized and re-joined never exists;
  -- the heavy operand is just |E| rows joined twice against the
  -- broadcastable adjacency table. On a billion-edge graph the hints
  -- come off and both joins shuffle on node id; the algebra is unchanged.
  SELECT /*+ BROADCAST(au), BROADCAST(av) */
         CAST(COALESCE(SUM(size(array_intersect(au.nbrs, av.nbrs))), 0)
              AS BIGINT) AS n_triangles
  FROM e
  JOIN adj au ON e.src = au.src
  JOIN adj av ON e.dst = av.src
),
stats AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(d * (d - 1)) AS BIGINT) DIV 2 AS n_wedges
  FROM deg
)
SELECT
  s.n_nodes,
  (SELECT COUNT(*) FROM e0) AS n_edges,
  s.n_wedges,
  t.n_triangles,
  CAST(3 * t.n_triangles AS DOUBLE) / s.n_wedges AS clustering_coefficient
FROM stats s CROSS JOIN tri t
"""

_TRI_DUCK_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0
  ) GROUP BY node
),
-- id-ordered closure: e0 already has u < v, so each triangle a<b<c is
-- counted once via (a,b),(a,c),(b,c) — the textbook form the degree-
-- oriented Spark plan must agree with.
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e0 ab
  JOIN e0 ac ON ab.u = ac.u AND ab.v < ac.v
  JOIN e0 bc ON bc.u = ab.v AND bc.v = ac.v
),
stats AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(d * (d - 1)) AS BIGINT) // 2 AS n_wedges
  FROM deg
)
SELECT
  s.n_nodes,
  (SELECT COUNT(*) FROM e0) AS n_edges,
  s.n_wedges,
  t.n_triangles,
  CAST(3 * t.n_triangles AS DOUBLE) / s.n_wedges AS clustering_coefficient
FROM stats s CROSS JOIN tri t
"""

sql_query(
    "q_triangle_count",
    spark_sql=_TRI_SPARK_SQL,
    duck_sql=_TRI_DUCK_SQL,
    tables=["lineitem"],
    doc="Triangle count + global clustering coefficient over the co-"
    "purchase part graph (parts sharing an order). Spark runs the degree-"
    "lex ORIENTED edge-iterator algorithm (Chiba-Nishizeki): per oriented "
    "edge, |N_out(u) ∩ N_out(v)| over sorted adjacency arrays — each "
    "triangle counted exactly once, hub out-degrees bounded, and the "
    "wedge stream is never materialized (6.4s -> 3.2s at sf0.1 vs the "
    "earlier wedge-closure join; the shape that survives power-law "
    "graphs at 100 TB). The oracle is the textbook id-ordered triple "
    "join; agreeing counts pin the orientation algebra. All-integer "
    "until the final coefficient (one exact int/int division).",
)


# ---------------------------------------------------------------------------
# Multi-source BFS — hop distance from a seed set over the trade graph.
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 4
_BFS_SEED_NATION = 0


def _bfs_oracle(rounds: int = _BFS_ROUNDS) -> str:
    """Cumulative reach sets r0 ⊆ r1 ⊆ … unrolled as CTEs; hop = MIN round
    of first appearance. Same edge construction as q_pagerank."""
    ctes = [
        f"""pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst FROM pairs
),
r0 AS (
  SELECT DISTINCT c.c_custkey * 2 AS node
  FROM customer c
  JOIN (SELECT DISTINCT src FROM edges) g ON g.src = c.c_custkey * 2
  WHERE c.c_nationkey = {_BFS_SEED_NATION}
)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT node FROM r{i - 1}
  UNION
  SELECT e.dst AS node FROM edges e JOIN r{i - 1} p ON e.src = p.node
)"""
        )
    layers = " UNION ALL ".join(
        f"SELECT node, {i} AS h FROM r{i}" for i in range(rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT
  node,
  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
  CAST(node // 2 AS BIGINT) AS entity_key,
  CAST(MIN(h) AS INT) AS hop
FROM ({layers}) all_layers
GROUP BY node
"""
    )


@df_query(
    "q_bfs_hops",
    duck_sql=_bfs_oracle(),
    tables=["orders", "lineitem", "customer"],
    doc="Multi-source BFS: hop distance (≤4) from the nation-0 customer "
    "cohort over the symmetric customer↔supplier trade graph — the "
    "reachability/shortest-path member of the iterative family (PageRank = "
    "fixed-count walk, CC = min-label fixpoint, BFS = frontier expansion). "
    "FRONTIER-optimized: each round joins only the newly discovered nodes "
    "against the once-checkpointed edge list, then anti-joins the visited "
    "set — work per round is O(frontier-adjacent edges), not O(all nodes), "
    "which is the shape that survives a 100 TB graph (plus: the distance "
    "table is checkpointed per round so lineage stays O(1), the "
    "q_dedup_clusters discipline). Integers end to end; the oracle unrolls "
    "cumulative reach sets r0⊆r1⊆… and takes MIN first-appearance round — "
    "an intentionally different algebra that pins the frontier bookkeeping "
    "(UNION-dedup vs anti-join-accumulate must agree exactly).",
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem", "customer"])
    pairs = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    # Edge checkpoint at explicit width (guide §2.2): the union's physical
    # partition count (AQE-coalesced ~10 at sf0.1) is frozen into the
    # checkpoint blocks, and every per-round stage that scans them
    # inherits that under-parallelism. An explicit-width repartition keyed
    # on the round-join key costs one 10 MB exchange once and puts all
    # configured cores under each round's scan. (A sortWithinPartitions
    # was measured useless here: PySpark's localCheckpoint surfaces the
    # blocks as UnknownPartitioning, so SMJ re-sorts regardless.)
    p_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = round_checkpoint(
        _sym_edges(pairs)
        .repartition(p_width, "src")
    )
    # Seeds: nation-0 customers that actually trade (graph nodes only — the
    # oracle's reach sets can never contain an isolated seed, so neither
    # should round 0).
    in_graph = edges.select("src").distinct()
    seeds = (
        t["customer"]
        .where(F.col("c_nationkey") == _BFS_SEED_NATION)
        .select((F.col("c_custkey") * 2).alias("node"))
        .join(in_graph, F.col("node") == F.col("src"), "leftsemi")
        .distinct()
    )

    # ONE Spark action per round (guide §1.2): the round's frontier is the
    # previous round's newest hop, read off the accumulated dist
    # checkpoint, so only dist is materialized. (A measured-gate broadcast
    # of the frontier was tried and reverted: the per-round driver-serial
    # broadcast builds cost more wall than the 10 MB co-partitioned
    # shuffles they replaced — OPTIMIZATION_r11.md.)
    def hop_round(dist: DataFrame, _v, i) -> DataFrame:
        frontier = dist.where(F.col("hop") == i - 1)
        neighbors = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        return dist.unionAll(
            neighbors.join(dist, "node", "left_anti").withColumn("hop", F.lit(i))
        )

    dist, _, _ = iterate(
        seeds.withColumn("hop", F.lit(0)), hop_round,
        rounds=_BFS_ROUNDS, inputs=(edges,),
    )
    register_run_checkpoint(dist)
    return dist.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        F.expr("node DIV 2").alias("entity_key"),
        F.col("hop").cast("int").alias("hop"),
    )


# ---------------------------------------------------------------------------
# Label propagation — community detection (synchronous, deterministic).
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_mode_sql(prev: str) -> str:
    """One synchronous LPA round in SQL: each node adopts the most frequent
    label among its neighbors, tiebreak smallest label (then the node keeps
    its own label only if it has no neighbors — impossible here: the edge
    build makes the graph symmetric with no isolated nodes)."""
    return f"""
  SELECT dst AS node, label FROM (
    SELECT e.dst, p.label,
           ROW_NUMBER() OVER (
             PARTITION BY e.dst
             ORDER BY COUNT(*) DESC, p.label
           ) AS rnk
    FROM edges e JOIN {prev} p ON e.src = p.node
    GROUP BY e.dst, p.label
  ) m WHERE rnk = 1
"""


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    ctes = [
        """pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"l{i} AS ({_lpa_mode_sql(f'l{i - 1}')})")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node,
  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
  CAST(node // 2 AS BIGINT) AS entity_key,
  CAST(label AS BIGINT) AS community
FROM l{rounds}
"""
    )


@df_query(
    "q_label_propagation",
    duck_sql=_lpa_oracle(),
    tables=["orders", "lineitem"],
    doc="Synchronous label propagation (Raghavan et al. 2007) over the "
    "trade graph — community detection, the fourth iterative-graph shape "
    "(vs PageRank's weighted walk, CC's min-label fixpoint, BFS's frontier "
    "expansion): each round every node adopts its neighbors' MODE label "
    "with the deterministic tiebreak (count DESC, label ASC) that makes "
    "classic LPA — normally RNG-tiebroken and irreproducible — "
    "bit-reproducible and oracle-checkable. Per round: one join of labels "
    "onto the checkpointed edge list, one (dst, label) count aggregate, "
    "then the argmax as a pure HASH aggregate max(struct(cnt, -label)) — "
    "both aggs partial-aggregate map-side, zero sorts per round (the "
    "oracle keeps the ROW_NUMBER form, pinning the rewrite); rounds are "
    "a fixed constant, labels stay lazy across them (shallow lineage).",
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    pairs = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    # Partition+sort the edge checkpoint on src (preserved through the
    # checkpoint), so each round's label join streams the edge side with
    # no exchange and no sort — only the per-round label aggregate output
    # (node-scaled, ~1% of the edge bytes) moves. Explicit width keeps the
    # CPU-dense rounds at configured parallelism instead of AQE's
    # bytes-coalesced count (optimization r11, guide §2.4/§2.2).
    p_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = round_checkpoint(
        _sym_edges(pairs)
        .repartition(p_width, "src")
        .sortWithinPartitions("src")
    )
    register_run_checkpoint(edges)
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    # Mode-with-tiebreak as a pure HASH aggregate: max(struct(cnt, -label))
    # realizes (count DESC, label ASC) without the per-round sort window the
    # oracle uses — both aggs partial-aggregate map-side, so each round is
    # two combinable exchanges and zero sorts. Parity with the oracle's
    # ROW_NUMBER form pins the rewrite.
    for _ in range(_LPA_ROUNDS):
        labels = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst", "label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("dst")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select(F.col("dst").alias("node"), (-F.col("m.nl")).alias("label"))
        )
    return labels.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        F.expr("node DIV 2").alias("entity_key"),
        F.col("label").cast("bigint").alias("community"),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities over the directed customer→supplier trade graph.
# ---------------------------------------------------------------------------

_HITS_ITERS = 3
_HITS_SCALE = 10**12


def _hits_chain_sql(d: Dialect, pairs_ref: str) -> str:
    """The unrolled mutual-reinforcement chain over a (c, s) pair table:
    auth(s) = Σ hub(c) over buyers, hub(c) = Σ auth(s) over suppliers
    bought from, each half-step L1-normalized back onto the integer grid
    via v DIV (total DIV SCALE) — a truncating normalization, but the
    SAME truncation in both engines, which is what the hash gate needs
    (float L2 normalization would diverge at the sqrt). Kleinberg's HITS
    with fixed iteration count, exact BIGINT end to end."""
    idiv = d.idiv
    # MATERIALIZED on the DuckDB side: each normalization total references
    # its raw table twice, so an inlining engine recomputes the upstream
    # chain 2^(2*iters) times (19 s -> ~2 s at sf0.1). Spark runs the loop
    # form in q_hits for the same reason.
    mat = " MATERIALIZED" if d.name != "spark" else ""
    ctes = [
        f"""hub0 AS{mat} (
  SELECT c AS node, CAST({_HITS_SCALE} AS BIGINT) AS v
  FROM (SELECT DISTINCT c FROM {pairs_ref}) n)"""
    ]
    for i in range(1, _HITS_ITERS + 1):
        norm = idiv("r.v", f"GREATEST({idiv('t.t', str(_HITS_SCALE))}, 1)")
        ctes.append(
            f"""rawa{i} AS{mat} (
  SELECT p.s AS node, CAST(SUM(h.v) AS BIGINT) AS v
  FROM {pairs_ref} p JOIN hub{i - 1} h ON p.c = h.node GROUP BY p.s),
ta{i} AS{mat} (SELECT CAST(SUM(v) AS BIGINT) AS t FROM rawa{i}),
auth{i} AS{mat} (
  SELECT r.node, CAST({norm} AS BIGINT) AS v FROM rawa{i} r CROSS JOIN ta{i} t),
rawh{i} AS{mat} (
  SELECT p.c AS node, CAST(SUM(a.v) AS BIGINT) AS v
  FROM {pairs_ref} p JOIN auth{i} a ON p.s = a.node GROUP BY p.c),
th{i} AS{mat} (SELECT CAST(SUM(v) AS BIGINT) AS t FROM rawh{i}),
hub{i} AS{mat} (
  SELECT r.node, CAST({norm} AS BIGINT) AS v FROM rawh{i} r CROSS JOIN th{i} t)"""
        )
    k = _HITS_ITERS
    return (
        ",\n".join(ctes)
        + f"""
SELECT 'customer' AS kind, CAST(node AS BIGINT) AS entity_key,
       v AS hits_score, 'hub' AS role
FROM hub{k}
UNION ALL
SELECT 'supplier', CAST(node AS BIGINT), v, 'authority'
FROM auth{k}"""
    )


_HITS_PAIRS_SQL = """
SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"""


@df_query(
    "q_hits",
    duck_sql="WITH pairs AS (" + _HITS_PAIRS_SQL + "),\n" + _hits_chain_sql(DUCK, "pairs"),
    tables=["orders", "lineitem"],
    doc="HITS hubs & authorities (Kleinberg, 3 synchronous iterations) "
    "over the DIRECTED customer→supplier trade graph: a customer is a "
    "good hub if they buy from authoritative suppliers, a supplier "
    "authoritative if bought from by good hubs — the mutual-reinforcement "
    "centrality PageRank's single score can't express on a bipartite "
    "purchase graph. Exact BIGINT fixed point (1e12 grid) with an "
    "engine-identical truncating L1 normalization per half-step; the "
    "oracle unrolls the identical recurrence (q_pagerank's pattern). "
    "Spark checkpoints the distinct pair table ONCE (each iteration "
    "references it twice; CTE inlining would re-run the orders×lineitem "
    "join six times), then each round is ONE checkpoint job (the auth "
    "half-step stays lazy inside the hub half-step's checkpoint) plus "
    "ONE fused 1-row collect that returns both normalization totals as "
    "driver scalars inlined as literals — no per-half-step total "
    "broadcasts. Node-scaled score tables join via size-gated broadcast "
    "(measured per-side counts); above the gate the joins stay adaptive "
    "and shuffle — Pregel message-pass shape, src/dst-keyed at any "
    "scale.",
)
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Iterative loop with TWO synchronization points per ROUND (the r6
    # shape; measured 3.9 s -> ~3.0 s standalone / ~2 s in-suite at sf0.1,
    # hash-identical to the unrolled recurrence):
    #   1. ONE checkpoint job materializes the round: the auth half-step
    #      (join+agg) stays lazy inside the hub half-step's checkpoint, so
    #      both message passes run as pipelined stages of a single job.
    #      Per-half-step checkpoints (2 jobs/round), fully-lazy (2^(2k)
    #      recomputation of the base join: 4.9 s), persist()-based caching
    #      (13.8 s) and AQE-off (no gain) all measured worse.
    #   2. ONE fused 1-row collect computes BOTH normalization totals:
    #      th = SUM(rawh) directly, and next round's auth total via the
    #      degree dot-product identity SUM_s rawa(s) = SUM_c deg(c)*hub(c)
    #      (every pair contributes hub(c) exactly once), evaluated from
    #      the just-checkpointed rawh without re-traversing pairs. The
    #      totals come back as driver scalars (bounded: one BIGINT each)
    #      and are inlined as literals, removing two broadcast-exchange
    #      round-trips per iteration. Round 1's auth total needs no job:
    #      hub == SCALE everywhere, so it is SCALE * |pairs|.
    # Same BIGINT recurrence either way — same hash.
    load_tables(spark, sf_dir, ["orders", "lineitem"])
    from ..plans.ckpt import round_checkpoint_probe

    # The cardinality stats ride the pairs checkpoint's materializing scan
    # (round_checkpoint_probe, optimization r11 — one job instead of two).
    # One aggregate over the checkpointed pairs yields BOTH node
    # cardinalities (m = |pairs| since the edge set is already DISTINCT).
    # The hub table is customer-keyed and the auth table supplier-keyed,
    # so each half-step's broadcast gate must be fed the count of the side
    # it actually broadcasts (ADVICE r06: gating the supplier-keyed auth
    # table on the customer count breaks the measured-row-count contract
    # whenever |suppliers| > |customers|).
    pairs, stats = round_checkpoint_probe(
        spark.sql(_HITS_PAIRS_SQL),
        lambda p: p.agg(
            F.countDistinct("c").alias("n_c"),
            F.countDistinct("s").alias("n_s"),
            F.count("*").cast("bigint").alias("m"),
        ).collect()[0],
    )
    pairs = register_run_checkpoint(pairs)
    deg_c = register_run_checkpoint(round_checkpoint(
        pairs.groupBy("c")
        .agg(F.count("*").cast("bigint").alias("dc"))
    ))
    # scores/deg_c are NODE-scaled tables (customer/supplier cardinality),
    # not dimensions. localCheckpoint hides size stats from Catalyst, so
    # an unhinted join falls back to SortMergeJoin at EVERY scale — the
    # opposite failure from the r5 unconditional hint (broadcast at every
    # scale). Resolve it with a measured-size gate (plans.gated_broadcast):
    # broadcast only when the node table actually fits the ~10 MB
    # broadcast threshold; at billions of nodes the gate is false and the
    # joins shuffle, matching the DBSCAN/kNN adaptive posture (71d855a).
    from ..plans.audit import gated_broadcast

    n_of = {"c": stats["n_c"], "s": stats["n_s"]}

    def half_step(scores: DataFrame, in_key: str, out_key: str) -> DataFrame:
        return (
            pairs.join(
                gated_broadcast(scores, n_of[in_key]),
                F.col(in_key) == scores.node,
            )
            .groupBy(out_key)
            .agg(F.sum("v").alias("v"))
            .select(F.col(out_key).alias("node"), "v")
        )

    def norm_lit(raw: DataFrame, t: int) -> DataFrame:
        return raw.select(
            "node",
            F.expr(
                f"CAST(v DIV GREATEST({t} DIV {_HITS_SCALE}, 1) AS BIGINT)"
            ).alias("v"),
        )

    hub = deg_c.select(
        F.col("c").alias("node"), F.lit(_HITS_SCALE).cast("bigint").alias("v")
    )
    tot_a = _HITS_SCALE * stats["m"]
    # Round-state lifecycle (r10 review; tail depth re-adjudicated r11):
    # the returned plan reads the last rawh (via hub) AND the second-to-
    # last — the returned auth is the final iteration's UNcheckpointed
    # lazy half-step over hub_{last-1}, i.e. a projection of
    # rawh[last-1]. round_checkpoint truncation cuts only each rawh's OWN
    # upstream lineage; it does not sever auth's downstream reference, so
    # a 1-deep tail is NOT safe (ADVICE r10 suggested it; evicting
    # rawh[last-1] makes the returned collect crash with
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — pinned by
    # tests/test_checkpoint_failure_domain.py::test_hits_penultimate_round_is_live).
    # Every OLDER rawh is dead once two newer rounds exist and is evicted
    # in-loop; the two live tail checkpoints go to the run registry for
    # post-consumption release.
    # The per-round totals collect is FUSED into the rawh checkpoint's
    # materializing action (round_checkpoint_probe, optimization r11):
    # the th-aggregate broadcast build is the scan that persists the
    # round's blocks, so each iteration is ONE collect instead of a
    # checkpoint job followed by a separate 1-row collect.
    def _totals(r: DataFrame):
        return (
            r.crossJoin(
                F.broadcast(r.agg(F.sum("v").cast("bigint").alias("th")))
            )
            .join(gated_broadcast(deg_c, stats["n_c"]), r.node == F.col("c"))
            .agg(
                F.max("th").alias("th"),
                F.sum(
                    F.expr(
                        f"CAST(v DIV GREATEST(th DIV {_HITS_SCALE}, 1)"
                        " AS BIGINT)"
                    )
                    * F.col("dc")
                )
                .cast("bigint")
                .alias("ta"),
            )
            .collect()[0]
        )

    rawh_live: list[DataFrame] = []
    for _ in range(_HITS_ITERS):
        auth = norm_lit(half_step(hub, "c", "s"), tot_a)
        rawh, row = round_checkpoint_probe(half_step(auth, "s", "c"), _totals)
        rawh_live.append(rawh)
        if len(rawh_live) > 2:
            evict_round_checkpoint(rawh_live.pop(0))
        tot_a = row["ta"]
        hub = norm_lit(rawh, row["th"])
    for live in rawh_live:
        register_run_checkpoint(live)
    return hub.select(
        F.lit("customer").alias("kind"),
        F.col("node").cast("bigint").alias("entity_key"),
        F.col("v").alias("hits_score"),
        F.lit("hub").alias("role"),
    ).unionAll(
        auth.select(
            F.lit("supplier").alias("kind"),
            F.col("node").cast("bigint").alias("entity_key"),
            F.col("v").alias("hits_score"),
            F.lit("authority").alias("role"),
        )
    )


# ---------------------------------------------------------------------------
# Modularity — how community-like is the geographic partition of the trade
# graph? Newman's Q in fully exact integer arithmetic.
# ---------------------------------------------------------------------------


def _modularity_sql() -> str:
    """Modularity Q of the nation partition on the customer–supplier trade
    graph (same DISTINCT edge set as q_pagerank/q_hits). Everything is
    integer until ONE final division: Q = (4m·Σ_c e_c − Σ_c d_c²)/(4m²),
    the cleared-denominator form of Σ_c (e_c/m − (d_c/2m)²) — per-nation
    within-edge counts e_c and degree sums d_c are plain keyed aggregates.
    Per-nation contribution rows are emitted alongside the global Q so an
    analyst sees WHICH geography is assortative."""
    return """
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
ecomm AS (
  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn
  FROM edges e
  JOIN customer c ON e.c = c.c_custkey
  JOIN supplier s ON e.s = s.s_suppkey
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ecomm),
within AS (
  SELECT cn AS nk, CAST(COUNT(*) AS BIGINT) AS e_c
  FROM ecomm WHERE cn = sn GROUP BY cn
),
deg AS (
  SELECT nk, CAST(SUM(d) AS BIGINT) AS d_c
  FROM (
    SELECT cn AS nk, CAST(COUNT(*) AS BIGINT) AS d FROM ecomm GROUP BY cn
    UNION ALL
    SELECT sn AS nk, CAST(COUNT(*) AS BIGINT) AS d FROM ecomm GROUP BY sn
  ) u
  GROUP BY nk
),
per_c AS (
  SELECT d.nk, COALESCE(w.e_c, 0) AS e_c, d.d_c
  FROM deg d LEFT JOIN within w ON d.nk = w.nk
),
gtot AS (
  SELECT CAST(SUM(e_c) AS BIGINT) AS sum_e, CAST(SUM(d_c * d_c) AS BIGINT) AS sum_d2
  FROM per_c
)
SELECT
  n.n_name AS nation,
  p.e_c AS edges_within,
  p.d_c AS degree_sum,
  CAST(p.e_c AS DOUBLE) / m.m
    - (CAST(p.d_c AS DOUBLE) / (2.0 * m.m)) * (CAST(p.d_c AS DOUBLE) / (2.0 * m.m))
    AS contribution,
  CAST(4 * m.m * g.sum_e - g.sum_d2 AS DOUBLE) / (4.0 * CAST(m.m AS DOUBLE) * m.m)
    AS modularity_q
FROM per_c p
JOIN nation n ON p.nk = n.n_nationkey
CROSS JOIN m CROSS JOIN gtot g
ORDER BY nation
"""


sql_query(
    "q_modularity",
    spark_sql=_modularity_sql(),
    duck_sql=_modularity_sql(),
    tables=["orders", "lineitem", "customer", "supplier", "nation"],
    doc="Newman modularity of the nation partition on the customer–"
    "supplier trade graph — the quality score for ANY community "
    "assignment (here: does geography explain trade structure?), the "
    "same Q a Louvain/LPA pipeline optimizes (pairs with "
    "q_label_propagation: run LPA, score with this). Cleared-"
    "denominator exact form (4m·Σe_c − Σd_c²)/4m² — pure BIGINT keyed "
    "aggregates over the DISTINCT edge set, one final division; "
    "per-nation contribution rows plus the global Q. One edge "
    "dedup shuffle + two broadcast dim joins + nation-grain algebra.",
)


def modularity_of(edges: DataFrame, labels: DataFrame) -> float:
    """Score ANY community assignment with Newman's Q — the library half
    of q_modularity (which fixes communities = nation): pass the LPA /
    star-contraction output as ``labels(node, label)`` and the undirected
    ``edges(a, b)`` list to score it. Exact integer aggregates (within-
    community edge counts, community degree sums) collapse to three
    scalars; Q = (4m·Σe_c − Σd_c²)/(4m²) in one driver-side division —
    the only collected data is three BIGINTs."""
    e = edges.select(F.col("a").alias("na"), F.col("b").alias("nb")).distinct()
    la = labels.select(F.col("node").alias("na"), F.col("label").alias("ca"))
    lb = labels.select(F.col("node").alias("nb"), F.col("label").alias("cb"))
    tagged = e.join(la, "na").join(lb, "nb")
    row = tagged.agg(
        F.count("*").alias("m"),
        F.sum(F.when(F.col("ca") == F.col("cb"), 1).otherwise(0)).alias("sum_e"),
    ).collect()[0]
    m, sum_e = int(row["m"]), int(row["sum_e"])
    if m == 0:
        return 0.0
    deg = (
        tagged.select(F.col("ca").alias("c"))
        .unionAll(tagged.select(F.col("cb").alias("c")))
        .groupBy("c")
        .agg(F.count("*").alias("d"))
        .agg(F.sum(F.col("d") * F.col("d")).alias("sum_d2"))
        .collect()[0]
    )
    sum_d2 = int(deg["sum_d2"])
    return float(4 * m * sum_e - sum_d2) / float(4 * m * m)


# ---------------------------------------------------------------------------
# Degree assortativity — do busy customers trade with busy suppliers?
# ---------------------------------------------------------------------------


def _assortativity_sql(d: Dialect) -> str:
    """Bipartite degree assortativity: Pearson correlation between
    deg(customer) and deg(supplier) across the distinct edge list.
    Degrees are exact integers, so all five moment sums are exact
    BIGINTs (Σd ≤ |E|·maxdeg ≈ 6×10⁸ at sf0.1, Σd² ≤ 4×10¹¹ — far
    inside 2^63) and r is one shared IEEE tree — no decimal snaps
    needed anywhere. Negative r = busy customers spread across quiet
    suppliers (disassortative, the usual commerce shape)."""
    corr = (
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / "
        "(SQRT(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * "
        " SQRT(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
    )
    return f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS ckey, l.l_suppkey AS skey
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
cd AS (SELECT ckey, CAST(COUNT(*) AS BIGINT) AS dc FROM edges GROUP BY ckey),
sd AS (SELECT skey, CAST(COUNT(*) AS BIGINT) AS ds FROM edges GROUP BY skey),
moments AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c.dc) AS BIGINT) AS sx,
         CAST(SUM(s.ds) AS BIGINT) AS sy,
         CAST(SUM(c.dc * c.dc) AS BIGINT) AS sxx,
         CAST(SUM(s.ds * s.ds) AS BIGINT) AS syy,
         CAST(SUM(c.dc * s.ds) AS BIGINT) AS sxy
  FROM edges e JOIN cd c ON e.ckey = c.ckey JOIN sd s ON e.skey = s.skey
)
SELECT
  n AS n_edges,
  CAST(sx AS DOUBLE) / n AS mean_cust_degree,
  CAST(sy AS DOUBLE) / n AS mean_supp_degree,
  {corr} AS assortativity
FROM moments
"""


sql_query(
    "q_assortativity",
    spark_sql=_assortativity_sql(SPARK),
    duck_sql=_assortativity_sql(DUCK),
    tables=["orders", "lineitem"],
    doc="Bipartite degree assortativity of the customer–supplier graph: "
    "Pearson correlation of endpoint degrees across distinct edges — "
    "the one-number mixing summary (negative = hubs pair with leaves) "
    "that decides whether degree-capped candidate generation "
    "(q_link_prediction) or hub-split salting (q_skew_report) is the "
    "right scale move. Exact integer degree moments (no decimal snaps "
    "— Σd² bounded far inside 2^63 at sf1), two broadcast degree "
    "joins, one scalar row.",
)


# ---------------------------------------------------------------------------
# Effective diameter — multi-source BFS distance distribution (ANF-lite).
# ---------------------------------------------------------------------------

_ED_SOURCES = 8
_ED_ROUNDS = 6


def _eff_diameter_oracle(rounds: int = _ED_ROUNDS) -> str:
    """(source, node) reach sets unrolled per round; the histogram and
    the 90th-percentile (effective-diameter) flag fall out of exact
    integer cumulative counts."""
    ctes = [
        f"""pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst FROM pairs
),
seeds AS (
  SELECT src AS source FROM (
    SELECT DISTINCT src FROM edges WHERE src % 2 = 0
  ) g ORDER BY src LIMIT {_ED_SOURCES}
),
r0 AS (SELECT source, source AS node FROM seeds)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT source, node FROM r{i - 1}
  UNION
  SELECT p.source, e.dst AS node
  FROM edges e JOIN r{i - 1} p ON e.src = p.node
)"""
        )
    layers = " UNION ALL ".join(
        f"SELECT source, node, {i} AS h FROM r{i}" for i in range(rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
, dist AS (
  SELECT source, node, CAST(MIN(h) AS BIGINT) AS hop
  FROM ({layers}) all_layers
  GROUP BY source, node
),
hist AS (
  SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM dist GROUP BY hop
),
cum AS (
  SELECT hop, n_pairs,
         CAST(SUM(n_pairs) OVER (ORDER BY hop) AS BIGINT) AS cum,
         CAST(SUM(n_pairs) OVER () AS BIGINT) AS total,
         CAST(SUM(hop * n_pairs) OVER () AS BIGINT) AS hop_sum
  FROM hist
)
SELECT hop, n_pairs, cum, total,
       CAST((n_pairs * 1000000) // total AS BIGINT) AS share_ppm,
       CASE WHEN cum * 10 >= total * 9
             AND (cum - n_pairs) * 10 < total * 9 THEN 1 ELSE 0 END
         AS is_effective_diameter,
       CAST((hop_sum * 1000000) // total AS BIGINT) AS mean_dist_ppm
FROM cum
ORDER BY hop
"""
    )


@df_query(
    "q_effective_diameter",
    duck_sql=_eff_diameter_oracle(),
    tables=["orders", "lineitem", "customer"],
    doc="Effective diameter (ANF-lite): multi-source BFS from the 8 "
    "lowest-id trading customers over the symmetric trade graph, exact "
    "(source, node) hop distances to round 6, the distance histogram "
    "with exact ppm shares, the mean distance, and the 90th-percentile "
    "flag (the effective-diameter convention) decided by integer "
    "cumulative-count comparisons. The distance-DISTRIBUTION capstone "
    "of the iterative graph family (q_bfs_hops reports reachability "
    "from ONE cohort; this samples sources the way ANF/HyperANF does, "
    "with exact sets at 8 sources standing in for their sketched "
    "union). Frontier-optimized like q_bfs_hops: per-round work is "
    "O(frontier-adjacent edges) per source, the distance table "
    "checkpointed per round (O(1) lineage), anti-join on the accumulated "
    "(source, node) set.",
)
def q_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem", "customer"])
    pairs = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    # Same optimization shape as q_bfs_hops (r11): explicit-width edge
    # checkpoint for full per-round parallelism, and ONE fused action per
    # round — the dist checkpoint's materializing scan IS the count probe,
    # and emptiness of the round's frontier is read off the count delta
    # instead of a separate isEmpty job (three actions per round before).
    # (A persist()-based edge relation — cached plan keeps partitioning+
    # order, so rounds would join exchange-free — was tried and REVERTED:
    # the per-round columnar-cache-to-row conversion cost more than the
    # exchanges it saved, 3.7 s -> 5.6 s warm at sf0.1.)
    p_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = round_checkpoint(
        _sym_edges(pairs)
        .repartition(p_width, "src")
    )
    seeds = (
        edges.select("src")
        .where(F.col("src") % 2 == 0)
        .distinct()
        .orderBy("src")
        .limit(_ED_SOURCES)
        .select(F.col("src").alias("source"))
    )

    def hop_round(dist: DataFrame, _n, i) -> DataFrame:
        frontier = dist.where(F.col("hop") == i - 1)
        neighbors = (
            edges.join(frontier, edges.src == frontier.node)
            .select("source", F.col("dst").alias("node"))
            .distinct()
        )
        return dist.unionAll(
            neighbors.join(
                dist.select("source", "node"), ["source", "node"], "left_anti"
            ).withColumn("hop", F.lit(i))
        )

    # An unchanged pair count means an empty frontier: the walk is done.
    dist, _, _ = iterate(
        seeds.select("source", F.col("source").alias("node")).withColumn(
            "hop", F.lit(0)
        ),
        hop_round,
        DataFrame.count,
        rounds=_ED_ROUNDS,
        until=lambda prev, cur: prev[1] == cur[1],
        inputs=(edges,),
    )
    register_run_checkpoint(dist)
    hist = dist.groupBy("hop").agg(F.count("*").alias("n_pairs"))
    from pyspark.sql import Window

    w = Window.orderBy("hop")
    wall = Window.partitionBy()
    cum = hist.select(
        F.col("hop").cast("bigint").alias("hop"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.sum("n_pairs").over(w).cast("bigint").alias("cum"),
        F.sum("n_pairs").over(wall).cast("bigint").alias("total"),
        F.sum(F.col("hop") * F.col("n_pairs")).over(wall).cast("bigint").alias("hop_sum"),
    )
    return cum.select(
        "hop",
        "n_pairs",
        "cum",
        "total",
        F.expr("CAST((n_pairs * 1000000) DIV total AS BIGINT)").alias("share_ppm"),
        F.expr(
            "CASE WHEN cum * 10 >= total * 9"
            " AND (cum - n_pairs) * 10 < total * 9 THEN 1 ELSE 0 END"
        ).alias("is_effective_diameter"),
        F.expr("CAST((hop_sum * 1000000) DIV total AS BIGINT)").alias("mean_dist_ppm"),
    ).orderBy("hop")

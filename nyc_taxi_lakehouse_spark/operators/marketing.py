"""Marketing & recommendation analytics — attribution, item-item
collaborative filtering, and link prediction over the order graph.

Extends the reference's funnel/engagement analytics
(comprehensive_analytics.py's user-journey rollups) and q_attribution's
touch-credit models with the two models a growth team runs next on the
same order book: which items sell together (item-item cosine CF), and
which customer pairs the supplier graph predicts will transact alike
(resource-allocation link prediction — the ln()-free Adamic-Adar
variant, per the house no-ln rule). All candidate generation is
key-bucketed: CF pairs explode per-order (≤ C(items,2) per order) and
link prediction only walks through low-degree common neighbors, so the
pair space is pruned before it exists — no O(N²) stage anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.detsql import DUCK, SPARK, Dialect
from ..plans.ckpt import register_run_checkpoint, round_checkpoint
from ..registry import df_query, sql_query
from ..sources.tables import load_tables


# ---------------------------------------------------------------------------
# Item-item collaborative filtering: top-5 cosine neighbors per part.
# ---------------------------------------------------------------------------


def _item_cf_sql(d: Dialect) -> str:
    """Binary basket cosine: sim(a,b) = co(a,b) / sqrt(n_a·n_b) over
    distinct (order, part) incidences. Pairs are generated per order
    (orders hold a handful of parts, so the fan-out is Σ C(k_o, 2) —
    linear in lineitems, never a global cross join); sqrt is IEEE-exact
    (correctly rounded, unlike ln) so the score hash-matches across
    engines. Top-5 neighbors per anchor part, co-count ≥ 2."""
    return """
WITH op AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem
),
deg AS (
  SELECT pkey, CAST(COUNT(*) AS BIGINT) AS n_orders FROM op GROUP BY pkey
),
pairs AS (
  SELECT a.pkey AS part_a, b.pkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS co_orders
  FROM op a JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey
  GROUP BY a.pkey, b.pkey
  HAVING COUNT(*) >= 2
),
scored AS (
  SELECT p.part_a, p.part_b, p.co_orders,
         da.n_orders AS n_a, db.n_orders AS n_b,
         CAST(p.co_orders AS DOUBLE)
           / SQRT(CAST(da.n_orders AS DOUBLE) * CAST(db.n_orders AS DOUBLE))
           AS cosine
  FROM pairs p
  JOIN deg da ON p.part_a = da.pkey
  JOIN deg db ON p.part_b = db.pkey
),
sym AS (
  SELECT part_a AS anchor, part_b AS neighbor, co_orders, cosine FROM scored
  UNION ALL
  SELECT part_b AS anchor, part_a AS neighbor, co_orders, cosine FROM scored
),
ranked AS (
  SELECT anchor, neighbor, co_orders, cosine,
         ROW_NUMBER() OVER (PARTITION BY anchor
                            ORDER BY cosine DESC, neighbor) AS rk
  FROM sym
)
SELECT anchor, neighbor, co_orders, cosine, CAST(rk AS INT) AS rk
FROM ranked
WHERE rk <= 5
ORDER BY anchor, rk
"""


@df_query(
    "q_item_cf",
    duck_sql=_item_cf_sql(DUCK),
    tables=["lineitem"],
    doc="Item-item collaborative filtering: top-5 cosine neighbors per "
    "part over binary order baskets (sim = co/sqrt(n_a·n_b), co ≥ 2) — "
    "the 'customers also bought' model, one step past q_market_basket's "
    "support/lift pairs. Pair generation is order-bucketed (Σ C(k,2) per "
    "order, linear in lineitems); sqrt is IEEE-correctly-rounded so the "
    "hash gate holds; the per-anchor rank window is part-partitioned "
    "(thousands of partitions, no global sort). DataFrame impl: ONE "
    "groupBy(okey) shuffle builds sorted part-set baskets (TPC-H orders "
    "hold <= 7 parts), the C(k,2) <= 21 a<b pairs explode MAP-SIDE from "
    "each array (q_link_prediction's shape — no incidence self-join at "
    "all), the pair aggregate runs with map-side partial combine on the "
    "HALVED a<b space, and the symmetric orientation is mirrored "
    "POST-aggregation (after the co >= 2 filter, so the mirror touches "
    "the surviving slice only). Degrees explode from the same "
    "checkpointed baskets and broadcast. 3.6 s -> ~1.5 s at sf0.1 over "
    "the checkpointed-self-join form; at 100 TB the pair shuffle volume "
    "is half the naive orientation-doubled stream.",
)
def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    # (r11 measured note: an explicit-width repartition(okey) before this
    # aggregate — the q_pagerank-style AQE-width fix — was tried and
    # REVERTED: it forced the basket agg into complete mode and re-ran the
    # explode consumers at 32 narrow partitions for ~4x the executor CPU
    # with no wall-clock win; this query's wall is per-query fixed
    # overhead, not stage width.)
    # ONE construction action where there were three (optimization r12,
    # guide §1.2 — the r11 floor-attribution shows this query's wall is
    # sequential bounded driver actions, not stage work): the basket
    # checkpoint is DEFERRED, the degree checkpoint rides the broadcast
    # gate's count probe, and that single job materializes both. Both
    # frames are registered for post-consumption release (the raw eager
    # localCheckpoints used to stay pinned for the session).
    from ..plans.audit import gated_broadcast
    from ..plans.ckpt import (
        deferred_round_checkpoint,
        register_run_checkpoint,
        round_checkpoint_probe,
    )

    baskets = register_run_checkpoint(deferred_round_checkpoint(
        t["lineitem"]
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    ))
    # Checkpointed: deg feeds TWO broadcast subtrees (n_a and n_b); lazy it
    # would re-run the explode+agg once per broadcast.
    deg, n_items = round_checkpoint_probe(
        baskets.select(F.explode("parts").alias("pkey"))
        .groupBy("pkey")
        .agg(F.count("*").cast("bigint").alias("n_orders")),
        DataFrame.count,
    )
    register_run_checkpoint(deg)
    # (r11: widening this explode to 32 partitions — keyed repartition off
    # the checkpoint — was also tried and REVERTED: the stage's total CPU
    # tripled from parallel-efficiency collapse on this small input and
    # the wall stayed flat; only the explode-mirror below survived
    # measurement.)
    # a<b pairs via CHAINED GENERATORS, not nested transform() lambdas:
    # higher-order functions are interpreted per element, and this explode
    # fed ~Σ C(k,2) struct constructions through that interpreter — the
    # same §4-class boundary the r11 Gram pass removed. Two codegen'd
    # generate nodes (posexplode + explode-of-slice) emit the identical
    # row multiset; measured 0.92 s -> 0.46 s (median of 5, noop sink) on
    # the pair-aggregate stage at sf0.1 (optimization r12, guide §4.1).
    pairs = (
        baskets.select("parts", F.posexplode("parts").alias("i", "a"))
        .select(
            "a",
            F.explode(F.expr("slice(parts, i + 2, size(parts))")).alias("b"),
        )
        .groupBy(F.col("a").alias("part_a"), F.col("b").alias("part_b"))
        .agg(F.count("*").cast("bigint").alias("co_orders"))
        .filter(F.col("co_orders") >= 2)
    )
    # deg is ITEM-scaled (part vocabulary), not a dimension: gate the
    # broadcast on its measured count (n_items — the scalar that rode
    # deg's materializing scan above) so the join shuffles at catalog
    # scales instead of OOMing the hint.
    scored = (
        pairs
        .join(gated_broadcast(deg.select(F.col("pkey").alias("part_a"),
                                         F.col("n_orders").alias("n_a")),
                              n_items), "part_a")
        .join(gated_broadcast(deg.select(F.col("pkey").alias("part_b"),
                                         F.col("n_orders").alias("n_b")),
                              n_items), "part_b")
        .withColumn(
            "cosine",
            F.col("co_orders").cast("double")
            / F.sqrt(F.col("n_a").cast("double") * F.col("n_b").cast("double")),
        )
    )
    # Mirror via ONE explode, not unionAll: the union inlines the whole
    # explode+pair-aggregate+broadcast-join pipeline into each branch, so
    # the plan computed it twice (optimization r11, guide §2.4 — measured
    # as two identical basket-explode stages at sf0.1).
    sym = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("part_a").alias("anchor"),
                    F.col("part_b").alias("neighbor"),
                    F.col("co_orders").alias("co_orders"),
                    F.col("cosine").alias("cosine"),
                ),
                F.struct(
                    F.col("part_b").alias("anchor"),
                    F.col("part_a").alias("neighbor"),
                    F.col("co_orders").alias("co_orders"),
                    F.col("cosine").alias("cosine"),
                ),
            )
        ).alias("e")
    ).select("e.anchor", "e.neighbor", "e.co_orders", "e.cosine")
    from pyspark.sql.window import Window

    w = Window.partitionBy("anchor").orderBy(F.desc("cosine"), F.col("neighbor"))
    return (
        sym.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 5)
        .select("anchor", "neighbor", "co_orders", "cosine", "rk")
        .orderBy("anchor", "rk")
    )


# ---------------------------------------------------------------------------
# Link prediction: resource-allocation index over the co-supplier graph.
# ---------------------------------------------------------------------------

_RA_DEG_CAP = 8


def _link_pred_sql(d: Dialect) -> str:
    """Supplier-pair affinity through shared customers: RA(a,b) =
    Σ_{c ∈ N(a)∩N(b), deg(c) ≤ cap} 1/deg(c) — Adamic-Adar's 1/ln(deg)
    replaced by resource-allocation's 1/deg (ln is banned from the hash
    gate; RA also outperforms AA in the original Zhou-Lü-Zhang study).
    Customers are the SPARSE side of this bipartite graph (median degree
    ~10-40 vs suppliers' 140-680), and the cap IS the score definition
    (documented, not a silent approximation): promiscuous customers
    contribute ≤ 1/(cap+1) each and explode the pair space
    quadratically, so production link predictors walk only through
    selective neighbors — the exact analogue of PPJoin's rare-token
    prefix filter. Per-customer 1/deg terms are DECIMAL(28,12)-snapped
    before the pair sum. Top-50 pairs overall (TakeOrderedAndProject)."""
    return f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS ckey, l.l_suppkey AS skey
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
deg AS (
  SELECT ckey, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY ckey
),
rare AS (
  SELECT e.skey, e.ckey, g.d
  FROM edges e JOIN deg g ON e.ckey = g.ckey
  WHERE g.d <= {_RA_DEG_CAP}
),
pairs AS (
  SELECT a.skey AS supp_a, b.skey AS supp_b,
         CAST(COUNT(*) AS BIGINT) AS common_rare,
         CAST(SUM(CAST(1.0 / a.d AS DECIMAL(28,12))) AS DOUBLE) AS ra_score
  FROM rare a JOIN rare b ON a.ckey = b.ckey AND a.skey < b.skey
  GROUP BY a.skey, b.skey
)
SELECT supp_a, supp_b, common_rare, ra_score
FROM pairs
ORDER BY ra_score DESC, supp_a, supp_b
LIMIT 50
"""


@df_query(
    "q_link_prediction",
    duck_sql=_link_pred_sql(DUCK),
    tables=["orders", "lineitem"],
    doc="Link prediction on the customer–supplier bipartite graph: "
    "supplier-pair resource-allocation affinity RA(a,b) = Σ 1/deg(c) "
    "over shared SELECTIVE customers (deg ≤ 8 is part of the score "
    "definition — promiscuous neighbors carry negligible signal and "
    "quadratic cost, the same rare-neighbor pruning as PPJoin's prefix "
    "filter), top-50 pairs. The ln()-free Adamic-Adar variant per the "
    "house hash-gate rule. Customer-bucketed pair generation: output is "
    "Σ deg² over capped customers only, bounded by cap·|edges|. "
    "DataFrame impl: one shuffle to sorted per-customer supplier sets, "
    "the C(d,2) ≤ 28 ordered pairs exploded MAP-SIDE from the array, one "
    "pair aggregate — no self-join at all, 1 orders+lineitem scan vs the "
    "naive SQL's 8 (Spark inlines CTEs), 1.39 s vs 2.39 s for the "
    "checkpointed self-join form at sf0.1.",
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    edges = (
        t["orders"]
        .join(t["lineitem"], t["orders"].o_orderkey == t["lineitem"].l_orderkey)
        .select(F.col("o_custkey").alias("ckey"), F.col("l_suppkey").alias("skey"))
        .distinct()
    )
    # One shuffle to per-customer supplier sets; the degree cap is a
    # size() filter and the C(d,2) ≤ 28 ordered pairs explode MAP-SIDE
    # from the sorted array — no rare-incidence self-join, no second
    # shuffle before the pair aggregate. sort_array pins determinism
    # (collect_set order is not deterministic) and yields a < b pairs.
    rare = (
        edges.groupBy("ckey")
        .agg(F.sort_array(F.collect_set("skey")).alias("supps"))
        .filter(F.size("supps") <= _RA_DEG_CAP)
    )
    # Chained generators instead of nested transform() lambdas — same
    # de-lambda as q_item_cf's pair explode (optimization r12, guide §4.1;
    # HOFs are interpreted per element, generators are codegen'd).
    pair_stream = rare.select(
        F.size("supps").alias("d"),
        "supps",
        F.posexplode("supps").alias("i", "a"),
    ).select(
        "d",
        "a",
        F.explode(F.expr("slice(supps, i + 2, size(supps))")).alias("b"),
    )
    pairs = (
        pair_stream.groupBy(F.col("a").alias("supp_a"), F.col("b").alias("supp_b"))
        .agg(
            F.count("*").cast("bigint").alias("common_rare"),
            F.sum((F.lit(1.0) / F.col("d")).cast("decimal(28,12)"))
            .cast("double")
            .alias("ra_score"),
        )
    )
    return (
        pairs.select("supp_a", "supp_b", "common_rare", "ra_score")
        .orderBy(F.desc("ra_score"), "supp_a", "supp_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Recommender evaluation: hit-rate@k of CF neighbors on a temporal holdout.
# ---------------------------------------------------------------------------


def _rec_hitrate_sql(d: Dialect) -> str:
    """Oracle twin of q_rec_hitrate (DuckDB evaluates the CTE chain
    directly; the Spark side is the DataFrame pipeline below — CTE
    inlining makes this exact SQL shape 8-scan-expensive on Spark)."""
    day = f"CAST({d.idiv(d.epoch('o_orderdate'), '86400')} AS BIGINT)"
    return f"""
WITH od AS (
  SELECT o_orderkey AS okey, {day} AS day_no FROM orders
),
bounds AS (
  SELECT MIN(day_no) AS lo, MAX(day_no) AS hi FROM od
),
split AS (
  SELECT lo + (hi - lo) * 8 // 10 AS split_day FROM bounds
),
op AS (
  SELECT DISTINCT l.l_orderkey AS okey, l.l_partkey AS pkey, o.day_no
  FROM lineitem l JOIN od o ON l.l_orderkey = o.okey
),
train AS (
  SELECT okey, pkey FROM op, split WHERE day_no < split_day
),
test AS (
  SELECT okey, pkey FROM op, split WHERE day_no >= split_day
),
deg AS (
  SELECT pkey, CAST(COUNT(*) AS BIGINT) AS n FROM train GROUP BY pkey
),
pairs AS (
  SELECT a.pkey AS anchor, b.pkey AS neighbor,
         CAST(COUNT(*) AS BIGINT) AS co
  FROM train a JOIN train b ON a.okey = b.okey AND a.pkey <> b.pkey
  GROUP BY a.pkey, b.pkey
  HAVING COUNT(*) >= 2
),
nbr AS (
  SELECT anchor, neighbor,
         ROW_NUMBER() OVER (
           PARTITION BY anchor
           ORDER BY CAST(p.co AS DOUBLE)
                    / SQRT(CAST(da.n AS DOUBLE) * CAST(db.n AS DOUBLE)) DESC,
                    neighbor) AS rk
  FROM pairs p
  JOIN deg da ON p.anchor = da.pkey
  JOIN deg db ON p.neighbor = db.pkey
),
test_pairs AS (
  SELECT a.okey, a.pkey AS anchor, b.pkey AS other
  FROM test a JOIN test b ON a.okey = b.okey AND a.pkey <> b.pkey
),
scored AS (
  SELECT t.okey, t.anchor, MIN(n.rk) AS best_rank
  FROM test_pairs t
  LEFT JOIN (SELECT * FROM nbr WHERE rk <= 5) n
    ON t.anchor = n.anchor AND t.other = n.neighbor
  GROUP BY t.okey, t.anchor
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_eval,
  CAST(SUM(CASE WHEN best_rank <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_1,
  CAST(SUM(CASE WHEN best_rank <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_3,
  CAST(SUM(CASE WHEN best_rank <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_5,
  CAST(SUM(CASE WHEN best_rank <= 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
    AS hitrate_at_1,
  CAST(SUM(CASE WHEN best_rank <= 3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
    AS hitrate_at_3,
  CAST(SUM(CASE WHEN best_rank <= 5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
    AS hitrate_at_5
FROM scored
"""


@df_query(
    "q_rec_hitrate",
    duck_sql=_rec_hitrate_sql(DUCK),
    tables=["orders", "lineitem"],
    doc="Offline recommender evaluation: hit-rate@1/3/5 of the item-CF "
    "cosine neighbors (trained on the first 80% of order days) against "
    "the held-out last 20% — an eval (order, anchor-part) scores a hit "
    "if any OTHER part in the same held-out basket appears in the "
    "anchor's top-k trained neighbors. The temporal split is "
    "data-relative integer day arithmetic (no leakage: neighbors never "
    "see test baskets), the denominator includes cold-start anchors "
    "(honest recall). DataFrame impl reuses the q_item_cf basket shape: "
    "ONE groupBy(okey) shuffle builds sorted per-order part sets "
    "(day-tagged — an order is train or test wholesale, so the temporal "
    "split is an array-level filter), train pairs explode MAP-SIDE a<b "
    "then mirror post-aggregation, eval pairs explode MAP-SIDE in both "
    "orientations (k <= 7 per basket), and the eval join probes the "
    "broadcast <= 5-per-anchor neighbor table — no self-join anywhere.",
)
def q_rec_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    od = t["orders"].select(
        F.col("o_orderkey").alias("okey"),
        (F.unix_timestamp("o_orderdate") / F.lit(86400))
        .cast("bigint")
        .alias("day_no"),
    )
    lo, hi = od.agg(F.min("day_no"), F.max("day_no")).first()
    split_day = lo + (hi - lo) * 8 // 10
    # ONE construction action where there were three — deferred basket
    # checkpoint materialized by the degree checkpoint's broadcast-gate
    # count probe, both registered for post-consumption release (same
    # fusion as q_item_cf; optimization r12, guide §1.2).
    from ..plans.audit import gated_broadcast
    from ..plans.ckpt import (
        deferred_round_checkpoint,
        register_run_checkpoint,
        round_checkpoint_probe,
    )

    baskets = register_run_checkpoint(deferred_round_checkpoint(
        t["lineitem"]
        .select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey"))
        .join(od, "okey")
        .groupBy("okey", "day_no")
        .agg(F.sort_array(F.collect_set("pkey")).alias("parts"))
    ))
    train = baskets.filter(F.col("day_no") < split_day)
    test = baskets.filter(F.col("day_no") >= split_day)
    # Checkpointed: deg feeds TWO broadcast subtrees (n_a and n_b).
    deg, n_items = round_checkpoint_probe(
        train.select(F.explode("parts").alias("pkey"))
        .groupBy("pkey")
        .agg(F.count("*").cast("bigint").alias("n")),
        DataFrame.count,
    )
    register_run_checkpoint(deg)
    # Chained generators instead of nested transform() lambdas (same
    # de-lambda as q_item_cf's pair explode — optimization r12, guide §4.1).
    pairs = (
        train.select("parts", F.posexplode("parts").alias("i", "a"))
        .select(
            "a",
            F.explode(F.expr("slice(parts, i + 2, size(parts))")).alias("b"),
        )
        .groupBy(F.col("a").alias("pa"), F.col("b").alias("pb"))
        .agg(F.count("*").cast("bigint").alias("co"))
        .filter(F.col("co") >= 2)
    )
    # Same item-scaled posture as q_item_cf: measured-size broadcast gate
    # (n_items rode deg's materializing scan above).
    scored_pairs = (
        pairs
        .join(gated_broadcast(deg.select(F.col("pkey").alias("pa"),
                                         F.col("n").alias("n_a")), n_items), "pa")
        .join(gated_broadcast(deg.select(F.col("pkey").alias("pb"),
                                         F.col("n").alias("n_b")), n_items), "pb")
        .withColumn(
            "cosine",
            F.col("co").cast("double")
            / F.sqrt(F.col("n_a").cast("double") * F.col("n_b").cast("double")),
        )
    )
    # Explode-mirror, not unionAll — the union inlined (and re-ran) the
    # whole train-pair pipeline per branch (optimization r11, guide §2.4).
    sym = scored_pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("anchor"),
                    F.col("pb").alias("neighbor"),
                    F.col("cosine").alias("cosine"),
                ),
                F.struct(
                    F.col("pb").alias("anchor"),
                    F.col("pa").alias("neighbor"),
                    F.col("cosine").alias("cosine"),
                ),
            )
        ).alias("e")
    ).select("e.anchor", "e.neighbor", "e.cosine")
    w = Window.partitionBy("anchor").orderBy(F.desc("cosine"), F.col("neighbor"))
    nbr = (
        sym.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("anchor", "neighbor", "rk")
    )
    # Both-orientation eval pairs via two codegen'd explodes + a filter —
    # no transform()/filter() lambdas (optimization r12, guide §4.1). The
    # parts arrays are distinct part sets, so anchor != other reproduces
    # the old filter(y != x) multiset exactly.
    test_pairs = (
        test.select("okey", "parts", F.explode("parts").alias("anchor"))
        .select("okey", "anchor", F.explode("parts").alias("other"))
        .filter(F.col("anchor") != F.col("other"))
    )
    scored = (
        test_pairs.join(
            # nbr carries <= 5 rows per anchor — item-scaled, same gate
            # (bound derived from the measured item count, no extra job).
            gated_broadcast(
                nbr.withColumnRenamed("neighbor", "other"), 5 * n_items
            ),
            ["anchor", "other"],
            "left",
        )
        .groupBy("okey", "anchor")
        .agg(F.min("rk").alias("best_rank"))
    )
    hit = lambda k: F.sum(  # noqa: E731
        F.when(F.col("best_rank") <= k, 1).otherwise(0)
    ).cast("bigint")
    return scored.agg(
        F.count("*").cast("bigint").alias("n_eval"),
        hit(1).alias("hits_at_1"),
        hit(3).alias("hits_at_3"),
        hit(5).alias("hits_at_5"),
        (hit(1).cast("double") / F.count("*")).alias("hitrate_at_1"),
        (hit(3).cast("double") / F.count("*")).alias("hitrate_at_3"),
        (hit(5).cast("double") / F.count("*")).alias("hitrate_at_5"),
    )


# ---------------------------------------------------------------------------
# Growth accounting: new / retained / resurrected / churned per month.
# ---------------------------------------------------------------------------


def _growth_sql(d: Dialect) -> str:
    """Social-Capital growth accounting over monthly purchase actives:
    per (user, month) the LAG of the user's previous active month
    classifies new (no prior), retained (prev = m−1), resurrected
    (prev < m−1); churned(m) = users active in m−1 whose NEXT active
    month is not m (LEAD over the same grid — no second scan). Quick
    ratio = (new+resurrected)/churned with a NULLIF guard. All counts
    exact; user-partitioned windows over the per-user month grid."""
    month = f"CAST({d.idiv(d.epoch('ts'), '2592000')} AS BIGINT)"
    return f"""
WITH um AS (
  SELECT DISTINCT user_id, {month} AS m
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
),
walked AS (
  SELECT user_id, m,
         LAG(m)  OVER (PARTITION BY user_id ORDER BY m) AS prev_m,
         LEAD(m) OVER (PARTITION BY user_id ORDER BY m) AS next_m
  FROM um
),
classified AS (
  SELECT m,
         CASE WHEN prev_m IS NULL THEN 1 ELSE 0 END AS is_new,
         CASE WHEN prev_m = m - 1 THEN 1 ELSE 0 END AS is_retained,
         CASE WHEN prev_m IS NOT NULL AND prev_m < m - 1 THEN 1 ELSE 0 END
           AS is_resurrected
  FROM walked
),
churn AS (
  SELECT m + 1 AS m, CAST(COUNT(*) AS BIGINT) AS n_churned
  FROM walked
  WHERE next_m IS NULL OR next_m > m + 1
  GROUP BY m + 1
),
actives AS (
  SELECT m,
         CAST(COUNT(*) AS BIGINT) AS n_active,
         CAST(SUM(is_new) AS BIGINT) AS n_new,
         CAST(SUM(is_retained) AS BIGINT) AS n_retained,
         CAST(SUM(is_resurrected) AS BIGINT) AS n_resurrected
  FROM classified GROUP BY m
)
SELECT
  a.m AS month_no,
  a.n_active,
  a.n_new,
  a.n_retained,
  a.n_resurrected,
  COALESCE(c.n_churned, 0) AS n_churned,
  CAST(a.n_new + a.n_resurrected AS DOUBLE)
    / NULLIF(COALESCE(c.n_churned, 0), 0) AS quick_ratio
FROM actives a LEFT JOIN churn c ON a.m = c.m
ORDER BY a.m
"""


sql_query(
    "q_growth_accounting",
    spark_sql=_growth_sql(SPARK),
    duck_sql=_growth_sql(DUCK),
    tables=["events"],
    doc="Monthly growth accounting of purchase actives: new / retained / "
    "resurrected (LAG classification on the per-user month grid) and "
    "churned (LEAD gap from the SAME grid — no second scan), with the "
    "quick ratio (new+resurrected)/churned, NULLIF-guarded — the "
    "four-bucket decomposition every growth review starts from, the "
    "month-grain twin of q_dau_wau_mau and q_cohort_ltv. User-"
    "partitioned windows, exact integer counts, one distinct-grid pass.",
)


# ---------------------------------------------------------------------------
# NDCG@10 of the popularity recommender — graded ranking quality on the
# temporal holdout (the ranking-aware companion to q_rec_hitrate's hitrate).
# ---------------------------------------------------------------------------

# 1e12-fixed-point DCG discounts 1/log2(i+1), i = 1..10, and their prefix
# sums (ideal DCG for m relevant items). Compile-time literals — the same
# source text parses to the same BIGINT in Spark and DuckDB, so log2 never
# executes in either engine (the q_benford / q_sprt constant convention).
_NDCG_DISC_FP = [
    1000000000000, 630929753571, 500000000000, 430676558073, 386852807235,
    356207187108, 333333333333, 315464876786, 301029995664, 289064826318,
]
_NDCG_CUM_FP = [
    1000000000000, 1630929753571, 2130929753571, 2561606311644,
    2948459118879, 3304666305987, 3637999639320, 3953464516106,
    4254494511770, 4543559338088,
]
_NDCG_K = 10


def _ndcg_idcg_case(m_expr: str) -> str:
    """CASE mapping min(m, 10) basket-relevant counts to the ideal-DCG
    prefix-sum literal (binary relevance ⇒ IDCG = sum of the first m
    discounts)."""
    whens = "\n    ".join(
        f"WHEN {i + 1} THEN {c}" for i, c in enumerate(_NDCG_CUM_FP[:-1])
    )
    return (
        f"CASE LEAST({m_expr}, {_NDCG_K})\n    {whens}\n"
        f"    ELSE {_NDCG_CUM_FP[-1]} END"
    )


def _ndcg_oracle_sql(d: Dialect) -> str:
    """DuckDB oracle for q_ndcg — the identical algebra as one CTE chain
    (DuckDB materializes shared CTEs, so the multi-reference shape that
    is scan-expensive under Spark's CTE inlining is fine here)."""
    day = f"CAST({d.idiv(d.epoch('o_orderdate'), '86400')} AS BIGINT)"
    disc_case = "\n      ".join(
        f"WHEN {i + 1} THEN {v}" for i, v in enumerate(_NDCG_DISC_FP)
    )
    return f"""
WITH od AS (
  SELECT o_orderkey AS okey, {day} AS day_no FROM orders
),
bounds AS (
  SELECT MIN(day_no) AS lo, MAX(day_no) AS hi FROM od
),
split AS (
  SELECT lo + {d.idiv('(hi - lo) * 8', '10')} AS split_day FROM bounds
),
op AS (
  SELECT DISTINCT l.l_orderkey AS okey, l.l_partkey AS pkey, o.day_no
  FROM lineitem l JOIN od o ON l.l_orderkey = o.okey
),
train AS (
  SELECT okey, pkey FROM op, split WHERE day_no < split_day
),
test_items AS (
  SELECT okey, pkey FROM op, split WHERE day_no >= split_day
),
top10 AS (
  SELECT pkey,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pkey) AS rk
  FROM train GROUP BY pkey
  QUALIFY rk <= {_NDCG_K}
),
ranked AS (
  SELECT pkey, rk,
         CAST(CASE rk
      {disc_case}
         END AS BIGINT) AS disc_fp
  FROM top10
),
baskets AS (
  SELECT okey, CAST(COUNT(*) AS BIGINT) AS m,
         CAST({_ndcg_idcg_case('COUNT(*)')} AS BIGINT) AS idcg_fp
  FROM test_items GROUP BY okey
),
hits AS (
  SELECT t.okey,
         CAST(SUM(r.disc_fp) AS BIGINT) AS dcg_fp,
         CAST(MIN(r.rk) AS BIGINT) AS best_rank
  FROM test_items t JOIN ranked r ON t.pkey = r.pkey
  GROUP BY t.okey
),
per_basket AS (
  SELECT b.okey, b.idcg_fp,
         COALESCE(h.dcg_fp, 0) AS dcg_fp,
         h.best_rank
  FROM baskets b LEFT JOIN hits h ON b.okey = h.okey
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_baskets,
  CAST(SUM(dcg_fp) AS BIGINT) AS sum_dcg_fp,
  CAST(SUM(idcg_fp) AS BIGINT) AS sum_idcg_fp,
  CAST(SUM(dcg_fp) AS DOUBLE) / CAST(SUM(idcg_fp) AS DOUBLE) AS micro_ndcg,
  CAST({d.idiv(f"SUM({d.idiv('dcg_fp * 1000000', 'idcg_fp')})", 'COUNT(*)')}
    AS BIGINT) AS macro_ndcg_ppm,
  CAST(SUM(CASE WHEN best_rank = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_1,
  CAST(SUM(CASE WHEN best_rank <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_5,
  CAST(SUM(CASE WHEN best_rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS hits_at_10
FROM per_basket
"""


@df_query(
    "q_ndcg",
    duck_sql=_ndcg_oracle_sql(DUCK),
    tables=["orders", "lineitem"],
    doc="NDCG@10 of the global-popularity recommender on the temporal "
    "holdout: rank = the 10 most-purchased parts of the first 80% of "
    "order days, relevance = membership in a held-out basket, DCG "
    "discounts 1/log2(i+1) as 1e12 fixed-point COMPILE-TIME literals "
    "(log2 never executes — the hash gate stays bit-exact), IDCG from "
    "the prefix-sum literal per basket size. Micro NDCG = one IEEE "
    "division of two exact BIGINT sums; macro = ppm integer mean. The "
    "ranking-aware companion to q_rec_hitrate (which scores CF "
    "neighbors by hitrate; NDCG credits WHERE in the list the hit "
    "landed). Plan: train/test from one localCheckpointed incidence "
    "scan (CTE-inlining trap dodged), 10-row ranked list broadcast "
    "into the holdout probe, one final scalar aggregate.",
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    od = t["orders"].select(
        F.col("o_orderkey").alias("okey"),
        (F.unix_timestamp("o_orderdate") / F.lit(86400))
        .cast("bigint")
        .alias("day_no"),
    )
    lo, hi = od.agg(F.min("day_no"), F.max("day_no")).first()
    split_day = lo + (hi - lo) * 8 // 10
    op = register_run_checkpoint(round_checkpoint(
        t["lineitem"]
        .select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey"))
        .join(od, "okey")
        .distinct()
    ))
    train = op.filter(F.col("day_no") < split_day).select("okey", "pkey")
    test_items = op.filter(F.col("day_no") >= split_day).select("okey", "pkey")
    disc_case = "CASE rk " + " ".join(
        f"WHEN {i + 1} THEN {v}L" for i, v in enumerate(_NDCG_DISC_FP)
    ) + " END"
    # limit() FIRST → TakeOrderedAndProject (distributed top-k); the
    # row_number window then runs on 10 rows, not the full part table.
    ranked = (
        train.groupBy("pkey")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.col("pkey"))
        .limit(_NDCG_K)
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("cnt"), F.col("pkey"))),
        )
        .withColumn("disc_fp", F.expr(disc_case).cast("bigint"))
        .select("pkey", "rk", "disc_fp")
    )
    baskets = test_items.groupBy("okey").agg(
        F.count("*").cast("bigint").alias("m"),
        F.expr(_ndcg_idcg_case("COUNT(*)")).cast("bigint").alias("idcg_fp"),
    )
    hits = (
        test_items.join(F.broadcast(ranked), "pkey")
        .groupBy("okey")
        .agg(
            F.sum("disc_fp").cast("bigint").alias("dcg_fp"),
            F.min("rk").cast("bigint").alias("best_rank"),
        )
    )
    per_basket = (
        baskets.join(hits, "okey", "left")
        .select(
            "okey",
            "idcg_fp",
            F.coalesce(F.col("dcg_fp"), F.lit(0)).alias("dcg_fp"),
            "best_rank",
        )
    )
    return per_basket.agg(
        F.count("*").cast("bigint").alias("n_baskets"),
        F.sum("dcg_fp").cast("bigint").alias("sum_dcg_fp"),
        F.sum("idcg_fp").cast("bigint").alias("sum_idcg_fp"),
        (F.sum("dcg_fp").cast("double") / F.sum("idcg_fp").cast("double"))
        .alias("micro_ndcg"),
        F.expr(
            "SUM(dcg_fp * 1000000L DIV idcg_fp) DIV COUNT(*)"
        ).cast("bigint").alias("macro_ndcg_ppm"),
        F.sum(F.when(F.col("best_rank") == 1, 1).otherwise(0))
        .cast("bigint").alias("hits_at_1"),
        F.sum(F.when(F.col("best_rank") <= 5, 1).otherwise(0))
        .cast("bigint").alias("hits_at_5"),
        F.sum(F.when(F.col("best_rank").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("hits_at_10"),
    )


# ---------------------------------------------------------------------------
# Off-policy evaluation — IPS / SNIPS estimate of a uniform target policy
# against the logged per-activity-band behavior policy (the counterfactual
# companion to q_rec_hitrate/q_ndcg, which score the LOGGED policy only).
# ---------------------------------------------------------------------------


def _ips_eval_sql(d: Dialect) -> str:
    """Inverse-propensity-scored off-policy evaluation (Horvitz-Thompson /
    Swaminathan-Joachims SNIPS): logged action = the event type, context
    = the user's activity band (fixed compile-time count edges 60/70,
    the per-user event-count terciles — events-per-user is ~66 at every
    SF because users scale with the corpus, so the split holds at all
    scales; no quantile windows), behavior policy mu(a|band) = the
    empirical
    frequency, target policy pi = uniform over the 5 actions, reward =
    a purchase by the same user within one hour after the event
    (microsecond event time — the ns-precision-safe encoding — with
    event_id tiebreak, so the suffix-min window is a total order).
    Importance weights and both estimates are ppm-scaled staged idiv
    over exact BIGINT counts (all nonnegative, so truncation ==
    mathematical floor and python mirrors agree); SNIPS numerator
    terms stay under ~n_band*1e6 per
    cell — BIGINT-safe to ~1e9 logged events, DECIMAL(38,0) beyond."""
    us = d.epoch_us("ts")
    # compound denominators MUST be parenthesized: idiv emits `a DIV b`
    # and DIV binds at * precedence, so `5 * n_ab` bare would parse as
    # `(... DIV 5) * n_ab` in both engines.
    w_ppm = d.idiv("n_band * 1000000", "(5 * n_ab)")
    v_ips_ppm = d.idiv("SUM(r_ab * w_ppm) OVER ()", "SUM(n_ab) OVER ()")
    v_snips_ppm = d.idiv(
        "SUM(r_ab * w_ppm) OVER () * 1000000", "SUM(n_ab * w_ppm) OVER ()"
    )
    return f"""
WITH ev AS (
  SELECT user_id, event_type,
         CAST({us} AS BIGINT) AS es_us,
         event_id
  FROM events
),
rewarded AS (
  SELECT user_id, event_type, es_us,
         CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN es_us END)
                OVER (PARTITION BY user_id ORDER BY es_us, event_id
                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
              <= es_us + 3600000000 THEN 1 ELSE 0 END AS r,
         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS user_n
  FROM ev
),
banded AS (
  SELECT event_type AS action,
         CASE WHEN user_n < 60 THEN 0
              WHEN user_n < 70 THEN 1
              ELSE 2 END AS band,
         r
  FROM rewarded
),
cells AS (
  SELECT action, band,
         CAST(COUNT(*) AS BIGINT) AS n_ab,
         CAST(SUM(r) AS BIGINT) AS r_ab
  FROM banded GROUP BY action, band
),
weighted AS (
  SELECT action, band, n_ab, r_ab,
         CAST(SUM(n_ab) OVER (PARTITION BY band) AS BIGINT) AS n_band
  FROM cells
),
scored AS (
  SELECT action, band, n_ab, r_ab, n_band,
         CAST({w_ppm} AS BIGINT) AS w_ppm
  FROM weighted
)
SELECT action, band, n_ab, r_ab, n_band, w_ppm,
       CAST(r_ab * w_ppm AS BIGINT) AS ips_num_ppm,
       CAST(SUM(n_ab) OVER () AS BIGINT) AS n_total,
       CAST({v_ips_ppm} AS BIGINT) AS v_ips_ppm,
       CAST({v_snips_ppm} AS BIGINT) AS v_snips_ppm,
       CAST(SUM(r_ab) OVER () AS DOUBLE)
         / CAST(SUM(n_ab) OVER () AS DOUBLE) AS v_logged
FROM scored
ORDER BY action, band
"""


sql_query(
    "q_ips_eval",
    spark_sql=_ips_eval_sql(SPARK),
    duck_sql=_ips_eval_sql(DUCK),
    tables=["events"],
    doc="Off-policy evaluation of a uniform-random action policy against "
    "the logged event stream via inverse propensity scoring: behavior "
    "policy = empirical action frequency per user-activity band (fixed "
    "compile-time band edges), target = uniform over the 5 actions, "
    "reward = same-user purchase within 1 h after the event (suffix-min "
    "window over microsecond event time with event_id tiebreak — total "
    "order, partition-free). Emits per-(action, band) propensity cells, "
    "the IPS estimate (Horvitz-Thompson), the self-normalized SNIPS "
    "estimate (controls weight variance), and the logged-policy value "
    "for comparison — the counterfactual 'what would uniform "
    "exploration earn' question q_rec_hitrate/q_ndcg cannot answer. "
    "All weights/estimates are ppm staged idiv over exact nonnegative "
    "BIGINTs (nonnegative, so truncation == floor; safe to ~1e9 events, "
    "DECIMAL(38,0) beyond); the one double is a single IEEE division. "
    "Corpus-scale work is one user-keyed window pass (the "
    "sessionization exchange) + one tiny cell aggregate; the <=20-row "
    "report grain carries the single-partition windows.",
)


# ---------------------------------------------------------------------------
# Shapley-value attribution — the coalition-game credit split q_attribution's
# first/last/linear heuristics approximate (exact here: 4 channels -> 16
# coalitions, factorial weights as /24 integer literals).
# ---------------------------------------------------------------------------

_SHAP_CHANNELS = [(1, "click"), (2, "view"), (4, "signup"), (8, "error")]
# 24 * s!(n-s-1)!/n! for n=4, s = |S| = 0..3  ->  6, 2, 2, 6
def _shap_w24(s_col: str) -> str:
    """24 * |S|!(4-|S|-1)!/4! as an integer CASE over the coalition mask."""
    return (
        f"CASE bit_count({s_col}) WHEN 0 THEN 6 WHEN 1 THEN 2"
        f" WHEN 2 THEN 2 ELSE 6 END"
    )


def _shapley_oracle_sql(d: Dialect) -> str:
    """DuckDB oracle: the identical coalition algebra as one CTE chain
    (v is referenced twice in the marginal-contribution join — fine
    under DuckDB materialization; Spark checkpoints the 16-row mask
    table instead)."""
    us = d.epoch_us("ts")
    chans = " UNION ALL ".join(
        f"SELECT {b} AS bit, '{n}' AS channel" for b, n in _SHAP_CHANNELS
    )
    return f"""
WITH ev AS (
  SELECT user_id, event_type, CAST({us} AS BIGINT) AS es_us
  FROM events
),
withp AS (
  SELECT user_id, event_type, es_us,
         MIN(CASE WHEN event_type = 'purchase' THEN es_us END)
           OVER (PARTITION BY user_id) AS p_us
  FROM ev
),
journeys AS (
  SELECT user_id,
         CAST(MAX(CASE WHEN event_type = 'click' AND es_us < p_us
                       THEN 1 ELSE 0 END)
            + 2 * MAX(CASE WHEN event_type = 'view' AND es_us < p_us
                           THEN 1 ELSE 0 END)
            + 4 * MAX(CASE WHEN event_type = 'signup' AND es_us < p_us
                           THEN 1 ELSE 0 END)
            + 8 * MAX(CASE WHEN event_type = 'error' AND es_us < p_us
                           THEN 1 ELSE 0 END) AS BIGINT) AS mask
  FROM withp
  WHERE p_us IS NOT NULL
  GROUP BY user_id
),
conv AS (
  SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_conv
  FROM journeys GROUP BY mask
),
subsets AS (SELECT CAST(unnest(generate_series(0, 15)) AS BIGINT) AS s),
v AS (
  SELECT s.s, CAST(COALESCE(SUM(c.n_conv), 0) AS BIGINT) AS v
  FROM subsets s LEFT JOIN conv c ON (c.mask & s.s) = c.mask
  GROUP BY s.s
),
phi AS (
  SELECT ch.channel, ch.bit,
         CAST(SUM(({_shap_w24('a.s')}) * (b.v - a.v)) AS BIGINT) AS phi_x24
  FROM ({chans}) ch
  JOIN v a ON (a.s & ch.bit) = 0
  JOIN v b ON b.s = a.s + ch.bit
  GROUP BY ch.channel, ch.bit
)
SELECT channel, phi_x24,
       CAST(phi_x24 AS DOUBLE) / 24.0 AS phi,
       CAST({d.idiv("phi_x24 * 1000000", "NULLIF(SUM(phi_x24) OVER (), 0)")}
            AS BIGINT) AS share_ppm,
       CAST((SELECT v FROM v WHERE s = 15) AS BIGINT) AS v_full,
       CAST((SELECT v FROM v WHERE s = 0) AS BIGINT) AS v_empty
FROM phi
ORDER BY channel
"""


@df_query(
    "q_shapley_attribution",
    duck_sql=_shapley_oracle_sql(DUCK),
    tables=["events"],
    doc="Exact Shapley-value attribution over the four pre-purchase touch "
    "channels (click/view/signup/error): per converting user the touch "
    "COALITION seen strictly before the first purchase (microsecond "
    "grain), coalition value v(S) = conversions reachable with "
    "channels within S (subset-sum of exact counts), and the exact "
    "Shapley credit per channel with the n=4 factorial weights as /24 "
    "integer literals — phi_x24 is exact BIGINT, so efficiency "
    "(sum phi = v(full) - v(empty), the unattributable touchless "
    "conversions) holds EXACTLY, unlike the first/last/linear "
    "heuristics of q_attribution this upgrades. Monotone v makes every "
    "marginal nonneg, so the ppm share idiv is sign-safe. Corpus-scale "
    "work: one user-partitioned first-purchase window + one user-keyed "
    "mask aggregate; the 16-coalition/4-channel algebra is constant-"
    "size at any corpus (the Spark side localCheckpoints the 16-row "
    "mask table so the coalition self-join never rescans events).",
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.detsql import SPARK as _S
    from ..sources.tables import load_tables

    t = load_tables(spark, sf_dir, ["events"])
    us = F.expr(f"CAST({_S.epoch_us('ts')} AS BIGINT)")
    from pyspark.sql.window import Window

    withp = t["events"].select(
        "user_id", "event_type", us.alias("es_us")
    ).withColumn(
        "p_us",
        F.min(F.when(F.col("event_type") == "purchase", F.col("es_us"))).over(
            Window.partitionBy("user_id")
        ),
    )
    before = F.col("es_us") < F.col("p_us")

    def flag(et: str) -> F.Column:
        return F.max(
            F.when((F.col("event_type") == et) & before, 1).otherwise(0)
        )

    conv = (
        withp.filter(F.col("p_us").isNotNull())
        .groupBy("user_id")
        .agg(
            (
                flag("click")
                + 2 * flag("view")
                + 4 * flag("signup")
                + 8 * flag("error")
            )
            .cast("bigint")
            .alias("mask")
        )
        .groupBy("mask")
        .agg(F.count("*").cast("bigint").alias("n_conv"))
    )
    # The corpus pass ends here; the coalition lattice is CONSTANT-size
    # (16 values), so the Shapley algebra runs driver-side in exact
    # python ints (the q_cohens_kappa scalar precedent — a 16x4 BNLJ
    # plan over two checkpointed micro-tables measured 5-7 s of pure
    # scheduling overhead, 15x the corpus stage). Nonnegative // here
    # equals the engines' DIV.
    cnt = {int(r.mask): int(r.n_conv) for r in conv.collect()}

    def v(s: int) -> int:
        return sum(c for m, c in cnt.items() if (m & s) == m)

    w24 = [6, 2, 2, 6]
    rows = []
    for bit, channel in _SHAP_CHANNELS:
        phi24 = sum(
            w24[bin(s).count("1")] * (v(s | bit) - v(s))
            for s in range(16)
            if not s & bit
        )
        rows.append((channel, phi24))
    total = sum(p for _, p in rows)
    vals = ", ".join(
        f"('{ch}', {p}, {p * 1000000 // total if total else 'NULL'},"
        f" {v(15)}, {v(0)})"
        for ch, p in rows
    )
    # the one double stays an in-engine IEEE division (oracle does the same)
    return spark.sql(
        f"SELECT channel, CAST(phi_x24 AS BIGINT) AS phi_x24,"
        f" CAST(phi_x24 AS DOUBLE) / 24.0 AS phi,"
        f" CAST(share_ppm AS BIGINT) AS share_ppm,"
        f" CAST(v_full AS BIGINT) AS v_full, CAST(v_empty AS BIGINT) AS v_empty"
        f" FROM VALUES {vals} AS t(channel, phi_x24, share_ppm, v_full, v_empty)"
        f" ORDER BY channel"
    )

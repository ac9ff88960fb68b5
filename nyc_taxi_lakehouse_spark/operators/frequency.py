"""Frequency sketches: Misra-Gries heavy hitters with exact recovery.

Completes the sketch family (HLL distinct in analytics.py's
q_unique_users_approx, approx_percentile in q_value_percentiles_approx) with
the third classic: frequent items. The production protocol is the standard
two-pass distributed Misra-Gries:

  pass 1 — per-partition MG summaries of size k (mapInPandas, O(k) memory
           per task regardless of key cardinality), union of summary keys =
           candidate set. Guarantee: any key with global frequency > n/k
           exceeds n_p/k in at least one partition (Σ n_p/k = n/k), so it
           survives that partition's summary — the candidate set is a
           SUPERSET of every (n/k)-heavy key, with no false negatives.
  pass 2 — exact recount of candidates only (broadcast semi-join + one
           grouped count), filter by the support threshold.

At 100 TB with a billion distinct keys, pass 1 shuffles at most
k × num_partitions candidate rows instead of a billion-group aggregate;
pass 2 groups only the tiny candidate subset. Choosing k ≥ 1/s for support
threshold s makes the final answer EXACT — which is why the query below can
be oracle-checked against a plain GROUP BY in DuckDB.

tests/test_llm_ops.py exercises the superset guarantee directly on
adversarial Zipf-skewed data via hypothesis.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import df_query
from ..plans.ckpt import register_run_checkpoint, round_checkpoint
from ..sources.tables import load_tables

_MG_K = 64
_SUPPORT = 0.02  # 1/_MG_K = 0.015625 <= 0.02, so recovery is exact


def mg_fold(counters: pd.Series, counts: pd.Series, k: int) -> pd.Series:
    """Fold one batch's exact value_counts into a Misra-Gries summary of at
    most k counters (mergeable-summaries formulation: sum, subtract the
    (k+1)-th largest, keep positive). Pure function so the guarantee is
    hypothesis-testable without a Spark job (tests/test_sketch_cdf.py)."""
    merged = counters.add(counts, fill_value=0).astype("int64")
    if len(merged) > k:
        thresh = merged.nlargest(k + 1).iloc[-1]
        merged = merged - thresh
        merged = merged[merged > 0]
    return merged


def misra_gries_candidates(df: DataFrame, key_col: str, k: int = _MG_K) -> DataFrame:
    """Per-partition Misra-Gries summaries; returns the distinct candidate
    keys (every key whose global frequency exceeds n/k is guaranteed
    present). O(k) task memory; output ≤ k rows per partition."""

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField("lower_bound", T.LongType()),
        ]
    )

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized MG via the mergeable-summaries formulation (Agarwal et
        # al., "Mergeable Summaries"): fold each Arrow batch's exact
        # value_counts into the summary, then if more than k counters
        # remain, subtract the (k+1)-th largest value from all and keep the
        # positive ones. Every subtraction step removes weight from >= k+1
        # keys at once, so total undercount <= W_p/(k+1) — the same
        # no-false-negative bound as row-at-a-time MG, without a per-row
        # Python loop.
        counters = pd.Series(dtype="int64")
        for pdf in batches:
            counters = mg_fold(counters, pdf[key_col].value_counts(), k)
        yield pd.DataFrame(
            {
                key_col: counters.index.astype(str),
                "lower_bound": counters.to_numpy(dtype="int64"),
            }
        )

    summaries = df.select(key_col).mapInPandas(summarize, schema=out_schema)
    return summaries.select(key_col).distinct()


def heavy_hitters_exact(
    df: DataFrame, key_col: str, support: float = _SUPPORT, k: int = _MG_K
) -> DataFrame:
    """Exact heavy hitters (frequency > support × n) via MG candidates +
    recount. Requires k ≥ 1/support for the no-false-negative guarantee."""
    if k < 1.0 / support:
        raise ValueError(f"k={k} too small for support={support}; need k >= 1/support")
    total = df.count()  # bounded driver scalar (one count-only scan, no key shuffle)
    # The candidate set is ≤ k rows PER PARTITION, which after the DISTINCT
    # union is k·P-bounded, not k-bounded: at ~100 TB (~800k input splits)
    # the superset can exceed the broadcast threshold even though it is
    # tiny in practice (true heavy hitters repeat across partitions and
    # collapse under DISTINCT). So the semi-join side is size-gated on the
    # MEASURED candidate count; the eager checkpoint materializes the MG
    # pass once so the count is a re-scan of the (small) summary, not a
    # second corpus pass. Above the gate the semi-join stays adaptive and
    # shuffles — below it the corpus-scaled input never shuffles at all.
    from ..plans.audit import gated_broadcast

    cands = register_run_checkpoint(
        round_checkpoint(misra_gries_candidates(df, key_col, k))
    )
    return (
        df.join(gated_broadcast(cands, cands.count()), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > F.lit(total) * F.lit(support))
        .select(
            key_col,
            F.col("cnt").cast("bigint").alias("cnt"),
            (F.col("cnt") / F.lit(float(total))).alias("share"),
        )
    )


@df_query(
    "q_heavy_hitters",
    duck_sql=f"""
WITH tok AS (
  SELECT unnest(str_split(text, ' ')) AS token FROM documents
), tot AS (SELECT COUNT(*) AS n FROM tok)
SELECT token,
       COUNT(*) AS cnt,
       CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM tot) AS share
FROM tok
GROUP BY token
HAVING COUNT(*) > (SELECT n FROM tot) * {_SUPPORT}
""",
    tables=["documents"],
    doc="Vocabulary-head heavy hitters: tokens covering > 2% of the corpus "
    "token stream (stopword discovery / head-of-Zipf analysis for "
    "tokenizer training). Two-pass distributed Misra-Gries (k=64): O(k)-"
    "memory partition summaries -> candidate superset -> exact semi-join "
    "recount (candidate side size-gated on its measured count: broadcast "
    "below the threshold, adaptive shuffle above — the k·P candidate "
    "union is not k-bounded at corpus scale). Exact because k >= "
    "1/support, hence oracle-checkable against a plain GROUP BY ... "
    "HAVING in DuckDB.",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    tokens = t["documents"].select(
        F.explode(F.split("text", " ")).alias("token")
    )
    return heavy_hitters_exact(tokens, "token")


# --- Count-Min sketch ----------------------------------------------------

_CMS_D = 4    # hash rows
_CMS_W = 256  # counters per row
_CMS_TOP = 10


def cms_seeds_sql(d) -> str:
    if d.name == "spark":
        return f"SELECT explode(sequence(0, {_CMS_D - 1})) AS seed"
    return f"SELECT unnest(range({_CMS_D})) AS seed"


def cms_grid_sql(d, src: str, key_expr: str) -> str:
    """The d×w counter grid over ``src``'s ``key_expr`` — expects a `seeds`
    CTE in scope (cms_seeds_sql). Counters are plain SUMs, so grids built
    over disjoint slices MERGE by cell-wise addition into exactly the
    global grid (pinned in tests/test_sketch_cdf.py)."""
    s = "STRING" if d.name == "spark" else "VARCHAR"
    key_seed = f"concat(CAST(kc.key AS {s}), ':', CAST(r.seed AS {s}))"
    cell = f"({d.md5_int32(key_seed)} % {_CMS_W})"
    # Two-phase: exact per-key counts first (map-side partials, one keyed
    # shuffle), then hash only |keys|×d strings into cells — same grid,
    # ~|rows|/|keys| fewer md5 evaluations. The streaming/per-batch form
    # hashes raw rows instead (no key table needed); cell sums are
    # identical either way.
    return f"""
  SELECT r.seed, {cell} AS cell, CAST(SUM(kc.cnt) AS BIGINT) AS cnt
  FROM (SELECT {key_expr} AS key, COUNT(*) AS cnt FROM {src} GROUP BY {key_expr}) kc
  CROSS JOIN seeds r
  GROUP BY r.seed, {cell}
"""


def _cms_sql(d) -> str:
    """Count-Min sketch, relationally — the mergeable frequency sketch.

    The sketch is a d×w counter grid: counter[r][h_r(key) mod w] += 1 per
    occurrence; the estimate for a key is MIN over rows r of its counter.
    Estimates NEVER undercount (collisions only add), and overshoot is
    bounded by 2N/w with probability ≥ 1 - 2^-d (Cormode & Muthukrishnan,
    J.Alg 2005). Everything is integer — the query emits, for the top-10
    exact keys, the exact count next to the sketch estimate, so the oracle
    pins the whole construction bit-for-bit.

    Why it matters at 100 TB: the grid is d·w counters (KBs) built by ONE
    grouped SUM — and counters are sums, so per-day / per-partition
    sketches MERGE by cell-wise addition into exactly the global sketch
    (pinned in pytest, the q_hll_rollup discipline). Arbitrary-range
    frequency questions then cost a KB-sized re-sum, not a rescan. The
    d×key fanout shuffles d rows per input row into a bounded d·w-cell
    aggregate — map-side partials absorb almost all of it.
    """
    s = "STRING" if d.name == "spark" else "VARCHAR"
    probe_seed = f"concat(CAST(k.key AS {s}), ':', CAST(r.seed AS {s}))"
    return f"""
WITH seeds AS ({cms_seeds_sql(d)}),
cms AS ({cms_grid_sql(d, "lineitem", "l_partkey")}),
exact_top AS (
  SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM lineitem GROUP BY l_partkey
  ORDER BY COUNT(*) DESC, l_partkey LIMIT {_CMS_TOP}
),
probes AS (
  SELECT k.key, k.exact_cnt, r.seed,
         ({d.md5_int32(probe_seed)} % {_CMS_W}) AS cell
  FROM exact_top k CROSS JOIN seeds r
)
SELECT
  p.key,
  p.exact_cnt,
  MIN(c.cnt) AS cms_estimate,
  MIN(c.cnt) - p.exact_cnt AS overcount
FROM probes p
JOIN cms c ON p.seed = c.seed AND p.cell = c.cell
GROUP BY p.key, p.exact_cnt
"""


def _register_cms():
    from ..functions.detsql import DUCK, SPARK
    from ..registry import sql_query

    sql_query(
        "q_countmin_freq",
        spark_sql=_cms_sql(SPARK),
        duck_sql=_cms_sql(DUCK),
        tables=["lineitem"],
        doc=_cms_sql.__doc__,
    )


_register_cms()


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — mergeable AND intersectable.
# ---------------------------------------------------------------------------

_KMV_K = 128
_KMV_H = 4294967295  # md5_int32 hash space upper bound (2^32 - 1)


def _kmv_sql(d) -> str:
    """Distinct-user sketches for two halves of the events month, with the
    set algebra HLL cannot do: an INTERSECTION estimate.

    KMV (Bar-Yossef et al. 2002): keep the k smallest distinct hash values
    of the key; with hashes uniform on [0, H], est = (k-1)·H DIV h_k. The
    union sketch is the k smallest of the merged hash sets (mergeability =
    MIN algebra, same as HLL); the Jaccard estimate is the fraction of the
    union sketch's members present in BOTH input sets, and
    est∩ = |both| · est∪ DIV k. Everything is integer arithmetic on md5
    hashes — deterministic in both engines, no RNG.
    """
    h = d.md5_int32(d.to_str("o_custkey"))
    return f"""
WITH hashed AS (
  SELECT period, h FROM (
    SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00' THEN 'a'
                WHEN o_orderdate >= TIMESTAMP '1999-01-01 00:00:00' THEN 'b'
                ELSE NULL END AS period,
           {h} AS h
    FROM orders
  ) s WHERE period IS NOT NULL
  GROUP BY period, h
),
exact AS (
  SELECT
    CAST(SUM(CASE WHEN na > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a_exact,
    CAST(SUM(CASE WHEN nb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b_exact,
    CAST(COUNT(DISTINCT h) AS BIGINT) AS n_union_exact,
    CAST(SUM(CASE WHEN na > 0 AND nb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inter_exact
  FROM (
    SELECT h,
           SUM(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS na,
           SUM(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS nb
    FROM hashed GROUP BY h
  ) g
),
ranked AS (
  SELECT period, h,
         ROW_NUMBER() OVER (PARTITION BY period ORDER BY h) AS r
  FROM hashed
),
sk AS (SELECT period, h FROM ranked WHERE r <= {_KMV_K}),
kth AS (
  SELECT period, CAST(MAX(h) AS BIGINT) AS h_k, CAST(COUNT(*) AS BIGINT) AS k_eff
  FROM sk GROUP BY period
),
est AS (
  SELECT period,
         CASE WHEN k_eff < {_KMV_K} THEN k_eff
              ELSE {d.idiv(f'({_KMV_K} - 1) * {_KMV_H}', 'h_k')} END AS n_est
  FROM kth
),
usk AS (SELECT h, in_a, in_b FROM (
  SELECT h, MAX(in_a) AS in_a, MAX(in_b) AS in_b,
         ROW_NUMBER() OVER (ORDER BY h) AS r
  FROM (
    SELECT h,
           CASE WHEN period = 'a' THEN 1 ELSE 0 END AS in_a,
           CASE WHEN period = 'b' THEN 1 ELSE 0 END AS in_b
    FROM sk
  ) u GROUP BY h
) q WHERE r <= {_KMV_K}),
ukth AS (
  SELECT CAST(MAX(h) AS BIGINT) AS h_k, CAST(COUNT(*) AS BIGINT) AS k_eff,
         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
  FROM usk
),
uest AS (
  SELECT
    CASE WHEN k_eff < {_KMV_K} THEN k_eff
         ELSE {d.idiv(f'({_KMV_K} - 1) * {_KMV_H}', 'h_k')} END AS n_union_est,
    n_both, k_eff
  FROM ukth
)
SELECT
  e.n_a_exact, e.n_b_exact, e.n_union_exact, e.n_inter_exact,
  CAST(a.n_est AS BIGINT) AS n_a_est,
  CAST(b.n_est AS BIGINT) AS n_b_est,
  CAST(u.n_union_est AS BIGINT) AS n_union_est,
  CAST({d.idiv('u.n_both * u.n_union_est', 'u.k_eff')} AS BIGINT) AS n_inter_est
FROM exact e
CROSS JOIN (SELECT n_est FROM est WHERE period = 'a') a
CROSS JOIN (SELECT n_est FROM est WHERE period = 'b') b
CROSS JOIN uest u
"""


def _register_kmv():
    from ..functions.detsql import DUCK, SPARK
    from ..registry import sql_query

    sql_query(
        "q_kmv_distinct",
        spark_sql=_kmv_sql(SPARK),
        duck_sql=_kmv_sql(DUCK),
        tables=["orders"],
        doc="KMV (k-minimum-values) distinct sketch over two customer "
        "cohorts (orders before 1997 vs after 1999) — the mergeable distinct counter that, unlike "
        "HLL, also supports INTERSECTION estimates (est∩ = |union-sketch "
        "members in both| · est∪ / k). All integer md5-hash algebra, so "
        "both engines reproduce the sketch bit-for-bit, and the exact "
        "counts ride along for error inspection. Plan: one distinct-"
        "(period, hash) aggregation (map-side partials), per-period "
        "k-smallest via rank windows (WindowGroupLimit pushes the k-limit "
        "into each partition — no full sort), then all remaining algebra "
        "runs on ≤2k rows; the 1-row scalar joins are whitelisted. At "
        "100 TB the sketch per group is k BIGINTs — the KB-sized summary "
        "that answers distinct-users-in-common across arbitrary segment "
        "pairs without re-scanning either.",
    )


_register_kmv()


# ---------------------------------------------------------------------------
# From-scratch HyperLogLog — the register algebra made oracle-checkable.
# ---------------------------------------------------------------------------

_HLL_M = 256  # p = 8 bucket bits, 24-bit rank domain
# alpha_256 = 0.7213 / (1 + 1.079/256), precomputed so both engines see
# the identical literal (cast: DuckDB types bare decimals as DECIMAL and
# overflows the product; Spark types them DOUBLE already).
_HLL_ALPHA = "CAST(0.7182725932495458 AS DOUBLE)"


def _hll_impl_sql(d) -> str:
    """HyperLogLog distinct-user estimate built from first principles in
    portable SQL: h = md5-derived 32-bit hash, bucket = top 8 bits,
    rank = leading-zero position of the 24-bit suffix (a 24-arm integer
    CASE ladder — no log2), registers = MAX(rank) per bucket including
    empties via the 256-row spine. The harmonic denominator is kept as
    the EXACT integer sum_b 2^(25 - M_b) (every term is a dyadic
    integer), so the whole sketch state is integer-exact and only the
    final alpha*m^2/denominator is a double. The raw estimate and the
    zero-register count are emitted (the small-range linear-counting
    correction needs ln and is left to the consumer, documented);
    the exact distinct count rides the same scan for the error audit."""
    h = d.md5_int32(d.to_str("user_id"))
    rank = "CASE " + " ".join(
        f"WHEN rest >= {1 << (24 - r)} THEN {r}" for r in range(1, 25)
    ) + " ELSE 25 END"
    if d.name == "spark":
        spine = "SELECT explode(sequence(0, 255)) AS bucket"
        pow2 = "shiftleft(CAST(1 AS BIGINT), 25 - m0)"
    else:
        spine = "SELECT unnest(generate_series(0, 255)) AS bucket"
        pow2 = "(CAST(1 AS BIGINT) << (25 - m0))"
    return f"""
WITH hashed AS (
  SELECT CAST({d.idiv('h', '16777216')} AS BIGINT) AS bucket,
         CAST(h % 16777216 AS BIGINT) AS rest,
         h
  FROM (SELECT {h} AS h FROM events) s
),
regs AS (
  SELECT bucket, CAST(MAX({rank}) AS BIGINT) AS m
  FROM hashed GROUP BY bucket
),
spine AS ({spine}),
full_regs AS (
  SELECT sp.bucket, COALESCE(r.m, CAST(0 AS BIGINT)) AS m0
  FROM spine sp LEFT JOIN regs r ON r.bucket = sp.bucket
),
sketch AS (
  SELECT CAST(SUM({pow2}) AS BIGINT) AS inv_sum_scaled,
         CAST(SUM(CASE WHEN m0 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_registers
  FROM full_regs
),
exact AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM events
)
SELECT CAST({_HLL_M} AS BIGINT) AS m,
       s.n_zero_registers,
       s.inv_sum_scaled,
       {_HLL_ALPHA} * {_HLL_M}.0 * {_HLL_M}.0 * 33554432.0
         / CAST(s.inv_sum_scaled AS DOUBLE) AS est_hll,
       e.n_exact,
       ({_HLL_ALPHA} * {_HLL_M}.0 * {_HLL_M}.0 * 33554432.0
         / CAST(s.inv_sum_scaled AS DOUBLE) - CAST(e.n_exact AS DOUBLE))
         / CAST(e.n_exact AS DOUBLE) AS rel_err
FROM sketch s CROSS JOIN exact e
"""


def _register_hll_impl():
    from ..functions.detsql import DUCK, SPARK
    from ..registry import sql_query

    sql_query(
        "q_hll_impl",
        spark_sql=_hll_impl_sql(SPARK),
        duck_sql=_hll_impl_sql(DUCK),
        tables=["events"],
        doc="From-scratch HyperLogLog (p=8, m=256) over distinct users, "
        "made fully deterministic and oracle-checkable: md5-derived "
        "32-bit hashes, a 24-arm integer CASE ladder for the "
        "leading-zero rank (no log2), MAX-per-bucket registers with "
        "empties from the 256-row spine, and the harmonic denominator "
        "held as the exact integer sum of dyadic terms 2^(25-M_b) — the "
        "estimate is the only double. The glass-box twin of "
        "q_unique_users_approx (Spark's built-in HLL++, rows-only by "
        "nature): same register algebra the built-in executes, but "
        "hash-gate-verifiable. Registers are MAX algebra, so the sketch "
        "is mergeable and the plan is one map + a 256-group aggregate.",
    )


_register_hll_impl()


# ---------------------------------------------------------------------------
# AMS (Alon-Matias-Szegedy) F2 sketch — self-join-size estimation.
# ---------------------------------------------------------------------------

_AMS_K = 16


def _ams_sql(d) -> str:
    """Second frequency moment F2 = sum_u c_u^2 of the user activity
    distribution (the exact size of the user self-join — what a join
    optimizer wants before picking a strategy), estimated by the classic
    AMS sketch: k=16 deterministic +/-1 projections (md5(user:j) parity),
    sketch_j = sum_u c_u * sign_j(u), estimate_j = sketch_j^2, combined
    by the exact integer mean. The exact F2 rides the same scan for the
    error audit. Everything integer; BIGINT-safe to ~3e9 events per
    sketch (sketch^2 < 2^63)."""
    s = "STRING" if d.name == "spark" else "VARCHAR"
    if d.name == "spark":
        spine = f"SELECT explode(sequence(0, {_AMS_K - 1})) AS j"
    else:
        spine = f"SELECT unnest(generate_series(0, {_AMS_K - 1})) AS j"
    sign = (
        "CASE WHEN "
        + d.md5_int32(f"concat(CAST(u.user_id AS {s}), chr(58), CAST(p.j AS {s}))")
        + " % 2 = 0 THEN 1 ELSE -1 END"
    )
    return f"""
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
),
exact AS (SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact FROM counts),
proj AS ({spine}),
sketches AS (
  SELECT p.j, CAST(SUM(u.c * ({sign})) AS BIGINT) AS sk
  FROM counts u CROSS JOIN proj p
  GROUP BY p.j
),
est AS (
  SELECT CAST(SUM(sk * sk) AS BIGINT) AS sq_sum,
         CAST(MIN(sk * sk) AS BIGINT) AS est_min,
         CAST(MAX(sk * sk) AS BIGINT) AS est_max
  FROM sketches
)
SELECT CAST({_AMS_K} AS BIGINT) AS k,
       e.f2_exact,
       CAST({d.idiv('s.sq_sum', str(_AMS_K))} AS BIGINT) AS f2_est,
       s.est_min, s.est_max,
       (CAST({d.idiv('s.sq_sum', str(_AMS_K))} AS DOUBLE)
         - CAST(e.f2_exact AS DOUBLE)) / CAST(e.f2_exact AS DOUBLE)
         AS rel_err
FROM est s CROSS JOIN exact e
"""


def _register_ams():
    from ..functions.detsql import DUCK, SPARK
    from ..registry import sql_query

    sql_query(
        "q_ams_f2",
        spark_sql=_ams_sql(SPARK),
        duck_sql=_ams_sql(DUCK),
        tables=["events"],
        doc="AMS F2 sketch: the second frequency moment (exact self-join "
        "size) of per-user activity estimated from 16 deterministic "
        "md5-parity +/-1 projections — the one-pass, mergeable answer a "
        "join planner consults before choosing a strategy on a skewed "
        "key; exact F2 rides the same scan for the error audit. "
        "Completes the sketch family (q_countmin_freq point frequencies, "
        "q_kmv_distinct cardinality algebra, q_hll_impl registers). "
        "Corpus-scale work: one user-keyed count, one 16x constant "
        "fanout map-side-combined to 16 sketch rows; all integer.",
    )


_register_ams()


# ---------------------------------------------------------------------------
# HDR histogram — exponent/mantissa-bucketed quantile sketch, pure integer.
# ---------------------------------------------------------------------------

_HDR_SUB_BITS = 3  # 8 sub-buckets per octave -> <= 12.5% relative error


def _hdr_bucket_case(d) -> str:
    """Generated bucket-id CASE ladder: one arm per exponent, each with
    compile-time constants; the sub-bucket division uses the dialect's
    integer division (operands nonnegative, trunc == floor)."""
    arms = []
    for e in range(1, 28):
        hi = 1 << e
        if e <= _HDR_SUB_BITS + 1:
            arms.append(f"WHEN v < {hi} THEN {e * 8}")
        else:
            unit = 1 << (e - 1 - _HDR_SUB_BITS)
            sub = d.idiv(f"(v - {1 << (e - 1)})", str(unit))
            arms.append(f"WHEN v < {hi} THEN {e * 8} + CAST({sub} AS BIGINT)")
    return "CASE " + " ".join(arms) + " ELSE -1 END"


def _hdr_bounds_cases() -> tuple[str, str]:
    """CASE ladders (keyed on the exponent ed) for the bucket lower bound
    base and the sub-bucket width — integer constants per arm."""
    lo_arms, w_arms = [], []
    for e in range(1, 28):
        lo_arms.append(f"WHEN {e} THEN {1 << (e - 1)}")
        if e <= _HDR_SUB_BITS + 1:
            w_arms.append(f"WHEN {e} THEN {1 << (e - 1)}")
        else:
            w_arms.append(f"WHEN {e} THEN {1 << (e - 1 - _HDR_SUB_BITS)}")
    return "CASE ed " + " ".join(lo_arms) + " END", \
           "CASE ed " + " ".join(w_arms) + " END"


def _hdr_sql(d) -> str:
    """HDR-histogram quantile sketch over order totals in cents: bucket =
    (exponent, top-3-mantissa-bits) — a pure-integer CASE ladder, no
    log() — giving <= 2^-3 relative bucket width above 16 cents. The
    bucket table is mergeable by plain addition and bounded at 8*27
    cells regardless of corpus size. p50/p95/p99 membership flags are
    decided by exact integer rank comparisons."""
    bucket = _hdr_bucket_case(d)
    lo, width = _hdr_bounds_cases()
    r50 = d.idiv("(50 * n + 99)", "100")
    r95 = d.idiv("(95 * n + 99)", "100")
    r99 = d.idiv("(99 * n + 99)", "100")
    return f"""
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
),
bucketed AS (
  SELECT {bucket} AS b FROM cents WHERE v >= 1
),
per_bucket AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt FROM bucketed GROUP BY b
),
cum AS (
  SELECT b, cnt,
         CAST(SUM(cnt) OVER (ORDER BY b) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM per_bucket
),
shaped AS (
  SELECT b, cnt, cum, n,
         CAST({d.idiv('b', '8')} AS BIGINT) AS ed,
         CAST(b % 8 AS BIGINT) AS sub
  FROM cum
)
SELECT b AS bucket_id, ed AS exponent, sub,
       CAST(({lo}) + sub * ({width}) AS BIGINT) AS lo,
       CAST(({lo}) + (sub + 1) * ({width}) - 1 AS BIGINT) AS hi,
       cnt, cum, n,
       CASE WHEN cum - cnt < {r50} AND {r50} <= cum THEN 1 ELSE 0 END
         AS holds_p50,
       CASE WHEN cum - cnt < {r95} AND {r95} <= cum THEN 1 ELSE 0 END
         AS holds_p95,
       CASE WHEN cum - cnt < {r99} AND {r99} <= cum THEN 1 ELSE 0 END
         AS holds_p99
FROM shaped
ORDER BY b
"""


def _register_hdr():
    from ..functions.detsql import DUCK, SPARK
    from ..registry import sql_query

    sql_query(
        "q_hdr_histogram",
        spark_sql=_hdr_sql(SPARK),
        duck_sql=_hdr_sql(DUCK),
        tables=["orders"],
        doc="HDR-histogram quantile sketch over order totals (cents): "
        "buckets keyed by (exponent, top-3 mantissa bits) via a generated "
        "integer CASE ladder — no log() — bounding relative bucket width "
        "at 2^-3 above 16 cents; the bucket table merges by plain "
        "addition and is <=216 cells at ANY corpus size (the "
        "latency-SLO sketch pattern: p50/p95/p99 from mergeable integer "
        "state). Emits exact bucket bounds, counts, cumulative counts, "
        "and quantile-membership flags decided by exact integer ranks; "
        "the <=12.5%-relative-error quantile contract is pinned against "
        "true quantiles in pytest. One corpus map + one bounded-key "
        "aggregate; the cumulative window runs on <=216 bucket rows.",
    )


_register_hdr()

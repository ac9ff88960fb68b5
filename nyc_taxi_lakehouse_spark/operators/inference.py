"""Statistical-inference operators, part 2 — nonparametric association and
distribution-shift tests built on exact integer/rational algebra.

Extends the reference's correlation analysis (ml_feature_engineering.py:
529-538) and the repo's existing inference family (q_cramers_v,
q_mann_kendall, q_ks_drift, q_ab_welch, q_spearman) with the classic
rank/contingency tests an analytics engine serving experimentation and
data-quality teams must answer. House discipline throughout: every
statistic is integer or rational until one final shared IEEE tree
(sqrt / divide are exact-rounded, so the hash gate holds cross-engine);
no ln() anywhere (not bit-stable across libm builds — the same reason
q_collocations ships ratio-PMI and q_drift_chisq ships χ² over PSI).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.detsql import DUCK, SPARK, Dialect
from ..plans.ckpt import register_run_checkpoint, round_checkpoint
from ..registry import df_query, sql_query


# ---------------------------------------------------------------------------
# Kendall's tau-b — tie-corrected rank concordance from the contingency.
# ---------------------------------------------------------------------------


def _kendall_sql() -> str:
    """Tau-b between quantity and discount at the lineitem grain. Both
    variables are small-cardinality (≤50 × ≤11 distinct), so concordant /
    discordant pair counts come from the CELL table, not the row table:
    C = Σ_a c_a · Σ_{b.x<a.x, b.y<a.y} c_b (each discordant/concordant
    pair counted once via the strict x order), and the tie terms for the
    tau-b denominator are marginal Σ t(t−1). Everything is exact BIGINT;
    the two n0−n1 / n0−n2 factors are cast to DOUBLE before the product
    (their product can exceed 2^63) and meet in one sqrt."""
    return """
WITH pairs AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y
  FROM lineitem
),
cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY x, y),
conc AS (
  SELECT CAST(COALESCE(SUM(a.c * b.c), 0) AS BIGINT) AS n_c
  FROM cells a JOIN cells b ON b.x < a.x AND b.y < a.y
),
disc AS (
  SELECT CAST(COALESCE(SUM(a.c * b.c), 0) AS BIGINT) AS n_d
  FROM cells a JOIN cells b ON b.x < a.x AND b.y > a.y
),
tx AS (
  SELECT CAST(SUM(t * (t - 1)) AS BIGINT) AS t2x
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY x) g
),
ty AS (
  SELECT CAST(SUM(t * (t - 1)) AS BIGINT) AS t2y
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY y) g
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells)
SELECT
  tot.n AS n_rows,
  conc.n_c AS concordant,
  disc.n_d AS discordant,
  2.0 * CAST(conc.n_c - disc.n_d AS DOUBLE)
    / SQRT(CAST(tot.n * (tot.n - 1) - tx.t2x AS DOUBLE)
           * CAST(tot.n * (tot.n - 1) - ty.t2y AS DOUBLE)) AS tau_b
FROM tot CROSS JOIN conc CROSS JOIN disc CROSS JOIN tx CROSS JOIN ty
"""


sql_query(
    "q_kendall_tau",
    spark_sql=_kendall_sql(),
    duck_sql=_kendall_sql(),
    tables=["lineitem"],
    doc="Kendall's tau-b (quantity vs discount), tie-corrected, computed "
    "on the ≤50×11 CELL table instead of the row table — concordant/"
    "discordant sums are a bounded cell self-join (≤561² comparisons "
    "regardless of corpus size), marginal tie terms Σt(t−1) exact "
    "BIGINT, one final sqrt over DOUBLE-cast factors (their product "
    "overflows int64 by design). The O(n²) pair scan never exists at "
    "any scale: the cell contraction IS the scale plan. Completes the "
    "rank-correlation family next to q_spearman (midranks) and "
    "q_mann_kendall (time-ordered S).",
)


# ---------------------------------------------------------------------------
# Mann-Whitney U — two-sample rank-sum test with tie-corrected variance.
# ---------------------------------------------------------------------------


def _mwu_sql(d: Dialect) -> str:
    """U statistic for extendedprice between returnflag R and A. Midranks
    via the q_spearman doubling trick (rank2 = 2·avg_rank is always an
    integer) over the per-VALUE aggregate, computed by the PARALLEL
    bucketed offset sweep (detsql.rank2_ctes) — never a global
    single-partition window. The doubled rank-sum 2R_R stays BIGINT
    (≤ n(2n+1)); U and the tie-corrected normal z are one final IEEE
    tree: z = (2R_R − n_r(n_r+1) − n_r·n_a) / (2σ),
    σ² = n_r·n_a/12 · (n+1 − Σ(t³−t)/(n(n−1)))."""
    from ..functions.detsql import rank2_ctes

    return f"""
WITH obs AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS grp
  FROM lineitem WHERE l_returnflag IN ('R', 'A')
),
vals AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(grp) AS BIGINT) AS c_r
  FROM obs GROUP BY v
),
{rank2_ctes(d, 'vals', 'ranked')},
agg AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c_r) AS BIGINT) AS n_r,
         CAST(SUM(c_r * rank2) AS BIGINT) AS r2_r,
         CAST(SUM(c * c * c - c) AS BIGINT) AS tie3
  FROM ranked
)
SELECT
  n AS n_rows,
  n_r,
  n - n_r AS n_a,
  CAST(r2_r - n_r * (n_r + 1) AS DOUBLE) / 2.0 AS u_r,
  CAST(r2_r - n_r * (n_r + 1) - n_r * (n - n_r) AS DOUBLE)
    / (2.0 * SQRT(CAST(n_r AS DOUBLE) * CAST(n - n_r AS DOUBLE) / 12.0
                  * (CAST(n + 1 AS DOUBLE)
                     - CAST(tie3 AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))))
    AS z_stat
FROM agg
"""


sql_query(
    "q_mannwhitney_u",
    spark_sql=_mwu_sql(SPARK),
    duck_sql=_mwu_sql(DUCK),
    tables=["lineitem"],
    doc="Mann-Whitney U rank-sum test (price, returned R vs accepted A): "
    "the nonparametric sibling of q_ab_welch — no normality assumption, "
    "robust to the heavy price tail. Midranks kept exact via the "
    "doubled-rank trick over the per-value aggregate, computed by the "
    "PARALLEL bucketed offset sweep (detsql.rank2_ctes — no global "
    "single-partition window), tie-corrected σ from exact Σ(t³−t), one "
    "final IEEE tree for U and z.",
)


# ---------------------------------------------------------------------------
# Goodman-Kruskal lambda — PRE association, zero transcendental functions.
# ---------------------------------------------------------------------------


def _gk_lambda_sql(d: Dialect) -> str:
    """λ(Y|X): proportional reduction in prediction error of Y from
    knowing X, using modal prediction — (Σ_x max_y c_xy − max_y c_·y) /
    (n − max_y c_·y). Pure integer contingency algebra (the log-free
    complement to entropy-based MI, per the house no-ln rule); both
    directions plus the symmetric average emitted."""
    ep = d.epoch("ts")
    hour = f"CAST({d.idiv(f'({ep} % 86400)', '3600')} AS BIGINT)"
    return f"""
WITH obs AS (
  SELECT event_type AS x, {hour} AS y, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, {hour}
),
rowmax AS (SELECT CAST(SUM(m) AS BIGINT) AS sum_rowmax
           FROM (SELECT MAX(c) AS m FROM obs GROUP BY x) g),
colmax AS (SELECT CAST(SUM(m) AS BIGINT) AS sum_colmax
           FROM (SELECT MAX(c) AS m FROM obs GROUP BY y) g),
margy AS (SELECT CAST(MAX(t) AS BIGINT) AS max_coltot
          FROM (SELECT SUM(c) AS t FROM obs GROUP BY y) g),
margx AS (SELECT CAST(MAX(t) AS BIGINT) AS max_rowtot
          FROM (SELECT SUM(c) AS t FROM obs GROUP BY x) g),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM obs)
SELECT
  tot.n AS n_rows,
  rowmax.sum_rowmax,
  colmax.sum_colmax,
  margy.max_coltot,
  margx.max_rowtot,
  CAST(rowmax.sum_rowmax - margy.max_coltot AS DOUBLE)
    / CAST(tot.n - margy.max_coltot AS DOUBLE) AS lambda_y_given_x,
  CAST(colmax.sum_colmax - margx.max_rowtot AS DOUBLE)
    / CAST(tot.n - margx.max_rowtot AS DOUBLE) AS lambda_x_given_y,
  CAST(rowmax.sum_rowmax - margy.max_coltot
       + colmax.sum_colmax - margx.max_rowtot AS DOUBLE)
    / CAST(2 * tot.n - margy.max_coltot - margx.max_rowtot AS DOUBLE)
    AS lambda_symmetric
FROM tot CROSS JOIN rowmax CROSS JOIN colmax CROSS JOIN margy CROSS JOIN margx
"""


sql_query(
    "q_gk_lambda",
    spark_sql=_gk_lambda_sql(SPARK),
    duck_sql=_gk_lambda_sql(DUCK),
    tables=["events"],
    doc="Goodman-Kruskal lambda (event_type ↔ hour-of-day): proportional-"
    "reduction-in-error association via modal prediction — the log-free "
    "alternative to mutual information (ln() is banned from the hash "
    "gate), directional both ways plus symmetric. Pure BIGINT "
    "contingency algebra on the k₁×k₂ cell table (one keyed aggregate, "
    "four 1-row broadcasts), two final IEEE divisions. Reads next to "
    "q_cramers_v: V measures departure-from-independence, λ measures "
    "predictive usefulness — a flat-margin table can have V>0, λ=0.",
)


# ---------------------------------------------------------------------------
# Total-variation drift — distribution shift with exact integer numerators.
# ---------------------------------------------------------------------------


def _tv_drift_sql(d: Dialect) -> str:
    """TV distance between the token distributions of the corpus's first
    and second doc_id halves: TV = ½ Σ_t |p_t − q_t|. The trick that
    keeps it exact: |c1·n2 − c2·n1| is an exact BIGINT numerator over the
    common denominator n1·n2, so the sum happens in integer space and
    ONE final division produces the statistic — no per-term doubles, no
    accumulation-order dependence, no DECIMAL snapping needed. Per-token
    absolute gaps are emitted for the top offenders alongside."""
    tok = d.all_token_rows("documents")
    return f"""
WITH toks AS ({tok}),
split_docs AS (
  SELECT CAST(MAX(doc_id) AS BIGINT) AS max_id FROM documents
),
counts AS (
  SELECT token,
         CAST(SUM(CASE WHEN doc_id * 2 <= s.max_id THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN doc_id * 2 > s.max_id THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM toks CROSS JOIN split_docs s
  GROUP BY token
),
tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
  FROM counts
),
gaps AS (
  SELECT c.token, c.c1, c.c2, t.n1, t.n2,
         ABS(c.c1 * t.n2 - c.c2 * t.n1) AS num
  FROM counts c CROSS JOIN tot t
)
SELECT
  MAX(n1) AS n_tokens_first,
  MAX(n2) AS n_tokens_second,
  CAST(COUNT(*) AS BIGINT) AS vocab,
  CAST(SUM(num) AS DOUBLE) / (2.0 * CAST(MAX(n1) AS DOUBLE) * CAST(MAX(n2) AS DOUBLE))
    AS tv_distance,
  MAX(CAST(num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
    AS max_token_gap
FROM gaps
"""


sql_query(
    "q_tv_drift",
    spark_sql=_tv_drift_sql(SPARK),
    duck_sql=_tv_drift_sql(DUCK),
    tables=["documents"],
    doc="Total-variation distance between first-half and second-half "
    "token distributions — the corpus-drift gate a training-data "
    "pipeline runs between crawl snapshots (TV bounds every downstream "
    "classifier's accuracy shift). The |c1·n2 − c2·n1| integer-numerator "
    "form keeps the whole sum in BIGINT over a common denominator: "
    "exact, shuffle-order-independent, one final division — where KL/"
    "PSI would need banned ln() and JSD would need per-term doubles. "
    "One token explode + one keyed agg + two 1-row broadcasts.",
)


# ---------------------------------------------------------------------------
# ACF + Ljung-Box — time-series autocorrelation over the zero-filled calendar.
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 14


def _acf_sql(d: Dialect) -> str:
    """ACF of the DAILY order count at lags 1..14 plus the cumulative
    Ljung-Box Q. The series is the calendar-filled one (missing order
    days are real zero-demand days, not holes — the orders table covers
    1094 of 2405 span days). Counts are integers, so Σx, Σx², and every
    lagged cross-sum Σx_t·x_{t+k} are exact BIGINT; ρ_k is the textbook
    fixed-mean estimator computed in one shared IEEE tree, and the LB
    cumulative sums DECIMAL-snapped per-lag terms (order-independent,
    house rule). Spine and lag fan-out are calendar-bounded (≤2405×14)."""
    if d.name == "spark":
        spine = "SELECT explode(sequence(0, span)) AS t FROM bounds"
    else:
        spine = (
            "SELECT CAST(unnest(generate_series(0, span)) AS BIGINT) AS t"
            " FROM bounds"
        )
    if d.name == "spark":
        lags = f"SELECT explode(sequence(1, {_ACF_MAX_LAG})) AS k"
    else:
        lags = (
            f"SELECT CAST(unnest(generate_series(1, {_ACF_MAX_LAG})) AS BIGINT)"
            " AS k"
        )
    day = f"CAST({d.idiv(d.epoch('o_orderdate'), '86400')} AS BIGINT)"
    return f"""
WITH days AS (
  SELECT {day} AS day_no, CAST(COUNT(*) AS BIGINT) AS x
  FROM orders GROUP BY {day}
),
bounds AS (
  SELECT MIN(day_no) AS d0, CAST(MAX(day_no) - MIN(day_no) AS BIGINT) AS span
  FROM days
),
series AS (
  SELECT s.t, COALESCE(dy.x, 0) AS x
  FROM ({spine}) s
  LEFT JOIN (SELECT day_no - b.d0 AS t, x FROM days CROSS JOIN bounds b) dy
    ON s.t = dy.t
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2
  FROM series
),
lagged AS (
  SELECT l.k,
         CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
         CAST(SUM(a.x) AS BIGINT) AS sh,
         CAST(SUM(b.x) AS BIGINT) AS st
  FROM ({lags}) l
  JOIN series a ON 1 = 1
  JOIN series b ON b.t = a.t + l.k
  GROUP BY l.k
),
rho AS (
  SELECT k, m,
         (CAST(sxy AS DOUBLE)
          - (CAST(s1 AS DOUBLE) / n) * CAST(sh + st AS DOUBLE)
          + CAST(m AS DOUBLE) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
         / (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) AS rho_k,
         n
  FROM lagged CROSS JOIN mom
)
SELECT k AS lag, m AS n_pairs, rho_k,
       CAST(n AS DOUBLE) * (n + 2)
         * CAST(SUM(CAST(rho_k * rho_k / CAST(n - k AS DOUBLE) AS DECIMAL(28,12)))
                OVER (ORDER BY k) AS DOUBLE) AS ljung_box_q
FROM rho
ORDER BY lag
"""


sql_query(
    "q_acf",
    spark_sql=_acf_sql(SPARK),
    duck_sql=_acf_sql(DUCK),
    tables=["orders"],
    doc="Autocorrelation function of daily order demand, lags 1..14, with "
    "cumulative Ljung-Box Q — the seasonality/whiteness diagnostic "
    "behind q_stl_decompose and q_forecast_backtest (a significant "
    "rho_7 IS the weekly cycle). Calendar-filled series (zero-demand "
    "days are data, not holes); integer counts make every moment and "
    "lagged cross-sum exact BIGINT; rho_k is one shared IEEE tree and "
    "the LB cumulation DECIMAL-snaps per-lag terms (order-independent). "
    "Cost is calendar-bounded: <=2405-row spine x 14 lags.",
)


# ---------------------------------------------------------------------------
# One-way ANOVA — between/within variance decomposition by nation.
# ---------------------------------------------------------------------------

from ..functions.detsql import dsum, dxsum2  # noqa: E402


def _anova_sql() -> str:
    """One-way ANOVA of order totals across customer nations: SSB/SSW/F
    and eta². Group moments (n_g, Σy, Σy²) come from ONE partial-agg pass
    in exact DECIMAL (cents-exact products); the per-group terms
    S_g²/n_g are snapped to DECIMAL(28,12) BEFORE the cross-group sum so
    the decomposition is shuffle-order-independent; F and eta² are one
    final IEEE tree. The variance-based inequality decomposition that
    replaces ln()-based Theil under the house no-ln rule."""
    return f"""
WITH grp AS (
  SELECT n.n_name AS nation,
         COUNT(*) AS n_g,
         {dsum('o_totalprice')} AS s_g,
         {dxsum2('o_totalprice', 'o_totalprice')} AS ss_g
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
),
terms AS (
  -- Snap scales chosen by the dxsum2 rule: the decimal→double cast is
  -- engine-identical only while the UNSCALED sum stays < 2^53. s_g ≤ ~1e9
  -- (ulp ≪ 0.01 → scale 2 is a faithful snap; Σ unscaled ~1e12 ✓). The
  -- second moments run to ~1e14 per group (ulp ~0.03 → scale 2 would be
  -- finer than the ulp: snap to scale 0, grid 1.0 ≫ ulp; Σ unscaled
  -- ~3×10^15 < 2^53 through sf0.1 — coarsen further for larger corpora).
  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(s_g AS DECIMAL(28,2))) AS DOUBLE) AS s_tot,
         CAST(SUM(CAST(ss_g AS DECIMAL(28,0))) AS DOUBLE) AS ss_tot,
         CAST(SUM(CAST(s_g * s_g / n_g AS DECIMAL(28,0))) AS DOUBLE) AS sum_sq_over_n
  FROM grp
)
SELECT
  n AS n_rows,
  k AS n_groups,
  sum_sq_over_n - s_tot * s_tot / n AS ss_between,
  ss_tot - sum_sq_over_n AS ss_within,
  ss_tot - s_tot * s_tot / n AS ss_total,
  (sum_sq_over_n - s_tot * s_tot / n)
    / (ss_tot - s_tot * s_tot / n) AS eta_squared,
  ((sum_sq_over_n - s_tot * s_tot / n) / (k - 1))
    / ((ss_tot - sum_sq_over_n) / (n - k)) AS f_stat
FROM terms
"""


sql_query(
    "q_anova",
    spark_sql=_anova_sql(),
    duck_sql=_anova_sql(),
    tables=["orders", "customer", "nation"],
    doc="One-way ANOVA F test of order totals by customer nation — the "
    "does-geography-matter gate before building per-nation models, with "
    "eta² effect size and the full SSB/SSW/SST decomposition (the "
    "variance-based inequality split; ln()-based Theil is banned from "
    "the hash gate). One partial-agg pass over the broadcast-joined "
    "star, exact DECIMAL group moments, DECIMAL(28,12)-snapped "
    "S_g²/n_g terms (order-independent re-aggregation), one final IEEE "
    "tree for F.",
)


# ---------------------------------------------------------------------------
# Chi-square keyword extraction — per-source distinctive vocabulary.
# ---------------------------------------------------------------------------


def _chisq_keywords_sql(d: Dialect) -> str:
    """Top-3 distinctive tokens per source by 2×2 chi-square: for token t
    in source s, cells a=|t in s|, b=|t elsewhere|, c/d the complements;
    χ² = n(ad−bc)²/((a+b)(c+d)(a+c)(b+d)). All eight cells are exact
    BIGINT from one token×source aggregate + two marginals; (ad−bc) is
    DOUBLE-cast before squaring (can exceed 2^63). Ranked per source by
    (χ², token) — a total order, so top-3 is deterministic."""
    tok = d.all_token_rows_src("documents")
    return f"""
WITH toks AS ({tok}),
cell AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS a
  FROM toks GROUP BY source, token
),
tok_tot AS (SELECT token, CAST(SUM(a) AS BIGINT) AS t_tot FROM cell GROUP BY token),
src_tot AS (SELECT source, CAST(SUM(a) AS BIGINT) AS s_tot FROM cell GROUP BY source),
tot AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM cell),
chis AS (
  SELECT c.source, c.token, c.a,
         t.t_tot - c.a AS b,
         s.s_tot - c.a AS c_cell,
         n.n - t.t_tot - s.s_tot + c.a AS d_cell,
         CAST(n.n AS DOUBLE)
           * (CAST(c.a AS DOUBLE) * (n.n - t.t_tot - s.s_tot + c.a)
              - CAST(t.t_tot - c.a AS DOUBLE) * (s.s_tot - c.a))
           * (CAST(c.a AS DOUBLE) * (n.n - t.t_tot - s.s_tot + c.a)
              - CAST(t.t_tot - c.a AS DOUBLE) * (s.s_tot - c.a))
           / (CAST(t.t_tot AS DOUBLE) * (n.n - t.t_tot)
              * s.s_tot * (n.n - s.s_tot)) AS chi2
  FROM cell c
  JOIN tok_tot t ON c.token = t.token
  JOIN src_tot s ON c.source = s.source
  CROSS JOIN tot n
),
ranked AS (
  SELECT source, token, a AS in_source, b AS elsewhere, chi2,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY chi2 DESC, token) AS rk
  FROM chis
)
SELECT source, rk, token, in_source, elsewhere, chi2
FROM ranked WHERE rk <= 3
ORDER BY source, rk
"""


sql_query(
    "q_chisq_keywords",
    spark_sql=_chisq_keywords_sql(SPARK),
    duck_sql=_chisq_keywords_sql(DUCK),
    tables=["documents"],
    doc="Per-source distinctive keywords by 2×2 chi-square association — "
    "the corpus-slice fingerprint a curation pipeline uses to spot "
    "source contamination and topic skew (the log-free stand-in for "
    "Dunning's G² log-likelihood ratio, per the house no-ln rule). One "
    "token explode + token×source aggregate + two broadcast marginals; "
    "all cells exact BIGINT, (ad−bc) DOUBLE-cast before squaring, "
    "deterministic (χ², token) tie-break for the per-source top-3.",
)


# ---------------------------------------------------------------------------
# Zipf adherence — rank×frequency audit over the bigram vocabulary.
# ---------------------------------------------------------------------------


def _zipf_sql(d: Dialect) -> str:
    """Zipf's law says rank·freq ≈ const. Over the word-bigram vocabulary
    (~vocab² points — wide enough for a meaningful curve), emit the
    rank·freq product at rank deciles plus its coefficient of variation:
    CV near 0 ⇒ Zipf-like. Products are exact BIGINT (rank and freq are
    integers); CV comes from exact moment sums through the dstddev IEEE
    tree. No logs anywhere — the log-log slope fit is the textbook
    presentation, but the product-constancy audit is the same physics
    on hash-gate-safe arithmetic."""
    tok = d.positional_token_rows("documents")
    return f"""
WITH toks AS ({tok}),
bigrams AS (
  SELECT doc_id, token AS w1,
         LEAD(token, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM toks
),
freq AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS f
  FROM bigrams WHERE w2 IS NOT NULL GROUP BY w1, w2
),
ranked AS (
  SELECT f,
         CAST(ROW_NUMBER() OVER (ORDER BY f DESC, w1, w2) AS BIGINT) AS r
  FROM freq
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(r * f) AS BIGINT) AS s1,
         CAST(SUM(CAST(r * f AS DECIMAL(28,0)) * (r * f)) AS DECIMAL(38,0)) AS s2
  FROM ranked
)
SELECT
  CAST({d.idiv('(rb.r - 1) * 10', 'st.v')} AS BIGINT) AS rank_decile,
  CAST(COUNT(*) AS BIGINT) AS n_points,
  CAST(MIN(rb.r * rb.f) AS BIGINT) AS min_rf,
  CAST(MAX(rb.r * rb.f) AS BIGINT) AS max_rf,
  CAST(SUM(rb.r * rb.f) AS DOUBLE) / COUNT(*) AS mean_rf,
  SQRT((CAST(MAX(st.v) AS DOUBLE) * CAST(MAX(st.s2) AS DOUBLE)
        - CAST(MAX(st.s1) AS DOUBLE) * CAST(MAX(st.s1) AS DOUBLE))
       / (CAST(MAX(st.v) AS DOUBLE) * CAST(MAX(st.v) AS DOUBLE)))
    / (CAST(MAX(st.s1) AS DOUBLE) / MAX(st.v)) AS global_cv
FROM ranked rb CROSS JOIN stats st
GROUP BY CAST({d.idiv('(rb.r - 1) * 10', 'st.v')} AS BIGINT)
ORDER BY rank_decile
"""


sql_query(
    "q_zipf_check",
    spark_sql=_zipf_sql(SPARK),
    duck_sql=_zipf_sql(DUCK),
    tables=["documents"],
    doc="Zipf-law adherence audit over the word-bigram vocabulary: "
    "rank·frequency products summarized per rank decile plus the global "
    "coefficient of variation (Zipf ⇒ r·f constant ⇒ CV≈0) — the "
    "corpus-naturalness screen that separates organic text from "
    "template farms and synthetic spam. Positional explode + bigram "
    "self-join on (doc, i+1), vocab-sized rank window, exact BIGINT "
    "products (second moment in DECIMAL(38,0) — r·f ≤ ~2^40 squares "
    "past int64), dstddev-style IEEE tree for the CV. No logs: the "
    "product-constancy form replaces the log-log slope fit.",
)


# ---------------------------------------------------------------------------
# Embedding Gram matrix — the distributed-PCA building block.
# ---------------------------------------------------------------------------

_GRAM_SCALE = 32768  # 2^15: quantization grid for exact integer products


def _gram_sql(d: Dialect) -> str:
    """Upper-triangle Gram matrix G[i,j] = Σ_v e_v[i]·e_v[j] over the
    64-dim embedding corpus, on a fixed 2^-15 quantization grid so every
    product and sum is exact BIGINT (float dot-product accumulation is
    shuffle-order-dependent — the same reason q_dedup_embedding runs an
    integer GEMM). This is the covariance-accumulation step of
    distributed PCA / whitening: d(d+1)/2 = 2080 output cells regardless
    of corpus size, one self-join on vec_id (64×64 per key), one keyed
    aggregate. Normalized G/n emitted alongside the raw integer sum."""
    if d.name == "spark":
        expl = (
            "SELECT vec_id, p.i, CAST(floor(CAST(p.x AS DOUBLE) * 32768.0 + 0.5)"
            " AS BIGINT) AS q FROM embeddings"
            " LATERAL VIEW posexplode(embedding) p AS i, x"
        )
    else:
        expl = (
            "SELECT vec_id, u.i - 1 AS i,"
            " CAST(floor(CAST(u.x AS DOUBLE) * 32768.0 + 0.5) AS BIGINT) AS q"
            " FROM (SELECT vec_id, unnest(list_transform(embedding,"
            " (x, i) -> {'x': x, 'i': i})) AS u FROM embeddings) s"
        )
    return f"""
WITH comp AS ({expl}),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings)
SELECT a.i, b.i AS j,
       CAST(SUM(a.q * b.q) AS BIGINT) AS gram_q,
       CAST(SUM(a.q * b.q) AS DOUBLE)
         / (CAST(MAX(t.n) AS DOUBLE) * {_GRAM_SCALE}.0 * {_GRAM_SCALE}.0)
         AS gram
FROM comp a
JOIN comp b ON a.vec_id = b.vec_id AND b.i >= a.i
CROSS JOIN tot t
GROUP BY a.i, b.i
ORDER BY a.i, b.i
"""


sql_query(
    "q_gram_matrix",
    spark_sql=_gram_sql(SPARK),
    duck_sql=_gram_sql(DUCK),
    tables=["embeddings"],
    doc="Embedding Gram/covariance accumulation G[i,j] = Σ e[i]·e[j] "
    "(upper triangle, 2080 cells for d=64) — the one-pass distributed "
    "step behind PCA, whitening, and MRL dimension ablation: the driver "
    "eigendecomposes the tiny G, executors never exchange more than "
    "d(d+1)/2 partial sums. Products are exact BIGINT on a 2^-15 "
    "quantization grid (float accumulation is shuffle-order-dependent "
    "— the q_dedup_embedding integer-GEMM discipline). Self-join on "
    "vec_id explodes 64×64 per key; at cluster scale the same plan "
    "map-side-combines to one 2080-row exchange.",
)


# ---------------------------------------------------------------------------
# McNemar's test — do two quality detectors disagree symmetrically?
# ---------------------------------------------------------------------------


def _mcnemar_sql(d: Dialect) -> str:
    """Paired comparison of two document-quality detectors on the SAME
    corpus: A = low stopword ratio (quality-gate style), B = high
    repetition (max token frequency share). McNemar ignores the cells
    where the detectors agree and tests the disagreement split:
    χ² = (b−c)²/(b+c) — exact integers to one final division. The
    detector thresholds are data-relative medians-by-construction
    (fixed rationals), so the flags themselves are deterministic."""
    toks = d.split_tokens("text")
    stop = d.token_filter_count("text", "'the','a','of','and','to'")
    return f"""
WITH per_doc AS (
  SELECT doc_id,
         CAST({stop} AS BIGINT) AS n_stop,
         CAST({d.arr_len(toks)} AS BIGINT) AS n_tok
  FROM documents
),
rep AS (
  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_tok, CAST(SUM(c) AS BIGINT) AS tot
  FROM (
    SELECT doc_id, token, COUNT(*) AS c
    FROM ({d.all_token_rows('documents')}) t
    GROUP BY doc_id, token
  ) g
  GROUP BY doc_id
),
flags AS (
  SELECT p.doc_id,
         CASE WHEN p.n_stop * 10 < p.n_tok THEN 1 ELSE 0 END AS flag_a,
         CASE WHEN r.max_tok * 5 > r.tot THEN 1 ELSE 0 END AS flag_b
  FROM per_doc p JOIN rep r ON p.doc_id = r.doc_id
),
cells AS (
  SELECT
    CAST(SUM(CASE WHEN flag_a = 1 AND flag_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS both_flag,
    CAST(SUM(CASE WHEN flag_a = 1 AND flag_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS only_a,
    CAST(SUM(CASE WHEN flag_a = 0 AND flag_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS only_b,
    CAST(SUM(CASE WHEN flag_a = 0 AND flag_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neither
  FROM flags
)
SELECT both_flag, only_a, only_b, neither,
       CASE WHEN only_a + only_b > 0
            THEN CAST((only_a - only_b) * (only_a - only_b) AS DOUBLE)
                 / CAST(only_a + only_b AS DOUBLE)
            ELSE NULL END AS mcnemar_chi2
FROM cells
"""


sql_query(
    "q_mcnemar",
    spark_sql=_mcnemar_sql(SPARK),
    duck_sql=_mcnemar_sql(DUCK),
    tables=["documents"],
    doc="McNemar's paired test between two document-quality detectors "
    "(low-stopword-ratio vs high-repetition) — the right comparison "
    "when both run on the SAME documents: agreement cells carry no "
    "information, χ² = (b−c)²/(b+c) on the disagreement split, exact "
    "integers to one guarded division (NULL when the detectors never "
    "disagree). Two map-side flag passes + one token-keyed aggregate; "
    "the 2×2 cell table is one scalar row.",
)


# ---------------------------------------------------------------------------
# Poisson rate comparison — did the event rate change between halves?
# ---------------------------------------------------------------------------


def _poisson_rate_sql(d: Dialect) -> str:
    """Per-event-type conditional test of rate change between the first
    and second halves of the observation window (equal exposure by
    construction — the split point is the data midpoint): under H₀ the
    first-half count is Binomial(c₁+c₂, ½), normal approx
    z = (c₁−c₂)/√(c₁+c₂). Exact integers to one final sqrt; the window
    bounds are two scalar broadcasts."""
    ep = d.epoch_us("ts")
    return f"""
WITH ev AS (SELECT event_type, {ep} AS t FROM events WHERE ts IS NOT NULL),
bounds AS (SELECT MIN(t) AS t0, MAX(t) AS t1 FROM ev),
counts AS (
  SELECT e.event_type,
         CAST(SUM(CASE WHEN (e.t - b.t0) * 2 <= (b.t1 - b.t0) THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN (e.t - b.t0) * 2 > (b.t1 - b.t0) THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM ev e CROSS JOIN bounds b
  GROUP BY e.event_type
)
SELECT event_type, c1 AS first_half, c2 AS second_half,
       CASE WHEN c1 + c2 > 0
            THEN CAST(c1 - c2 AS DOUBLE) / SQRT(CAST(c1 + c2 AS DOUBLE))
            ELSE NULL END AS rate_z
FROM counts
ORDER BY event_type
"""


sql_query(
    "q_poisson_rate",
    spark_sql=_poisson_rate_sql(SPARK),
    duck_sql=_poisson_rate_sql(DUCK),
    tables=["events"],
    doc="Per-type Poisson rate-change test between the two halves of the "
    "observation window: conditional on the total, the first-half count "
    "is Binomial(n,½) under H₀, z = (c₁−c₂)/√(c₁+c₂) — the simplest "
    "honest burst/decay detector and the streaming-drift sibling of "
    "q_ks_drift (counts, not values). Exact integer counts, one final "
    "sqrt, guarded zero-total case; one aggregate + a 1-row bounds "
    "broadcast.",
)


# ---------------------------------------------------------------------------
# Difference-in-differences — the panel causal-inference workhorse.
# ---------------------------------------------------------------------------


def _did_sql(d: Dialect) -> str:
    """2×2 DiD on event value: treatment = user parity (the persistent
    hash-bucket assignment q_ab_welch uses), period = first/second half
    of the window. Estimate = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post −
    ȳ_c,pre); SE = √(Σ s²_g/n_g) over the four cells. Cell moments are
    exact decimal sums (scale 6, the events-value convention); the
    estimate and SE are one shared IEEE tree over the four cells'
    moments, re-aggregated via DECIMAL-snapped terms."""
    ep = d.epoch_us("ts")
    var = (
        "((CAST({n} AS DOUBLE) * {sxx} - {sx} * {sx})"
        " / (CAST({n} AS DOUBLE) * (CAST({n} AS DOUBLE) - 1)))"
    )
    cell = lambda t, p: f"MAX(CASE WHEN treat = {t} AND post = {p} THEN {{c}} END)"  # noqa: E731
    return f"""
WITH ev AS (
  SELECT CAST(user_id % 2 AS INT) AS treat, value, {ep} AS t
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
bounds AS (SELECT MIN(t) AS t0, MAX(t) AS t1 FROM ev),
cells AS (
  SELECT e.treat,
         CASE WHEN (e.t - b.t0) * 2 > (b.t1 - b.t0) THEN 1 ELSE 0 END AS post,
         COUNT(*) AS n,
         {dsum('value', scale=6)} AS sx,
         {dxsum2('value', 'value', s1=6, s2=6)} AS sxx
  FROM ev e CROSS JOIN bounds b
  GROUP BY e.treat, CASE WHEN (e.t - b.t0) * 2 > (b.t1 - b.t0) THEN 1 ELSE 0 END
),
wide AS (
  SELECT
    {cell(1, 1).format(c='n')} AS n_t1, {cell(1, 1).format(c='sx')} AS sx_t1, {cell(1, 1).format(c='sxx')} AS sxx_t1,
    {cell(1, 0).format(c='n')} AS n_t0, {cell(1, 0).format(c='sx')} AS sx_t0, {cell(1, 0).format(c='sxx')} AS sxx_t0,
    {cell(0, 1).format(c='n')} AS n_c1, {cell(0, 1).format(c='sx')} AS sx_c1, {cell(0, 1).format(c='sxx')} AS sxx_c1,
    {cell(0, 0).format(c='n')} AS n_c0, {cell(0, 0).format(c='sx')} AS sx_c0, {cell(0, 0).format(c='sxx')} AS sxx_c0
  FROM cells
)
SELECT
  n_t1, n_t0, n_c1, n_c0,
  sx_t1 / n_t1 - sx_t0 / n_t0 AS treated_delta,
  sx_c1 / n_c1 - sx_c0 / n_c0 AS control_delta,
  (sx_t1 / n_t1 - sx_t0 / n_t0) - (sx_c1 / n_c1 - sx_c0 / n_c0) AS did_estimate,
  SQRT({var.format(n='n_t1', sx='sx_t1', sxx='sxx_t1')} / n_t1
       + {var.format(n='n_t0', sx='sx_t0', sxx='sxx_t0')} / n_t0
       + {var.format(n='n_c1', sx='sx_c1', sxx='sxx_c1')} / n_c1
       + {var.format(n='n_c0', sx='sx_c0', sxx='sxx_c0')} / n_c0) AS did_se
FROM wide
"""


sql_query(
    "q_diff_in_diff",
    spark_sql=_did_sql(SPARK),
    duck_sql=_did_sql(DUCK),
    tables=["events"],
    doc="Difference-in-differences on event value: treatment = the "
    "persistent user-parity bucket (q_ab_welch's assignment), period = "
    "window halves; estimate, per-arm deltas, and the four-cell pooled "
    "SE. The panel causal-inference workhorse next to q_cuped "
    "(variance reduction) and q_ab_welch (cross-sectional test). ONE "
    "partial-agg pass for all four cells' exact decimal moments, "
    "pivoted to a single row, one shared IEEE tree for estimate + SE.",
)


# ---------------------------------------------------------------------------
# Sequential probability ratio test — early-stopping rate monitor.
# ---------------------------------------------------------------------------

# Wald SPRT constants for H0: p=0.20 vs H1: p=0.25, alpha=beta=0.05 —
# computed offline to full double precision and inlined as literals (ln()
# is banned from the hash gate; a LITERAL is parsed to the identical
# double by both engines, so s*C1 + (n-s)*C2 is a deterministic
# two-term IEEE expression, never a runtime libm call).
_SPRT_C1 = "0.22314355131420976"    # ln(p1/p0)
_SPRT_C2 = "-0.06453852113757118"   # ln((1-p1)/(1-p0))
_SPRT_LN_A = "2.9444389791664403"   # ln((1-beta)/alpha)  -> accept H1
_SPRT_LN_B = "-2.9444389791664403"  # ln(beta/(1-alpha))  -> accept H0


def _sprt_sql(d: Dialect) -> str:
    """Wald's SPRT walked over the daily order stream: trial = order,
    success = URGENT priority; after each day the cumulative log
    likelihood ratio LLR_t = s_t·C1 + (n_t−s_t)·C2 is compared to the
    literal ln A / ln B boundaries. All cumulative counts are exact
    BIGINT window sums over the day-grain aggregate; LLR is one two-term
    IEEE expression of exact ints × literal constants. decision_day
    marks the FIRST boundary crossing (the sequential early stop)."""
    day = f"CAST({d.idiv(d.epoch('o_orderdate'), '86400')} AS BIGINT)"
    # CAST the literals to DOUBLE: Spark parses a bare 17-digit decimal
    # literal as DECIMAL (llr would come out DECIMAL/string), DuckDB as
    # DOUBLE — the explicit cast pins both to the same IEEE double.
    llr = (
        f"(CAST(s_cum AS DOUBLE) * CAST({_SPRT_C1} AS DOUBLE)"
        f" + CAST(n_cum - s_cum AS DOUBLE) * CAST({_SPRT_C2} AS DOUBLE))"
    )
    return f"""
WITH daily AS (
  SELECT {day} AS day_no,
         CAST(COUNT(*) AS BIGINT) AS n_day,
         CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS s_day
  FROM orders
  GROUP BY {day}
),
walk AS (
  SELECT day_no, n_day, s_day,
         CAST(SUM(n_day) OVER (ORDER BY day_no) AS BIGINT) AS n_cum,
         CAST(SUM(s_day) OVER (ORDER BY day_no) AS BIGINT) AS s_cum
  FROM daily
),
scored AS (
  SELECT day_no, n_day, s_day, n_cum, s_cum,
         {llr} AS llr,
         CASE WHEN {llr} >= CAST({_SPRT_LN_A} AS DOUBLE) THEN 'accept_h1'
              WHEN {llr} <= CAST({_SPRT_LN_B} AS DOUBLE) THEN 'accept_h0'
              ELSE 'continue' END AS state
  FROM walk
),
flagged AS (
  SELECT s.*,
         MIN(CASE WHEN state <> 'continue' THEN day_no END) OVER ()
           AS decision_day
  FROM scored s
)
SELECT
  day_no, n_day, s_day, n_cum, s_cum, llr, state,
  decision_day,
  CASE WHEN day_no = decision_day THEN 1 ELSE 0 END AS is_decision_row
FROM flagged
ORDER BY day_no
"""


sql_query(
    "q_sprt",
    spark_sql=_sprt_sql(SPARK),
    duck_sql=_sprt_sql(DUCK),
    tables=["orders"],
    doc="Wald sequential probability ratio test over the daily order "
    "stream (H0: urgent-rate 0.20 vs H1: 0.25, alpha=beta=0.05): exact "
    "cumulative trial/success counts, the two-term LLR against literal "
    "ln-boundaries, and the first-crossing decision day — the "
    "early-stopping experiment monitor next to q_ab_welch (fixed-horizon) "
    "and q_cuped (variance reduction). The ln constants are compile-time "
    "literals (house no-runtime-ln rule). Day-grain cumulative windows "
    "run over the bounded day spine, same class as q_dau_wau_mau.",
)


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch check — the experiment-validity gate.
# ---------------------------------------------------------------------------


def _srm_sql(d: Dialect) -> str:
    """SRM χ² on the q_ab_welch user-parity assignment: per event_type,
    the UNIT counts (distinct users, not events — SRM is a randomization
    property of units) in each arm vs the expected 50/50 split. χ² =
    (n0−E)²/E + (n1−E)²/E with E = n/2, all from exact integers; the
    df=1 99.9% critical value 10.828 (the industry SRM alarm threshold —
    SRM checks run at tiny α because a true SRM invalidates everything)
    is a literal."""
    return """
WITH units AS (
  SELECT DISTINCT event_type, user_id, CAST(user_id % 2 AS INT) AS variant
  FROM events
  WHERE user_id IS NOT NULL
),
arms AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM units GROUP BY event_type
)
SELECT
  event_type,
  n0 AS users_arm0,
  n1 AS users_arm1,
  CAST(n0 AS DOUBLE) / (n0 + n1) AS share_arm0,
  CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) AS srm_chisq,
  CASE WHEN CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) > 10.828
       THEN 1 ELSE 0 END AS srm_alarm
FROM arms
ORDER BY event_type
"""


sql_query(
    "q_ab_srm",
    spark_sql=_srm_sql(SPARK),
    duck_sql=_srm_sql(DUCK),
    tables=["events"],
    doc="Sample-ratio-mismatch gate for the q_ab_welch experiment: per "
    "event_type, distinct-UNIT counts per parity arm vs the expected "
    "50/50, the χ² statistic ((n0−n1)²/n — the algebraic reduction of "
    "the two-cell Pearson χ² at E=n/2), and the df=1 99.9% alarm "
    "(10.828). An SRM alarm invalidates the experiment readout before "
    "any effect is interpreted — the validity gate every experimentation "
    "platform runs first. One distinct-unit agg, exact integers into a "
    "single IEEE division.",
)


# ---------------------------------------------------------------------------
# Fano factor — count-process burstiness per event type.
# ---------------------------------------------------------------------------


def _fano_sql(d: Dialect) -> str:
    """Index of dispersion of the DAILY event-count series per type:
    F = var/mean over the day grain, var from exact integer moment sums
    (n·Σx² − (Σx)²)/(n·(n−1)) — all BIGINT until the final divisions.
    Poisson arrivals give F≈1; F>>1 = bursty (sessions, incidents,
    bot storms), F<1 = regular (rate-limited feeds)."""
    day = f"CAST({d.idiv(d.epoch('ts'), '86400')} AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day_no, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, {day}
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM daily GROUP BY event_type
)
SELECT
  event_type,
  n AS n_days,
  CAST(sx AS DOUBLE) / n AS mean_per_day,
  CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))
    AS var_per_day,
  (CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))
    / (CAST(sx AS DOUBLE) / n) AS fano_factor,
  CASE WHEN (CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))
            > 1.5 * (CAST(sx AS DOUBLE) / n) THEN 1 ELSE 0 END AS bursty
FROM m
WHERE n >= 2
ORDER BY event_type
"""


sql_query(
    "q_fano_factor",
    spark_sql=_fano_sql(SPARK),
    duck_sql=_fano_sql(DUCK),
    tables=["events"],
    doc="Count-process burstiness per event type: the Fano factor "
    "(variance-to-mean ratio of the daily arrival counts, exact "
    "integer moments, sample variance) with a 1.5× overdispersion "
    "flag — Poisson traffic sits at F≈1, session/incident/bot traffic "
    "far above; the dispersion diagnostic q_poisson_rate's equal-rate "
    "test assumes away. One day-grain aggregate then |types| rows of "
    "algebra.",
)


# ---------------------------------------------------------------------------
# Cohen's kappa — chance-corrected agreement between two ordinal raters
# (the multi-class companion to q_mcnemar's paired 2×2 test).
# ---------------------------------------------------------------------------

# Fixed ordinal size classes (0=short, 1=medium, 2=long), tercile-anchored
# compile-time literals so both raters produce real off-diagonal mass.
_KAPPA_TOK_LO, _KAPPA_TOK_HI = 40, 70
_KAPPA_CHR_LO, _KAPPA_CHR_HI = 220, 385


def _kappa_classes(d: Dialect) -> tuple[str, str]:
    tok = d.token_count("text")
    a = (
        f"CASE WHEN {tok} < {_KAPPA_TOK_LO} THEN 0 "
        f"WHEN {tok} > {_KAPPA_TOK_HI} THEN 2 ELSE 1 END"
    )
    b = (
        f"CASE WHEN n_chars < {_KAPPA_CHR_LO} THEN 0 "
        f"WHEN n_chars > {_KAPPA_CHR_HI} THEN 2 ELSE 1 END"
    )
    return a, b


def _kappa_oracle_sql(d: Dialect) -> str:
    """DuckDB oracle: the identical confusion/marginal/kappa algebra as one
    CTE chain (cells is referenced 4× — fine under DuckDB materialization,
    the multi-reference shape the Spark side avoids by checkpointing the
    9-row cell table)."""
    a, b = _kappa_classes(d)
    return f"""
WITH rated AS (
  SELECT CAST({a} AS BIGINT) AS class_a, CAST({b} AS BIGINT) AS class_b
  FROM documents
),
cells AS (
  SELECT class_a, class_b, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM rated GROUP BY class_a, class_b
),
r AS (SELECT class_a, CAST(SUM(n_docs) AS BIGINT) AS r_tot FROM cells GROUP BY class_a),
c AS (SELECT class_b, CAST(SUM(n_docs) AS BIGINT) AS c_tot FROM cells GROUP BY class_b),
summary AS (
  SELECT
    (SELECT SUM(n_docs) FROM cells) AS n,
    (SELECT SUM(n_docs) FROM cells WHERE class_a = class_b) AS agree,
    (SELECT SUM(r.r_tot * c.c_tot) FROM r JOIN c ON r.class_a = c.class_b)
      AS chance,
    (SELECT SUM(abs(class_a - class_b) * n_docs) FROM cells) AS wdis,
    (SELECT SUM(abs(r.class_a - c.class_b) * r.r_tot * c.c_tot)
     FROM r CROSS JOIN c) AS wchance
),
out AS (
  SELECT x.class_a, x.class_b, x.n_docs, r.r_tot AS row_total,
         c.c_tot AS col_total,
         CAST(s.n AS BIGINT) AS n,
         CAST(s.agree AS BIGINT) AS n_agree,
         CAST(s.n * s.agree - s.chance AS DOUBLE)
           / CAST(NULLIF(s.n * s.n - s.chance, 0) AS DOUBLE) AS kappa,
         1.0 - CAST(s.n * s.wdis AS DOUBLE)
           / CAST(NULLIF(s.wchance, 0) AS DOUBLE) AS kappa_weighted
  FROM cells x
  JOIN r ON x.class_a = r.class_a
  JOIN c ON x.class_b = c.class_b
  CROSS JOIN summary s
)
SELECT * FROM out ORDER BY class_a, class_b
"""


@df_query(
    "q_cohens_kappa",
    duck_sql=_kappa_oracle_sql(DUCK),
    tables=["documents"],
    doc="Cohen's kappa between two ordinal document-size raters (token-"
    "count terciles vs char-count terciles — different measurement "
    "bases, real disagreement): full 3×3 confusion cells with "
    "marginals, plus unweighted kappa (chance-corrected exact "
    "agreement) and LINEAR-WEIGHTED kappa (adjacent-class near-misses "
    "penalized |i−j|) — the annotator-consistency audit run before "
    "consolidating noisy labels into training data, and the multi-"
    "class companion to q_mcnemar's binary disagreement test. Both "
    "kappas are single IEEE divisions over exact BIGINT sums. One "
    "corpus map+aggregate produces the 9-row cell table; it is "
    "localCheckpointed so marginals/summary never rescan the corpus "
    "(the CTE-inlining trap the DuckDB oracle tolerates by "
    "materializing).",
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.detsql import SPARK as _S
    from ..sources.tables import load_tables

    t = load_tables(spark, sf_dir, ["documents"])
    a, b = _kappa_classes(_S)
    cells = register_run_checkpoint(round_checkpoint(
        t["documents"]
        .select(
            F.expr(a).cast("bigint").alias("class_a"),
            F.expr(b).cast("bigint").alias("class_b"),
        )
        .groupBy("class_a", "class_b")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    ))
    r = cells.groupBy("class_a").agg(F.sum("n_docs").cast("bigint").alias("r_tot"))
    c = cells.groupBy("class_b").agg(F.sum("n_docs").cast("bigint").alias("c_tot"))
    n = cells.agg(F.sum("n_docs")).first()[0]
    agree = (
        cells.filter(F.col("class_a") == F.col("class_b"))
        .agg(F.sum("n_docs"))
        .first()[0]
    ) or 0
    chance = (
        r.join(c, F.col("class_a") == F.col("class_b"))
        .agg(F.sum(F.col("r_tot") * F.col("c_tot")))
        .first()[0]
    ) or 0
    wdis = (
        cells.agg(
            F.sum(F.abs(F.col("class_a") - F.col("class_b")) * F.col("n_docs"))
        ).first()[0]
    ) or 0
    wchance = (
        r.crossJoin(c)
        .agg(
            F.sum(
                F.abs(F.col("class_a") - F.col("class_b"))
                * F.col("r_tot")
                * F.col("c_tot")
            )
        )
        .first()[0]
    )
    # Degenerate guards (q_ks_drift convention): a single-class corpus
    # zeroes either denominator → NULL, matching the oracle's NULLIF.
    kappa = (
        float(n * agree - chance) / float(n * n - chance)
        if n and (n * n - chance) != 0
        else None
    )
    kappa_w = 1.0 - float(n * wdis) / float(wchance) if wchance else None
    return (
        cells.join(r, "class_a")
        .join(c, "class_b")
        .select(
            "class_a",
            "class_b",
            "n_docs",
            F.col("r_tot").alias("row_total"),
            F.col("c_tot").alias("col_total"),
            F.lit(int(n)).cast("bigint").alias("n"),
            F.lit(int(agree)).cast("bigint").alias("n_agree"),
            F.lit(kappa).cast("double").alias("kappa"),
            F.lit(kappa_w).cast("double").alias("kappa_weighted"),
        )
        .orderBy("class_a", "class_b")
    )


# ---------------------------------------------------------------------------
# Coarsened exact matching — stratified ATT without a propensity model
# (the causal companion to q_diff_in_diff / q_cuped that needs no
# parallel-trends or covariate-linearity assumption, only common support).
# ---------------------------------------------------------------------------


def _cem_att_sql(d: Dialect) -> str:
    """Coarsened-exact-matching ATT (Iacus/King/Porro): treatment = the
    BUILDING market segment, outcome = lifetime order spend in exact
    integer cents, strata = (nation, account-balance band) with the
    band edges as compile-time literals (no quantile windows — the
    coarsening is fixed, so it is reproducible and partition-free).
    Strata missing either arm are dropped (common support); the kept
    control outcomes are reweighted to the treated stratum counts via
    centi-cent staged idiv (exact BIGINT; bounded by ~y0·n1·100 ≈ 1e16
    at sf1 — DECIMAL(38,0) numerators are the documented swap beyond).
    The single final double is one IEEE division of two exact BIGINTs."""
    cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    adj = d.idiv("y0 * n1 * 100", "n0")
    m1 = d.idiv("y1 * 100", "n1")
    m0 = d.idiv("y0 * 100", "n0")
    # NOTE: the ATT numerator can be NEGATIVE (treated spend below control).
    # Spark DIV and DuckDB // both truncate toward zero (measured, see
    # BASELINE.md), but python's // FLOORS — a negative idiv would diverge
    # from every serial-reference mirror. So the integer column is the raw
    # exact numerator, never an idiv of it; the per-treated ATT emits only
    # as the one IEEE double division.
    return f"""
WITH cust AS (
  SELECT c_custkey,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
         CAST(c_nationkey AS BIGINT) AS nation,
         CASE WHEN c_acctbal < 0 THEN 0
              WHEN c_acctbal < 2500 THEN 1
              WHEN c_acctbal < 5000 THEN 2
              WHEN c_acctbal < 7500 THEN 3
              ELSE 4 END AS bal_band
  FROM customer
),
spend AS (
  SELECT o_custkey, CAST(SUM({cents}) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
joined AS (
  SELECT c.t, c.nation, c.bal_band, COALESCE(s.cents, 0) AS cents
  FROM cust c LEFT JOIN spend s ON c.c_custkey = s.o_custkey
),
strata AS (
  SELECT nation, bal_band,
         CAST(SUM(t) AS BIGINT) AS n1,
         CAST(SUM(1 - t) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN t = 1 THEN cents ELSE 0 END) AS BIGINT) AS y1,
         CAST(SUM(CASE WHEN t = 0 THEN cents ELSE 0 END) AS BIGINT) AS y0
  FROM joined GROUP BY nation, bal_band
),
matched AS (
  SELECT nation, bal_band, n1, n0, y1, y0,
         CAST({adj} AS BIGINT) AS adj_cc
  FROM strata WHERE n1 > 0 AND n0 > 0
)
SELECT nation, bal_band,
       n1 AS n_treated, n0 AS n_control,
       y1 AS y_treated_cents, y0 AS y_control_cents,
       CAST({m1} - {m0} AS BIGINT) AS stratum_diff_cc,
       CAST(SUM(n1) OVER () AS BIGINT) AS n_treated_matched,
       CAST(SUM(y1 * 100 - adj_cc) OVER () AS BIGINT) AS att_num_cc,
       CAST(SUM(y1 * 100 - adj_cc) OVER () AS DOUBLE)
         / CAST(SUM(n1) OVER () * 100 AS DOUBLE) AS att_cents
FROM matched
ORDER BY nation, bal_band
"""


sql_query(
    "q_cem_att",
    spark_sql=_cem_att_sql(SPARK),
    duck_sql=_cem_att_sql(DUCK),
    tables=["customer", "orders"],
    doc="Coarsened-exact-matching ATT (Iacus/King/Porro) of the BUILDING "
    "market segment on lifetime order spend: strata = (nation, fixed "
    "account-balance band — compile-time edges, no quantile windows), "
    "strata missing either arm dropped (common support), control "
    "outcomes reweighted to treated counts per stratum. The model-free "
    "causal companion to q_diff_in_diff (parallel trends) and q_cuped "
    "(covariate linearity): CEM assumes only within-stratum "
    "exchangeability. All arithmetic is exact integer cents with "
    "centi-cent staged idiv (BIGINT-safe to ~sf1; DECIMAL(38,0) is the "
    "documented swap); the single double is one IEEE division of two "
    "exact window sums. Corpus-scale work is one customer-keyed spend "
    "aggregate + one broadcast-size dimension join; everything after "
    "runs on the <=125-row strata grain.",
)


# ---------------------------------------------------------------------------
# Delete-one-day jackknife — nonparametric variance of the ratio estimator
# (the leave-one-out companion to q_bootstrap_ci's percentile intervals).
# ---------------------------------------------------------------------------


def _jackknife_sql(d: Dialect) -> str:
    """Delete-one-group jackknife for revenue-per-order, groups = order
    days (the exchangeable block for a time-keyed corpus): leave-one-out
    ratios in centi-cents via exact idiv (cc-quantized by definition —
    both engines floor identically, so the statistic is bit-exact),
    pseudo-value bias correction and the Tukey variance
    (n-1)/n * SS(loo - mean) assembled from exact BIGINT sums; only the
    final variance/bias emit as single IEEE divisions. SS is bounded by
    |days| * max_dev^2 ~ 1e13 at sf1 (deviations shrink as 1/n, so the
    BIGINT path widens with scale rather than tightening)."""
    cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    day = f"CAST({d.idiv(d.epoch('o_orderdate'), '86400')} AS BIGINT)"
    full_cc = d.idiv("SUM(rev) OVER () * 100", "SUM(n) OVER ()")
    # compound denominator parenthesized: DIV binds at * precedence, so a
    # bare `SUM(n) OVER () - n` would parse as `(... DIV SUM(n) OVER ()) - n`.
    loo_cc = d.idiv("(SUM(rev) OVER () - rev) * 100", "(SUM(n) OVER () - n)")
    mean_cc = d.idiv("SUM(loo_cc) OVER ()", "COUNT(*) OVER ()")
    return f"""
WITH days AS (
  SELECT {day} AS day_no,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({cents}) AS BIGINT) AS rev
  FROM orders GROUP BY {day}
),
loo AS (
  SELECT day_no, n, rev,
         CAST({full_cc} AS BIGINT) AS full_cc,
         CAST({loo_cc} AS BIGINT) AS loo_cc,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_days
  FROM days
),
dev AS (
  SELECT day_no, n, rev, full_cc, loo_cc, n_days,
         CAST({mean_cc} AS BIGINT) AS loo_mean_cc
  FROM loo
)
SELECT day_no, n AS n_orders, rev AS rev_cents, full_cc, loo_cc,
       n_days, loo_mean_cc,
       CAST(n_days * full_cc - (n_days - 1) * loo_cc AS BIGINT)
         AS pseudo_cc,
       CAST(SUM((loo_cc - loo_mean_cc) * (loo_cc - loo_mean_cc)) OVER ()
            AS BIGINT) AS ss_cc2,
       CAST((n_days - 1)
            * SUM((loo_cc - loo_mean_cc) * (loo_cc - loo_mean_cc)) OVER ()
            AS DOUBLE) / CAST(n_days AS DOUBLE) AS jack_var_cc2,
       CAST((n_days - 1) * (loo_mean_cc - full_cc) AS BIGINT) AS jack_bias_cc
FROM dev
ORDER BY day_no
"""


sql_query(
    "q_jackknife",
    spark_sql=_jackknife_sql(SPARK),
    duck_sql=_jackknife_sql(DUCK),
    tables=["orders"],
    doc="Delete-one-day jackknife for the revenue-per-order ratio: leave-"
    "one-out ratios, Quenouille bias estimate (n-1)*(loo_mean - full), "
    "Tukey pseudo-values, and the jackknife variance (n-1)/n * SS — "
    "the nonparametric uncertainty companion to q_bootstrap_ci "
    "(resampling) for the estimator class where the bootstrap is "
    "expensive: one corpus pass, |days| deterministic replicates, no "
    "RNG. Leave-one-out ratios are centi-cent idiv-quantized (both "
    "engines floor identically - bit-exact), SS/bias are exact BIGINT "
    "algebra, and only variance emits as one IEEE division. The day "
    "rollup is the only corpus-scale stage (map-side combined); all "
    "windows run on the calendar-bounded day grain (q_theilsen's "
    "boundedness class). sqrt(se) is left to the consumer per the "
    "house no-transcendental rule.",
)


# ---------------------------------------------------------------------------
# Cochran-Mantel-Haenszel — stratified 2x2 association (the confounder-
# adjusted companion to q_mcnemar/q_logrank, and the hypothesis test for
# exactly the stratified design q_cem_att estimates).
# ---------------------------------------------------------------------------


def _cmh_sql(d: Dialect) -> str:
    """CMH test of exposure (first event was an 'error' — the q_logrank
    cohort) against conversion (first purchase within the 48 h horizon)
    stratified by the user-activity band (the q_ips_eval terciles, the
    confounder: heavy users both hit more errors and convert more).
    Per-stratum 2x2 cells are exact BIGINT user counts; the
    hypergeometric E[a_k] and Var[a_k] are ppm staged idiv with every
    stage bounded by ~1e6*n_k (BIGINT-safe past 1e9 users/stratum), as
    is each Mantel-Haenszel odds-ratio term a_k*d_k/n_k. The summed
    numerator a-E can be NEGATIVE so it is never idiv'd — only summed.
    The continuity-corrected CMH statistic and the MH common odds ratio
    emit as single IEEE trees over the exact window sums."""
    hour = f"CAST({d.epoch('ts')} AS BIGINT)"
    e1 = d.idiv("n1k * 1000000", "nk")
    t1 = d.idiv("n1k * 1000000", "nk")
    t2 = d.idiv(f"{t1} * n0k", "nk")
    t3 = d.idiv(f"{t2} * m1k", "NULLIF(nk - 1, 0)")
    or_n = d.idiv("a * 1000000", "nk")
    or_d = d.idiv("b * 1000000", "nk")
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS user_n,
         {d.idiv(f'MIN({hour})', '3600')} AS first_h,
         {d.idiv(f"MIN(CASE WHEN event_type = 'purchase' THEN {hour} END)", '3600')}
           AS conv_h,
         CASE WHEN MIN(CASE WHEN event_type = 'error' THEN {hour} END)
                   = MIN({hour}) THEN 1 ELSE 0 END AS g
  FROM events GROUP BY user_id
),
labeled AS (
  SELECT CASE WHEN user_n < 60 THEN 0
              WHEN user_n < 70 THEN 1
              ELSE 2 END AS band,
         g,
         CASE WHEN conv_h IS NOT NULL AND conv_h - first_h <= 48
              THEN 1 ELSE 0 END AS y
  FROM per_user
),
tables_k AS (
  SELECT band,
         CAST(SUM(g * y) AS BIGINT) AS a,
         CAST(SUM(g * (1 - y)) AS BIGINT) AS b,
         CAST(SUM((1 - g) * y) AS BIGINT) AS c,
         CAST(SUM((1 - g) * (1 - y)) AS BIGINT) AS d
  FROM labeled GROUP BY band
),
margins AS (
  SELECT band, a, b, c, d,
         a + b AS n1k, c + d AS n0k,
         a + c AS m1k, b + d AS m0k,
         a + b + c + d AS nk
  FROM tables_k
),
terms AS (
  SELECT band, a, b, c, d, n1k, n0k, m1k, m0k, nk,
         CAST({e1} * m1k AS BIGINT) AS e_a_ppm,
         CAST({t3} * m0k AS BIGINT) AS v_a_ppm,
         CAST({or_n} * d AS BIGINT) AS or_num_ppm,
         CAST({or_d} * c AS BIGINT) AS or_den_ppm
  FROM margins
)
SELECT band, a, b, c, d, n1k, n0k, m1k, m0k, nk,
       e_a_ppm, v_a_ppm,
       CAST(SUM(a * 1000000 - e_a_ppm) OVER () AS BIGINT) AS sum_a_minus_e_ppm,
       CAST(SUM(v_a_ppm) OVER () AS BIGINT) AS sum_var_ppm,
       (abs(CAST(SUM(a * 1000000 - e_a_ppm) OVER () AS DOUBLE) / 1000000.0)
          - 0.5) * (abs(CAST(SUM(a * 1000000 - e_a_ppm) OVER () AS DOUBLE)
          / 1000000.0) - 0.5)
         / (CAST(SUM(v_a_ppm) OVER () AS DOUBLE) / 1000000.0) AS cmh_stat,
       CAST(SUM(or_num_ppm) OVER () AS DOUBLE)
         / CAST(NULLIF(SUM(or_den_ppm) OVER (), 0) AS DOUBLE) AS or_mh
FROM terms
ORDER BY band
"""


sql_query(
    "q_cmh",
    spark_sql=_cmh_sql(SPARK),
    duck_sql=_cmh_sql(DUCK),
    tables=["events"],
    doc="Cochran-Mantel-Haenszel stratified 2x2 test: exposure = first "
    "event was an 'error' (the q_logrank cohort), outcome = first "
    "purchase within the 48 h horizon, strata = the activity-band "
    "terciles (the confounder: heavy users both error more and convert "
    "more — exactly the lurking variable q_simpson_check hunts). Emits "
    "the per-stratum 2x2 with margins, the hypergeometric E/Var ppm "
    "terms, the continuity-corrected CMH statistic, and the Mantel-"
    "Haenszel common odds ratio — the confounder-adjusted significance "
    "companion to q_cem_att's effect ESTIMATE on a stratified design. "
    "Cells are exact BIGINT counts; E/V/OR terms are ppm staged idiv "
    "with every stage bounded ~1e6*n_k; the possibly-negative a-E sum "
    "is never idiv'd; the two doubles are single IEEE trees over exact "
    "window sums. Corpus-scale work is ONE user-keyed aggregate; the "
    "3-row stratum grain carries everything else.",
)


# ---------------------------------------------------------------------------
# Mediation analysis — Baron-Kenny product-of-coefficients (does activity
# drive purchases THROUGH errors, or around them?).
# ---------------------------------------------------------------------------


def _mediation_sql(d: Dialect) -> str:
    """Closed-form Baron-Kenny mediation on the user grain: x = events,
    m = error events (mediator), y = purchase events. Three OLS fits from
    ONE moment pass — a (x->m), c (total x->y), and the two-predictor
    y ~ x + m via the 2x2 normal equations (b = mediator effect, c' =
    direct effect). All centered cross-products S__ are exact BIGINT
    (n*Σxy - ΣxΣy; bounded ~n²·x̄·ȳ — safe to ~1e7 users at ~100
    events each, DECIMAL(38,0) beyond); slopes and the determinant are
    single IEEE trees over those exact integers (det = Sxx·Smm - Sxm²
    would overflow as BIGINT, so it is formed in double — deterministic,
    same tree both engines). Indirect effect ab and proportion mediated
    ab/c follow; Sobel's z needs sqrt and is left to the consumer."""
    dbl = "CAST(%s AS DOUBLE)"
    sxx, sxm, sxy, smm, smy = (
        "(n * sxx - sx * sx)",
        "(n * sxm - sx * sm)",
        "(n * sxy - sx * sy)",
        "(n * smm - sm * sm)",
        "(n * smy - sm * sy)",
    )
    det = f"({dbl % sxx} * {dbl % smm} - {dbl % sxm} * {dbl % sxm})"
    a = f"({dbl % sxm} / {dbl % f'NULLIF({sxx}, 0)'})"
    c = f"({dbl % sxy} / {dbl % f'NULLIF({sxx}, 0)'})"
    b = (
        f"(({dbl % smy} * {dbl % sxx} - {dbl % sxy} * {dbl % sxm})"
        f" / NULLIF({det}, 0.0))"
    )
    cp = (
        f"(({dbl % sxy} * {dbl % smm} - {dbl % smy} * {dbl % sxm})"
        f" / NULLIF({det}, 0.0))"
    )
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS m,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id
),
moments AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(m) AS BIGINT) AS sm,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * m) AS BIGINT) AS sxm,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(m * m) AS BIGINT) AS smm,
         CAST(SUM(m * y) AS BIGINT) AS smy
  FROM per_user
)
SELECT n, sx, sm, sy,
       CAST({sxx} AS BIGINT) AS cxx,
       CAST({sxm} AS BIGINT) AS cxm,
       CAST({sxy} AS BIGINT) AS cxy,
       CAST({smm} AS BIGINT) AS cmm,
       CAST({smy} AS BIGINT) AS cmy,
       {a} AS path_a,
       {c} AS total_c,
       {b} AS path_b,
       {cp} AS direct_c_prime,
       {a} * {b} AS indirect_ab,
       CASE WHEN {c} <> 0.0 THEN {a} * {b} / {c} END AS prop_mediated
FROM moments
"""


sql_query(
    "q_mediation",
    spark_sql=_mediation_sql(SPARK),
    duck_sql=_mediation_sql(DUCK),
    tables=["events"],
    doc="Baron-Kenny mediation analysis on the user grain: does activity "
    "(x = event count) drive purchasing (y) THROUGH error exposure "
    "(m), or directly? One moment pass yields all three OLS fits in "
    "closed form — path a (x->m), total effect c, and the two-"
    "predictor y ~ x + m normal equations for the mediator path b and "
    "direct effect c' — plus the indirect effect a*b and proportion "
    "mediated. Centered cross-products are exact BIGINT (safe to ~1e7 "
    "users; DECIMAL(38,0) beyond); slopes/determinant are single IEEE "
    "trees over them (the det would overflow as integer, so it is "
    "formed in double — same tree both engines). Sobel's z needs sqrt "
    "and is left to the consumer per the house rule. The causal-"
    "DECOMPOSITION companion to q_cem_att (effect size) and q_cmh "
    "(significance). Corpus-scale work: ONE user-keyed aggregate, one "
    "1-row moment reduction.",
)


# ---------------------------------------------------------------------------
# Two-sample QQ table — the distribution-comparison readout behind KS.
# ---------------------------------------------------------------------------


def _qq_sql(d: Dialect) -> str:
    """Two-sample QQ table: exact ventile order statistics (ceil-rank
    convention, every value a real data point) of event values in the
    first vs second half of the observation window — the per-quantile
    view that says WHERE the distributions diverge, where q_ks_drift's
    single D statistic only says THAT they do. All integer cents; the
    per-quantile gap is emitted raw and in ppm of the first-half
    value."""
    us = d.epoch_us("ts")
    return f"""
WITH bounds AS (
  SELECT CAST({d.idiv(f'(MIN({us}) + MAX({us}))', '2')} AS BIGINT) AS mid
  FROM events WHERE value IS NOT NULL
),
halves AS (
  SELECT CASE WHEN {us} < b.mid THEN 0 ELSE 1 END AS half,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events CROSS JOIN bounds b
  WHERE value IS NOT NULL
),
ranked AS (
  SELECT half, v,
         ROW_NUMBER() OVER (PARTITION BY half ORDER BY v) AS rk,
         COUNT(*) OVER (PARTITION BY half) AS n
  FROM halves
),
spine AS ({"SELECT explode(sequence(1, 19)) AS q"
           if d.name == "spark"
           else "SELECT unnest(generate_series(1, 19)) AS q"}),
qs AS (
  SELECT s.q, r.half, CAST(MAX(r.v) AS BIGINT) AS v
  FROM spine s
  JOIN ranked r ON r.rk = CAST({d.idiv('(s.q * r.n + 19)', '20')} AS BIGINT)
  GROUP BY s.q, r.half
)
SELECT a.q AS ventile,
       a.v AS v_first_half,
       b.v AS v_second_half,
       CAST(b.v - a.v AS BIGINT) AS gap_cents,
       CAST({d.idiv('((b.v - a.v) * 1000000)', 'NULLIF(a.v, 0)')} AS BIGINT)
         AS gap_ppm
FROM qs a JOIN qs b ON a.q = b.q AND a.half = 0 AND b.half = 1
ORDER BY a.q
"""


sql_query(
    "q_qq_table",
    spark_sql=_qq_sql(SPARK),
    duck_sql=_qq_sql(DUCK),
    tables=["events"],
    doc="Two-sample QQ table: exact ventile order statistics (ceil-rank, "
    "integer cents) of event values in the first vs second half of the "
    "window, with raw and ppm per-quantile gaps — the WHERE-do-they-"
    "diverge companion to q_ks_drift's single D statistic and the "
    "tail-aware upgrade of mean-based drift checks. Half-partitioned "
    "rank windows (two groups — bounded), a 19-row ventile spine join, "
    "all integer until the report.",
)


# ---------------------------------------------------------------------------
# In-engine batch inference — scoring a fixed hashed-feature linear model.
# ---------------------------------------------------------------------------

# A frozen 16-bucket hashed-bigram linear model (fastText-style bag of
# hashed n-grams): weights in fixed-point millionths, chosen once and
# committed — the point is the SCORING pattern, not the model.
_LM_WEIGHTS = [
    137000, -52000, 310000, -184000, 96000, 221000, -305000, 41000,
    -77000, 158000, -240000, 12000, 199000, -118000, 65000, -26000,
]
_LM_BIAS = 250000


def _linear_scorer_sql(d: Dialect) -> str:
    """Batch inference in the engine: score every document with a FROZEN
    hashed-bigram linear model — feature = md5(bigram) % 16, score =
    bias + sum over bigram occurrences of w[bucket], weights as
    fixed-point millionth literals, decision = sign. The fastText-style
    serving pattern (model distilled to hashed-feature weights and
    pushed INTO the scan) — entirely integer, so scores hash-match and
    the decision boundary is exact. The sigmoid is monotone and
    omitted; consumers threshold the raw margin."""
    tok = d.positional_token_rows("documents")
    w_case = "CASE bucket " + " ".join(
        f"WHEN {i} THEN {w}" for i, w in enumerate(_LM_WEIGHTS)
    ) + " END"
    return f"""
WITH toks AS ({tok}),
bigrams AS (
  SELECT doc_id,
         concat(token, ' ',
                LEAD(token, 1) OVER (PARTITION BY doc_id ORDER BY i)) AS bg
  FROM toks
),
feats AS (
  SELECT doc_id,
         CAST({d.md5_int32('bg')} % 16 AS BIGINT) AS bucket
  FROM bigrams WHERE bg IS NOT NULL AND bg NOT LIKE '% '
),
scored AS (
  SELECT doc_id,
         CAST({_LM_BIAS} + SUM({w_case}) AS BIGINT) AS margin_micro,
         CAST(COUNT(*) AS BIGINT) AS n_feats
  FROM feats GROUP BY doc_id
)
-- LEFT JOIN back to documents: a doc with < 2 tokens emits no bigram
-- features, so it has no feats row — it still gets the bias-only margin
-- (the model's intercept IS its score), keeping the 'score EVERY
-- document' contract instead of silently dropping featureless docs.
SELECT dd.doc_id,
       CAST(COALESCE(s.n_feats, 0) AS BIGINT) AS n_feats,
       CAST(COALESCE(s.margin_micro, {_LM_BIAS}) AS BIGINT) AS margin_micro,
       CASE WHEN COALESCE(s.margin_micro, {_LM_BIAS}) >= 0 THEN 1 ELSE 0 END
         AS label
FROM documents dd LEFT JOIN scored s ON s.doc_id = dd.doc_id
ORDER BY dd.doc_id
"""


sql_query(
    "q_linear_scorer",
    spark_sql=_linear_scorer_sql(SPARK),
    duck_sql=_linear_scorer_sql(DUCK),
    tables=["documents"],
    doc="In-engine batch inference: every document scored by a frozen "
    "hashed-bigram linear model (fastText-style — feature = md5(bigram) "
    "mod 16, fixed-point millionth weights as literals, margin = bias + "
    "sum of bucket weights, decision = sign) — the model-distilled-to-"
    "SQL serving pattern that turns inference into one scan + one keyed "
    "aggregate, no UDF, no model server. Entirely integer, so margins "
    "hash-match and the decision boundary is exact; the LEAD bigram "
    "assembly is the CollapseProject-safe relational form.",
)

"""Behavioral / product-analytics operators — funnel, cohort retention,
Markov transition matrix.

The three canonical event-sequence analyses every analytics engine serving
product teams must answer, expressed over the events table. All three are
integer-count algebra plus single IEEE divisions — hash-exact cross-engine
with no decimal snapping needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.detsql import DUCK, SPARK, Dialect, dec2, dstddev
from ..plans.ckpt import register_run_checkpoint, round_checkpoint
from ..registry import df_query, sql_query

_FUNNEL_STEPS = ["signup", "view", "click", "purchase"]


def _funnel_sql(d: Dialect) -> str:
    """Ordered-funnel conversion: a user reaches step k when their FIRST
    step-k event happens strictly after their first step-(k-1) event — the
    strict-sequence semantics (a purchase before any click does not count).
    NULL comparisons make missing steps fall out of the CASE naturally."""
    firsts = ",\n         ".join(
        f"MIN(CASE WHEN event_type = '{s}' THEN ts_us END) AS t{i + 1}"
        for i, s in enumerate(_FUNNEL_STEPS)
    )
    conds = []
    acc = "t1 IS NOT NULL"
    conds.append(acc)
    for i in range(2, len(_FUNNEL_STEPS) + 1):
        acc = f"{acc} AND t{i} > t{i - 1}"
        conds.append(acc)
    flags = ",\n    ".join(
        f"CAST(SUM(CASE WHEN {c} THEN 1 ELSE 0 END) AS BIGINT) AS n{i + 1}"
        for i, c in enumerate(conds)
    )
    steps_union = "\nUNION ALL\n".join(
        f"""SELECT {i + 1} AS step, '{s}' AS step_name, n{i + 1} AS n_users,
       CAST(n{i + 1} AS DOUBLE) / n1 AS conv_from_first,
       CAST(n{i + 1} AS DOUBLE) / {f"n{i}" if i else "n1"} AS conv_from_prev
FROM agg"""
        for i, s in enumerate(_FUNNEL_STEPS)
    )
    return f"""
WITH ev AS (
  SELECT user_id, event_type, {d.epoch_us('ts')} AS ts_us
  FROM events
  WHERE event_id IS NOT NULL AND ts IS NOT NULL AND value > 0
),
firsts AS (
  SELECT user_id,
         {firsts}
  FROM ev GROUP BY user_id
),
agg AS (
  SELECT
    {flags}
  FROM firsts
)
{steps_union}
"""


sql_query(
    "q_funnel",
    spark_sql=_funnel_sql(SPARK),
    duck_sql=_funnel_sql(DUCK),
    tables=["events"],
    doc="Ordered funnel (signup → view → click → purchase): per user, the "
    "first-occurrence timestamp of each step via one conditional-MIN "
    "aggregation — a single pass over the fact, no self-joins, no "
    "per-step subqueries (the naive N-way-join funnel shape costs N scans "
    "and N shuffles; this costs one of each). Strict sequencing (each "
    "step's first event after the previous step's) via chained NULL-safe "
    "comparisons on the one 150-row-per-user profile. Conversion rates "
    "are single IEEE divisions of exact counts. The 4-row output unions "
    "off a scalar aggregate — bounded by construction.",
)


def _retention_sql(d: Dialect) -> str:
    """Weekly cohort retention triangle."""
    day = d.idiv(d.epoch('ts'), '86400')
    return f"""
WITH ev AS (
  SELECT user_id, {day} AS day_n
  FROM events
  WHERE event_id IS NOT NULL AND ts IS NOT NULL AND value > 0
),
firsts AS (
  SELECT user_id, MIN(day_n) AS first_day FROM ev GROUP BY user_id
),
cohorts AS (
  SELECT user_id, {d.idiv('first_day', '7')} AS cohort_week FROM firsts
),
sizes AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM cohorts GROUP BY cohort_week
),
active AS (
  SELECT DISTINCT c.cohort_week,
         {d.idiv('e.day_n', '7')} - c.cohort_week AS week_offset,
         e.user_id
  FROM ev e JOIN cohorts c ON e.user_id = c.user_id
)
SELECT
  a.cohort_week,
  CAST(a.week_offset AS INT) AS week_offset,
  CAST(COUNT(*) AS BIGINT) AS n_active,
  s.cohort_size,
  CAST(COUNT(*) AS DOUBLE) / s.cohort_size AS retention
FROM active a JOIN sizes s ON a.cohort_week = s.cohort_week
GROUP BY a.cohort_week, a.week_offset, s.cohort_size
"""


sql_query(
    "q_retention",
    spark_sql=_retention_sql(SPARK),
    duck_sql=_retention_sql(DUCK),
    tables=["events"],
    doc="Weekly cohort retention triangle: users grouped by first-seen "
    "week, counted distinct per (cohort, week-offset) cell, divided by "
    "cohort size — the classic growth-accounting matrix. Plan: one scan, "
    "a per-user first-seen aggregate (shuffle on user_id), a hash join "
    "back (reusing the same user_id partitioning — Catalyst elides the "
    "second exchange), distinct + count on the tiny (cohort, offset, "
    "user) set, and a broadcast of the per-cohort sizes. At 100 TB the "
    "per-user profile is the only large intermediate and it partitions "
    "cleanly on user_id.",
)


def _markov_sql(d: Dialect) -> str:
    """Per-user event-type transition matrix with MLE probabilities."""
    return f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, {d.epoch_us('ts')} AS ts_us
  FROM events
  WHERE event_id IS NOT NULL AND ts IS NOT NULL AND value > 0
),
seq AS (
  SELECT user_id, event_type AS to_type,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
         ) AS from_type
  FROM ev
),
trans AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
),
outdeg AS (
  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_out FROM trans GROUP BY from_type
)
SELECT
  t.from_type,
  t.to_type,
  t.n,
  o.n_out,
  CAST(t.n AS DOUBLE) / o.n_out AS p
FROM trans t JOIN outdeg o ON t.from_type = o.from_type
"""


sql_query(
    "q_markov_transitions",
    spark_sql=_markov_sql(SPARK),
    duck_sql=_markov_sql(DUCK),
    tables=["events"],
    doc="First-order Markov transition matrix over per-user event "
    "sequences: LAG pairs consecutive events (ordered by timestamp with "
    "event_id tiebreak — a total order, so the pairing is deterministic), "
    "then transition counts and MLE row-normalized probabilities. The "
    "behavioral fingerprint behind next-action prediction and anomalous-"
    "session detection. Plan: one window over the user_id exchange, one "
    "count agg on the ≤|types|² transition table, one broadcast join for "
    "the normalizer. The |types|²-bounded output makes every downstream "
    "op trivially cheap at any corpus size.",
)


# ---------------------------------------------------------------------------
# A/B experimentation: Welch's two-sample statistic from exact moment sums.
# ---------------------------------------------------------------------------

from ..functions.detsql import dsum, dxsum2  # noqa: E402


def _welch_sql() -> str:
    """Welch z statistic per event_type between a deterministic 50/50
    assignment (user_id parity — the hash-bucket assignment an experiment
    platform would persist). The normal-CDF p-value needs erf(), which is
    not bit-stable across libm builds — the statistic itself is the
    deterministic part, computed as one shared IEEE tree over exact
    decimal moment sums (the dcorr discipline). Emitted alongside the
    per-arm means so an analyst can read direction and magnitude."""
    var = (
        "((CAST({n} AS DOUBLE) * {sxx} - {sx} * {sx})"
        " / (CAST({n} AS DOUBLE) * (CAST({n} AS DOUBLE) - 1)))"
    )
    va = var.format(n="n_a", sx="sx_a", sxx="sxx_a")
    vb = var.format(n="n_b", sx="sx_b", sxx="sxx_b")
    return f"""
WITH sums AS (
  SELECT
    event_type,
    CAST(user_id % 2 AS INT) AS variant,
    COUNT(*) AS n,
    {dsum('value', scale=6)} AS sx,
    {dxsum2('value', 'value', s1=6, s2=6)} AS sxx
  FROM events
  GROUP BY event_type, CAST(user_id % 2 AS INT)
),
ab AS (
  SELECT a.event_type,
         a.n AS n_a, a.sx AS sx_a, a.sxx AS sxx_a,
         b.n AS n_b, b.sx AS sx_b, b.sxx AS sxx_b
  FROM sums a JOIN sums b
    ON a.event_type = b.event_type AND a.variant = 0 AND b.variant = 1
  WHERE a.n >= 2 AND b.n >= 2
)
SELECT
  event_type,
  n_a,
  n_b,
  sx_a / CAST(n_a AS DOUBLE) AS mean_a,
  sx_b / CAST(n_b AS DOUBLE) AS mean_b,
  (sx_a / CAST(n_a AS DOUBLE) - sx_b / CAST(n_b AS DOUBLE))
    / SQRT({va} / CAST(n_a AS DOUBLE) + {vb} / CAST(n_b AS DOUBLE))
    AS welch_z
FROM ab
"""


sql_query(
    "q_ab_welch",
    spark_sql=_welch_sql(),
    duck_sql=_welch_sql(),
    tables=["events"],
    doc="A/B experimentation readout: Welch's unequal-variance z statistic "
    "per event_type between the user-parity arms, from ONE partial-agg "
    "pass (five moment sums per arm). Statistic only, no p-value — erf() "
    "is not cross-libm bit-stable; the z itself is an identical IEEE "
    "tree over exact decimal sums and hash-matches the oracle.",
)


# ---------------------------------------------------------------------------
# RFM segmentation: the classic CRM mart (recency / frequency / monetary).
# ---------------------------------------------------------------------------


def _rfm_sql(d: Dialect) -> str:
    return f"""
WITH per_cust AS (
  SELECT
    o_custkey,
    CAST({d.idiv(f"({d.epoch('(SELECT MAX(o_orderdate) FROM orders)')} "
                 f"- {d.epoch('MAX(o_orderdate)')})", '86400')}
         AS BIGINT) AS recency_days,
    COUNT(*) AS frequency,
    {dsum('o_totalprice')} AS monetary
  FROM orders
  GROUP BY o_custkey
),
scored AS (
  SELECT
    o_custkey, recency_days, frequency, monetary,
    NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
    NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
    NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM per_cust
)
SELECT
  o_custkey, recency_days, frequency, monetary,
  r_score, f_score, m_score,
  CASE
    WHEN r_score <= 2 AND f_score <= 2 AND m_score <= 2 THEN 'champion'
    WHEN r_score <= 2 AND f_score <= 3 THEN 'loyal'
    WHEN r_score >= 4 AND f_score <= 2 THEN 'at_risk_big_spender'
    WHEN r_score >= 4 THEN 'hibernating'
    ELSE 'regular'
  END AS segment
FROM scored
"""


sql_query(
    "q_rfm_segments",
    spark_sql=_rfm_sql(SPARK),
    duck_sql=_rfm_sql(DUCK),
    tables=["orders"],
    doc="RFM segmentation (the canonical CRM mart): per-customer recency "
    "(epoch-day integer vs the table's max date), frequency, exact-"
    "decimal monetary; NTILE(5) scores with unique customer-key "
    "tiebreakers (deterministic quintiles), CASE segment labels. The "
    "NTILE windows run over the per-customer aggregate (cardinality = "
    "#customers), same bounded shape as q_user_deciles.",
)


# ---------------------------------------------------------------------------
# Time-windowed funnel: each step must land within a bounded window AFTER
# the previous step's qualifying event.
# ---------------------------------------------------------------------------

_FWIN_US = 72 * 3600 * 1000000  # 72-hour per-step conversion window


def _funnel_windowed_sql(d: Dialect) -> str:
    """Windowed funnel semantics differ structurally from q_funnel: the
    qualifying time of step k is the FIRST step-k event after step k-1's
    qualifying time (and within the window) — NOT the user's global first.
    That chain is an iterative dependency; expressed here without self-
    joins or re-scans by collecting each user's per-step timestamp arrays
    once, then resolving t1..t4 with chained higher-order
    min-of-filtered-array projections (pure map over the per-user row)."""
    if d.name == "spark":
        def arr(step: str) -> str:
            return (
                f"sort_array(collect_list(CASE WHEN event_type = '{step}' "
                f"THEN ts_us END)) AS a_{step}"
            )

        def nxt(t_prev: str, step: str) -> str:
            return (
                f"array_min(filter(a_{step}, "
                f"v -> v > {t_prev} AND v <= {t_prev} + {_FWIN_US}))"
            )
    else:
        def arr(step: str) -> str:
            return (
                f"list_sort(list(ts_us) FILTER (WHERE event_type = '{step}')) "
                f"AS a_{step}"
            )

        def nxt(t_prev: str, step: str) -> str:
            return (
                f"list_min(list_filter(a_{step}, "
                f"v -> v > {t_prev} AND v <= {t_prev} + {_FWIN_US}))"
            )

    arrays = ",\n         ".join(arr(s) for s in _FUNNEL_STEPS)
    s2, s3, s4 = (nxt(f"t{i}", _FUNNEL_STEPS[i]) for i in (1, 2, 3))
    steps_union = "\nUNION ALL\n".join(
        f"""SELECT {i + 1} AS step, '{s}' AS step_name, n{i + 1} AS n_users,
       CAST(n{i + 1} AS DOUBLE) / NULLIF(n1, 0) AS conv_from_first,
       CAST(n{i + 1} AS DOUBLE) / NULLIF({f"n{i}" if i else "n1"}, 0)
         AS conv_from_prev
FROM agg"""
        for i, s in enumerate(_FUNNEL_STEPS)
    )
    min_first = (
        f"array_min(a_{_FUNNEL_STEPS[0]})"
        if d.name == "spark"
        else f"list_min(a_{_FUNNEL_STEPS[0]})"
    )
    return f"""
WITH ev AS (
  SELECT user_id, event_type, {d.epoch_us('ts')} AS ts_us
  FROM events
  WHERE event_id IS NOT NULL AND ts IS NOT NULL AND value > 0
),
arrays AS (
  SELECT user_id,
         {arrays}
  FROM ev GROUP BY user_id
),
s1 AS (SELECT *, {min_first} AS t1 FROM arrays),
s2 AS (SELECT *, {s2} AS t2 FROM s1),
s3 AS (SELECT *, {s3} AS t3 FROM s2),
s4 AS (SELECT *, {s4} AS t4 FROM s3),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n3,
    CAST(SUM(CASE WHEN t4 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM s4
)
{steps_union}
"""


sql_query(
    "q_funnel_windowed",
    spark_sql=_funnel_windowed_sql(SPARK),
    duck_sql=_funnel_windowed_sql(DUCK),
    tables=["events"],
    doc="Time-windowed ordered funnel: step k counts only if its first "
    "qualifying event lands within 72 h AFTER step k-1's qualifying time "
    "(first-after-prev chain — stricter and structurally different from "
    "q_funnel's global-firsts). One aggregation collects per-user per-"
    "step timestamp arrays; the t1->t4 chain resolves via higher-order "
    "min-of-filtered-array projections — no self-joins, no re-scans, one "
    "shuffle total. Conversion rates are single IEEE divisions.",
)


# --- Event-sequence pattern matching (MATCH_RECOGNIZE-lite CEP) -----------

# One symbol per event type; the per-user journey becomes a string and
# sequence patterns become regexes over it.
_SYMBOLS = {"view": "v", "click": "c", "purchase": "p", "signup": "s", "error": "e"}
_PATTERN = "vc*p"  # a view, any clicks, then a purchase — contiguous


def _event_pattern_sql(d: Dialect) -> str:
    """SQL:2016 MATCH_RECOGNIZE-lite: per-user event sequences encoded as
    symbol strings (one char per event type, ordered by ts with event_id as
    the deterministic tiebreaker), sequence patterns evaluated as regexes.

    Pattern `vc*p` = a view, any number of clicks, then a purchase, with
    NOTHING else in between — contiguity is what funnels can't express
    (q_funnel's MIN-of-step chain allows arbitrary interleaving). Both
    engines count non-overlapping leftmost matches; `vc*p` is unambiguous
    under leftmost-first and leftmost-longest alike, so backtracking (Java)
    vs automaton (RE2) semantics agree.

    Scale shape: one shuffle on user_id into a sort-aggregate; per-user
    state is the journey string, bounded by per-user activity. At 100 TB
    the partition key becomes (user_id, session) — sessionize first
    (q_sessionization), then pattern-match within sessions: state bounded
    by session length, and the regex pass distributes with the sessions.
    """
    sym = (
        "CASE event_type "
        + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _SYMBOLS.items())
        + " END"
    )
    if d.name == "spark":
        seq = (
            "concat_ws('', transform(array_sort(collect_list("
            "named_struct('t', ts, 'id', event_id, 's', sym))), x -> x.s))"
        )
    else:
        seq = "string_agg(sym, '' ORDER BY ts, event_id)"
    matches = d.arr_len(d.regex_tokens("seq", _PATTERN))
    strict = d.arr_len(d.regex_tokens("seq", "vcp"))
    runs = d.regex_tokens("seq", "c+")
    if d.name == "spark":
        max_run = f"array_max(transform({runs}, x -> length(x)))"
    else:
        max_run = f"list_max(list_transform({runs}, x -> length(x)))"
    return f"""
WITH sym_events AS (
  SELECT user_id, ts, event_id, {sym} AS sym FROM events
),
journeys AS (
  SELECT user_id, {seq} AS seq, COUNT(*) AS n_events
  FROM sym_events GROUP BY user_id
)
SELECT
  user_id,
  CAST(n_events AS BIGINT) AS n_events,
  {matches} AS n_patterns,
  {strict} AS n_strict_patterns,
  COALESCE({max_run}, 0) AS max_click_run,
  CASE WHEN {matches} > 0 THEN 'converter' ELSE 'non_converter' END
    AS pattern_class
FROM journeys
"""


sql_query(
    "q_event_pattern",
    spark_sql=_event_pattern_sql(SPARK),
    duck_sql=_event_pattern_sql(DUCK),
    tables=["events"],
    doc=_event_pattern_sql.__doc__,
)


# ---------------------------------------------------------------------------
# Multi-touch attribution — first / last / linear revenue allocation.
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 24 * 3600 * 1_000_000  # 24h lookback


def _attribution_sql(d: Dialect) -> str:
    """Each purchase's cents are allocated to the click/view touches of the
    same user within the 24h lookback, under three models at once:
    first-touch (all cents to the earliest touch), last-touch (latest),
    linear (cents DIV n per touch, remainder to the first touch so every
    model conserves the total exactly — integer-exact, no float splits).
    Purchases with no touch in window land in the 'none' channel intact."""
    return f"""
WITH p AS (
  SELECT event_id AS pid, user_id, {d.epoch_us('ts')} AS pts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, event_id AS tid, event_type AS channel, {d.epoch_us('ts')} AS tts
  FROM events WHERE event_type IN ('click', 'view')
),
j AS (
  SELECT p.pid, p.cents, t.channel, t.tid, t.tts
  FROM p LEFT JOIN t
    ON p.user_id = t.user_id
   AND t.tts < p.pts AND t.tts >= p.pts - {_ATTR_WINDOW_US}
),
r AS (
  SELECT pid, cents,
         COALESCE(channel, 'none') AS channel,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tts, tid) AS rn_first,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC) AS rn_last,
         CAST(COUNT(tid) OVER (PARTITION BY pid) AS BIGINT) AS n
  FROM j
),
alloc AS (
  SELECT channel,
    CASE WHEN rn_first = 1 THEN cents ELSE 0 END AS fc,
    CASE WHEN rn_last = 1 THEN cents ELSE 0 END AS lc,
    CASE WHEN n = 0 THEN cents
         ELSE {d.idiv('cents', 'n')}
              + CASE WHEN rn_first = 1 THEN cents % n ELSE 0 END
    END AS lin
  FROM r
)
SELECT channel,
  CAST(COUNT(*) AS BIGINT) AS n_allocations,
  CAST(SUM(fc) AS BIGINT) AS first_touch_cents,
  CAST(SUM(lc) AS BIGINT) AS last_touch_cents,
  CAST(SUM(lin) AS BIGINT) AS linear_cents
FROM alloc
GROUP BY channel
"""


sql_query(
    "q_attribution",
    spark_sql=_attribution_sql(SPARK),
    duck_sql=_attribution_sql(DUCK),
    tables=["events"],
    doc="Multi-touch revenue attribution: every purchase's cents allocated "
    "to same-user click/view touches in a 24h lookback under first-touch, "
    "last-touch and linear models simultaneously — all integer-cent "
    "arithmetic with the division remainder pinned to the first touch, so "
    "each model conserves the purchase total EXACTLY (asserted in "
    "tests/test_behavior_props.py). Plan: one bounded-range left join "
    "(user equi-key + 24h band — same shape as q_range_join, state "
    "bounded by the window), pid-partitioned rank/count windows reusing "
    "one exchange, then a 3-group aggregate. No floats anywhere, so the "
    "two engines' allocations match bit-for-bit.",
)


# ---------------------------------------------------------------------------
# DAU / WAU / MAU — exact rolling distinct actives without COUNT(DISTINCT
# ... OVER RANGE) (which neither engine supports over windows).
# ---------------------------------------------------------------------------


def _dau_sql(d: Dialect) -> str:
    """Exact trailing-window distinct actives: each (user, active-day) pair
    CONTRIBUTES to the trailing-7d count of days [day, day+6], so exploding
    the 7 contribution days and deduplicating (window-day, user) turns the
    rolling distinct into a plain per-day COUNT — the shape that scales
    (7× the activity rows, map-side dedup, one day-keyed aggregation)
    instead of a per-day re-scan. New/cumulative users ride along via the
    first-activity flag + running sum."""
    day = d.epoch("date_trunc('day', ts)")
    if d.name == "spark":
        fan = "explode(sequence(0, 6)) AS off"
    else:
        fan = "unnest(range(7)) AS off"
    return f"""
WITH act AS (
  SELECT user_id, {day} AS day FROM events GROUP BY user_id, {day}
),
fanned AS (
  SELECT DISTINCT u.user_id, u.day + off * 86400 AS wday
  FROM (SELECT user_id, day, {fan} FROM act) u
),
wau AS (
  SELECT wday AS day, CAST(COUNT(*) AS BIGINT) AS wau FROM fanned GROUP BY wday
),
dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau,
         CAST(SUM(is_first) AS BIGINT) AS new_users
  FROM (
    SELECT day, user_id,
           CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) = 1
                THEN 1 ELSE 0 END AS is_first
    FROM act
  ) f GROUP BY day
)
SELECT d.day, d.dau, w.wau, d.new_users,
       CAST(SUM(d.new_users) OVER (
         ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_users
FROM dau d JOIN wau w ON w.day = d.day
"""


sql_query(
    "q_dau_wau_mau",
    spark_sql=_dau_sql(SPARK),
    duck_sql=_dau_sql(DUCK),
    tables=["events"],
    doc="DAU / trailing-7d WAU / new + cumulative users per day — the "
    "growth-analytics staple, computed EXACTLY without COUNT(DISTINCT) "
    "windows (which no engine supports over RANGE frames): each (user, "
    "active-day) pair explodes into the 7 trailing-window days it "
    "contributes to, (window-day, user) dedups map-side, and the rolling "
    "distinct collapses to a plain per-day COUNT — 7x the deduped "
    "activity rows instead of a per-day corpus re-scan, the shape that "
    "holds at 100 TB (and generalizes: MAU = 30x fanout, or the "
    "HLL-merge cube q_hll_rollup when approximate is acceptable). "
    "Day keys are epoch BIGINTs; the final cumulative sum is a day-"
    "cardinality window (≤ |days| rows). WAU rows for days past the "
    "observation end are inner-joined away by construction.",
)


# ---------------------------------------------------------------------------
# Exact AUC via tie-corrected rank-sum (Mann-Whitney U) — no pairwise join.
# ---------------------------------------------------------------------------


def _auc_sql(d: Dialect) -> str:
    """AUC of `value` as a score for predicting purchases, computed exactly
    as U/(n⁺·n⁻) with average-rank tie correction — the rank-sum identity
    that turns the O(n⁺·n⁻) pairwise comparison into one sort-free pass
    over per-score counts. Doubled ranks keep everything integer: for a
    score group g with c items starting after `below` items, the doubled
    average rank is 2·below + c + 1; Σ over positives of doubled ranks
    gives 2U after subtracting n⁺(n⁺+1). Scores are integer cents."""
    return f"""
WITH scored AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
grp AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY s
),
cum AS (
  SELECT s, c, pos,
         CAST(COALESCE(SUM(c) OVER (
           ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS below
  FROM grp
),
agg AS (
  SELECT
    CAST(SUM(pos) AS BIGINT) AS n_pos,
    CAST(SUM(c - pos) AS BIGINT) AS n_neg,
    CAST(SUM(pos * (2 * below + c + 1)) AS BIGINT) AS r2_pos
  FROM cum
)
SELECT n_pos, n_neg,
       r2_pos - n_pos * (n_pos + 1) AS u2,
       CAST({d.idiv('(r2_pos - n_pos * (n_pos + 1)) * 1000000',
                    '(2 * n_pos * n_neg)')} AS BIGINT) AS auc_ppm
FROM agg
"""


sql_query(
    "q_auc",
    spark_sql=_auc_sql(SPARK),
    duck_sql=_auc_sql(DUCK),
    tables=["events"],
    doc="Exact AUC (does `value` rank purchases above other events?) via "
    "the tie-corrected Mann-Whitney rank-sum identity — the O(n⁺·n⁻) "
    "pairwise probability collapsed to one per-score aggregation plus a "
    "cumulative window over DISTINCT scores (cardinality = score domain, "
    "not rows — the q_pareto_frontier boundedness class; at a truly "
    "unbounded score domain the ranks would come from q_dense_ids' "
    "two-pass offsets). Doubled ranks keep tie-averaging integer-exact: "
    "auc_ppm is one exact DIV, u2 the exact doubled U statistic — "
    "bit-identical across engines, no floats anywhere.",
)


# ---------------------------------------------------------------------------
# Cumulative gains / lift table — targeting evaluation by score decile.
# ---------------------------------------------------------------------------


def _gains_sql(d: Dialect) -> str:
    """Rank events by score (value, descending), split into population
    deciles, and report per-decile positives, cumulative capture, and
    lift — the targeting chart behind 'contact the top 20%'. Deciles are
    assigned per score-GROUP (a group lands in the decile of its last
    row), so the computation stays on the per-score aggregate — same
    boundedness as q_auc — rather than a global NTILE over raw rows; a
    tied score never splits across deciles (documented snap)."""
    return f"""
WITH scored AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
grp AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY s
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS p FROM grp),
cum AS (
  SELECT s, c, pos,
         CAST(SUM(c) OVER (
           ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_c
  FROM grp
),
bucketed AS (
  SELECT LEAST({d.idiv('(cum_c - 1) * 10', 'n')}, 9) AS decile, c, pos
  FROM cum CROSS JOIN tot
),
per_decile AS (
  SELECT decile, CAST(SUM(c) AS BIGINT) AS n_rows, CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM bucketed GROUP BY decile
)
SELECT CAST(decile AS INT) AS decile, n_rows, n_pos,
       CAST({d.idiv('SUM(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000', 'p')} AS BIGINT)
         AS cum_capture_ppm,
       CAST({d.idiv('(n_pos * n) * 1000000', '(n_rows * p)')} AS BIGINT)
         AS lift_ppm
FROM per_decile CROSS JOIN tot
"""


sql_query(
    "q_gains_chart",
    spark_sql=_gains_sql(SPARK),
    duck_sql=_gains_sql(DUCK),
    tables=["events"],
    doc="Cumulative gains / lift table by score decile (does targeting the "
    "top deciles of `value` capture the purchases?) — q_auc's companion "
    "chart, computed on the SAME per-score aggregate boundedness (decile "
    "boundaries snap to score-group ends; ties never split, so no "
    "row-level global NTILE exists in the plan). Capture and lift are "
    "exact integer ppm; windows sweep DISTINCT scores then 10 decile "
    "rows.",
)


# ---------------------------------------------------------------------------
# Isotonic (PAV) calibration — q_auc/q_gains_chart's companion: turn the
# raw score into a calibrated monotone probability.
# ---------------------------------------------------------------------------


def _pav_grp_sql(d: Dialect) -> str:
    """Score-grain aggregate feeding PAV: integer-binned score (floor —
    a few hundred bins), trials and positives per bin."""
    return """
SELECT CAST(FLOOR(value) AS BIGINT) AS s,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS pos
FROM events WHERE value IS NOT NULL
GROUP BY CAST(FLOOR(value) AS BIGINT)
"""


def _isotonic_oracle_sql() -> str:
    """Pool-adjacent-violators as a recursive-CTE stack machine (DuckDB-only
    — this text is only ever the oracle; Spark runs the applyInPandas fold).

    One row of state per step: (nxt rows consumed, stack of blocks). Each
    step either MERGES the top two blocks (when avg(prev) > avg(top) —
    compared by integer cross-multiplication pos_prev·n_top > pos_top·n_prev,
    no float boundary) or PUSHES the next score bin; terminates when neither
    applies. ≤ 2K steps for K bins; the final stack IS the isotonic fit.
    """
    return """
WITH RECURSIVE grp AS MATERIALIZED (
  SELECT CAST(FLOOR(value) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos
  FROM events WHERE value IS NOT NULL
  GROUP BY CAST(FLOOR(value) AS BIGINT)
),
idx AS MATERIALIZED (
  SELECT s, n, pos, ROW_NUMBER() OVER (ORDER BY s) AS i FROM grp
),
kk AS (SELECT COUNT(*) AS k FROM idx),
pav AS (
  SELECT 0::BIGINT AS step, 0::BIGINT AS nxt,
         CAST([] AS STRUCT(s_lo BIGINT, s_hi BIGINT, n BIGINT, pos BIGINT)[])
           AS stack
  UNION ALL
  SELECT step + 1,
         CASE WHEN do_merge THEN nxt ELSE nxt + 1 END,
         CASE WHEN do_merge THEN
           list_append(
             stack[1:(len(stack) - 2)],
             {'s_lo': stack[-2].s_lo, 's_hi': stack[-1].s_hi,
              'n': stack[-2].n + stack[-1].n,
              'pos': stack[-2].pos + stack[-1].pos})
         ELSE
           list_append(
             stack,
             {'s_lo': nx.s, 's_hi': nx.s, 'n': nx.n, 'pos': nx.pos})
         END
  FROM (
    SELECT p.step, p.nxt, p.stack,
           (len(p.stack) >= 2 AND
            p.stack[-2].pos * p.stack[-1].n > p.stack[-1].pos * p.stack[-2].n)
             AS do_merge
    FROM pav p CROSS JOIN kk
    WHERE (len(p.stack) >= 2 AND
           p.stack[-2].pos * p.stack[-1].n > p.stack[-1].pos * p.stack[-2].n)
       OR p.nxt < kk.k
  ) st
  LEFT JOIN idx nx ON nx.i = st.nxt + 1
),
final AS (SELECT stack FROM pav ORDER BY step DESC LIMIT 1),
blocks AS (SELECT unnest(stack) AS b FROM final)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY b.s_lo) AS INT) AS block_id,
       b.s_lo, b.s_hi, b.n, b.pos,
       CAST(b.pos AS DOUBLE) / b.n AS p_cal
FROM blocks
"""


def _pav_fold(pdf):
    """Serial PAV over the (bounded) score-grain aggregate — exact integer
    stack machine, identical block semantics to the CTE oracle."""
    import pandas as pd

    pdf = pdf.sort_values("s").reset_index(drop=True)
    stack: list[list[int]] = []  # [s_lo, s_hi, n, pos]
    for r in pdf.itertuples():
        stack.append([int(r.s), int(r.s), int(r.n), int(r.pos)])
        while (
            len(stack) >= 2
            and stack[-2][3] * stack[-1][2] > stack[-1][3] * stack[-2][2]
        ):
            lo = stack.pop(-2)
            stack[-1] = [lo[0], stack[-1][1], lo[2] + stack[-1][2], lo[3] + stack[-1][3]]
    return pd.DataFrame(
        [
            {
                "block_id": i + 1,
                "s_lo": b[0],
                "s_hi": b[1],
                "n": b[2],
                "pos": b[3],
                "p_cal": b[3] / b[2],
            }
            for i, b in enumerate(stack)
        ]
    )


@df_query(
    "q_isotonic",
    duck_sql=_isotonic_oracle_sql(),
    tables=["events"],
    doc="Isotonic (pool-adjacent-violators) calibration of the purchase "
    "probability against the integer-binned score — the monotone "
    "calibration map q_auc measures discrimination for. Violator merges "
    "compare block means by integer cross-multiplication (no float "
    "boundary anywhere; the single pos/n division happens after the fit), "
    "so the DuckDB oracle — PAV as a recursive-CTE stack machine, one "
    "push-or-merge per step — hash-matches exactly. Spark side: the "
    "corpus-sized work is the score-grain aggregate (one shuffle); the "
    "PAV fold itself runs as one Arrow-batched applyInPandas task over "
    "the ≤ few-hundred-row bin table (q_ewma_control's bounded-fold "
    "class — the sequential tail of an otherwise distributed plan, "
    "size-independent of the corpus).",
)
def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_tables

    load_tables(spark, sf_dir, ["events"])
    grp = spark.sql(_pav_grp_sql(SPARK))
    return (
        grp.groupBy(F.lit(1).alias("g"))
        .applyInPandas(
            lambda pdf: _pav_fold(pdf.drop(columns=["g"], errors="ignore")),
            schema="block_id int, s_lo bigint, s_hi bigint, n bigint, "
            "pos bigint, p_cal double",
        )
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction threshold — finite-sample coverage guarantee.
# ---------------------------------------------------------------------------


def _conformal_sql(d: Dialect) -> str:
    """Split-conformal upper bound per event_type at alpha = 0.1: the
    ceil((n_cal+1)·0.9)-th order statistic of `value` on the calibration
    half (even event_id), validated by exact coverage ppm on the test
    half. The quantile index is exact integer arithmetic
    (ceil(9·(n+1)/10) = (9·(n+1)+9) DIV 10); the threshold is an order
    statistic of stored doubles — no arithmetic on the value at all, so
    cross-engine equality is trivial. Keyed windows per event_type; at
    100 TB the order statistic comes from q_exact_quantile_bisect's
    aggregate-and-bisect instead of the per-key sort window."""
    return f"""
WITH cal AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id)
           AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n_cal
  FROM events WHERE value IS NOT NULL AND event_id % 2 = 0
),
thresh AS (
  SELECT event_type, n_cal, value AS q_hat
  FROM cal
  WHERE rk = LEAST({d.idiv('(9 * (n_cal + 1) + 9)', '10')}, n_cal)
),
test AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND event_id % 2 = 1
)
SELECT t.event_type,
       CAST(th.n_cal AS BIGINT) AS n_cal,
       th.q_hat,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST({d.idiv('SUM(CASE WHEN t.value <= th.q_hat THEN 1 ELSE 0 END) * 1000000', 'COUNT(*)')}
         AS BIGINT) AS coverage_ppm
FROM test t JOIN thresh th ON t.event_type = th.event_type
GROUP BY t.event_type, th.n_cal, th.q_hat
"""


sql_query(
    "q_conformal",
    spark_sql=_conformal_sql(SPARK),
    duck_sql=_conformal_sql(DUCK),
    tables=["events"],
    doc="Split-conformal prediction threshold per event_type (alpha=0.1): "
    "calibration half (even event_id) yields the ceil((n+1)·0.9)-th "
    "order statistic as the distribution-free upper bound, test half "
    "reports exact coverage ppm — the finite-sample-guaranteed "
    "uncertainty primitive for serving-time abstention. Integer index "
    "arithmetic, order-statistic threshold (no value arithmetic), "
    "per-key windows only; coverage lands at >= 900000 ppm up to "
    "quantization, pinned by the behavioral test.",
)


# ---------------------------------------------------------------------------
# Kaplan–Meier survival with right-censoring — churn curves done properly.
# ---------------------------------------------------------------------------

_KM_SCALE = 1_000_000_000_000  # 1e12 fixed-point survival grid
_KM_HORIZON_H = 48  # administrative-censoring horizon (hours)


def _km_steps_sql(d: Dialect) -> str:
    """Shared step table (both engines): per-user time-to-first-purchase in
    HOURS from the user's first event; administratively right-censored at
    the 48 h horizon (conversion later than 48 h — or never — is censored
    at 48, the textbook fixed-window design that keeps every subject's
    follow-up complete). Per distinct conversion hour t: deaths d,
    censored c, at-risk n = users with follow-up ≥ t (suffix sum over the
    ≤49-row hour grain)."""
    hour = f"CAST({d.epoch('ts')} AS BIGINT)"
    return f"""
WITH per_user AS (
  SELECT user_id,
         {d.idiv(f'MIN({hour})', '3600')} AS first_h,
         {d.idiv(f"MIN(CASE WHEN event_type = 'purchase' THEN {hour} END)", '3600')}
           AS conv_h
  FROM events GROUP BY user_id
),
lives AS (
  SELECT user_id,
         CASE WHEN conv_h IS NOT NULL AND conv_h - first_h <= {_KM_HORIZON_H}
              THEN conv_h - first_h ELSE {_KM_HORIZON_H} END AS t,
         CASE WHEN conv_h IS NOT NULL AND conv_h - first_h <= {_KM_HORIZON_H}
              THEN 1 ELSE 0 END AS died
  FROM per_user
),
grain AS (
  SELECT t,
         CAST(SUM(died) AS BIGINT) AS d,
         CAST(SUM(1 - died) AS BIGINT) AS c
  FROM lives GROUP BY t
),
steps AS (
  SELECT t, d, c,
         CAST(SUM(d + c) OVER (
           ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS n_at_risk
  FROM grain
)
SELECT t, d, c, n_at_risk FROM steps WHERE d > 0
"""


def _km_oracle_sql() -> str:
    """DuckDB oracle: the identical integer fixed-point product recurrence
    S_i = (S_{{i-1}}·(n_i − d_i)) DIV n_i as a linear recursive CTE over the
    ordered death times (q_pagerank's exact-integer convention — no float
    product, so the hash gate is bit-exact)."""
    return f"""
WITH RECURSIVE base AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY t) AS i, t, d, c, n_at_risk
  FROM ({_km_steps_sql(DUCK)}) s
),
rec AS (
  SELECT 0::BIGINT AS i, 0::BIGINT AS t, 0::BIGINT AS d, 0::BIGINT AS c,
         0::BIGINT AS n_at_risk, CAST({_KM_SCALE} AS BIGINT) AS surv_fp
  UNION ALL
  SELECT b.i, b.t, b.d, b.c, b.n_at_risk,
         CAST((r.surv_fp * (b.n_at_risk - b.d)) // b.n_at_risk AS BIGINT)
  FROM rec r JOIN base b ON b.i = r.i + 1
)
SELECT t, d, c, n_at_risk, surv_fp,
       CAST(surv_fp AS DOUBLE) / {_KM_SCALE} AS survival
FROM rec WHERE i > 0
"""


def _km_fold(pdf):
    """Bounded fold over the ≤49 death-time rows: same integer recurrence."""
    import pandas as pd

    pdf = pdf.sort_values("t").reset_index(drop=True)
    surv = _KM_SCALE
    out = []
    for r in pdf.itertuples():
        surv = (surv * (int(r.n_at_risk) - int(r.d))) // int(r.n_at_risk)
        out.append(
            {
                "t": int(r.t),
                "d": int(r.d),
                "c": int(r.c),
                "n_at_risk": int(r.n_at_risk),
                "surv_fp": surv,
                "survival": surv / _KM_SCALE,
            }
        )
    return pd.DataFrame(out)


@df_query(
    "q_kaplan_meier",
    duck_sql=_km_oracle_sql(),
    tables=["events"],
    doc="Kaplan–Meier time-to-first-purchase curve with RIGHT CENSORING "
    "(administrative 48 h horizon: users converting later — or never — "
    "are censored at 48, not counted as non-converters — the bias "
    "q_retention's naive rates carry). Survival is the exact integer fixed-point recurrence "
    "S_i = (S_{i-1}·(n_i−d_i)) DIV n_i on a 1e12 grid (q_pagerank's "
    "convention), so the DuckDB oracle — the same recurrence as a linear "
    "recursive CTE — hash-matches bit-for-bit. Corpus-scale work is one "
    "user-keyed aggregate; the at-risk suffix sum and the product fold "
    "run on the ≤49-row hour grain (bounded-fold class, one Arrow task). "
    "At 100 TB only the per-user aggregate grows; the curve stays "
    "horizon-sized.",
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_tables

    load_tables(spark, sf_dir, ["events"])
    steps = spark.sql(_km_steps_sql(SPARK))
    return (
        steps.groupBy(F.lit(1).alias("g"))
        .applyInPandas(
            lambda pdf: _km_fold(pdf.drop(columns=["g"], errors="ignore")),
            schema="t bigint, d bigint, c bigint, n_at_risk bigint, "
            "surv_fp bigint, survival double",
        )
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend — median-of-pairwise-slopes over daily revenue.
# ---------------------------------------------------------------------------


def _theilsen_sql(d: Dialect) -> str:
    """Theil–Sen estimator on the day-grain revenue series: slope = LOWER
    MEDIAN of the ~|days|²/2 pairwise slopes (y_j−y_i)/(x_j−x_i), intercept
    = lower median of y_i − slope·x_i. Every slope is one IEEE division of
    exact integers (revenue snapped to cents, day index integer) — no
    transcendental anywhere, and lower-median order statistics make the
    selection tie-safe, so the gate is hash-exact.

    Scale shape: the quadratic is over the per-DAY aggregate — bounded by
    the calendar (2.4k days → ~3M pairs), NOT by data volume; at 100 TB
    the day grain is identical and only the one keyed rollup grows."""
    day = "CAST(o_orderdate AS DATE)"
    if d.name == "spark":
        daynum = "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)"
    else:
        daynum = "CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT {daynum} AS x,
         CAST(SUM(CAST({dec2('o_totalprice')} * 100 AS DECIMAL(18,0))) AS BIGINT)
           AS y_cents
  FROM orders GROUP BY {daynum}
),
slopes AS (
  SELECT (CAST(b.y_cents - a.y_cents AS DOUBLE) / (b.x - a.x)) / 100.0
           AS slope
  FROM daily a JOIN daily b ON b.x > a.x
),
slope_pick AS (
  SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rk,
         COUNT(*) OVER () AS n_pairs
  FROM slopes
),
sl AS (
  SELECT slope AS theil_slope, n_pairs FROM slope_pick
  WHERE rk = {d.idiv('(n_pairs + 1)', '2')}
),
resid AS (
  SELECT (CAST(dd.y_cents AS DOUBLE) / 100.0) - s.theil_slope * dd.x
           AS r0,
         s.theil_slope, s.n_pairs
  FROM daily dd CROSS JOIN sl s
),
resid_pick AS (
  SELECT r0, theil_slope, n_pairs,
         ROW_NUMBER() OVER (ORDER BY r0) AS rk, COUNT(*) OVER () AS n_days
  FROM resid
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       theil_slope AS slope_per_day,
       r0 AS intercept
FROM resid_pick
WHERE rk = {d.idiv('(n_days + 1)', '2')}
"""


sql_query(
    "q_theilsen",
    spark_sql=_theilsen_sql(SPARK),
    duck_sql=_theilsen_sql(DUCK),
    tables=["orders"],
    doc="Theil–Sen robust trend of daily order revenue — the median-of-"
    "pairwise-slopes estimator that shrugs off the outlier days OLS "
    "(q_regression) chases (29.3% breakdown point). Slopes are single "
    "IEEE divisions of exact integer cents/day-index deltas; slope and "
    "intercept are LOWER-MEDIAN order statistics (tie-safe, no "
    "interpolation averaging) — hash-exact cross-engine. The quadratic "
    "pair join and the median sweeps run entirely on the per-day "
    "AGGREGATE (calendar-bounded: ~2.4k days → ~3M pairs at ANY data "
    "volume); the only corpus-scale stage is the day rollup.",
)


# ---------------------------------------------------------------------------
# CUPED variance reduction — experimentation with pre-period covariates.
# ---------------------------------------------------------------------------


def _cuped_sql(d: Dialect) -> str:
    """CUPED (Deng et al., WSDM'13): adjust each user's experiment-period
    metric y by their PRE-period covariate x — y' = y − θ·(x − x̄),
    θ = cov(x,y)/var(x) pooled — and report per-arm means and the variance
    reduction the adjustment buys. Periods split at the observation
    midpoint (data-relative); arms are the deterministic user_id % 2.

    Exactness: per-user x/y are decimal sums; pooled moments are dxsum
    exact-decimal product sums; θ, x̄ and every adjusted statistic come
    from ONE shared IEEE expression tree; adjusted values re-quantize to
    DECIMAL(14,6) before the per-arm second-moment sums (the house
    order-independence convention). Scale shape: user-keyed aggregate →
    1-row pooled moments broadcast → arm-keyed aggregate."""
    ep = d.epoch("ts")
    return f"""
WITH bounds AS (
  SELECT CAST(MIN({ep}) AS BIGINT) AS t0, CAST(MAX({ep}) AS BIGINT) AS t1
  FROM events
),
per_user AS (
  SELECT e.user_id,
         CAST(user_id % 2 AS INT) AS arm,
         CAST(SUM(CASE WHEN 2 * {d.epoch('e.ts')} <= b.t0 + b.t1
                  THEN CAST(e.value AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END)
              AS DECIMAL(14,2)) AS x,
         CAST(SUM(CASE WHEN 2 * {d.epoch('e.ts')} > b.t0 + b.t1
                  THEN CAST(e.value AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END)
              AS DECIMAL(14,2)) AS y
  FROM events e CROSS JOIN bounds b
  WHERE e.value IS NOT NULL
  GROUP BY e.user_id
),
pooled AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(20,2)) * y), 2) AS DOUBLE) AS sxy,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(20,2)) * x), 2) AS DOUBLE) AS sxx
  FROM per_user
),
theta AS (
  SELECT n,
         (CAST(n AS DOUBLE) * sxy - sx * sy)
           / NULLIF(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0) AS th,
         sx / CAST(n AS DOUBLE) AS xbar
  FROM pooled
),
adjusted AS (
  SELECT u.arm,
         u.y,
         CAST(CAST(u.y AS DOUBLE) - t.th * (CAST(u.x AS DOUBLE) - t.xbar)
              AS DECIMAL(14,6)) AS y_adj
  FROM per_user u CROSS JOIN theta t
)
SELECT arm,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(y) AS DOUBLE) / COUNT(*) AS mean_y,
       CAST(SUM(y_adj) AS DOUBLE) / COUNT(*) AS mean_y_adj,
       {dstddev('COUNT(*)', 'CAST(SUM(y) AS DOUBLE)', 'CAST(ROUND(SUM(CAST(y AS DECIMAL(20,2)) * y), 2) AS DOUBLE)')}
         AS sd_y,
       {dstddev('COUNT(*)', 'CAST(SUM(y_adj) AS DOUBLE)', 'CAST(ROUND(SUM(CAST(y_adj AS DECIMAL(20,6)) * y_adj), 2) AS DOUBLE)')}
         AS sd_y_adj
FROM adjusted
GROUP BY arm
"""


def _register_cuped():
    sql_query(
        "q_cuped",
        spark_sql=_cuped_sql(SPARK),
        duck_sql=_cuped_sql(DUCK),
        tables=["events"],
        doc="CUPED variance reduction for A/B metrics: per-user experiment "
        "metric adjusted by the pre-period covariate (θ = cov/var pooled, "
        "periods split at the data midpoint, arms = user_id % 2), "
        "reporting per-arm means and the adjusted vs raw standard "
        "deviation — the standard trick that cuts experiment runtimes "
        "~40-50% when behavior is autocorrelated. Decimal per-user sums, "
        "dxsum-exact pooled moments, one shared IEEE tree for θ and the "
        "adjustment, DECIMAL(14,6) re-quantization before second moments "
        "— hash-exact. One user-keyed aggregate, a 1-row moment "
        "broadcast, one arm-keyed aggregate.",
    )


_register_cuped()


# ---------------------------------------------------------------------------
# Empirical-Bayes (beta-binomial) shrinkage of per-block quality rates.
# ---------------------------------------------------------------------------


def _eb_shrink_sql(d: Dialect) -> str:
    """Per-(lang, source) document quality rates shrunk toward the corpus
    prior: method-of-moments Beta(α, β) fit on the observed rates, then
    shrunk_i = (pos_i + α)/(n_i + α + β). The standard guard rails a
    non-positive strength when rates are over-dispersed past the
    binomial. Rates quantize to DECIMAL(14,12) before the moment sums
    (products stay ≤ 38 digits and sums are order-independent; the
    scale-24 second-moment sum rounds back to scale 12 before its double
    cast — the dxsum2 2^53 rule); the fit and every shrunk rate come
    from one shared IEEE tree."""
    return """
WITH grp AS (
  SELECT lang, source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT)
           AS pos
  FROM documents GROUP BY lang, source
),
rates AS (
  SELECT lang, source, n, pos,
         CAST(CAST(pos AS DOUBLE) / n AS DECIMAL(14,12)) AS r
  FROM grp
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(r) AS DOUBLE) AS sr,
         CAST(ROUND(SUM(CAST(r AS DECIMAL(20,12)) * r), 12) AS DOUBLE) AS srr
  FROM rates
),
fit AS (
  SELECT k,
         sr / CAST(k AS DOUBLE) AS m,
         (srr - sr * sr / CAST(k AS DOUBLE))
           / NULLIF(CAST(k AS DOUBLE) - 1, 0.0) AS v
  FROM mom
),
prior AS (
  SELECT k, m, v,
         -- degenerate fits (k=1 → v NULL; v=0 → NULL via NULLIF) fall
         -- through to the epsilon floor (GREATEST ignores NULL in both
         -- engines): strength ~0 means shrunk_rate ≈ raw_rate, the
         -- defined can't-estimate-the-prior sentinel instead of Inf/NaN
         GREATEST(m * (1.0 - m) / NULLIF(v, 0.0) - 1.0, 0.000001) AS s
  FROM fit
)
SELECT r.lang, r.source, r.n, r.pos,
       CAST(r.r AS DOUBLE) AS raw_rate,
       p.m * p.s AS alpha,
       (1.0 - p.m) * p.s AS beta,
       (CAST(r.pos AS DOUBLE) + p.m * p.s)
         / (CAST(r.n AS DOUBLE) + p.s) AS shrunk_rate
FROM rates r CROSS JOIN prior p
"""


def _register_eb():
    sql_query(
        "q_eb_shrinkage",
        spark_sql=_eb_shrink_sql(SPARK),
        duck_sql=_eb_shrink_sql(DUCK),
        tables=["documents"],
        doc="Empirical-Bayes (beta-binomial) shrinkage of per-(lang, "
        "source) quality-pass rates toward the corpus prior — the "
        "small-sample-safe way to rank data sources by quality before a "
        "mixture decision (a 2-doc block at rate 1.0 must not outrank a "
        "10k-doc block at 0.9). Method-of-moments Beta fit from "
        "DECIMAL(14,12)-quantized rate moments, shrunk_i = "
        "(pos+α)/(n+α+β) in one shared IEEE tree — hash-exact. One "
        "block-keyed aggregate + a 1-row prior broadcast; block count is "
        "bounded by the (lang, source) domain at any corpus size.",
    )


_register_eb()


# ---------------------------------------------------------------------------
# Expected calibration error — the scalar the isotonic fit improves.
# ---------------------------------------------------------------------------


def _ece_sql(d: Dialect) -> str:
    """ECE over 10 equal-width bins of the min-max-normalized score: the
    n_b-weighted mean |accuracy_b − confidence_b|. Normalization, bin
    means and the final weighted sum are all rational arithmetic on
    decimal-quantized sums (no transcendental anywhere); bin assignment
    is exact integer arithmetic on value cents so no float boundary
    decides membership."""
    return f"""
WITH scored AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS s_cents,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
),
rng AS (
  SELECT CAST(MIN(s_cents) AS BIGINT) AS lo, CAST(MAX(s_cents) AS BIGINT) AS hi
  FROM scored
),
binned AS (
  -- hi=lo (all scores identical) makes the integer division NULL in
  -- both engines; COALESCE collapses the degenerate input to one bin 0
  SELECT LEAST(COALESCE({d.idiv('(s_cents - r.lo) * 10', '(r.hi - r.lo)')},
               0), 9) AS bin,
         s_cents, y, r.lo, r.hi
  FROM scored CROSS JOIN rng r
),
per_bin AS (
  SELECT bin,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(y) AS BIGINT) AS pos_b,
         CAST(SUM(s_cents) AS BIGINT) AS s_sum,
         CAST(MAX(lo) AS BIGINT) AS lo, CAST(MAX(hi) AS BIGINT) AS hi
  FROM binned GROUP BY bin
),
tot AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n FROM per_bin)
SELECT CAST(p.bin AS INT) AS bin,
       p.n_b,
       p.pos_b,
       CAST(p.pos_b AS DOUBLE) / p.n_b AS accuracy,
       (CAST(p.s_sum AS DOUBLE) / p.n_b - p.lo)
         / NULLIF(CAST(p.hi - p.lo AS DOUBLE), 0.0) AS confidence,
       ABS(CAST(p.pos_b AS DOUBLE) / p.n_b
           - (CAST(p.s_sum AS DOUBLE) / p.n_b - p.lo)
             / NULLIF(CAST(p.hi - p.lo AS DOUBLE), 0.0))
         * p.n_b / t.n AS ece_contrib
FROM per_bin p CROSS JOIN tot t
"""


def _register_ece():
    sql_query(
        "q_ece",
        spark_sql=_ece_sql(SPARK),
        duck_sql=_ece_sql(DUCK),
        tables=["events"],
        doc="Expected calibration error by decile bin of the min-max-"
        "normalized score (reliability-diagram table + per-bin ECE "
        "contribution; Σ ece_contrib IS the ECE scalar) — the calibration "
        "audit q_isotonic's monotone fit exists to reduce. Bin membership "
        "is exact integer arithmetic on score cents (no float boundary); "
        "accuracy/confidence come from integer/decimal sums through one "
        "shared IEEE tree. One keyed aggregate + two 1-row broadcasts.",
    )


_register_ece()


# ---------------------------------------------------------------------------
# Cramér's V — categorical-categorical association strength.
# ---------------------------------------------------------------------------


def _cramers_v_sql(d: Dialect) -> str:
    """Association between event_type and hour-of-day: the χ² statistic
    over the observed k₁×k₂ contingency with rational expected counts
    e = row·col/n, then V = sqrt(χ²/(n·(min(k)−1))). Everything before
    the single sqrt is exact integer/rational arithmetic in one shared
    tree; the contingency/marginals are tiny keyed aggregates."""
    ep = d.epoch("ts")
    hour = f"CAST({d.idiv(f'({ep} % 86400)', '3600')} AS BIGINT)"
    return f"""
WITH obs AS (
  SELECT event_type, {hour} AS hr, CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY event_type, {hour}
),
row_m AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY event_type),
col_m AS (SELECT hr, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY hr),
tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k1,
         CAST(COUNT(DISTINCT hr) AS BIGINT) AS k2
  FROM obs
),
cells AS (
  SELECT o.o, r.rt, c.ct, t.n, t.k1, t.k2
  FROM obs o
  JOIN row_m r ON o.event_type = r.event_type
  JOIN col_m c ON o.hr = c.hr
  CROSS JOIN tot t
),
terms AS (
  SELECT n, k1, k2,
         CAST((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
              * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
              / (CAST(rt AS DOUBLE) * ct / n) AS DECIMAL(28,12)) AS term
  FROM cells
)
SELECT
  CAST(MAX(n) AS BIGINT) AS n,
  CAST(MAX(k1) AS BIGINT) AS k1,
  CAST(MAX(k2) AS BIGINT) AS k2,
  CAST((MAX(k1) - 1) * (MAX(k2) - 1) AS BIGINT) AS dof,
  CAST(SUM(term) AS DOUBLE) AS chi2,
  SQRT(CAST(SUM(term) AS DOUBLE)
       / (CAST(MAX(n) AS DOUBLE) * (LEAST(MAX(k1), MAX(k2)) - 1)))
    AS cramers_v
FROM terms
"""


def _register_cramers():
    sql_query(
        "q_cramers_v",
        spark_sql=_cramers_v_sql(SPARK),
        duck_sql=_cramers_v_sql(DUCK),
        tables=["events"],
        doc="Cramér's V association between event_type and hour-of-day — "
        "the normalized effect size behind q_drift_chisq's raw χ² "
        "(comparable across tables of any shape, the categorical "
        "feature-selection signal). Expected counts are rational "
        "(row·col/n); each cell term is a bit-identical IEEE expression "
        "quantized to DECIMAL(28,12) BEFORE the sum, so χ² is "
        "order-independent under any shuffle (the house convention — "
        "raw double SUM would be partial-aggregation-order dependent). "
        "One contingency aggregate + two marginal joins + a 1-row "
        "total.",
    )


_register_cramers()


# ---------------------------------------------------------------------------
# Mann–Kendall trend test — the significance companion to Theil–Sen.
# ---------------------------------------------------------------------------


def _mann_kendall_sql(d: Dialect) -> str:
    """Exact integer S = Σ_{{i<j}} sign(y_j − y_i) over the daily revenue
    series, tie-corrected variance n(n−1)(2n+5)/18 − Σ_t t(t−1)(2t+5)/18
    (exact integer DIV 18 on the numerator sum), continuity-corrected
    z = (S ∓ 1)/sqrt(var). Only the final sqrt/division are floats.
    Same calendar-bounded day-grain quadratic as q_theilsen."""
    if d.name == "spark":
        daynum = "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)"
    else:
        daynum = "CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT {daynum} AS x,
         CAST(SUM(CAST({dec2('o_totalprice')} * 100 AS DECIMAL(18,0))) AS BIGINT)
           AS y
  FROM orders GROUP BY {daynum}
),
s_stat AS (
  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END)
              AS BIGINT) AS s
  FROM daily a JOIN daily b ON b.x > a.x
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_num
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y) g
  WHERE t > 1
)
SELECT nn.n AS n_days,
       s.s AS s_stat,
       CAST({d.idiv('(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_num)', '18')}
         AS BIGINT) AS var_s,
       (CAST(s.s AS DOUBLE) - CAST(CASE WHEN s.s > 0 THEN 1 WHEN s.s < 0 THEN -1 ELSE 0 END AS DOUBLE))
         / SQRT(CAST({d.idiv('(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_num)', '18')} AS DOUBLE))
         AS z,
       CAST(CASE WHEN ABS(
         (CAST(s.s AS DOUBLE) - CAST(CASE WHEN s.s > 0 THEN 1 WHEN s.s < 0 THEN -1 ELSE 0 END AS DOUBLE))
           / SQRT(CAST({d.idiv('(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_num)', '18')} AS DOUBLE))
       ) > 1.96 THEN 1 ELSE 0 END AS INT) AS trend_at_95
FROM s_stat s CROSS JOIN nn CROSS JOIN ties
"""


def _register_mk():
    sql_query(
        "q_mann_kendall",
        spark_sql=_mann_kendall_sql(SPARK),
        duck_sql=_mann_kendall_sql(DUCK),
        tables=["orders"],
        doc="Mann–Kendall non-parametric trend test on daily revenue — IS "
        "there a monotone trend (q_theilsen answers how steep). Exact "
        "integer S statistic over the calendar-bounded day-grain "
        "quadratic, tie-corrected variance as one integer DIV 18, "
        "continuity-corrected z with a single sqrt — hash-exact. "
        "Distribution-free: no normality assumption on the revenue "
        "series, robust to the same outlier days Theil–Sen shrugs off.",
    )


_register_mk()


# ---------------------------------------------------------------------------
# Simpson's-paradox audit — pooled vs per-stratum regression sign check.
# ---------------------------------------------------------------------------


def _simpson_sql() -> str:
    """Pooled OLS slope of extendedprice ~ quantity vs the same slope
    within each l_returnflag stratum, with a sign-reversal flag per stratum
    — the aggregation-bias (Simpson's paradox) audit run before trusting
    any pooled metric in an experiment readout: if strata reverse the
    pooled sign, the pooled number is a composition artifact, not an
    effect. One moment-sum pass at the stratum grain; the pooled moments
    are the SUM of the stratum moments (no second scan), so the audit
    costs exactly one shuffle on the stratum key + a 1-row broadcast."""
    from ..functions.detsql import dregr_slope

    # Moments stay DECIMAL through BOTH aggregation levels: the pooled
    # moments are SUMs of the stratum moments, and summing doubles across
    # stratum rows would be accumulation-order-dependent at the last ulp
    # (observed as a cross-engine hash mismatch). The single double cast
    # happens inside the slope expression.
    sx = "SUM(CAST(l_quantity AS DECIMAL(28,2)))"
    sy = "SUM(CAST(l_extendedprice AS DECIMAL(28,2)))"
    sxy = (
        "ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))"
        " * CAST(l_extendedprice AS DECIMAL(12,2))), 2)"
    )
    sxx = (
        "ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))"
        " * CAST(l_quantity AS DECIMAL(12,2))), 2)"
    )

    def slope(a: str) -> str:
        return dregr_slope(
            f"{a}.n",
            f"CAST({a}.sx AS DOUBLE)",
            f"CAST({a}.sy AS DOUBLE)",
            f"CAST({a}.sxy AS DOUBLE)",
            f"CAST({a}.sxx AS DOUBLE)",
        )

    return f"""
WITH sums AS (
  SELECT l_returnflag AS stratum,
         COUNT(*) AS n,
         {sx} AS sx,
         {sy} AS sy,
         {sxy} AS sxy,
         {sxx} AS sxx
  FROM lineitem
  GROUP BY l_returnflag
),
pooled AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
         SUM(sxy) AS sxy, SUM(sxx) AS sxx
  FROM sums
)
SELECT s.stratum,
       CAST(s.n AS BIGINT) AS n_rows,
       {slope('s')} AS stratum_slope,
       {slope('p')} AS pooled_slope,
       CAST(CASE WHEN ({slope('s')}) * ({slope('p')}) < 0
                 THEN 1 ELSE 0 END AS INT) AS sign_reversed
FROM sums s CROSS JOIN pooled p
WHERE s.n >= 2
"""


sql_query(
    "q_simpson_check",
    spark_sql=_simpson_sql(),
    duck_sql=_simpson_sql(),
    tables=["lineitem"],
    doc="Simpson's-paradox audit: pooled price~quantity OLS slope vs the "
    "per-l_returnflag stratum slopes with a per-stratum sign-reversal flag "
    "— the aggregation-bias check an experimentation readout runs before "
    "trusting any pooled metric (a reversed stratum makes the pooled "
    "number a composition artifact). The pooled moments are the SUM of "
    "the stratum moments — one moment-sum pass (map-side combine), one "
    "shuffle on the stratum key, 1-row pooled broadcast (whitelisted); "
    "slopes are identical IEEE expression trees over exact decimal sums "
    "(the q_regression determinism engineering).",
)


# ---------------------------------------------------------------------------
# Cohort LTV triangle — cumulative revenue per acquisition cohort by age.
# ---------------------------------------------------------------------------


def _cohort_ltv_sql(d: Dialect) -> str:
    """Monthly acquisition-cohort lifetime-value triangle: cohort = month
    of a customer's FIRST order, age = months since, cell = cumulative
    revenue of the cohort through that age plus per-customer LTV — the
    monetary twin of q_retention's user-count triangle (the pair every
    growth readout plots side by side). Exact integer cents end to end;
    the cumulative window is cohort-partitioned (<= ~80 month cohorts,
    each a short series — no global sort)."""
    midx = (
        "(CAST(year(o_orderdate) AS BIGINT) - 1992) * 12 "
        "+ CAST(month(o_orderdate) AS BIGINT) - 1"
    )
    cents = (
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 "
        "AS DECIMAL(18,0))) AS BIGINT)"
    )
    return f"""
WITH om AS (
  SELECT o_custkey AS cust, {midx} AS midx, o_totalprice FROM orders
),
firsts AS (
  SELECT cust, MIN(midx) AS cohort FROM om GROUP BY cust
),
rev AS (
  SELECT f.cohort, o.midx - f.cohort AS age,
         {cents.replace('o_totalprice', 'o.o_totalprice')} AS cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM (SELECT cust, midx, o_totalprice AS o_totalprice FROM om) o
  JOIN firsts f ON o.cust = f.cust
  GROUP BY f.cohort, o.midx - f.cohort
),
sizes AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM firsts GROUP BY cohort
)
SELECT CAST(r.cohort AS INT) AS cohort_month,
       CAST(r.age AS INT) AS age_months,
       r.n_orders,
       s.n_customers,
       CAST(SUM(r.cents) OVER (
         PARTITION BY r.cohort ORDER BY r.age
       ) AS BIGINT) AS cum_revenue_cents,
       CAST({d.idiv(
           'SUM(r.cents) OVER (PARTITION BY r.cohort ORDER BY r.age)',
           's.n_customers')} AS BIGINT) AS ltv_cents_per_customer
FROM rev r JOIN sizes s ON r.cohort = s.cohort
"""


sql_query(
    "q_cohort_ltv",
    spark_sql=_cohort_ltv_sql(SPARK),
    duck_sql=_cohort_ltv_sql(DUCK),
    tables=["orders"],
    doc="Monthly acquisition-cohort LTV triangle: cohort = month of first "
    "order, age = months since, cumulative cohort revenue and per-"
    "customer LTV per cell — the monetary twin of q_retention's count "
    "triangle. Exact integer cents (decimal snap before the sum), "
    "cohort-partitioned cumulative windows over <= ~80 short month "
    "series (no global sort); plan = one first-order aggregate, one "
    "(cohort, age) rollup, one broadcast-size cohort join.",
)


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test — randomness audit of the daily revenue series.
# ---------------------------------------------------------------------------


def _runs_test_sql(d: Dialect) -> str:
    """Runs test over the daily-revenue sign sequence (above/below the
    series mean): too FEW runs = trending/sticky days (positive serial
    correlation), too MANY = oscillation — the randomness check run on
    residuals before trusting an i.i.d. assumption in any daily metric
    model. Everything stays rational: 'above mean' is cents*N > total
    (no division), and the normal approximation's E[R] and Var[R] are
    emitted as exact ppm-scaled integers (E = 1 + 2*n1*n2/n,
    Var = 2*n1*n2*(2*n1*n2 - n)/(n^2*(n-1))) so the consumer forms
    z = (R - E)/sqrt(V) — sqrt never enters the cross-engine gate."""
    day = "CAST(o_orderdate AS DATE)"
    cents = (
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 "
        "AS DECIMAL(18,0))) AS BIGINT)"
    )
    return f"""
WITH daily AS (
  SELECT {day} AS day, {cents} AS cents
  FROM orders GROUP BY {day}
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS total
  FROM daily
),
signs AS (
  SELECT d.day,
         CASE WHEN d.cents * t.n > t.total THEN 1 ELSE 0 END AS above
  FROM daily d CROSS JOIN tot t
),
seq AS (
  SELECT above,
         LAG(above) OVER (ORDER BY day) AS prev
  FROM signs
),
agg AS (
  SELECT CAST(SUM(above) AS BIGINT) AS n1,
         CAST(SUM(1 - above) AS BIGINT) AS n2,
         CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND above <> prev
                           THEN 1 ELSE 0 END) AS BIGINT) AS r
  FROM seq
)
SELECT n1 AS n_above,
       n2 AS n_below,
       r AS n_runs,
       CAST({d.idiv('(n1 + n2 + 2 * n1 * n2) * 1000000', '(n1 + n2)')}
         AS BIGINT) AS expected_runs_ppm,
       CAST({d.idiv(
           '2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) * 1000000',
           '((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))')}
         AS BIGINT) AS variance_runs_ppm
FROM agg
"""


sql_query(
    "q_runs_test",
    spark_sql=_runs_test_sql(SPARK),
    duck_sql=_runs_test_sql(DUCK),
    tables=["orders"],
    doc="Wald-Wolfowitz runs test on the daily-revenue sign sequence "
    "(above/below the series mean): observed runs R vs the exact "
    "rational E[R] and Var[R] (ppm-scaled integers — the consumer forms "
    "z = (R-E)/sqrt(V); sqrt never enters the gate), the i.i.d./serial-"
    "correlation audit run on residuals before trusting daily-metric "
    "models. 'Above mean' is the division-free cents*N > total "
    "comparison. The sequence windows run over the CALENDAR-bounded "
    "daily aggregate (~2.4k rows — the q_cusum_changepoint shape), with "
    "a 1-row total broadcast.",
)


# ---------------------------------------------------------------------------
# Spearman rank correlation — tie-aware, exact integer midranks.
# ---------------------------------------------------------------------------


def _spearman_sql(d: Dialect) -> str:
    """Spearman's rho between quantity and price at the lineitem grain:
    Pearson correlation over tie-averaged ranks, with the midranks kept
    EXACT by doubling (2*avg_rank = 2*(#smaller) + (#equal) + 1 — always
    an integer; correlation is affine-invariant, so the doubling cancels).
    Per-variable rank tables come from a prefix walk over the DISTINCT-
    value aggregate — a PARALLEL two-pass bucketed offset sweep
    (detsql.rank2_ctes: monotone integer bucketing, ≤64-row offset
    prefix, within-bucket windows PARTITION BY bucket), joined back
    value-keyed; the final rho is one exact-BIGINT moment pass fed
    through the shared dcorr IEEE tree. The robust companion to
    q_feature_correlation's Pearson — monotone association that
    outliers and curvature cannot fake."""
    from ..functions.detsql import dcorr, rank2_ctes

    return f"""
WITH pairs AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
  FROM lineitem
),
cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cc FROM pairs GROUP BY x, y),
xv AS (SELECT x AS v, CAST(SUM(cc) AS BIGINT) AS c FROM cells GROUP BY x),
yv AS (SELECT y AS v, CAST(SUM(cc) AS BIGINT) AS c FROM cells GROUP BY y),
{rank2_ctes(d, 'xv', 'xr')},
{rank2_ctes(d, 'yv', 'yr')},
mom AS (
  SELECT CAST(SUM(cc) AS BIGINT) AS n,
         CAST(SUM(cc * xr.rank2) AS DOUBLE) AS sx,
         CAST(SUM(cc * yr.rank2) AS DOUBLE) AS sy,
         CAST(SUM(cc * (xr.rank2 * yr.rank2)) AS DOUBLE) AS sxy,
         CAST(SUM(cc * (xr.rank2 * xr.rank2)) AS DOUBLE) AS sxx,
         CAST(SUM(cc * (yr.rank2 * yr.rank2)) AS DOUBLE) AS syy
  FROM cells c JOIN xr ON c.x = xr.v JOIN yr ON c.y = yr.v
)
SELECT n AS n_rows,
       {dcorr('n', 'sx', 'sy', 'sxy', 'sxx', 'syy')} AS spearman_rho
FROM mom
"""


def _rank2_df(vals: DataFrame, buckets: int = 64) -> DataFrame:
    """DataFrame twin of detsql.rank2_ctes over ``vals(v, c, ...)``:
    DOUBLED midranks (rank2 = 2·avg_rank, always integral) via the same
    parallel two-pass bucketed offset sweep — monotone integer bucketing,
    a ≤B-row bucket-offset prefix (the only single-partition piece),
    within-bucket prefix windows PARTITION BY bucket. Carry columns
    survive (the rank2_ctes k.* contract). Exists so iterative/DataFrame
    callers can materialize the per-value aggregate ONCE (Spark inlines
    SQL CTEs, so the rank2_ctes text re-runs its input per reference)."""
    from pyspark.sql.window import Window

    bounds = vals.agg(F.min("v").alias("vmin"), F.max("v").alias("vmax"))
    bk = vals.crossJoin(F.broadcast(bounds)).withColumn(
        "bkt",
        F.expr(f"CAST((v - vmin) * {buckets} DIV (vmax - vmin + 1) AS BIGINT)"),
    )
    off = (
        bk.groupBy("bkt")
        .agg(F.sum("c").alias("tc"))
        .withColumn(
            "off",
            (F.sum("tc").over(Window.orderBy("bkt")) - F.col("tc")).cast("bigint"),
        )
        .select("bkt", "off")
    )
    wb = (
        Window.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bk.join(F.broadcast(off), "bkt")
        .withColumn(
            "rank2",
            (
                2 * (F.col("off") + F.sum("c").over(wb) - F.col("c"))
                + F.col("c")
                + 1
            ).cast("bigint"),
        )
        .drop("vmin", "vmax", "bkt", "off")
    )


@df_query(
    "q_spearman",
    duck_sql=_spearman_sql(DUCK),
    tables=["lineitem"],
    doc="Spearman rank correlation (quantity vs price): Pearson over tie-"
    "averaged ranks with EXACT integer midranks (doubled — 2*avg_rank is "
    "always integral; affine invariance cancels the doubling). Rank "
    "tables via the PARALLEL bucketed offset sweep (_rank2_df, the "
    "DataFrame twin of detsql.rank2_ctes: 64-bucket two-pass, no global "
    "single-partition window over data — the shape that survives a 100x "
    "distinct-value blowup). The moment pass never rejoins ranks to "
    "rows: x-moments come from the ~50-row quantity aggregate alone "
    "(sum_rows rx^p = sum_x c_x*rx^p), and the single groupBy(y) — the "
    "one unavoidable 520k-key shuffle — carries u_y = sum of rx over "
    "that y (rx via a tiny broadcast), so sxy = sum_y ry*u_y and the "
    "y-moments read the same ranked aggregate (the prior shared-SQL "
    "form re-ran the 600k-key groupBys per CTE reference under Spark's "
    "CTE inlining, 2.9 s; the broadcast-rank-tables form still shipped "
    "a 520k-row table, 2.1 s; this form is one scan, one wide shuffle, "
    "zero big broadcasts). Exact-BIGINT moments (sum ry*u_y bounded by "
    "the same 6e5*(1.2e6)^2 < 2^63 at sf0.1; recenter ranks first "
    "beyond sf1), shared dcorr IEEE tree for the final double. The "
    "monotone-association robust companion to q_feature_correlation's "
    "Pearson.",
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.detsql import dcorr
    from ..sources.tables import load_tables

    t = load_tables(spark, sf_dir, ["lineitem"])
    pairs = t["lineitem"].select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .alias("y"),
    )
    xv = register_run_checkpoint(round_checkpoint(
        pairs.groupBy(F.col("x").alias("v"))
        .agg(F.count("*").cast("bigint").alias("c"))
    ))
    xr = _rank2_df(xv).select(
        F.col("v").alias("x"), "c", F.col("rank2").alias("rx")
    )
    # y-side rank sweep with its input referenced exactly ONCE, so no
    # checkpoint is needed: the bucket bounds are a 2-scalar driver fetch
    # (the q_rec_hitrate lo/hi idiom) and the bucket-offset prefix is
    # computed MAP-SIDE from the raw scan (row counts per bucket equal
    # the per-value counts summed, so the 64-row offset table never
    # touches the wide aggregate). The one wide shuffle (groupBy y,
    # carrying c and u_y = sum of rx) flows straight into the
    # bucket-partitioned prefix window.
    from pyspark.sql.window import Window

    buckets = 64
    vmin, vmax = pairs.agg(F.min("y"), F.max("y")).first()
    bkt_of = lambda col: f"CAST(({col} - {vmin}) * {buckets} DIV ({vmax} - {vmin} + 1) AS BIGINT)"  # noqa: E731
    off = (
        pairs.groupBy(F.expr(bkt_of("y")).alias("bkt"))
        .agg(F.sum(F.lit(1)).cast("bigint").alias("tc"))
        .withColumn(
            "off",
            (F.sum("tc").over(Window.orderBy("bkt")) - F.col("tc")).cast("bigint"),
        )
        .select("bkt", "off")
    )
    wb = (
        Window.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    yr = (
        pairs.join(F.broadcast(xr.select("x", "rx")), "x")
        .groupBy(F.col("y").alias("v"))
        .agg(
            F.count("*").cast("bigint").alias("c"),
            F.sum("rx").cast("bigint").alias("u"),
        )
        .withColumn("bkt", F.expr(bkt_of("v")))
        .join(F.broadcast(off), "bkt")
        .withColumn(
            "rank2",
            (
                2 * (F.col("off") + F.sum("c").over(wb) - F.col("c"))
                + F.col("c")
                + 1
            ).cast("bigint"),
        )
    )
    xmom = xr.agg(
        F.sum(F.col("c") * F.col("rx")).cast("double").alias("sx"),
        F.sum(F.col("c") * F.col("rx") * F.col("rx")).cast("double").alias("sxx"),
    )
    ymom = yr.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("rank2")).cast("double").alias("sy"),
        F.sum(F.col("c") * F.col("rank2") * F.col("rank2"))
        .cast("double")
        .alias("syy"),
        F.sum(F.col("u") * F.col("rank2")).cast("double").alias("sxy"),
    )
    mom = ymom.crossJoin(F.broadcast(xmom))
    return mom.selectExpr(
        "n AS n_rows",
        dcorr("n", "sx", "sy", "sxy", "sxx", "syy") + " AS spearman_rho",
    )


# ---------------------------------------------------------------------------
# Log-rank test — two-group survival-curve comparison (the KM companion).
# ---------------------------------------------------------------------------


def _logrank_sql(d: Dialect) -> str:
    """Two-group log-rank test on time-to-first-purchase (q_kaplan_meier's
    exact lives table, split by whether the user's FIRST event was an
    'error' — the ~20% entered-through-a-failure cohort; "ever errored"
    is degenerate here because error events are so frequent that every
    user eventually has one): per pooled death hour t, observed group-1
    deaths d1 vs the
    hypergeometric expectation E1_t = d·n1/n and variance
    V_t = d·(n1/n)·(1−n1/n)·(n−d)/(n−1). Despite the name there is no
    logarithm anywhere — the statistic is pure rational algebra. Per-row
    e1_t / v_t are single fixed IEEE expression trees over exact integers
    (bit-deterministic); the cumulative O1/E1/V columns are ppm-scaled
    integer window sums of staged-idiv terms (each stage bounded, so the
    BIGINT path holds to ~10^7 subjects; beyond that the documented swap
    is DECIMAL(38,0) numerators). The consumer forms
    z = (O1 − E1)/sqrt(V) from the LAST row — sqrt never enters the
    cross-engine gate (the q_runs_test convention)."""
    hour = f"CAST({d.epoch('ts')} AS BIGINT)"
    # staged ppm variance term: t1 = n1·1e6/n, t2 = t1·(n−n1)/n,
    # term = d·t2·(n−d)/(n−1) — every stage ≤ ~d·1e6·n, BIGINT-safe.
    t1 = d.idiv("n1 * 1000000", "n")
    t2 = d.idiv(f"{t1} * (n - n1)", "n")
    v_term = d.idiv(f"dd * {t2} * (n - dd)", "NULLIF(n - 1, 0)")
    e_term = d.idiv("dd * n1 * 1000000", "n")
    return f"""
WITH per_user AS (
  SELECT user_id,
         {d.idiv(f'MIN({hour})', '3600')} AS first_h,
         {d.idiv(f"MIN(CASE WHEN event_type = 'purchase' THEN {hour} END)", '3600')}
           AS conv_h,
         CASE WHEN MIN(CASE WHEN event_type = 'error' THEN {hour} END)
                   = MIN({hour}) THEN 1 ELSE 0 END AS g
  FROM events GROUP BY user_id
),
lives AS (
  SELECT g,
         CASE WHEN conv_h IS NOT NULL AND conv_h - first_h <= {_KM_HORIZON_H}
              THEN conv_h - first_h ELSE {_KM_HORIZON_H} END AS t,
         CASE WHEN conv_h IS NOT NULL AND conv_h - first_h <= {_KM_HORIZON_H}
              THEN 1 ELSE 0 END AS died
  FROM per_user
),
grain AS (
  SELECT t,
         CAST(SUM(CASE WHEN g = 1 THEN died ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN g = 0 THEN died ELSE 0 END) AS BIGINT) AS d0,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS e1_all,
         CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS e0_all
  FROM lives GROUP BY t
),
risk AS (
  SELECT t, d1, d0,
         CAST(SUM(e1_all) OVER (
           ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS n1,
         CAST(SUM(e0_all) OVER (
           ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS n0
  FROM grain
),
steps AS (
  SELECT t, d1, d0, n1, n0,
         d1 + d0 AS dd, n1 + n0 AS n
  FROM risk
  WHERE d1 + d0 > 0
)
SELECT t, d1, d0, n1, n0,
       CAST(dd * n1 AS DOUBLE) / CAST(n AS DOUBLE) AS e1_t,
       CAST(dd * n1 * (n - n1) * (n - dd) AS DOUBLE)
         / CAST(n * n * NULLIF(n - 1, 0) AS DOUBLE) AS v_t,
       CAST(SUM(d1) OVER (
         ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_o1,
       CAST(SUM({e_term}) OVER (
         ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_e1_ppm,
       CAST(SUM({v_term}) OVER (
         ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_v_ppm
FROM steps
ORDER BY t
"""


sql_query(
    "q_logrank",
    spark_sql=_logrank_sql(SPARK),
    duck_sql=_logrank_sql(DUCK),
    tables=["events"],
    doc="Two-group log-rank test on time-to-first-purchase (the inference "
    "companion to q_kaplan_meier's curve): group = user's FIRST event "
    "was an 'error' (the entered-through-a-failure cohort, ~20%; 'ever "
    "errored' is degenerate here because nearly every user eventually "
    "errors), administrative 48 h censoring, per pooled death "
    "hour the hypergeometric E1/V terms. No logarithm anywhere despite "
    "the name — per-row e1_t/v_t are fixed IEEE trees over exact "
    "integers, the cumulative O1/E1/V are ppm-scaled staged-idiv window "
    "sums (BIGINT-safe to ~1e7 subjects; DECIMAL(38,0) is the "
    "documented swap beyond), and z = (O1−E1)/sqrt(V) is left to the "
    "consumer so sqrt never enters the hash gate. Corpus-scale work is "
    "ONE user-keyed aggregate; everything after runs on the ≤49-row "
    "censoring-horizon grain.",
)


# ---------------------------------------------------------------------------
# Capture-recapture population estimate — Lincoln-Petersen / Chapman over
# two disjoint observation windows (the ecology estimator, repurposed as
# the "how many users does the platform REALLY have" audit, self-validated
# against the known true user count).
# ---------------------------------------------------------------------------


def _capture_oracle_sql(d: Dialect) -> str:
    """DuckDB oracle: identical two-window capture flags and Chapman
    algebra as one CTE chain (per_user is referenced twice — fine under
    DuckDB materialization; the Spark side checkpoints it instead)."""
    es = f"CAST({d.epoch('ts')} AS BIGINT)"
    mid = d.idiv("lo + (hi - lo)", "2")
    chap = d.idiv("(m + 1) * (c + 1)", "(r + 1)")
    linc = d.idiv("m * c", "NULLIF(r, 0)")
    var_ = d.idiv(
        "(m + 1) * (c + 1) * (m - r) * (c - r)",
        "((r + 1) * (r + 1) * (r + 2))",
    )
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST(MIN({es}) AS BIGINT) AS first_es,
         CAST(MAX({es}) AS BIGINT) AS last_es
  FROM events GROUP BY user_id
),
bounds AS (
  SELECT MIN(first_es) AS lo, MAX(last_es) AS hi FROM per_user
),
flags AS (
  SELECT CASE WHEN first_es < {mid} THEN 1 ELSE 0 END AS h1,
         CASE WHEN last_es >= {mid} THEN 1 ELSE 0 END AS h2
  FROM per_user, bounds
),
counts AS (
  SELECT CAST(SUM(h1) AS BIGINT) AS m,
         CAST(SUM(h2) AS BIGINT) AS c,
         CAST(SUM(h1 * h2) AS BIGINT) AS r,
         CAST(COUNT(*) AS BIGINT) AS true_n
  FROM flags
)
SELECT m AS caught_1, c AS caught_2, r AS recaptured, true_n,
       CAST({chap} - 1 AS BIGINT) AS chapman_n,
       CAST({linc} AS BIGINT) AS lincoln_n,
       CAST({var_} AS BIGINT) AS chapman_var,
       CAST((m + 1) * (c + 1) AS DOUBLE) / CAST(r + 1 AS DOUBLE) - 1.0
         AS chapman_d
FROM counts
"""


@df_query(
    "q_capture_recapture",
    duck_sql=_capture_oracle_sql(DUCK),
    tables=["events"],
    doc="Capture-recapture population estimate: users 'captured' in the "
    "first and second halves of the observation window (first/last "
    "event second vs the midpoint — one user-keyed min/max aggregate "
    "decides both flags), Chapman's bias-corrected estimator "
    "(m+1)(c+1)/(r+1)-1 with its variance, and the raw Lincoln-"
    "Petersen index — self-validated against the TRUE distinct-user "
    "count the same scan already produced. The estimator a panel/reach "
    "audit runs when the full population is NOT observable (ad reach, "
    "crawl frontier size, dedup-pair population); here the known "
    "true_n column exposes its bias directly. All integer-exact "
    "(nonnegative idiv), one double as a single IEEE division. Plan: "
    "ONE corpus-scale user-keyed aggregate, localCheckpointed so the "
    "1-row bounds scan never rescans events; flags and the scalar "
    "report run on the user grain and a 1-row reduction.",
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_tables

    t = load_tables(spark, sf_dir, ["events"])
    # the dialect's epoch() exactly (unix_timestamp truncates sub-second,
    # DuckDB floor(epoch) matches — both nonnegative here)
    es = F.expr(f"CAST({SPARK.epoch('ts')} AS BIGINT)")
    per_user = register_run_checkpoint(round_checkpoint(
        t["events"]
        .select(F.col("user_id"), es.alias("es"))
        .groupBy("user_id")
        .agg(
            F.min("es").cast("bigint").alias("first_es"),
            F.max("es").cast("bigint").alias("last_es"),
        )
    ))
    lo, hi = per_user.agg(F.min("first_es"), F.max("last_es")).first()
    mid = lo + (hi - lo) // 2
    flags = per_user.select(
        F.when(F.col("first_es") < mid, 1).otherwise(0).alias("h1"),
        F.when(F.col("last_es") >= mid, 1).otherwise(0).alias("h2"),
    )
    counts = flags.agg(
        F.sum("h1").cast("bigint").alias("m"),
        F.sum("h2").cast("bigint").alias("c"),
        F.sum(F.col("h1") * F.col("h2")).cast("bigint").alias("r"),
        F.count("*").cast("bigint").alias("true_n"),
    )
    return counts.select(
        F.col("m").alias("caught_1"),
        F.col("c").alias("caught_2"),
        F.col("r").alias("recaptured"),
        "true_n",
        (F.expr("(m + 1) * (c + 1) DIV (r + 1)") - 1)
        .cast("bigint")
        .alias("chapman_n"),
        F.expr("m * c DIV NULLIF(r, 0)").cast("bigint").alias("lincoln_n"),
        F.expr(
            "(m + 1) * (c + 1) * (m - r) * (c - r)"
            " DIV ((r + 1) * (r + 1) * (r + 2))"
        )
        .cast("bigint")
        .alias("chapman_var"),
        (
            ((F.col("m") + 1) * (F.col("c") + 1)).cast("double")
            / (F.col("r") + 1).cast("double")
            - F.lit(1.0)
        ).alias("chapman_d"),
    )


# ---------------------------------------------------------------------------
# Sequential association rules — first-occurrence ordering between types.
# ---------------------------------------------------------------------------


def _seq_rules_sql(d) -> str:
    """Sequential association rules over per-user FIRST occurrences:
    support(a->b) = users whose first a strictly precedes their first b
    (microsecond grain; simultaneous firsts are dropped — documented tie
    rule), confidence = support / users-with-a, lift = support * n /
    (n_a * n_b) against the independence baseline. The ORDERED upgrade
    of q_market_basket's symmetric co-occurrence and the pairwise
    summary of q_markov_transitions' step-level chain."""
    us = d.epoch_us("ts")
    return f"""
WITH firsts AS (
  SELECT user_id, event_type, MIN({us}) AS t0
  FROM events GROUP BY user_id, event_type
),
marg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
  FROM firsts GROUP BY event_type
),
tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_u FROM firsts),
pairs AS (
  SELECT a.event_type AS a_type, b.event_type AS b_type,
         CAST(COUNT(*) AS BIGINT) AS sup
  FROM firsts a JOIN firsts b
    ON a.user_id = b.user_id
   AND a.event_type <> b.event_type
   AND a.t0 < b.t0
  GROUP BY a.event_type, b.event_type
)
SELECT p.a_type, p.b_type, p.sup,
       ma.n_t AS n_a, mb.n_t AS n_b, t.n_u,
       CAST({d.idiv('(p.sup * 1000000)', 'ma.n_t')} AS BIGINT) AS conf_ppm,
       CAST({d.idiv('(p.sup * t.n_u * 1000000)', '(ma.n_t * mb.n_t)')}
            AS BIGINT) AS lift_ppm
FROM pairs p
JOIN marg ma ON ma.event_type = p.a_type
JOIN marg mb ON mb.event_type = p.b_type
CROSS JOIN tot t
ORDER BY p.a_type, p.b_type
"""


def _register_seq_rules():
    from ..functions.detsql import DUCK, SPARK
    from ..registry import sql_query

    sql_query(
        "q_seq_rules",
        spark_sql=_seq_rules_sql(SPARK),
        duck_sql=_seq_rules_sql(DUCK),
        tables=["events"],
        doc="Sequential association rules (a BEFORE b) over per-user first "
        "occurrences: support / confidence / lift per ordered event-type "
        "pair — the temporal-order upgrade of q_market_basket (symmetric "
        "co-occurrence) and the summary view of q_markov_transitions "
        "(step-level). Exact counts with ppm staged idiv (sup*n_u*1e6 is "
        "BIGINT-safe to ~2e6 users; DECIMAL(38,0) beyond). Corpus-scale "
        "work: one (user, type)-keyed aggregate and a user-partitioned "
        "self-join on the <=|types|-per-user firsts table; the rule grid "
        "(<=20 rows) carries the marginals joins.",
    )


_register_seq_rules()


# ---------------------------------------------------------------------------
# Brier-score Murphy decomposition — the quadratic-loss calibration audit.
# ---------------------------------------------------------------------------


def _brier_sql(d: Dialect) -> str:
    """Murphy decomposition of the Brier score for the binned forecast
    (the q_ece score/label/binning exactly): with forecasts collapsed to
    their bin-mean confidence, Brier = REL - RES + UNC holds as an
    identity. REL_b = n_b(conf_b - acc_b)^2, RES_b = n_b(acc_b - base)^2,
    UNC = base(1 - base). Counts and cent-sums are exact BIGINT; every
    emitted term is one shared IEEE tree over them."""
    base = "(CAST(t.pos AS DOUBLE) / t.n)"
    conf = (
        "((CAST(p.s_sum AS DOUBLE) / p.n_b - p.lo)"
        " / NULLIF(CAST(p.hi - p.lo AS DOUBLE), 0.0))"
    )
    acc = "(CAST(p.pos_b AS DOUBLE) / p.n_b)"
    return f"""
WITH scored AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS s_cents,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
),
rng AS (
  SELECT CAST(MIN(s_cents) AS BIGINT) AS lo, CAST(MAX(s_cents) AS BIGINT) AS hi
  FROM scored
),
binned AS (
  SELECT LEAST(COALESCE({d.idiv('(s_cents - r.lo) * 10', '(r.hi - r.lo)')},
               0), 9) AS bin,
         s_cents, y, r.lo, r.hi
  FROM scored CROSS JOIN rng r
),
per_bin AS (
  SELECT bin,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(y) AS BIGINT) AS pos_b,
         CAST(SUM(s_cents) AS BIGINT) AS s_sum,
         CAST(MAX(lo) AS BIGINT) AS lo, CAST(MAX(hi) AS BIGINT) AS hi
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(SUM(n_b) AS BIGINT) AS n, CAST(SUM(pos_b) AS BIGINT) AS pos
  FROM per_bin
)
SELECT CAST(p.bin AS INT) AS bin,
       p.n_b,
       p.pos_b,
       {conf} AS confidence,
       {acc} AS accuracy,
       ({conf} - {acc}) * ({conf} - {acc}) * p.n_b / t.n AS rel_contrib,
       ({acc} - {base}) * ({acc} - {base}) * p.n_b / t.n AS res_contrib,
       {base} * (1.0 - {base}) AS uncertainty,
       {base} AS base_rate
FROM per_bin p CROSS JOIN tot t
ORDER BY bin
"""


def _register_brier():
    sql_query(
        "q_brier_decomp",
        spark_sql=_brier_sql(SPARK),
        duck_sql=_brier_sql(DUCK),
        tables=["events"],
        doc="Murphy decomposition of the Brier score on the q_ece "
        "reliability table (same score, label, and integer decile "
        "binning): per-bin reliability and resolution contributions plus "
        "the uncertainty term, satisfying Brier = REL - RES + UNC for "
        "the binned forecast — the quadratic-loss companion to q_ece's "
        "L1 readout (REL penalizes miscalibration, RES rewards "
        "discrimination; the serial test checks the identity itself). "
        "One keyed aggregate at corpus scale; 10-row bin algebra with "
        "two 1-row broadcasts after.",
    )


_register_brier()


# ---------------------------------------------------------------------------
# Top user-journey paths — the ordered-prefix rollup of the event stream.
# ---------------------------------------------------------------------------


def _top_paths_sql(d: Dialect) -> str:
    """Each user's first five events (total order: microsecond timestamp,
    event_id tiebreak) joined into a '>'-delimited path string, then the
    top-20 paths by user count with exact ppm share — the journey-
    analysis rollup behind funnel discovery (q_funnel assumes a path;
    this finds which paths exist)."""
    us = d.epoch_us("ts")
    if d.name == "spark":
        path = (
            "concat_ws('>', transform(array_sort(collect_list("
            "struct(rn, event_type))), x -> x.event_type))"
        )
    else:
        path = "string_agg(event_type, '>' ORDER BY rn)"
    return f"""
WITH ordered AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY {us}, event_id) AS rn
  FROM events
),
paths AS (
  SELECT user_id, {path} AS path
  FROM ordered WHERE rn <= 5 GROUP BY user_id
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_u FROM paths)
SELECT p.path,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST({d.idiv('(COUNT(*) * 1000000)', 'MAX(t.n_u)')} AS BIGINT)
         AS share_ppm
FROM paths p CROSS JOIN tot t
GROUP BY p.path
ORDER BY n_users DESC, p.path
LIMIT 20
"""


def _register_top_paths():
    sql_query(
        "q_top_paths",
        spark_sql=_top_paths_sql(SPARK),
        duck_sql=_top_paths_sql(DUCK),
        tables=["events"],
        doc="Top-20 five-step user-journey paths with exact ppm share: "
        "per-user ordered prefix (microsecond + event_id total order) "
        "joined to a path string, path-keyed count, TakeOrdered top-20 — "
        "the discovery complement to q_funnel (which scores a KNOWN "
        "path) and q_markov_transitions (single steps). Corpus-scale "
        "plan: one user-partitioned window (rank<=5 pushes below the "
        "shuffle as WindowGroupLimit), one user-keyed ordered agg, one "
        "path-keyed count (path space bounded by |types|^5), no global "
        "sort.",
    )


_register_top_paths()


# ---------------------------------------------------------------------------
# Average precision — the PR-curve companion to q_auc's ROC rank-sum.
# ---------------------------------------------------------------------------


def _ap_sql(d: Dialect) -> str:
    """Average precision of `value` as a purchase score, exact over the
    achievable thresholds: a score-based ranker can only cut BETWEEN
    distinct scores, so AP = sum_g (pos_g/n_pos) * precision(prefix
    through g) over score groups in descending order — every term an
    exact rational. Staged at 1e9 (pos_g*cum_pos*1e9 idiv cum_c, then
    idiv n_pos*1000 to ppm): BIGINT-safe to ~1e9 events/group products
    ~2e16."""
    return f"""
WITH scored AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
grp AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY s
),
cum AS (
  SELECT s, c, pos,
         CAST(SUM(c) OVER (ORDER BY s DESC) AS BIGINT) AS cum_c,
         CAST(SUM(pos) OVER (ORDER BY s DESC) AS BIGINT) AS cum_pos
  FROM grp
),
terms AS (
  SELECT
    CAST(SUM(pos) AS BIGINT) AS n_pos,
    CAST(SUM(c - pos) AS BIGINT) AS n_neg,
    CAST(SUM({d.idiv('(pos * cum_pos * 1000000000)', 'cum_c')}) AS BIGINT)
      AS ap_scaled
  FROM cum
)
SELECT n_pos, n_neg,
       CAST({d.idiv('ap_scaled', '(n_pos * 1000)')} AS BIGINT) AS ap_ppm,
       CAST({d.idiv('(n_pos * 1000000)', '(n_pos + n_neg)')} AS BIGINT)
         AS prevalence_ppm
FROM terms
"""


def _register_ap():
    sql_query(
        "q_average_precision",
        spark_sql=_ap_sql(SPARK),
        duck_sql=_ap_sql(DUCK),
        tables=["events"],
        doc="Exact average precision (area under the step PR curve at the "
        "ACHIEVABLE thresholds — a score ranker can only cut between "
        "distinct scores) of `value` predicting purchases, with the "
        "prevalence baseline AP converges to for a random ranker — the "
        "imbalance-aware companion to q_auc (prevalence-invariant ROC). "
        "Same per-score-group skeleton as q_auc: one keyed aggregate, a "
        "group-grain cumulative window, staged-idiv exact rationals; no "
        "pairwise anything.",
    )


_register_ap()


# ---------------------------------------------------------------------------
# State-run encoding — gaps-and-islands temporal coalescing of the
# per-user event-type timeline.
# ---------------------------------------------------------------------------


def _state_runs_sql(d: Dialect) -> str:
    """Run-length encoding of each user's event-type timeline (the
    SQL:2011 temporal-coalescing pattern): a LAG change flag over the
    (ts, event_id) total order, a cumulative island id, then per-island
    extents — summarized per event_type as run counts, mean run length
    in events, longest run, and mean run DURATION (exact microsecond
    sums; runs of one event have zero duration). The coalescing step
    every SCD2 history compaction and session-state analysis runs; the
    run-length view of what q_markov_transitions sees as self-loop
    probability."""
    us = d.epoch_us("ts")
    return f"""
WITH ordered AS (
  SELECT user_id, event_type, {us} AS ts_us,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY {us}, event_id) AS prev_type
  FROM events
),
flagged AS (
  SELECT user_id, event_type, ts_us,
         CASE WHEN prev_type IS NULL OR prev_type <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM ordered
),
islands AS (
  SELECT user_id, event_type, ts_us,
         CAST(SUM(chg) OVER (PARTITION BY user_id
                             ORDER BY ts_us, event_type
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS island
  FROM flagged
),
runs AS (
  SELECT user_id, island, event_type,
         CAST(COUNT(*) AS BIGINT) AS run_len,
         CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS run_dur_us
  FROM islands GROUP BY user_id, island, event_type
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(SUM(run_len) AS BIGINT) AS n_events,
       CAST({d.idiv('(SUM(run_len) * 1000000)', 'COUNT(*)')} AS BIGINT)
         AS mean_run_len_ppm,
       CAST(MAX(run_len) AS BIGINT) AS max_run_len,
       CAST(SUM(run_dur_us) AS BIGINT) AS total_run_dur_us,
       CAST({d.idiv('SUM(run_dur_us)', 'COUNT(*)')} AS BIGINT)
         AS mean_run_dur_us
FROM runs
GROUP BY event_type
ORDER BY event_type
"""


def _register_state_runs():
    sql_query(
        "q_state_runs",
        spark_sql=_state_runs_sql(SPARK),
        duck_sql=_state_runs_sql(DUCK),
        tables=["events"],
        doc="Gaps-and-islands run-length encoding of per-user event-type "
        "timelines (the SQL:2011 temporal-coalescing pattern: LAG change "
        "flag -> cumulative island id -> per-island extents), summarized "
        "per type as run counts, mean/max run length, and exact "
        "microsecond run durations — the history-compaction step of SCD2 "
        "maintenance and the run-length dual of q_markov_transitions' "
        "self-loop probabilities. All windows are USER-partitioned "
        "(never global); two keyed aggregates after.",
    )


_register_state_runs()

"""Scale techniques: skew salting, bucketed co-located joins, broadcast.

The reference runs at demo scale and needs none of these; at the 100 TB
target they are the difference between a plan that finishes and one that
doesn't (SURVEY §7.3 posture). Each helper is deterministic and
plan-shape-tested in tests/test_scale.py:

- salted_aggregate: two-phase aggregation through an explicit salt column —
  for aggregations whose group key is so skewed that one reducer partition
  receives a hot key's entire data. (Spark's map-side partial aggregation
  already handles commutative aggs; the salt phase matters for
  size-accumulating aggs like collect_list / exact count-distinct re-keying.)
- salted_join: replicate the build side R times, salt the probe side
  deterministically by a row-unique column — spreads one hot join key over R
  reducer partitions. AQE skew-join handles moderate skew automatically
  (session.py enables it); explicit salting is for pathological keys known in
  advance.
- bucketed joins: write both sides bucketed by the join key
  (spark_bucket_table) and the sort-merge join needs NO Exchange at all —
  the co-located join the reference approximates with Iceberg sorted writes
  (iceberg-sink-config.json sorted.by).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    agg_exprs: dict[str, str],
    salt_col: str,
    buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    Phase 1 groups by (keys + salt) where salt = xxhash64(salt_col) % buckets
    (deterministic — no rand(), results reproducible), phase 2 merges the
    partials by keys. agg_exprs maps output column -> one of
    count / sum / min / max (the decomposable aggregates).
    """
    mergers = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(buckets))
    )
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[
            getattr(F, fn)(F.col(col) if fn != "count" else F.lit(1)).alias(out)
            for out, (fn, col) in agg_exprs.items()
        ]
    )
    return phase1.groupBy(*keys).agg(
        *[
            getattr(F, mergers[fn])(F.col(out)).alias(out)
            for out, (fn, _col) in agg_exprs.items()
        ]
    )


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    salt_source: str,
    buckets: int = 8,
) -> DataFrame:
    """Skew-safe equi-join: build side replicated `buckets` times, probe side
    salted deterministically from `salt_source` (a row-unique probe column).
    Join key becomes (key, salt) so a hot key's rows spread over `buckets`
    reducer partitions instead of one.
    """
    build_rep = build.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    probe_s = probe.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_source)), F.lit(buckets)).cast("int")
    )
    return probe_s.join(build_rep, [key, "__salt"]).drop("__salt")


def write_bucketed(
    df: DataFrame, table_name: str, bucket_key: str, num_buckets: int = 8
) -> None:
    """Persist as a bucketed+sorted managed table: the co-located layout that
    lets equal-bucketed joins run with zero Exchange (tested)."""
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # A crashed prior run can leave the managed location behind without a
    # catalog entry; saveAsTable refuses to reuse it.
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh.rstrip('/')}/{table_name.lower()}", ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, bucket_key)
        .sortBy(bucket_key)
        .format("parquet")
        .saveAsTable(table_name)
    )


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key: str) -> DataFrame:
    """Join two identically-bucketed tables on the bucket key — Catalyst
    plans a sort-merge join with NO shuffle on either side."""
    return spark.table(left_table).join(spark.table(right_table), key)


def _register_salted_query() -> None:
    from ..registry import df_query
    from ..sources.tables import load_tables

    @df_query(
        "q_salted_rollup",
        duck_sql="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS total_qty,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty
FROM lineitem
GROUP BY l_returnflag
""",
        tables=["lineitem"],
        doc="Skew-safe two-phase aggregation as a VERIFIED query: "
        "salted_aggregate spreads each (hot) group key over 16 salt "
        "buckets, aggregates partials, then merges by key — and the "
        "oracle proves the decomposition is exact (decimal partial sums "
        "are associative, so phase order cannot change the result). The "
        "3-key l_returnflag is precisely the pathological-skew shape: "
        "one reducer per key without salting.",
    )
    def q_salted_rollup(spark, sf_dir):
        t = load_tables(spark, sf_dir, ["lineitem"])
        li = t["lineitem"].withColumn(
            "__qty_dec", F.col("l_quantity").cast("decimal(28,2)")
        )
        out = salted_aggregate(
            li,
            keys=["l_returnflag"],
            agg_exprs={
                "n_items": ("count", "*"),
                "total_qty_dec": ("sum", "__qty_dec"),
                "min_qty": ("min", "l_quantity"),
                "max_qty": ("max", "l_quantity"),
            },
            salt_col="l_orderkey",
            buckets=16,
        )
        return out.select(
            "l_returnflag",
            "n_items",
            F.col("total_qty_dec").cast("double").alias("total_qty"),
            "min_qty",
            "max_qty",
        )


_register_salted_query()


def zorder_value(col_a, col_b, bits: int = 16):
    """Morton (Z-order) interleave of two integer columns → one BIGINT.

    The multi-dimensional clustering key behind Delta Z-ORDER / Iceberg
    sort orders: sorting by the interleaved value co-locates rows that are
    close in BOTH dimensions, so per-file min/max stats become selective
    for range predicates on EITHER column (a single-column sort gives
    selective stats on that column only). Each input is masked to ``bits``
    low bits; callers pre-normalize (rank/bucketize) real values onto that
    grid. Pure bit arithmetic — whole-stage codegen, no UDF.
    """
    from .zorder import zorder_column

    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    a = a.cast("bigint") % F.lit(1 << bits)
    b = b.cast("bigint") % F.lit(1 << bits)
    # Canonical N-column interleave lives in operators/zorder.py (with the
    # SQL twin used by the q_zorder_layout oracle and the versioned-lake
    # cluster() commit); for n=2 its round-robin placement (col j bit i ->
    # position 2i+j) is exactly the classic Morton layout.
    return zorder_column([a, b], bits)


def write_zordered(df, path: str, col_a: str, col_b: str, n_files: int = 8) -> None:
    """Write ``df`` as parquet clustered by the Z-value of (col_a, col_b):
    range-partition on the interleaved key, sort within partitions, drop the
    helper column. Each output file then covers a compact rectangle of the
    (a, b) plane — the layout Delta's OPTIMIZE ZORDER BY produces — and
    min/max file skipping prunes range predicates on either column."""
    z = df.withColumn("__z", zorder_value(col_a, col_b))
    (
        z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


# --- Key-skew diagnostics ------------------------------------------------

def _skew_report_sql(partitions: int = 32, top_n: int = 10) -> str:
    """Join/agg-key skew report — the diagnostic you run BEFORE deciding to
    salt. Per candidate shuffle key (here l_partkey): the key-frequency
    distribution's shape, and a concrete salt-bucket recommendation.

    All arithmetic is integer or single IEEE divisions of integers —
    hash-exact cross-engine, no percentile interpolation (p50/p99 are
    "smallest count covering ≥q of keys" — integer selection, the
    q_weighted_median trick):

    - max_share: the heaviest key's fraction of all rows. If one reducer
      partition receives max_share but the ideal is 1/P, the hot key alone
      stalls the stage.
    - rec_salt_buckets = ceil(max_cnt · P / total) in integer form — how
      many ways the hottest key must split so its largest shard is back at
      the ideal partition size. 1 = no salting needed.
    - top keys listed with shares (deterministic tiebreak on key).

    Scale shape: one key-count aggregation (map-side partials — the count
    table is |keys| rows, not |rows|), one window pass over |keys|, 1-row
    global stats broadcast. Runs on a sample at 100 TB if |rows| per key
    is all that's needed — shares are scale-free.
    """
    return f"""
WITH key_counts AS (
  SELECT l_partkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey
),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows, COUNT(*) AS n_keys,
         MAX(cnt) AS max_cnt
  FROM key_counts
),
ordered AS (
  SELECT key, cnt,
         SUM(1) OVER (ORDER BY cnt, key
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_keys
  FROM key_counts
),
pct AS (
  SELECT
    MIN(CASE WHEN 2 * o.run_keys >= t.n_keys THEN o.cnt END) AS cnt_p50,
    MIN(CASE WHEN 100 * o.run_keys >= 99 * t.n_keys THEN o.cnt END) AS cnt_p99
  FROM ordered o CROSS JOIN tot t
),
top_keys AS (
  SELECT key, cnt FROM key_counts ORDER BY cnt DESC, key LIMIT {top_n}
)
SELECT
  k.key,
  k.cnt,
  CAST(k.cnt AS DOUBLE) / t.total_rows AS key_share,
  t.total_rows,
  t.n_keys,
  t.max_cnt,
  CAST(t.max_cnt AS DOUBLE) / t.total_rows AS max_share,
  p.cnt_p50,
  p.cnt_p99,
  CAST(t.max_cnt AS DOUBLE) / p.cnt_p50 AS max_over_median,
  CAST((t.max_cnt * {partitions} + t.total_rows - 1) / t.total_rows AS BIGINT)
    AS rec_salt_buckets
FROM top_keys k CROSS JOIN tot t CROSS JOIN pct p
"""


def _register_skew_report():
    from ..registry import sql_query

    spark_sql = _skew_report_sql().replace(
        "CAST((t.max_cnt * 32 + t.total_rows - 1) / t.total_rows AS BIGINT)",
        "CAST((t.max_cnt * 32 + t.total_rows - 1) DIV t.total_rows AS BIGINT)",
    )
    duck_sql = _skew_report_sql().replace(
        "CAST((t.max_cnt * 32 + t.total_rows - 1) / t.total_rows AS BIGINT)",
        "CAST((t.max_cnt * 32 + t.total_rows - 1) // t.total_rows AS BIGINT)",
    )
    sql_query(
        "q_skew_report",
        spark_sql=spark_sql,
        duck_sql=duck_sql,
        tables=["lineitem"],
        doc=_skew_report_sql.__doc__,
    )


_register_skew_report()


# ---------------------------------------------------------------------------
# Exact distributed quantiles WITHOUT a global sort: sketch-guided bisection.
# ---------------------------------------------------------------------------

_QB_PS = [(50, "p50_cents"), (90, "p90_cents")]


def _exact_quantile_oracle() -> str:
    """kth-smallest (k = ceil(p·n)) via ORDER BY / OFFSET — the textbook
    definition the bisection must reproduce exactly."""
    cols = ",\n  ".join(
        f"""(SELECT v FROM cents ORDER BY v
   LIMIT 1 OFFSET (CAST(ceil(0.{p} * (SELECT n FROM tot)) AS BIGINT) - 1)) AS {alias}"""
        for p, alias in _QB_PS
    )
    return f"""
WITH cents AS (
  SELECT CAST(l_extendedprice * 100 AS BIGINT) AS v FROM lineitem
),
tot AS (SELECT COUNT(*) AS n FROM cents)
SELECT (SELECT n FROM tot) AS n,
  {cols}
"""


def _register_quantile_bisect():
    from ..plans.ckpt import evict_round_checkpoint, round_checkpoint
    from ..registry import df_query
    from ..sources.tables import load_tables

    @df_query(
        "q_exact_quantile_bisect",
        duck_sql=_exact_quantile_oracle(),
        tables=["lineitem"],
        doc="EXACT p50/p90 of l_extendedprice (as integer cents) with NO "
        "global sort: 256-ary value-domain bisection finds the exact "
        "kth-smallest (k = ceil(p·n)) in ceil(log_256(domain)) ≈ 3 passes — "
        "each pass one bucket-count aggregate over a single checkpointed "
        "column (≤256 groups, map-side partials, ≤256-row collect: the "
        "bounded driver-scalar pattern of the CC convergence probe), after "
        "which the bracket snaps to the winning bucket's exact MIN/MAX so "
        "sparse domains collapse even faster. A global ORDER BY at 100 TB "
        "shuffles the whole column through a range exchange; this shape "
        "reads it 3 times with ZERO row movement — the classic distributed "
        "selection trade, made exact (no sketch in the loop, so correctness "
        "is self-contained). Oracle: textbook ORDER BY/OFFSET kth-smallest.",
    )
    def q_exact_quantile_bisect(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = load_tables(spark, sf_dir, ["lineitem"])
        vals = round_checkpoint(
            t["lineitem"]
            .select((F.col("l_extendedprice") * 100).cast("bigint").alias("v"))
        )
        row = vals.agg(
            F.count("*").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
        ).collect()[0]
        n = int(row.n)

        out = {"n": n}
        for p, alias in _QB_PS:
            k = -(-p * n // 100)  # ceil(p·n / 100) = rank of the quantile
            lo, hi = int(row.lo), int(row.hi)
            below = 0  # exact count of values < lo (maintained invariant)
            # 256-ary refinement: ceil(log_256(domain)) rounds ≈ 3 for any
            # realistic value domain. Each round: one filtered bucket-count
            # aggregate (≤256 groups, map-side partials), then the bracket
            # snaps to the chosen bucket's MIN/MAX (so a sparse domain
            # collapses faster than the nominal 256x per round).
            while lo < hi:
                width = hi - lo + 1
                rows = (
                    vals.where(F.col("v").between(lo, hi))
                    .groupBy(
                        ((F.col("v") - lo) * 256 / width).cast("bigint").alias("b")
                    )
                    .agg(
                        F.count("*").alias("c"),
                        F.min("v").alias("bmin"),
                        F.max("v").alias("bmax"),
                    )
                    .collect()
                )
                cum = below
                for r in sorted(rows, key=lambda r: r.b):
                    if cum + r.c >= k:
                        lo, hi, below = int(r.bmin), int(r.bmax), cum
                        break
                    cum += int(r.c)
            out[alias] = lo
        # The result is a driver-side literal: the column is dead.
        evict_round_checkpoint(vals)
        return spark.createDataFrame(
            [tuple(out[c] for c in ["n"] + [a for _, a in _QB_PS])],
            "n bigint, " + ", ".join(f"{a} bigint" for _, a in _QB_PS),
        )


_register_quantile_bisect()


# ---------------------------------------------------------------------------
# Global dense IDs WITHOUT a single-partition window — two-pass offsets.
# ---------------------------------------------------------------------------


def _register_dense_ids():
    from ..plans.ckpt import register_run_checkpoint, round_checkpoint
    from ..registry import df_query
    from ..sources.tables import load_tables

    @df_query(
        "q_dense_ids",
        duck_sql="""
SELECT o_orderkey,
       CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS dense_id
FROM orders
""",
        tables=["orders"],
        doc="Contiguous 0..N-1 surrogate keys in key order WITHOUT the "
        "single-partition ROW_NUMBER() OVER (ORDER BY ...) window that the "
        "plan linter bans for unbounded inputs: range-repartition by key, "
        "sort within partitions, count rows per partition (one tiny "
        "collect, ≤ #partitions rows — the bounded driver-scalar pattern), "
        "then global_id = partition-offset + local ROW_NUMBER, with the "
        "offset map broadcast back. The range partitioner's sampled "
        "boundaries are nondeterministic, but the OUTPUT is not: offsets "
        "are computed from whatever boundaries were drawn, so the id of a "
        "row depends only on its rank in the total order — the oracle's "
        "global ROW_NUMBER proves it. This is the classic zipWithIndex "
        "two-pass, kept in the DataFrame API; at 100 TB it is the only "
        "shape that assigns contiguous ids at all (a global window would "
        "serialize the entire table through one task).",
    )
    def q_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import Window

        t = load_tables(spark, sf_dir, ["orders"])
        # Pin the sampled range boundaries: the count pass and the id pass
        # must see the SAME partitioning.
        parts = register_run_checkpoint(round_checkpoint(
            t["orders"]
            .select("o_orderkey")
            .repartitionByRange(32, "o_orderkey")
            .sortWithinPartitions("o_orderkey")
            .withColumn("pid", F.spark_partition_id())
        ))
        counts = {
            int(r.pid): int(r.c)
            for r in parts.groupBy("pid").agg(F.count("*").alias("c")).collect()
        }
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off = F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
        )
        w = Window.partitionBy("pid").orderBy("o_orderkey")
        return parts.select(
            "o_orderkey",
            (off[F.col("pid")] + F.row_number().over(w) - 1)
            .cast("bigint")
            .alias("dense_id"),
        )


_register_dense_ids()


# ---------------------------------------------------------------------------
# Rendezvous (HRW) hashing — shard routing with minimal-movement resize.
# ---------------------------------------------------------------------------


def _rendezvous_sql(d) -> str:
    """Highest-random-weight shard assignment under 8 shards vs 9: each doc
    goes to argmax over shards of md5(doc ':' shard). HRW's guarantee —
    growing the ring moves ONLY the keys whose new-shard weight wins, i.e.
    an expected 1/9 of keys, all INTO the new shard — falls out of the
    algebra and is reported per source shard (and pinned in
    tests/test_scale.py)."""
    h = d.md5_int32(
        f"concat({d.to_str('doc_id')}, ':', {d.to_str('s.shard')})"
    )
    w8 = ", ".join(f"({i})" for i in range(8))
    w9 = ", ".join(f"({i})" for i in range(9))
    return f"""
WITH a8 AS (
  SELECT doc_id, shard FROM (
    SELECT doc_id, s.shard, {h} AS w,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY {h} DESC, s.shard)
             AS rnk
    FROM documents CROSS JOIN (VALUES {w8}) AS s(shard)
  ) x WHERE rnk = 1
),
a9 AS (
  SELECT doc_id, shard FROM (
    SELECT doc_id, s.shard, {h} AS w,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY {h} DESC, s.shard)
             AS rnk
    FROM documents CROSS JOIN (VALUES {w9}) AS s(shard)
  ) x WHERE rnk = 1
)
SELECT a8.shard AS shard_8,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN a9.shard <> a8.shard THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved,
       CAST(SUM(CASE WHEN a9.shard <> a8.shard AND a9.shard <> 8
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_elsewhere
FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id
GROUP BY a8.shard
"""


def _register_rendezvous():
    from ..functions.detsql import DUCK, SPARK
    from ..registry import sql_query

    sql_query(
        "q_rendezvous_shards",
        spark_sql=_rendezvous_sql(SPARK),
        duck_sql=_rendezvous_sql(DUCK),
        tables=["documents"],
        doc="Rendezvous (highest-random-weight) hashing — the shard router "
        "that, unlike mod-N, reshards with MINIMAL movement: doc → argmax "
        "over shards of md5(doc:shard). The query assigns under 8 and 9 "
        "shards and reports per-shard movement; n_moved_elsewhere = 0 "
        "(every moved key lands in the NEW shard) is the HRW guarantee, "
        "asserted in tests/test_scale.py along with the ~1/9 expected "
        "movement fraction. Plan: constant 8/9-row shard grids fan out "
        "over the corpus scan (whitelisted bnlj), argmax via a doc-keyed "
        "window on the same exchange, one join on doc_id, 8-group "
        "aggregate. Integer md5 algebra — both engines agree exactly.",
    )


_register_rendezvous()


# ---------------------------------------------------------------------------
# Bloom-filter join pruning — sideways information passing, made explicit.
# ---------------------------------------------------------------------------

#: m bits across 32-bit words; k=3 independent hashes (a, b) over P.
_BLOOM_M = 8192
_BLOOM_P = 1000003
_BLOOM_SEEDS = [(7919, 1299709), (104729, 15485863), (130363, 32452843)]


def _bloom_prune_sql(d) -> str:
    """Runtime-filter semantics as explicit relational algebra: build an
    m-bit Bloom filter over the selective dim-side join keys (EUROPE
    suppliers), probe every fact row (lineitem.l_suppkey) with k=3 word
    lookups against the 256-row filter table, and report how many fact
    rows the filter admits vs the exact semi-join truth. This is what
    Spark's own runtime bloom (spark.sql.optimizer.runtime.bloomFilter)
    and the bit-vector sideways pass in classic MPP engines do under the
    hood — here it is observable and oracle-checked.

    Exactness: hash positions, word packing and bit tests are all integer
    arithmetic (POWER(2, i) is exact in doubles for i<=31, then CAST);
    bit_or is the packing aggregate in both engines. false_negatives is a
    structural invariant (always 0 — Bloom filters never drop a true
    match) asserted as an output column.

    Scale shape: the filter table is 256 words (~2 KB) — broadcast into
    THREE map-side LEFT joins on the probe; no shuffle touches the fact
    table at all (the plan is scan -> 3 broadcast lookups -> scalar agg).
    The dim-side build is one small aggregation. At 1000 executors the
    probe stays embarrassingly parallel; only the 2 KB filter moves."""
    idiv = d.idiv
    h = {}
    for j, (a, b) in enumerate(_BLOOM_SEEDS):
        h[j] = f"(({a} * key + {b}) % {_BLOOM_P}) % {_BLOOM_M}"
    pos_union = "\nUNION ALL\n".join(
        f"SELECT {idiv(h[j], '32')} AS w, CAST(POWER(2, ({h[j]}) % 32) AS BIGINT) AS v"
        f" FROM dimkeys" for j in range(len(_BLOOM_SEEDS))
    )
    probe_hits = " + ".join(
        f"(CASE WHEN b{j}.wv IS NOT NULL AND"
        f" ({idiv('b' + str(j) + '.wv', f'CAST(POWER(2, h{j} % 32) AS BIGINT)')} % 2) = 1"
        f" THEN 1 ELSE 0 END)"
        for j in range(len(_BLOOM_SEEDS))
    )
    joins = "\n  ".join(
        f"LEFT JOIN bloom b{j} ON {idiv(f'p.h{j}', '32')} = b{j}.w"
        for j in range(len(_BLOOM_SEEDS))
    )
    hcols = ",\n         ".join(
        f"(({a} * l_suppkey + {b}) % {_BLOOM_P}) % {_BLOOM_M} AS h{j}"
        for j, (a, b) in enumerate(_BLOOM_SEEDS)
    )
    k = len(_BLOOM_SEEDS)
    return f"""
WITH dimkeys AS (
  SELECT DISTINCT CAST(s.s_suppkey AS BIGINT) AS key
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
bloom AS (
  SELECT w, BIT_OR(v) AS wv FROM ({pos_union}) pos GROUP BY w
),
probe AS (
  SELECT CAST(l_suppkey AS BIGINT) AS key,
         {hcols}
  FROM lineitem
),
tested AS (
  -- BROADCAST: the filter table is 256 words and dimkeys ~N_suppliers/5;
  -- without the hint Catalyst's derived-size estimate can pick a
  -- sort-merge join and shuffle the whole fact side once per lookup.
  SELECT /*+ BROADCAST(b0), BROADCAST(b1), BROADCAST(b2) */ p.key,
         CASE WHEN ({probe_hits}) = {k} THEN 1 ELSE 0 END AS pass
  FROM probe p
  {joins}
),
labeled AS (
  SELECT /*+ BROADCAST(dk) */
         t.pass, CASE WHEN dk.key IS NOT NULL THEN 1 ELSE 0 END AS truth
  FROM tested t LEFT JOIN dimkeys dk ON t.key = dk.key
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_fact,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM dimkeys) AS n_dim_keys,
       CAST(SUM(pass) AS BIGINT) AS n_pass_bloom,
       CAST(SUM(truth) AS BIGINT) AS n_true_match,
       CAST(SUM(CASE WHEN truth = 1 AND pass = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS false_negatives,
       CAST(SUM(CASE WHEN pass = 1 AND truth = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS false_positives,
       CAST({d.idiv(
           'SUM(CASE WHEN pass = 1 AND truth = 0 THEN 1 ELSE 0 END) * 1000000',
           'GREATEST(COUNT(*) - SUM(truth), 1)')} AS BIGINT) AS fp_rate_ppm,
       CAST({d.idiv('(COUNT(*) - SUM(pass)) * 1000000', 'COUNT(*)')} AS BIGINT)
         AS pruned_ppm
FROM labeled
"""


def _register_bloom_prune():
    from ..functions.detsql import DUCK, SPARK
    from ..registry import sql_query

    sql_query(
        "q_bloom_prune",
        spark_sql=_bloom_prune_sql(SPARK),
        duck_sql=_bloom_prune_sql(DUCK),
        tables=["lineitem", "supplier", "nation", "region"],
        doc="Bloom-filter join pruning audit: an 8192-bit k=3 filter built "
        "over EUROPE supplier keys, probed by every lineitem via three "
        "map-side lookups against the 256-word filter table (broadcast, "
        "~2 KB — the explicit form of Spark's runtime bloom-filter join "
        "and MPP sideways information passing). Reports rows admitted vs "
        "the exact semi-join truth, the false-positive rate among true "
        "non-matches, and the fraction of the fact scan the filter would "
        "prune before an expensive join; false_negatives is asserted 0 "
        "(the Bloom guarantee) both here and in tests/test_scale.py. All-"
        "integer hash/pack/test algebra — bit-identical across engines.",
    )


_register_bloom_prune()

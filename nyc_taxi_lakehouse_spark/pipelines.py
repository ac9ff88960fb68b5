"""Batch ETL pipelines — the reference's Airflow DAG flows as plain functions.

Each reference DAG becomes a composable function over the lakehouse layer
(SURVEY §3.1-3.2 lifecycle, minus the orchestrator):

- ingest_facts        = nyc_taxi_iceberg_etl: high-watermark incremental read
                        → cleaning chain → partitioned append → control update
                        (nyc_taxi_to_iceberg.py:84-143, nyc_taxi_iceberg_etl.py:46-82)
- refresh_mart        = comprehensive_analytics refresh idiom: DELETE recent
                        partitions + re-append (comprehensive_analytics.py:207-213)
- build_daily_summary = CTAS daily summary (nyc_taxi_to_iceberg.py:165-184)
- run_quality_gates   = the DAG validation tasks (nyc_taxi_iceberg_etl.py:173-192)

All operate on the testdata star schema (lineitem as the fact). Partition
column is the derived ship year-month — the reference's (year, month) identity
partitioning (nyc_taxi_to_iceberg.py:65), which at 100 TB bounds every
refresh/delete to the touched months.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .lake import ControlTable, LakeTable, validate_columns, validate_non_empty
from .scratch import memoized, scratch_dir
from .sources.tables import load_tables

CLEAN_REQUIRED = ["order_key", "l_quantity", "l_extendedprice", "l_shipdate"]


def clean_facts(raw: DataFrame) -> DataFrame:
    """The reference cleaning chain (nyc_taxi_to_iceberg.py:91-136): P1
    multi-predicate filter, P2 renames, P3 derived partition cols, P4
    projection."""
    return (
        raw.filter(
            F.col("l_shipdate").isNotNull()
            & F.col("l_returnflag").isNotNull()
            & (F.col("l_quantity") > 0)
            & (F.col("l_extendedprice") > 0)
            & F.col("l_discount").between(0, 0.1)
        )
        .withColumnRenamed("l_orderkey", "order_key")
        .withColumnRenamed("l_partkey", "part_key")
        .withColumn("ship_year", F.year("l_shipdate"))
        .withColumn("ship_month", F.month("l_shipdate"))
        .withColumn("load_date", F.current_date())
        .select(
            "order_key",
            "part_key",
            "l_suppkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
            "ship_year",
            "ship_month",
            "load_date",
        )
    )


def ingest_facts(
    spark: SparkSession,
    sf_dir: str,
    table: LakeTable,
    control: ControlTable | None = None,
    source_name: str = "lineitem",
) -> int:
    """Incremental fact ingest with high-watermark bookkeeping.

    Only rows with l_shipdate strictly above the stored watermark are
    ingested (nyc_taxi_iceberg_etl.py:46-82's control-table pattern); the
    watermark advances to the batch max afterwards. The shipdate predicate
    reaches the parquet scan (PushedFilters) so re-runs scan nothing new.
    The row count and the new watermark ride the append's write job as one
    Observation, so the source is read once. An empty increment appends no
    rows, returns 0 and leaves the watermark as it was; its write job still
    runs, and on an unpartitioned table Spark leaves one zero-row file.
    """
    raw = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    wm = control.get_watermark(source_name) if control else None
    if wm:
        raw = raw.filter(F.col("l_shipdate") > F.lit(wm))
    cleaned = clean_facts(raw)
    validate_columns(cleaned, CLEAN_REQUIRED, "facts")
    obs = Observation()
    table.append(
        cleaned.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.max(F.col("l_shipdate").cast("string")).alias("watermark"),
        )
    )
    batch = obs.get
    if batch["rows"] == 0:
        return 0
    if control:
        control.set_watermark(source_name, batch["watermark"])
    return batch["rows"]


def build_daily_summary(spark: SparkSession, table: LakeTable, out: LakeTable) -> DataFrame:
    """CTAS daily summary (nyc_taxi_to_iceberg.py:165-184): full rebuild of a
    small rollup — the matview pattern (scheduled CTAS, SURVEY §2.1 S8)."""
    df = (
        table.read()
        .groupBy(F.col("l_shipdate").cast("string").alias("ship_date"))
        .agg(
            F.count("*").alias("line_count"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,2)"))
            .cast("double")
            .alias("total_price"),
            F.max("l_quantity").alias("max_qty"),
        )
    )
    # CREATE OR REPLACE: full overwrite of the small summary table.
    df.write.mode("overwrite").parquet(out.path)
    return out.read()


def refresh_mart(
    mart: LakeTable, fresh: DataFrame, months: list[tuple[int, int]]
) -> None:
    """The reference's idempotent DELETE-recent + append refresh
    (comprehensive_analytics.py:207-213) bounded to the given (year, month)
    partitions — only those partitions rewrite."""
    pred = " OR ".join(
        f"(ship_year = {y} AND ship_month = {m})" for y, m in months
    )
    mart.refresh_where(fresh, pred)


def run_quality_gates(df: DataFrame, required: list[str]) -> dict:
    """DAG validation tasks (nyc_taxi_iceberg_etl.py:173-192): non-empty +
    column presence + null profile in one report."""
    from .lake import null_profile

    n = validate_non_empty(df, "facts")
    validate_columns(df, required, "facts")
    return {"rows": n, "null_pct": null_profile(df, required)}


# --- Incremental mart maintenance, oracle-gated --------------------------

_INC_SPLIT = "1998-01-01"  # mid-corpus high-watermark for the two increments


def _month_rollup(facts: LakeTable, months: list[tuple[int, int]]) -> DataFrame:
    """Per-(month, returnflag) revenue rollup restricted to the given
    months — the partition-bounded recompute side of the refresh."""
    pred = " OR ".join(f"(ship_year = {y} AND ship_month = {m})" for y, m in months)
    return (
        facts.read()
        .filter(pred)
        .groupBy("ship_year", "ship_month", "l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def _touched_months(df: DataFrame) -> list[tuple[int, int]]:
    return [
        (r.ship_year, r.ship_month)
        for r in df.select("ship_year", "ship_month").distinct().collect()
    ]


from .functions.detsql import dsum  # noqa: E402
from .registry import df_query  # noqa: E402


@df_query(
    "q_incremental_rollup",
    duck_sql=f"""
SELECT
  CAST(year(l_shipdate) AS INT) AS ship_year,
  CAST(month(l_shipdate) AS INT) AS ship_month,
  l_returnflag,
  COUNT(*) AS n_lines,
  {dsum('l_extendedprice')} AS revenue
FROM lineitem
WHERE l_shipdate IS NOT NULL AND l_returnflag IS NOT NULL
  AND l_quantity > 0 AND l_extendedprice > 0
  AND l_discount BETWEEN 0 AND 0.1
GROUP BY 1, 2, 3
""",
    tables=["lineitem"],
    doc="Incremental materialized-view maintenance through the oracle gate: "
    "the monthly revenue mart is built in TWO increments — batch 1 ingests "
    "facts up to the high watermark, batch 2 runs the real control-table "
    "path (ingest_facts filters l_shipdate > stored watermark; the "
    "predicate reaches the parquet scan) — and after each ingest only the "
    "touched (year, month) partitions of the mart are recomputed and "
    "swapped (refresh_mart -> delete_where + append, dynamic partition "
    "overwrite). Oracle = the single-pass full rollup: a green row proves "
    "increment 2 neither re-scanned nor disturbed increment 1's partitions "
    "yet the final mart equals the from-scratch build — the reference's "
    "scheduled-mart idiom (comprehensive_analytics.py:207-213) made "
    "incrementally correct.",
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    raw = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    root = scratch_dir(spark, "incremental", sf_dir, ["lineitem"])
    facts = LakeTable(spark, os.path.join(root, "facts"), ["ship_year", "ship_month"])
    mart = LakeTable(spark, os.path.join(root, "mart"), ["ship_year", "ship_month"])

    def build(_root: str) -> None:
        control = ControlTable(spark, os.path.join(root, "ctrl"))
        # Increment 1: history up to the watermark.
        batch1 = clean_facts(raw.filter(F.col("l_shipdate") <= F.lit(_INC_SPLIT)))
        facts.append(batch1)
        months1 = _touched_months(batch1)
        refresh_mart(mart, _month_rollup(facts, months1), months1)
        control.set_watermark("lineitem", _INC_SPLIT)
        # Increment 2: the genuine control-table path — ingest_facts reads
        # the watermark and appends ONLY the newer rows.
        n2 = ingest_facts(spark, sf_dir, facts, control)
        # Not an assert: stripped under `python -O`, a broken watermark
        # would then silently publish a mart missing increment 2 instead
        # of failing fast (ADVICE r06 precondition class, spatial.py fix).
        if n2 <= 0:
            raise RuntimeError(
                "incremental ingest found no rows past the watermark "
                f"{_INC_SPLIT!r} — control-table watermark is corrupt"
            )
        batch2 = facts.read().filter(F.col("l_shipdate") > F.lit(_INC_SPLIT))
        months2 = _touched_months(batch2)
        refresh_mart(mart, _month_rollup(facts, months2), months2)

    memoized(root, build)
    return mart.read().select(
        "ship_year", "ship_month", "l_returnflag", "n_lines", "revenue"
    )


def observed_clean_facts(raw: DataFrame):
    """clean_facts instrumented with DataFrame.observe(): named metrics
    (rows kept, quantity total, null keys seen) accumulate DURING the next
    action with zero extra passes — the batch observability API that
    replaces the "run an extra count query" anti-pattern. Returns the
    observed frame and the pyspark.sql.Observation handle; ``obs.get``
    yields the metrics dict after any action (tests/test_pipelines.py),
    or a QueryExecutionListener collects them in production."""
    name = Observation("ingest_metrics")
    cleaned = clean_facts(raw)
    observed = cleaned.observe(
        name,
        F.count(F.lit(1)).alias("rows_kept"),
        F.sum(F.col("l_quantity").cast("decimal(28,2)")).alias("qty_total"),
        F.sum(
            F.when(F.col("order_key").isNull(), 1).otherwise(0)
        ).alias("null_keys"),
    )
    return observed, name

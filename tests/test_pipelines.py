"""End-to-end batch ETL pipeline lifecycle (SURVEY §3.1-3.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_lakehouse_spark.lake import ControlTable, LakeTable, ValidationError
from nyc_taxi_lakehouse_spark.pipelines import (
    build_daily_summary,
    clean_facts,
    ingest_facts,
    refresh_mart,
    run_quality_gates,
)
from nyc_taxi_lakehouse_spark.sources.tables import load_tables

from .conftest import SF_DIR, spark_jobs

SF = "/root/testdata/sf0.001"


def test_ingest_incremental_watermark(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "facts"), ["ship_year", "ship_month"])
    control = ControlTable(spark, str(tmp_path / "ctrl"))

    n1 = ingest_facts(spark, SF, table, control)
    assert n1 > 0
    assert table.read().count() == n1
    # Watermark now at max shipdate → rerun ingests nothing (idempotent).
    n2 = ingest_facts(spark, SF, table, control)
    assert n2 == 0
    assert table.read().count() == n1
    # Partition layout: identity (year, month) directories exist.
    import os

    parts = [d for d in os.listdir(table.path) if d.startswith("ship_year=")]
    assert parts, "expected identity partition directories"


def test_ingest_reads_its_source_once(spark, tmp_path):
    """The row count and the new watermark ride the append's write job: on
    a fresh table, ingest_facts reads the watermark, writes the batch and
    advances the watermark, one job each."""
    load_tables(spark, SF, ["lineitem"])  # the source's schema is memoized
    table = LakeTable(spark, str(tmp_path / "facts"), ["ship_year", "ship_month"])
    control = ControlTable(spark, str(tmp_path / "ctrl"))
    control.set_watermark("lineitem", "1996-01-01")

    n, jobs, _ = spark_jobs(spark, lambda: ingest_facts(spark, SF, table, control))
    assert jobs <= 3
    batch = clean_facts(spark.read.parquet(f"{SF}/lineitem.parquet")).filter(
        F.col("l_shipdate") > F.lit("1996-01-01")
    )
    want = batch.agg(
        F.count(F.lit(1)), F.max(F.col("l_shipdate").cast("string"))
    ).first()
    assert n == want[0] == table.read().count()
    assert control.get_watermark("lineitem") == want[1]


def test_ingest_into_live_table_runs_three_jobs(spark, tmp_path):
    """On a table that already holds rows, ingest_facts still runs one job
    each to read the watermark, write the batch and advance the watermark:
    the append checks the batch against the committed schema, so no
    schema-inference job reads the table's files (sf0.01: more live files
    than Spark's 32-path parallel-listing threshold)."""
    load_tables(spark, SF_DIR, ["lineitem"])
    table = LakeTable(spark, str(tmp_path / "facts"), ["ship_year", "ship_month"])
    control = ControlTable(spark, str(tmp_path / "ctrl"))
    cleaned = clean_facts(spark.read.parquet(f"{SF_DIR}/lineitem.parquet"))
    table.append(cleaned.filter(F.col("l_shipdate") <= F.lit("1998-01-01")))
    assert len(table._snapshot().files) > 32
    control.set_watermark("lineitem", "1998-01-01")

    n, jobs, _ = spark_jobs(spark, lambda: ingest_facts(spark, SF_DIR, table, control))
    assert jobs <= 3
    assert n > 0 and table.read().count() == cleaned.count()


def test_refresh_live_mart_is_one_write(spark, tmp_path):
    """Refreshing every month of a live mart (sf0.01: more months than
    Spark's 32-path parallel-listing threshold) is one replace_where
    commit: the months leave the manifest without a scan, the fresh rows
    may read the mart itself, and no staging copy of them is made."""
    facts = LakeTable(spark, str(tmp_path / "facts"), ["ship_year", "ship_month"])
    ingest_facts(spark, SF_DIR, facts)
    months = [
        (r.ship_year, r.ship_month)
        for r in facts.read().select("ship_year", "ship_month").distinct().collect()
    ]
    assert len(months) > 32
    mart = LakeTable(spark, str(tmp_path / "mart"), ["ship_year", "ship_month"])
    refresh_mart(mart, facts.read(), months)  # a fresh mart: an append
    n = facts.read().count()
    bumped = mart.read().withColumn("l_quantity", F.col("l_quantity") + 1000)

    _, jobs, _ = spark_jobs(spark, lambda: refresh_mart(mart, bumped, months))
    assert jobs <= 4
    got = mart.read()
    assert got.count() == n
    assert got.filter(F.col("l_quantity") <= 1000).count() == 0
    assert [h["op"] for h in mart.history()] == ["append", "replace_where"]


def test_daily_summary_ctas(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "facts"), ["ship_year", "ship_month"])
    ingest_facts(spark, SF, table)
    out = LakeTable(spark, str(tmp_path / "summary"))
    summary = build_daily_summary(spark, table, out)
    assert summary.count() > 0
    # Rebuild (CREATE OR REPLACE) does not duplicate.
    c1 = summary.count()
    summary = build_daily_summary(spark, table, out)
    assert summary.count() == c1
    # total_price matches a direct aggregate of the lake table.
    direct = (
        table.read()
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(28,2)")).cast("double"))
        .collect()[0][0]
    )
    via_summary = summary.agg(F.sum("total_price")).collect()[0][0]
    assert abs(direct - via_summary) < 1e-6 * max(1.0, abs(direct))


def test_refresh_mart_idempotent(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "facts"), ["ship_year", "ship_month"])
    ingest_facts(spark, SF, table)
    months = [
        (r.ship_year, r.ship_month)
        for r in table.read().select("ship_year", "ship_month").distinct().collect()
    ][:2]
    def make_fresh():
        # Re-derived per run, as a scheduled job would.
        return table.read().filter(
            " OR ".join(f"(ship_year = {y} AND ship_month = {m})" for y, m in months)
        ).withColumn("l_quantity", F.col("l_quantity") + 1000)

    before_other = (
        table.read()
        .filter(
            "NOT ("
            + " OR ".join(f"(ship_year = {y} AND ship_month = {m})" for y, m in months)
            + ")"
        )
        .count()
    )
    n_fresh = make_fresh().count()
    refresh_mart(table, make_fresh(), months)
    # Second run recomputes from the refreshed table: quantities already
    # bumped rows get re-selected and re-replaced — same row count.
    refresh_mart(table, make_fresh(), months)
    got = table.read()
    assert got.filter(F.col("l_quantity") > 1000).count() == n_fresh
    assert (
        got.filter(
            "NOT ("
            + " OR ".join(f"(ship_year = {y} AND ship_month = {m})" for y, m in months)
            + ")"
        ).count()
        == before_other
    )


def test_quality_gates(spark, tmp_path):
    raw = spark.read.parquet(f"{SF}/lineitem.parquet")
    report = run_quality_gates(clean_facts(raw), ["order_key", "l_quantity"])
    assert report["rows"] > 0
    assert report["null_pct"]["order_key"] == 0.0
    with pytest.raises(ValidationError):
        run_quality_gates(clean_facts(raw).filter("1=0"), ["order_key"])


def test_observe_metrics_accumulate_during_action(spark):
    """DataFrame.observe(): ingest metrics accumulate in the SAME pass as
    the action (no second scan) and match an independent recount."""
    from pyspark.sql import functions as F

    from nyc_taxi_lakehouse_spark.pipelines import clean_facts, observed_clean_facts

    raw = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    observed, obs = observed_clean_facts(raw)
    n = observed.count()  # the one action; metrics ride along
    row = obs.get
    assert row["rows_kept"] == n
    expect = clean_facts(raw).agg(
        F.sum(F.col("l_quantity").cast("decimal(28,2)")).alias("q")
    ).collect()[0].q
    assert row["qty_total"] == expect
    assert row["null_keys"] == 0


def test_incremental_rollup_fails_fast_on_empty_increment(
    spark, monkeypatch, tmp_path
):
    """The increment-2 row-count precondition must raise (not assert —
    stripped under `python -O`): with the split watermark pushed past the
    corpus max shipdate, ingest_facts finds nothing newer and the rollup
    must fail fast instead of publishing a mart missing increment 2."""
    from nyc_taxi_lakehouse_spark import pipelines, scratch
    from nyc_taxi_lakehouse_spark.registry import all_queries

    monkeypatch.setattr(pipelines, "_INC_SPLIT", "2999-01-01")
    # The content-keyed scratch dir would collide with the real run (and
    # its marker would short-circuit the build); give the poisoned run its
    # own scratch root.
    monkeypatch.setattr(scratch, "scratch_root", lambda _: str(tmp_path))
    with pytest.raises(RuntimeError, match="watermark"):
        all_queries()["q_incremental_rollup"].fn(
            spark, "/root/testdata/sf0.001"
        ).count()

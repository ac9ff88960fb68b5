"""S11 SQL DDL surface: CREATE DATABASE / CREATE TABLE ... USING parquet
PARTITIONED BY ... TBLPROPERTIES and catalog append
(reference nyc_taxi_to_iceberg.py:37-71)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_lakehouse_spark.catalog import create_database, create_table


@pytest.fixture
def trips_table(spark, tmp_path):
    create_database(spark, "taxi_test")
    t = create_table(
        spark,
        "taxi_test.trips",
        "trip_id BIGINT, fare DOUBLE, year INT, month INT",
        partition_by=["year", "month"],
        properties={"write.format.default": "parquet", "write.parquet.compression-codec": "zstd"},
        location=str(tmp_path / "trips"),
    )
    yield t
    t.drop()
    spark.sql("DROP DATABASE IF EXISTS taxi_test")


def test_create_append_query(spark, trips_table, tmp_path):
    df = spark.createDataFrame(
        [(1, 10.0, 2024, 1), (2, 20.0, 2024, 1), (3, 30.0, 2024, 2)],
        "trip_id bigint, fare double, year int, month int",
    )
    # append re-orders by name: feed it a shuffled column order.
    trips_table.append(df.select("fare", "month", "trip_id", "year"))

    out = spark.table("taxi_test.trips")
    assert out.count() == 3
    assert {r.trip_id for r in out.filter("month = 1").collect()} == {1, 2}

    # Partition layout is real (year=/month= dirs) and pruning applies.
    assert (tmp_path / "trips" / "year=2024" / "month=2").is_dir()
    plan = out.filter("year = 2024 AND month = 2")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "month" in plan

    # Idempotent DDL: re-issuing CREATE TABLE IF NOT EXISTS is a no-op.
    again = create_table(
        spark,
        "taxi_test.trips",
        "trip_id BIGINT, fare DOUBLE, year INT, month INT",
        partition_by=["year", "month"],
        location=str(tmp_path / "trips"),
    )
    assert again.df().count() == 3


def test_tblproperties_roundtrip(spark, trips_table):
    props = {
        r.key: r.value
        for r in spark.sql("SHOW TBLPROPERTIES taxi_test.trips").collect()
    }
    assert props.get("write.format.default") == "parquet"
    assert props.get("write.parquet.compression-codec") == "zstd"


def test_ddl_string_values_escaped(spark, tmp_path):
    """Comments / properties containing single quotes must not break (or
    inject into) the generated DDL."""
    from nyc_taxi_lakehouse_spark.catalog import create_database, create_table

    create_database(spark, "esc_db", comment="driver's catalog; don't break")
    tbl = create_table(
        spark,
        "esc_db.esc_t",
        "id BIGINT, v DOUBLE",
        location=str(tmp_path / "esc't"),
        comment="it's quoted",
        properties={"owner's note": "o'brien"},
    )
    props = {
        r.key: r.value
        for r in spark.sql("SHOW TBLPROPERTIES esc_db.esc_t").collect()
    }
    assert props.get("owner's note") == "o'brien"
    tbl.drop()
    spark.sql("DROP DATABASE IF EXISTS esc_db CASCADE")


def test_secure_view_masks_filters_and_pushes_down(spark):
    """Row/column security views: the masked column is irreversibly
    replaced, filtered rows are gone for every reader, dropped columns are
    absent — and the row filter reaches the parquet scan (views inline, so
    governance costs what a hand-written predicate costs)."""
    from nyc_taxi_lakehouse_spark.catalog import create_secure_view
    from nyc_taxi_lakehouse_spark.sources.tables import load_tables

    load_tables(spark, "/root/testdata/sf0.001", ["events"])
    create_secure_view(
        spark,
        "events_secure",
        "events",
        masked_cols={"user_id": "CAST(md5(CAST(user_id AS STRING)) AS STRING)"},
        row_filter="event_type <> 'error'",
        drop_cols=["props"],
        temporary=True,
    )
    sec = spark.table("events_secure")
    assert "props" not in sec.columns
    assert sec.where("event_type = 'error'").count() == 0
    raw = spark.table("events")
    assert sec.count() == raw.where("event_type <> 'error'").count()
    # masked: same column name, md5 strings, none equal to a raw id
    row = sec.select("user_id").first()
    assert isinstance(row.user_id, str) and len(row.user_id) == 32
    # pushdown THROUGH the view: the filter appears at the file scan
    plan = sec._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "error" in plan  # the literal reached the scan's filter list
    spark.catalog.dropTempView("events_secure")

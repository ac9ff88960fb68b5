"""Schema evolution exercised end-to-end through the oracle gate.

The reference appends with merge-schema enabled
(nyc_taxi_to_iceberg.py:141-143: writeTo(...).option("mergeSchema","true")),
relying on the table format to serve old files with NULLs for later-added
columns. The lake table implements that contract over plain parquet: the
union schema is part of the append's commit, and every read applies the
snapshot's schema; tests/test_lake.py pins the mechanics. This query runs
the WHOLE round trip as a driver-checkable operator:

  batch 1 (even order keys, original columns) → append
  batch 2 (odd order keys, + priority_class column) → append(merge_schema=True)
  read() → union schema, old files' missing column read as NULL

The DuckDB oracle reproduces the expected union with an explicit NULL fill —
so a green row proves the snapshot-applied read schema, the NULL fill for
pre-evolution files, and partition-column round-tripping (the lake table is
partitioned by o_orderstatus) all at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake import LakeTable
from ..registry import df_query
from ..scratch import memoized, scratch_dir
from ..sources.tables import load_tables

@df_query(
    "q_schema_evolution",
    duck_sql="""
SELECT o_orderkey, o_custkey, o_totalprice,
       CAST(NULL AS VARCHAR) AS priority_class,
       o_orderstatus
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice,
       substr(o_orderpriority, 1, 1) AS priority_class,
       o_orderstatus
FROM orders WHERE o_orderkey % 2 = 1
""",
    tables=["orders"],
    doc="Merge-schema append round trip (reference "
    "nyc_taxi_to_iceberg.py:141-143): even-keyed orders land with the "
    "original schema, odd-keyed orders append an extra priority_class "
    "column under merge_schema=True, and the table read-back must serve "
    "the union schema with NULLs for pre-evolution files. Oracle = the "
    "same union with explicit NULL fill. Partitioned by o_orderstatus so "
    "partition-column round-tripping is covered too.",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    orders = t["orders"]
    path = scratch_dir(spark, "schema_evo", sf_dir, ["orders"])
    table = LakeTable(spark, path, partition_cols=["o_orderstatus"])

    def build(_path: str) -> None:
        base = orders.filter("o_orderkey % 2 = 0").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        evolved = orders.filter("o_orderkey % 2 = 1").select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.substring("o_orderpriority", 1, 1).alias("priority_class"),
            "o_orderstatus",
        )
        table.append(base)
        table.append(evolved, merge_schema=True)

    memoized(path, build)
    return table.read().select(
        "o_orderkey", "o_custkey", "o_totalprice", "priority_class", "o_orderstatus"
    )


@df_query(
    "q_time_travel",
    duck_sql="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
FROM orders
""",
    tables=["orders"],
    doc="Time travel (Delta VERSION AS OF / Iceberg snapshot read — the "
    "reference's tables are Iceberg snapshot trees, SURVEY §1.1): a "
    "versioned lake table is built in three commits (append even keys, "
    "append odd keys, DELETE WHERE o_orderstatus='F'), then VERSION 2 — "
    "the pre-delete snapshot — is read back. Oracle = the FULL orders "
    "table: a green row proves the delete commit left version 2's file "
    "set intact and readable (manifest-pinned scan, no directory "
    "listing), i.e. real snapshot semantics over plain parquet "
    "(nyc_taxi_lakehouse_spark/versioned.py). The latest version would "
    "instead exclude every 'F' row.",
)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..versioned import VersionedLakeTable

    t = load_tables(spark, sf_dir, ["orders"])
    orders = t["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir(spark, "time_travel", sf_dir, ["orders"])
    table = VersionedLakeTable(spark, path, partition_cols=["o_orderstatus"])

    def build(_path: str) -> None:
        table.append(orders.filter("o_orderkey % 2 = 0"))
        table.append(orders.filter("o_orderkey % 2 = 1"))
        table.delete_where("o_orderstatus = 'F'")

    memoized(path, build)
    return table.read(version=2).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


# --- Partition-SPEC evolution through the oracle gate ---------------------

@df_query(
    "q_partition_evolution",
    duck_sql="""
SELECT l_orderkey, l_linenumber, l_quantity,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(month(l_shipdate) AS INT) AS ship_month
FROM lineitem
WHERE month(l_shipdate) = 3
""",
    tables=["lineitem"],
    doc="Partition-spec evolution round trip (Iceberg's metadata-only "
    "repartitioning): era 0 holds even order keys partitioned by "
    "ship_year; the spec then evolves to (ship_year, ship_month) and era "
    "1 receives the odd keys — NO old files rewritten. The read unions "
    "both eras and filters ship_month = 3: era 1 prunes month "
    "DIRECTORIES, era 0 falls back to a pushed data filter (plan-"
    "asserted in tests/test_partevo.py), and the result must equal the "
    "oracle's plain scan of the source — proving the union schema, the "
    "per-era layouts, and the partition-column restoration all at once.",
)
def q_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..partevo import PartitionEvolvingTable

    t = load_tables(spark, sf_dir, ["lineitem"])
    line = t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.year("l_shipdate").cast("int").alias("ship_year"),
        F.month("l_shipdate").cast("int").alias("ship_month"),
    )
    path = scratch_dir(spark, "part_evo", sf_dir, ["lineitem"])
    table = PartitionEvolvingTable(spark, path)

    def build(_path: str) -> None:
        table.set_spec(["ship_year"])
        table.append(line.filter("l_orderkey % 2 = 0"))
        table.set_spec(["ship_year", "ship_month"])
        table.append(line.filter("l_orderkey % 2 = 1"))

    memoized(path, build)
    return table.read().filter("ship_month = 3").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.col("ship_year").cast("int").alias("ship_year"),
        F.col("ship_month").cast("int").alias("ship_month"),
    )

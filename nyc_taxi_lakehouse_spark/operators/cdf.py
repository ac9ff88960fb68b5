"""Change data feed: diff two snapshots of a versioned lake table.

Delta Lake exposes this as ``table_changes`` (CDF) and Iceberg as the
``changelog`` scan — the reference's downstream consumers rely on snapshot
diffs to drive incremental loads (SURVEY §1.1/§3: Iceberg snapshot trees,
nyc_taxi_to_iceberg.py's MERGE-per-batch discipline creates one snapshot per
CDC batch). ``snapshot_diff`` reconstructs the per-key change feed between
any two committed versions of ``versioned.VersionedLakeTable``:

  key only in the newer snapshot            → insert  (post-image)
  key only in the older snapshot            → delete  (NULL post-image)
  key in both with any value column changed → update  (post-image)

Scale shape: one full-outer join keyed on the table's primary key — a single
shuffle on both snapshots, no driver materialization. Value columns are
packed into ONE struct per side so the change classification is a single
null-safe struct comparison instead of N per-column comparisons, and a
genuine NULL inside a value column cannot be confused with "row absent"
(the struct itself is non-NULL whenever the row exists). On a real cluster
both snapshot reads are manifest-pinned parquet scans (versioned.py:138), so
partition pruning and column pruning apply to each side independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import df_query
from ..scratch import memoized, scratch_dir
from ..sources.tables import load_tables
from ..versioned import VersionedLakeTable


def snapshot_diff(
    table: VersionedLakeTable,
    keys: list[str],
    from_version: int,
    to_version: int,
) -> DataFrame:
    """Return the keyed change feed between two snapshots as
    ``(*keys, change_type, *value_cols)`` where value columns carry the
    post-image (NULL for deletes). Requires ``keys`` to be unique within
    each snapshot (the same contract merge_upsert enforces)."""
    old = table.read(from_version)
    new = table.read(to_version)
    # A column added by schema evolution between the two versions exists
    # only in `new` (each snapshot is served with ITS OWN manifest schema):
    # align the old side with explicit NULLs so the struct comparison sees
    # "value appeared" as an update, not an analysis error.
    value_cols = [c for c in new.columns if c not in keys]
    for c in value_cols:
        if c not in old.columns:
            old = old.withColumn(
                c, F.lit(None).cast(new.schema[c].dataType)
            )
    o = old.select(*keys, F.struct(*value_cols).alias("__old"))
    n = new.select(*keys, F.struct(*value_cols).alias("__new"))
    j = o.join(n, on=keys, how="full_outer")
    change = (
        F.when(F.col("__old").isNull(), F.lit("insert"))
        .when(F.col("__new").isNull(), F.lit("delete"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *keys,
            "change_type",
            *[F.col("__new")[c].alias(c) for c in value_cols],
        )
    )


@df_query(
    "q_snapshot_diff",
    duck_sql="""
SELECT o_orderkey, 'insert' AS change_type,
       o_custkey, o_totalprice, o_orderstatus
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT o_orderkey, 'update' AS change_type,
       o_custkey, o_totalprice + 1 AS o_totalprice, o_orderstatus
FROM orders
WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
UNION ALL
SELECT o_orderkey, 'delete' AS change_type,
       CAST(NULL AS BIGINT) AS o_custkey,
       CAST(NULL AS DOUBLE) AS o_totalprice,
       CAST(NULL AS VARCHAR) AS o_orderstatus
FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 = 0
""",
    tables=["orders"],
    doc="Change data feed (Delta table_changes / Iceberg changelog scan; "
    "reference snapshot-per-MERGE discipline, nyc_taxi_to_iceberg.py): a "
    "versioned table is seeded with the non-%3 orders, then one MERGE "
    "commit inserts the %3 keys, bumps o_totalprice by 1 for the %5 keys "
    "and deletes the %7 keys. snapshot_diff(v1, v2) must reproduce exactly "
    "that insert/update/delete feed with post-images (NULLs for deletes). "
    "Oracle = the same classification derived straight from the orders "
    "table. One full-outer join on the key — no driver materialization.",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _build_cdf_table(spark, sf_dir)
    return snapshot_diff(table, keys=["o_orderkey"], from_version=1, to_version=2)


def snapshot_changes(
    table: VersionedLakeTable,
    keys: list[str],
    from_version: int,
    to_version: int,
) -> DataFrame:
    """Delta ``table_changes``-format feed: like :func:`snapshot_diff` but
    updates emit BOTH images (``update_preimage`` carrying the old row and
    ``update_postimage`` the new), and deletes carry their pre-image instead
    of NULLs. This is the form downstream incremental maintenance needs —
    an aggregate can be adjusted by +post −pre without consulting the base
    table. Same single full-outer join; the image fan-out is a map-side
    explode (≤2 rows per changed key, no extra shuffle)."""
    old = table.read(from_version)
    new = table.read(to_version)
    value_cols = [c for c in new.columns if c not in keys]
    for c in value_cols:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
    o = old.select(*keys, F.struct(*value_cols).alias("__old"))
    n = new.select(*keys, F.struct(*value_cols).alias("__new"))
    j = o.join(n, on=keys, how="full_outer")

    def tagged(tag: str, img: str):
        return F.struct(
            F.lit(tag).alias("change_type"), F.col(img).alias("img")
        )

    images = (
        F.when(F.col("__old").isNull(), F.array(tagged("insert", "__new")))
        .when(F.col("__new").isNull(), F.array(tagged("delete", "__old")))
        .when(
            ~F.col("__old").eqNullSafe(F.col("__new")),
            F.array(
                tagged("update_preimage", "__old"),
                tagged("update_postimage", "__new"),
            ),
        )
    )
    ex = (
        j.withColumn("__imgs", images)
        .filter(F.col("__imgs").isNotNull())
        .select(*keys, F.explode("__imgs").alias("__e"))
    )
    return ex.select(
        *keys,
        F.col("__e.change_type").alias("change_type"),
        *[F.col("__e.img")[c].alias(c) for c in value_cols],
    )


def _build_cdf_table(spark: SparkSession, sf_dir: str) -> VersionedLakeTable:
    """The two-version fixture q_snapshot_diff builds (seed + mixed MERGE);
    shared by the change-feed and incremental-maintenance queries."""
    t = load_tables(spark, sf_dir, ["orders"])
    orders = t["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir(spark, "cdf", sf_dir, ["orders"])
    table = VersionedLakeTable(spark, path)

    def build(_path: str) -> None:
        table.append(orders.filter("o_orderkey % 3 <> 0"))
        inserts = orders.filter("o_orderkey % 3 = 0")
        updates = orders.filter(
            "o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0"
        ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        deletes = orders.filter("o_orderkey % 3 <> 0 AND o_orderkey % 7 = 0")
        batch = (
            inserts.withColumn("__del", F.lit(False))
            .unionByName(updates.withColumn("__del", F.lit(False)))
            .unionByName(deletes.withColumn("__del", F.lit(True)))
        )
        table.merge_upsert(batch, keys=["o_orderkey"], delete_col="__del")

    memoized(path, build)
    return table


@df_query(
    "q_cdf_incremental_rollup",
    duck_sql="""
WITH v2 AS (
  SELECT o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderstatus, o_totalprice + 1
  FROM orders
  WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderstatus, o_totalprice
  FROM orders
  WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 0
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
FROM v2
GROUP BY o_orderstatus
""",
    tables=["orders"],
    doc="CDF-driven incremental view maintenance — the capability high-"
    "watermark IVM (q_incremental_rollup) cannot give: a per-status "
    "rollup maintained through a MERGE containing UPDATES and DELETES by "
    "applying the change feed's signed deltas (+postimage, -preimage) to "
    "the version-1 rollup, never rescanning version 2. Exact decimal "
    "delta arithmetic, so incremental == direct recompute bit-for-bit; "
    "the oracle IS the direct recompute of the v2 state. At 100 TB the "
    "maintenance cost is O(|changes|), not O(|table|).",
)
def q_cdf_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _build_cdf_table(spark, sf_dir)
    base = (
        table.read(1)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n0"),
            F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("s0"),
        )
    )
    feed = snapshot_changes(table, ["o_orderkey"], 1, 2)
    sign = F.when(
        F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        feed.withColumn("__sign", sign)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("__sign").alias("nd"),
            F.sum(
                F.col("o_totalprice").cast("decimal(28,2)") * F.col("__sign")
            ).alias("sd"),
        )
    )
    merged = base.join(delta, "o_orderstatus", "full_outer")
    return merged.select(
        "o_orderstatus",
        (F.coalesce("n0", F.lit(0)) + F.coalesce("nd", F.lit(0)))
        .cast("bigint")
        .alias("n_orders"),
        (
            F.coalesce(F.col("s0"), F.lit(0).cast("decimal(28,2)"))
            + F.coalesce(F.col("sd"), F.lit(0).cast("decimal(28,2)"))
        )
        .cast("double")
        .alias("total_price"),
    ).filter(F.col("n_orders") > 0)

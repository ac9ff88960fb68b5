"""Lake tables and the ETL gates around them.

``LakeTable`` is ``versioned.VersionedLakeTable`` under the name the
pipelines use: one table class, whose manifest is the only table metadata
(schema, partitioning, live files, streaming txns). It covers the
reference's table operations (SURVEY §1.4 mapping — on a real cluster each
maps 1:1 onto Delta/Iceberg):

- partitioned append with optional schema merge (reference S7/S11:
  writeTo(...).append() + merge-schema option, nyc_taxi_to_iceberg.py:141-143)
- replace_where = the reference's idempotent DELETE + append refresh in one
  commit (S9: DELETE FROM ... WHERE date-pred then re-append,
  comprehensive_analytics.py:207-213)
- merge_upsert: keyed last-write-wins MERGE (S12: the Kafka→Iceberg sink's
  upsert mode, data-crawler/iceberg-sink-config.json) used by the streaming
  foreachBatch CDC path, with the batch id recorded in the merge's commit.

This module adds what sits beside the table:

- high-watermark control table (reference nyc_taxi_iceberg_etl.py:46-82)
- validation gates (§2.11: non-empty, required columns, null profile —
  nyc_taxi_iceberg_etl.py:177-189)
- schema contracts and the contract-gated ``checked_append``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .versioned import ValidationError, VersionedLakeTable, _nullability_normalized

LakeTable = VersionedLakeTable


class ControlTable:
    """High-watermark bookkeeping (reference nyc_taxi_iceberg_etl.py:46-82).

    One parquet table of ``CONTROL_SCHEMA`` rows, one appended per
    ``set_watermark``; the newest row of a source is its watermark. Reads
    apply the fixed schema, so no schema-inference job runs, and the row
    a write appends is built from Spark expressions over ``spark.range``,
    so no pickled Python row goes through Python workers.
    """

    CONTROL_SCHEMA = "source string, watermark string, updated_at timestamp"

    def __init__(self, spark: SparkSession, path: str):
        from .fs import LakeFS

        self.spark = spark
        self.path = path
        self.fs = LakeFS(spark, path)

    def get_watermark(self, source: str):
        if not self.fs.is_dir(self.path):
            return None
        df = self.spark.read.schema(self.CONTROL_SCHEMA).parquet(self.path)
        row = (
            df.filter(F.col("source") == source)
            .orderBy(F.desc("updated_at"))
            .limit(1)
            .collect()
        )
        return row[0]["watermark"] if row else None

    def set_watermark(self, source: str, watermark) -> None:
        self.spark.range(1, numPartitions=1).select(
            F.lit(source).cast("string").alias("source"),
            F.lit(watermark).cast("string").alias("watermark"),
            F.current_timestamp().alias("updated_at"),
        ).write.mode("append").parquet(self.path)


# ---------------------------------------------------------------------------
# Validation gates (reference §2.11 / §5: pandas asserts inside the DAGs).
# ---------------------------------------------------------------------------


def validate_non_empty(df: DataFrame, name: str = "df") -> int:
    n = df.count()
    if n == 0:
        raise ValidationError(f"{name}: empty result")
    return n


def validate_columns(df: DataFrame, required: list[str], name: str = "df") -> None:
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise ValidationError(f"{name}: missing columns {missing}")


def null_profile(df: DataFrame, columns: list[str] | None = None) -> dict[str, float]:
    """Null percentage per column in one pass (no per-column jobs)."""
    cols = columns or df.columns
    aggs = [
        (F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)) * 100.0 / F.count(F.lit(1))).alias(c)
        for c in cols
    ]
    row = df.agg(*aggs).collect()[0]
    return {c: float(row[c]) for c in cols}


# ---------------------------------------------------------------------------
# Schema contracts — registry-style compatibility checking for evolution.
# ---------------------------------------------------------------------------

# Lossless numeric widenings (Spark's own upcast lattice, the direction
# parquet/Avro registries call compatible).
_WIDENINGS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
    ("date", "timestamp"),
}


def _field_map(schema: T.StructType) -> dict[str, T.StructField]:
    return {f.name: f for f in schema.fields}


def schema_compat(
    old: T.StructType, new: T.StructType, mode: str = "backward"
) -> list[str]:
    """Schema-registry compatibility check for lake evolution. Returns the
    list of violations (empty = compatible).

    - backward: readers of the NEW schema can read OLD data — new required
      (non-nullable) columns without defaults break; dropping a column is
      fine (readers project); type changes must be lossless widenings.
    - forward: readers of the OLD schema can read NEW data — dropping a
      column the old reader requires breaks; ADDING columns is fine (old
      readers ignore them); narrowing breaks.
    - full: both.

    Nullability uses the same normalization as append(merge_schema=True):
    flipping nullable→required is a (forward) break, required→nullable is
    always safe.
    """
    if mode == "full":
        return [f"backward: {v}" for v in schema_compat(old, new, "backward")] + [
            f"forward: {v}" for v in schema_compat(old, new, "forward")
        ]
    if mode not in ("backward", "forward"):
        raise ValueError(f"unknown compatibility mode: {mode}")
    olds, news = _field_map(old), _field_map(new)
    bad: list[str] = []

    def widens(a: T.DataType, b: T.DataType) -> bool:
        return (
            _nullability_normalized(a) == _nullability_normalized(b)
            or (a.typeName(), b.typeName()) in _WIDENINGS
        )

    if mode == "backward":
        # new readers over old data: every column the new schema REQUIRES
        # must exist in old data, and old types must upcast to new types.
        for name, nf in news.items():
            if name not in olds:
                if not nf.nullable:
                    bad.append(f"new required column `{name}` absent from old data")
                continue
            if not widens(olds[name].dataType, nf.dataType):
                bad.append(
                    f"column `{name}`: {olds[name].dataType.simpleString()} "
                    f"!~> {nf.dataType.simpleString()} (not a lossless widening)"
                )
    else:
        # old readers over new data: every old column must still exist with
        # a type the old reader can hold, and must not have gone required→
        # nullable-violating (old readers tolerate nullable→nullable only
        # if they already expected nulls: required old column must stay
        # non-null in new data).
        for name, of in olds.items():
            if name not in news:
                bad.append(f"column `{name}` dropped (old readers require it)")
                continue
            nf = news[name]
            if not widens(nf.dataType, of.dataType) and not widens(
                of.dataType, nf.dataType
            ):
                bad.append(
                    f"column `{name}`: incompatible type change "
                    f"{of.dataType.simpleString()} -> {nf.dataType.simpleString()}"
                )
            elif (of.dataType.typeName(), nf.dataType.typeName()) in _WIDENINGS:
                bad.append(
                    f"column `{name}`: widened {of.dataType.simpleString()} -> "
                    f"{nf.dataType.simpleString()} (old readers cannot hold it)"
                )
            if not of.nullable and nf.nullable:
                bad.append(
                    f"column `{name}` became nullable (old readers assume non-null)"
                )
    return bad


def checked_append(table: LakeTable, df: DataFrame, mode: str = "backward") -> None:
    """append(merge_schema=True) gated by a schema-contract check: the
    incoming frame's schema must be `mode`-compatible with the table's
    current schema, else ValidationError with every violation listed —
    the write-side enforcement a schema registry provides for Kafka,
    applied to the lake table.

    The incoming frame is checked as the MERGED table schema it would
    produce: columns absent from the current schema are forced nullable
    (old rows have no value for them), so a batch carrying a non-null
    literal column is still a benign nullable ADD — while type
    narrowings and (in forward mode) drops/widenings are refused. Use
    schema_compat directly to check declared reader contracts."""
    current = table._snapshot().schema
    if current is not None:
        have = {f.name for f in current.fields}
        effective = T.StructType(
            [
                f if f.name in have else T.StructField(f.name, f.dataType, True)
                for f in df.schema.fields
            ]
        )
        bad = schema_compat(current, effective, mode)
        if bad:
            raise ValidationError(
                f"schema contract ({mode}) violated: " + "; ".join(bad)
            )
    table.append(df, merge_schema=True)

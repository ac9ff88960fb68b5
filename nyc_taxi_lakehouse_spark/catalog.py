"""SQL DDL surface — CREATE DATABASE / CREATE TABLE over the session catalog.

The reference provisions its lakehouse with SQL DDL (S11):
`CREATE DATABASE IF NOT EXISTS nyc_taxi` then `CREATE TABLE IF NOT EXISTS
iceberg.nyc_taxi.trips (...) USING iceberg PARTITIONED BY (year, month)
TBLPROPERTIES (...)` — airflow/dags/spark_jobs/nyc_taxi_to_iceberg.py:37-71.
This module is that surface on the Spark session catalog with USING parquet
(the Iceberg catalog isn't available in this environment; on a real cluster
only the USING clause changes).

A catalog table is plain parquet whose partitions the metastore tracks;
it is written through the catalog (``CatalogTable.append``, INSERT INTO).
The versioned lake tables (lake.py / versioned.py) keep their own manifest
and are path-based; the two are separate formats, and neither writes
behind the other's metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _ident(name: str) -> str:
    """Backtick-quote each part of a (possibly dotted) identifier."""
    return ".".join(f"`{p}`" for p in name.split("."))


def _str_lit(value: str) -> str:
    """Single-quoted SQL string literal with embedded quotes/backslashes
    escaped — comment/location/property values are data, not SQL."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def schema_to_ddl(schema: T.StructType) -> str:
    """Column-list DDL from a StructType: `a BIGINT, b ARRAY<FLOAT>, ...`."""
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)


def create_database(spark: SparkSession, name: str, comment: str | None = None) -> None:
    """CREATE DATABASE IF NOT EXISTS (reference nyc_taxi_to_iceberg.py:37)."""
    ddl = f"CREATE DATABASE IF NOT EXISTS {_ident(name)}"
    if comment:
        ddl += f" COMMENT {_str_lit(comment)}"
    spark.sql(ddl)


class CatalogTable:
    """Handle over a catalog table created by create_table()."""

    def __init__(self, spark: SparkSession, name: str, partition_cols: list[str]):
        self.spark = spark
        self.name = name
        self.partition_cols = list(partition_cols)

    def df(self) -> DataFrame:
        return self.spark.table(self.name)

    def append(self, df: DataFrame) -> None:
        """INSERT INTO through the catalog (updates partition metadata).

        insertInto resolves columns POSITIONALLY against the table schema
        (partition columns last for a partitioned datasource table), so the
        incoming frame is re-ordered to the table's column order first —
        by-name semantics for the caller, positional underneath.
        """
        order = self.df().columns
        missing = [c for c in order if c not in df.columns]
        if missing:
            raise ValueError(f"append to {self.name}: missing columns {missing}")
        df.select(*order).write.insertInto(self.name, overwrite=False)

    def drop(self) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {_ident(self.name)}")


def create_table(
    spark: SparkSession,
    name: str,
    schema: T.StructType | str,
    partition_by: list[str] | None = None,
    properties: dict[str, str] | None = None,
    location: str | None = None,
    comment: str | None = None,
) -> CatalogTable:
    """CREATE TABLE IF NOT EXISTS ... USING parquet [PARTITIONED BY]
    [TBLPROPERTIES] [LOCATION] (reference nyc_taxi_to_iceberg.py:40-71).

    Partition columns are declared in the column list and named in
    PARTITIONED BY, exactly like the reference's (year, month) layout; with
    `location` the table is external (DROP keeps the data), without it the
    table lives under spark.sql.warehouse.dir.
    """
    cols = schema_to_ddl(schema) if isinstance(schema, T.StructType) else schema
    partition_by = list(partition_by or [])
    ddl = f"CREATE TABLE IF NOT EXISTS {_ident(name)} ({cols}) USING parquet"
    if comment:
        ddl += f" COMMENT {_str_lit(comment)}"
    if partition_by:
        ddl += " PARTITIONED BY (" + ", ".join(f"`{c}`" for c in partition_by) + ")"
    if location:
        ddl += f" LOCATION {_str_lit(location)}"
    if properties:
        kv = ", ".join(
            f"{_str_lit(k)}={_str_lit(v)}" for k, v in sorted(properties.items())
        )
        ddl += f" TBLPROPERTIES ({kv})"
    spark.sql(ddl)
    return CatalogTable(spark, name, partition_by)


def create_view(
    spark: SparkSession,
    name: str,
    query: str,
    comment: str | None = None,
    temporary: bool = False,
) -> None:
    """CREATE OR REPLACE [TEMPORARY] VIEW over any SQL text. Views are
    Catalyst-inlined at plan time, so predicates on a view reach the
    underlying scan unchanged (asserted in tests/test_catalog.py).
    ``temporary`` is required when the view references session temp views
    (Spark refuses a persistent view over temporary objects)."""
    kind = "TEMPORARY VIEW" if temporary else "VIEW"
    ddl = f"CREATE OR REPLACE {kind} {_ident(name)}"
    if comment and not temporary:
        ddl += f" COMMENT {_str_lit(comment)}"
    spark.sql(ddl + f" AS {query}")


def create_secure_view(
    spark: SparkSession,
    name: str,
    source: str,
    masked_cols: dict[str, str] | None = None,
    row_filter: str | None = None,
    drop_cols: list[str] | None = None,
    temporary: bool = False,
) -> None:
    """Row/column security as a plain view — the governance pattern Unity
    Catalog / Ranger express with policies, here compiled into the view
    text so ANY Spark reader enforces it:

    - masked_cols: column -> masking SQL expression (e.g. a crypto hash or
      a literal redaction); the expression replaces the column under the
      SAME name, so downstream queries keep working.
    - row_filter: SQL predicate appended as WHERE — because views inline,
      the filter PUSHES DOWN to the parquet scan (plan-asserted), i.e.
      security filtering costs what a hand-written filter costs.
    - drop_cols: columns omitted from the view entirely.
    """
    masked = masked_cols or {}
    drop = set(drop_cols or [])
    cols = []
    for f in spark.table(source).schema.fields:
        if f.name in drop:
            continue
        if f.name in masked:
            cols.append(f"{masked[f.name]} AS {_ident(f.name)}")
        else:
            cols.append(_ident(f.name))
    body = f"SELECT {', '.join(cols)} FROM {_ident(source)}"
    if row_filter:
        body += f" WHERE {row_filter}"
    create_view(spark, name, body, temporary=temporary)


def _register_secure_read():
    from .functions.detsql import DUCK
    from .registry import df_query
    from .sources.tables import load_tables

    @df_query(
        "q_secure_read",
        duck_sql=f"""
SELECT event_id,
       CAST(md5(CAST(user_id AS VARCHAR)) AS VARCHAR) AS user_id,
       event_type,
       value,
       {DUCK.epoch_us('ts')} AS ts_us
FROM events
WHERE event_type <> 'error'
""",
        tables=["events"],
        doc="Read THROUGH a row/column security view (create_secure_view): "
        "user_id masked to its md5 under the same column name, error rows "
        "filtered, props dropped — and because views inline, the row "
        "filter pushes to the parquet scan (plan-asserted in "
        "tests/test_catalog.py), so governance costs what a hand-written "
        "predicate costs. The oracle applies the identical mask+filter "
        "inline; hash equality proves any reader of the view sees "
        "EXACTLY the policy output, nothing more.",
    )
    def q_secure_read(spark, sf_dir):
        load_tables(spark, sf_dir, ["events"])
        create_secure_view(
            spark,
            "events_secure_q",
            "events",
            masked_cols={
                "user_id": "CAST(md5(CAST(user_id AS STRING)) AS STRING)"
            },
            row_filter="event_type <> 'error'",
            drop_cols=["props"],
            temporary=True,
        )
        return spark.table("events_secure_q").selectExpr(
            "event_id", "user_id", "event_type", "value",
            "unix_micros(ts) AS ts_us",
        )


_register_secure_read()

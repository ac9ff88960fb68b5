"""Lakehouse table layer — partitioned parquet tables with Delta-shaped
semantics.

delta-spark is unavailable in this environment, so this module provides the
small set of table operations the reference relies on, over plain partitioned
parquet (SURVEY §1.4 mapping — on a real cluster each maps 1:1 onto Delta):

- partitioned create/append with optional schema merge
  (reference S7/S11: writeTo(...).append() + merge-schema option,
  nyc_taxi_to_iceberg.py:141-143)
- delete_where + append = the reference's idempotent refresh idiom
  (S9: DELETE FROM ... WHERE date-pred then re-append,
  comprehensive_analytics.py:207-213). Implemented as dynamic partition
  overwrite so only affected partitions rewrite — the 100 TB-safe shape.
- merge_upsert: keyed last-write-wins MERGE (S12: the Kafka→Iceberg sink's
  upsert mode, data-crawler/iceberg-sink-config.json) used by the streaming
  foreachBatch CDC path.
- high-watermark control table (reference nyc_taxi_iceberg_etl.py:46-82)
- validation gates (§2.11: non-empty, required columns, null profile —
  nyc_taxi_iceberg_etl.py:177-189)
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _nullability_normalized(dt: T.DataType) -> T.DataType:
    """Return `dt` with every nullable / containsNull / valueContainsNull flag
    forced True, recursively — so schema-compat checks compare VALUE types,
    not nullability metadata (two frames built by different paths routinely
    disagree on containsNull while being byte-compatible in parquet)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullability_normalized(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullability_normalized(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _nullability_normalized(dt.keyType),
            _nullability_normalized(dt.valueType),
            True,
        )
    return dt


def _partition_filter(pcols: list[str], parts: list[tuple]):
    """OR-of-ANDs Column matching the given partition-value tuples.

    Null-safe: a NULL partition value (written by Spark as
    __HIVE_DEFAULT_PARTITION__ and read back as NULL) must still match its
    partition — plain `==` is never TRUE for NULL and would silently exclude
    those rows from a rewrite."""
    cond = F.lit(False)
    for p in parts:
        c = F.lit(True)
        for col, val in zip(pcols, p):
            c = c & F.col(col).eqNullSafe(F.lit(val))
        cond = cond | c
    return cond


def _partition_subdir(pcols: list[str], part: tuple) -> str:
    """Relative directory for one partition-value tuple, using Spark's NULL
    directory convention."""
    return "/".join(
        f"{col}={'__HIVE_DEFAULT_PARTITION__' if val is None else val}"
        for col, val in zip(pcols, part)
    )


def _added_fields(
    current: T.StructType, incoming: T.StructType, what: str
) -> list[T.StructField]:
    """The merge-schema rule both lake tables share: a column present on
    both sides must keep its value type (parquet has no transparent type
    widening, so a conflict raises ValidationError naming ``what``);
    returns the incoming fields the current schema lacks."""
    have = {f.name: f for f in current.fields}
    for f in incoming.fields:
        old = have.get(f.name)
        if old is not None and _nullability_normalized(
            old.dataType
        ) != _nullability_normalized(f.dataType):
            raise ValidationError(
                f"{what}: column {f.name!r} type conflict {old.dataType} vs "
                f"{f.dataType}"
            )
    return [f for f in incoming.fields if f.name not in have]


def _merge_batch(
    updates: DataFrame, keys: list[str], order_col: str | None, delete_col: str | None
) -> tuple[DataFrame, DataFrame]:
    """The MERGE batch rule both lake tables share: keep the last write per
    key by ``order_col``, then return (inserts, all_keys): the rows not
    flagged by ``delete_col`` (which is dropped), and every key the batch
    touches — updated and deleted keys alike leave the table."""
    from pyspark.sql import Window

    if order_col:
        w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1")
            .drop("__rn")
        )
    inserts = updates
    if delete_col:
        inserts = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    return inserts, updates.select(*keys)


class TxnLedger:
    """The Delta `txn` (appId, version) pattern as a mixin: a foreachBatch
    sink records the highest micro-batch id it has committed per writer app;
    a restart that replays an already-committed batch SKIPS it instead of
    re-merging. Structured Streaming's checkpoint guarantees at-least-once
    delivery to foreachBatch — this ledger upgrades any sink (even a
    non-idempotent one) to effectively-once. Ledger writes are single
    small-file PUTs (atomic on object stores; the merge itself commits
    first, so a crash between merge and ledger write degrades to
    at-least-once into an idempotent keyed MERGE — still exactly-once
    observable state). Mixed into both LakeTable and VersionedLakeTable
    (requires `self.path` + `self.fs`)."""

    def txn_version(self, app_id: str) -> int:
        """Highest committed micro-batch id for app_id, or -1."""
        p = os.path.join(self.path, "_txn", f"{app_id}.json")
        if not self.fs.exists(p):
            return -1
        return int(json.loads(self.fs.read_text(p))["version"])

    def txn_commit(self, app_id: str, version: int) -> None:
        self.fs.mkdirs(os.path.join(self.path, "_txn"))
        self.fs.write_text(
            os.path.join(self.path, "_txn", f"{app_id}.json"),
            json.dumps({"version": int(version)}),
        )


class LakeTable(TxnLedger):
    """A partitioned parquet table with append / delete+append / merge.

    Concurrency contract: SINGLE WRITER (the reference's Airflow DAGs
    serialize writers per table; streaming sinks get effectively-once via
    the TxnLedger). Writers needing multi-writer safety use
    VersionedLakeTable, whose commits are OCC-serialized (put-if-absent at
    read-version+1) and whose data files land via private staging."""

    def __init__(self, spark: SparkSession, path: str, partition_cols: list[str] | None = None):
        from .fs import LakeFS

        self.spark = spark
        self.path = path
        self.partition_cols = list(partition_cols or [])
        # All driver-side file maintenance goes through the Hadoop
        # FileSystem resolved from the table path — file:// locally,
        # s3a://&co on a cluster (see fs.py).
        self.fs = LakeFS(spark, path)

    def exists(self) -> bool:
        return self.fs.is_dir(self.path) and any(
            not name.startswith(("_", ".")) for name, _, _ in self.fs.list(self.path)
        )

    # -- schema evolution ---------------------------------------------------
    # Plain parquet has no table-level schema: after an evolved-schema append
    # a bare spark.read.parquet picks an arbitrary footer's schema, silently
    # dropping new columns. The Delta/Iceberg fix is a logged table schema;
    # the parquet-layer analog here is a `_merged_schema.json` sidecar
    # ("_"-prefixed → invisible to parquet scans) that read() applies
    # explicitly — files missing a column yield NULLs, no per-read
    # footer-merge pass (mergeSchema) needed at 100 TB.

    @property
    def _schema_path(self) -> str:
        return os.path.join(self.path, "_merged_schema.json")

    def _saved_schema(self) -> T.StructType | None:
        if not self.fs.exists(self._schema_path):
            return None
        return T.StructType.fromJson(json.loads(self.fs.read_text(self._schema_path)))

    def _save_schema(self, schema: T.StructType) -> None:
        self.fs.mkdirs(self.path)
        self.fs.write_text(self._schema_path, json.dumps(schema.jsonValue()))

    def _drop_saved_schema(self) -> None:
        if self.fs.exists(self._schema_path):
            self.fs.delete(self._schema_path)

    def read(self) -> DataFrame:
        saved = self._saved_schema()
        if saved is not None:
            return self.spark.read.schema(saved).parquet(self.path)
        return self.spark.read.parquet(self.path)

    def _invalidate(self) -> None:
        """Drop Spark's cached file listing for this path after a mutation so
        subsequent reads re-list (the session-level FileStatusCache would
        otherwise serve deleted files)."""
        self.spark.catalog.refreshByPath(self.path)

    def read_stream(self, schema) -> DataFrame:
        """Table-as-stream (reference S5: readStream on an Iceberg table,
        realtime_cdc_processor.py:200-203)."""
        return self.spark.readStream.schema(schema).parquet(self.path)

    def append(
        self,
        df: DataFrame,
        merge_schema: bool = False,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Partitioned append. sort_cols orders rows WITHIN each written file
        (the reference's Iceberg `sorted.by source_ts_ms` — better min/max
        stats for data skipping; iceberg-sink-config.json).

        merge_schema=True allows the incoming frame to add columns (the
        reference's writeTo(...).option("mergeSchema","true"),
        nyc_taxi_to_iceberg.py:141-143): the union schema is persisted to the
        table's schema sidecar so read() sees old and new files consistently
        (old files' missing columns read as NULL). Same-name/different-type
        is rejected — parquet has no transparent type widening.
        """
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        merged_schema: T.StructType | None = None
        if merge_schema and self.exists():
            current = self.read().schema
            new_fields = _added_fields(current, df.schema, "append(merge_schema=True)")
            if new_fields or set(df.columns) != set(current.names):
                merged_schema = T.StructType(list(current.fields) + new_fields)
        elif not merge_schema and self.exists():
            current_names = set(self.read().columns)
            if set(df.columns) != current_names:
                extra = sorted(set(df.columns) - current_names)
                missing = sorted(current_names - set(df.columns))
                raise ValidationError(
                    f"append: schema mismatch (extra={extra}, missing={missing}) "
                    "— pass merge_schema=True to evolve the table schema"
                )
        writer = df.write.mode("append")
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        writer.parquet(self.path)
        if merged_schema is not None:
            self._save_schema(merged_schema)
        self._invalidate()

    def compact(self, target_file_bytes: int = 128 << 20, min_files: int = 2) -> int:
        """Bin-pack small files per partition toward the target file size —
        the reference's `write-target-file-size-bytes=134217728` sink setting
        and the OPTIMIZE half of Delta maintenance. Streaming sinks and
        frequent small appends fragment partitions; at 100 TB unfragmented
        128 MiB files keep scan task counts (and S3 request counts) sane.

        Returns the number of partitions rewritten. Only partitions with more
        files than their data needs are touched. All file ops go through the
        Hadoop FileSystem (fs.py) — the identical routine maintains an
        s3a:// table (where Delta OPTIMIZE would take over on a real
        deployment).
        """
        import math

        if not self.exists():
            return 0

        def partition_dirs(root: str, depth: int) -> list[str]:
            dirs = [root]
            for _ in range(depth):
                dirs = [
                    os.path.join(d, name)
                    for d in dirs
                    for name, is_dir, _ in sorted(self.fs.list(d))
                    if is_dir and "=" in name
                ]
            return dirs

        rewritten = 0
        for pdir in partition_dirs(self.path, len(self.partition_cols)):
            files = [
                (os.path.join(pdir, name), size)
                for name, is_dir, size in self.fs.list(pdir)
                if not is_dir
                and name.endswith(".parquet")
                and not name.startswith((".", "_"))
            ]
            total = sum(size for _, size in files)
            want = max(1, math.ceil(total / target_file_bytes))
            if len(files) < max(min_files, want + 1):
                continue
            df = self.spark.read.parquet(pdir).coalesce(want)
            staging = f"{pdir}.compact-tmp"
            df.write.mode("overwrite").parquet(staging)
            for f, _ in files:
                self.fs.delete(f)
            for name, _, _ in self.fs.list(staging):
                if not name.startswith((".", "_")):
                    self.fs.rename(
                        os.path.join(staging, name), os.path.join(pdir, name)
                    )
            self.fs.delete(staging, recursive=True)
            rewritten += 1
        if rewritten:
            self._invalidate()
        return rewritten

    def _stage(self, df: DataFrame) -> tuple[DataFrame, str]:
        """Materialize a DataFrame to a staging directory next to the table.

        Plain parquet has no snapshot isolation: a lazy plan that reads this
        table breaks (FILE_NOT_EXIST) or silently loses rows if the table's
        files are rewritten before the plan executes. Every mutating op
        therefore stages its inputs first — the parquet-layer analog of the
        write-ahead half of a Delta/Iceberg commit. On Delta this staging
        disappears (MERGE/replaceWhere read a pinned snapshot).
        """
        import uuid as _uuid

        staging = f"{self.path.rstrip('/')}.staging-{_uuid.uuid4().hex[:8]}"
        df.write.parquet(staging)
        return self.spark.read.schema(df.schema).parquet(staging), staging

    def _overwrite_partitions(self, df: DataFrame, parts: list[tuple]) -> None:
        """Replace partitions ``parts`` with the (staged) rows of ``df``,
        leaving every other partition's files untouched. Dynamic overwrite
        is a per-write option, so the session's partitionOverwriteMode is
        never touched. It only replaces partitions PRESENT in the written
        data — a partition of ``parts`` whose every row was deleted writes
        nothing and would silently survive, so its directory is dropped
        explicitly."""
        pcols = self.partition_cols
        survived = {tuple(r) for r in df.select(*pcols).distinct().collect()}
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(*pcols).parquet(self.path)
        for p in parts:
            if p not in survived:
                sub = _partition_subdir(pcols, p)
                self.fs.delete(os.path.join(self.path, sub), recursive=True)
        self._invalidate()

    def delete_where(self, predicate: str) -> None:
        """DELETE FROM t WHERE predicate (reference S9).

        Dynamic partition overwrite: only partitions containing matching rows
        are rewritten (with their surviving rows); untouched partitions keep
        their files. At 100 TB the predicate should imply the partition
        columns so pruning bounds the rewrite — same contract as Delta's
        replaceWhere.

        SQL DELETE semantics: only rows where the predicate is TRUE are
        removed — NULL-valued predicates keep the row (survivors filter is
        NOT coalesce(pred, FALSE), not the naive ~pred which would drop
        NULL rows).
        """
        if not self.exists():
            return
        current = self.read()
        # Rows to delete = predicate strictly TRUE (filter() semantics).
        affected = current.filter(predicate)
        keep_pred = ~F.coalesce(F.expr(predicate), F.lit(False))
        if self.partition_cols:
            # Partitions that contain matching rows, as a small local set.
            parts = [
                tuple(r)
                for r in affected.select(*self.partition_cols).distinct().collect()
            ]
            if not parts:
                return
            cond = _partition_filter(self.partition_cols, parts)
            survivors, staging = self._stage(current.filter(cond).filter(keep_pred))
            try:
                self._overwrite_partitions(survivors, parts)
            finally:
                self.fs.delete(staging, recursive=True)
        else:
            survivors, staging = self._stage(current.filter(keep_pred))
            try:
                survivors.write.mode("overwrite").parquet(self.path)
                # Full rewrite materializes every column in every file —
                # the schema sidecar (if any) is no longer needed.
                self._drop_saved_schema()
                self._invalidate()
            finally:
                self.fs.delete(staging, recursive=True)

    def refresh_where(self, df: DataFrame, predicate: str) -> None:
        """The reference's DELETE+append idempotent refresh in one call.

        `df` is staged BEFORE the delete so it may safely derive from this
        very table (the common mart-refresh shape: recompute recent rows from
        current state, then replace them).
        """
        staged, staging = self._stage(df)
        try:
            self.delete_where(predicate)
            self.append(staged)
        finally:
            self.fs.delete(staging, recursive=True)

    def merge_upsert(
        self,
        updates: DataFrame,
        keys: list[str],
        order_col: str | None = None,
        delete_col: str | None = None,
    ) -> None:
        """Keyed MERGE: rows in `updates` replace rows with equal keys;
        `delete_col = true` rows delete. Last-write-wins within the batch by
        `order_col` (e.g. source ts_ms — the Debezium contract).

        Shape equals Delta MERGE WHEN MATCHED UPDATE / DELETE / NOT MATCHED
        INSERT; implemented as anti-join + union rewrite. At 100 TB, updates
        are typically a tiny fraction — with partition columns present, ONLY
        the partitions that contain a matched key or receive an insert are
        rewritten (dynamic partition overwrite, same mechanism as
        delete_where); every other partition's files are untouched. Without
        partition columns the whole table rewrites — partition your CDC
        landing tables.
        """
        inserts, all_keys = _merge_batch(updates, keys, order_col, delete_col)
        if not self.exists():
            self.append(inserts)
            return
        current = self.read()
        if not self.partition_cols:
            kept = current.join(all_keys, keys, "left_anti")
            merged, staging = self._stage(kept.unionByName(inserts))
            try:
                merged.write.mode("overwrite").parquet(self.path)
                self._drop_saved_schema()
                self._invalidate()
            finally:
                self.fs.delete(staging, recursive=True)
            return

        # Partition-bounded rewrite. Affected partitions = those holding a
        # row whose key is updated/deleted ∪ those an insert lands in. The
        # semi-join on keys prunes `current` to matched rows only before the
        # distinct — at 100 TB this is one shuffle over the (small) updates
        # batch joined against the table, not a table rewrite.
        pcols = self.partition_cols
        touched = (
            current.join(all_keys, keys, "left_semi")
            .select(*pcols)
            .unionByName(inserts.select(*pcols))
            .distinct()
        )
        parts = [tuple(r) for r in touched.collect()]
        if not parts:
            return  # nothing matched, nothing to insert
        cond = _partition_filter(pcols, parts)
        kept = current.filter(cond).join(all_keys, keys, "left_anti")
        merged, staging = self._stage(kept.unionByName(inserts))
        try:
            self._overwrite_partitions(merged, parts)
        finally:
            self.fs.delete(staging, recursive=True)


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


class ValidationError(ValueError):
    pass


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


def checked_append(
    table: "LakeTable", df: DataFrame, mode: str = "backward"
) -> None:
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
    current = table._saved_schema()
    if current is None and table.exists():
        current = table.read().schema
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

"""Versioned lake tables: the one lake table format.

The reference keeps every table in Iceberg (snapshot trees on MinIO;
SURVEY §1.1/§1.4): schema, partitioning and commits all live in table
metadata. ``VersionedLakeTable`` (``lake.LakeTable`` is the same class) is
that table over plain parquet — the Delta/Iceberg commit model, natively:

- every mutation is a **commit**: data files are only ever ADDED (appends
  write fresh uniquely-named part files; deletes rewrite survivors as new
  files), and a JSON manifest ``_log/v{N}.json`` records the live file set,
  schema, and operation of each version — there is no other table state;
- every operation reads **one snapshot** and commits against exactly that
  version: it lists the log once, parses one manifest once (``_snapshot``),
  works from that snapshot alone, and writes the next manifest as the
  snapshot's fields plus its own changes, put-if-absent at snapshot+1. A
  writer that committed in between makes the operation fail with
  ConcurrentCommitError; it never mixes two versions;
- ``read(version=...)`` pins any historical snapshot (time travel — Delta's
  ``VERSION AS OF``): the scan lists nothing, it reads exactly the
  manifest's files with partition values parsed via basePath;
- readers are **snapshot-isolated** for free: a lazy plan over version N
  keeps working while later commits run, because no commit removes files —
  so ``replace_where`` (Delta replaceWhere, the reference's DELETE+append
  refresh in one commit) may take a frame derived from the table itself;
- a streaming sink's progress is part of the commit: ``merge_upsert(...,
  txn=(app_id, batch_id))`` records the batch id in the same manifest as
  the merge (Delta's ``txn`` action) and skips a replayed batch id;
- ``mark_deleted`` is the merge-on-read DELETE (Delta deletion vectors /
  Iceberg v2 positional delete files): it writes one tombstone file of
  (``_metadata.file_path``, ``_metadata.row_index``) rows and the manifest
  lists it under ``deletes`` with its row count and the data files it
  covers. Every read of that snapshot subtracts it; a later rewrite of the
  covered files (compact, copy-on-write DML) drops it. Tombstones live in
  the snapshot like data files, so they time-travel, commit under OCC and
  are vacuumed like data files;
- ``vacuum(retain_last=...)`` is the physical-deletion boundary (Delta
  VACUUM): drops data and tombstone files unreferenced by the retained
  manifests, then the expired manifests.

Scale posture: manifests are metadata-sized (one relative path per live
file — the thing Delta stores as add-actions); commits append one small
JSON object per mutation; no driver-side row data ever. Data files land
through a private per-commit staging directory, so concurrent writers
never see each other's files before the log commit.
"""

from __future__ import annotations

import functools
import json
import math
import os
import re
import uuid
from dataclasses import dataclass, field, replace
from typing import NoReturn
from urllib.parse import unquote, urlsplit

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fs import LakeFS, glob_escape


class ValidationError(ValueError):
    """A write or gate refused: schema conflict, CHECK violation, failed
    audit, bad argument."""


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
    """The merge-schema rule: a column present on both sides must keep its
    value type (parquet has no transparent type widening, so a conflict
    raises ValidationError naming ``what``); returns the incoming fields
    the current schema lacks."""
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
    """The MERGE batch rule: keep the last write per key by ``order_col``,
    then return (inserts, all_keys): the rows not flagged by ``delete_col``
    (which is dropped), and every key the batch touches — updated and
    deleted keys alike leave the table."""
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


def _sql_str(value: str) -> str:
    """A Spark SQL string literal holding ``value``."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


# Where mark_deleted stages tombstone files, their schema, and the scan
# columns that give a row's position.
_DELETES_DIR = "_deletes"
_TOMBSTONES = "file_path string, row_index bigint"
_POSITIONS = ("_metadata.file_path AS __fp", "_metadata.row_index AS __ri")
# Parquet physical types whose footer min/max are exact (never truncated).
_NUMERIC = ("INT32", "INT64", "FLOAT", "DOUBLE")


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same version first (optimistic
    concurrency, Delta-protocol style): re-read the table and retry."""


@dataclass(frozen=True)
class _Snapshot:
    """One committed version, parsed once: what an operation reads from the
    log. ``version`` is None for a table with no commit yet. A commit
    carries every field but ``version`` and ``op`` forward unless the
    operation changes it; ``partition_cols`` is the writer's own.
    ``base`` (a shallow clone's source root) stays in the manifest format;
    reads derive each file's root from its path (``_root_of``). Each
    ``deletes`` entry is a deletion vector: {"path": tombstone file,
    "rows": its row count, "files": the live files it covers}. ``txns``
    maps a streaming writer's app id to the highest micro-batch id it has
    committed (Delta's ``txn`` action)."""

    version: int | None = None
    op: str = ""
    files: tuple[str, ...] = ()
    schema: T.StructType | None = None
    partition_cols: tuple[str, ...] = ()
    base: str | None = None
    constraints: dict = field(default_factory=dict)
    column_mapping: dict = field(default_factory=dict)
    generated_cols: dict = field(default_factory=dict)
    retired_physical: tuple[str, ...] = ()
    stats: dict = field(default_factory=dict)
    deletes: tuple[dict, ...] = ()
    txns: dict = field(default_factory=dict)


class VersionedLakeTable:
    """A partitioned parquet table with Delta-style versioned commits.

    Concurrency contract: any number of writers. Commits are OCC-serialized
    (put-if-absent at read-version+1) and data files land via private
    staging, so a writer that loses the race discards its files and raises
    ConcurrentCommitError."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_cols: list[str] | None = None,
        stats_cols: list[str] | None = None,
    ):
        """``stats_cols``: numeric data columns whose per-file min/max are
        recorded in every commit's manifest (Iceberg manifest / Delta
        file-statistics semantics) and used by read(filters=...) to prune
        files before Spark ever sees them. Stats come from parquet footers
        (no data scan); at cluster scale the writer tasks would report
        them with the commit — the driver-side footer scrape here is the
        single-node stand-in for that protocol, not a table scan."""
        self.spark = spark
        self.path = path.rstrip("/")
        self.partition_cols = list(partition_cols or [])
        self.stats_cols = list(stats_cols or [])
        self.fs = LakeFS(spark, path)

    # -- commit log ---------------------------------------------------------

    @property
    def _log_dir(self) -> str:
        return os.path.join(self.path, "_log")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._log_dir, f"v{version:09d}.json")

    def versions(self) -> list[int]:
        return sorted(int(name[1:-5]) for name in self.fs.glob(self._log_dir, "v*.json"))

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest(self, version: int) -> dict:
        p = self._manifest_path(version)
        if not self.fs.exists(p):
            have = self.versions()
            raise ValidationError(
                f"version {version} not available (log has {have}; "
                "older versions may have been vacuumed)"
            )
        return json.loads(self.fs.read_text(p))

    def _snapshot(self, version: int | None = None) -> _Snapshot:
        """The table as of ``version`` (default: the latest, found by one
        log listing), its manifest read and parsed once. The only manifest
        reader: every operation takes one snapshot and works from it."""
        if version is None:
            version = self.latest_version()
            if version is None:
                return _Snapshot()
        m = self._manifest(version)
        return _Snapshot(
            version=version,
            op=m["op"],
            files=tuple(m["files"]),
            schema=T.StructType.fromJson(m["schema"]),
            partition_cols=tuple(m.get("partition_cols") or ()),
            base=m.get("base"),
            constraints=m.get("constraints", {}),
            column_mapping=m.get("column_mapping", {}),
            generated_cols=m.get("generated_cols", {}),
            retired_physical=tuple(m.get("retired_physical", ())),
            stats=m.get("stats", {}),
            deletes=tuple(m.get("deletes", ())),
            txns=m.get("txns", {}),
        )

    def _nonempty(self, snap: _Snapshot, what: str) -> _Snapshot:
        if snap.version is None:
            raise ValidationError(f"{what}: empty versioned table at {self.path}")
        return snap

    def history(self) -> list[dict]:
        """Operation ledger, oldest first (Delta DESCRIBE HISTORY)."""
        return [
            {"version": s.version, "op": s.op, "n_files": len(s.files)}
            for s in map(self._snapshot, self.versions())
        ]

    # -- file probes --------------------------------------------------------

    def _parquet_under(self, base: str) -> set[str]:
        """Parquet files below ``base`` as ``base``-relative paths, one
        listing per directory. Names Spark's file index hides (``.``, and
        ``_`` unless a ``col=value`` directory) are skipped."""
        found: set[str] = set()

        def walk(rel: str) -> None:
            for name, is_dir, _ in self.fs.list(os.path.join(base, rel)):
                child = os.path.join(rel, name)
                if name.startswith(".") or (name.startswith("_") and "=" not in name):
                    continue
                if is_dir:
                    walk(child)
                elif name.endswith(".parquet"):
                    found.add(child)

        if self.fs.is_dir(base):
            walk("")
        return found

    def _data_files(self) -> set[str]:
        """All data and tombstone files under the table root, as
        table-relative paths."""
        tombs = self._parquet_under(os.path.join(self.path, _DELETES_DIR))
        return self._parquet_under(self.path) | {
            os.path.join(_DELETES_DIR, f) for f in tombs
        }

    def _commit(self, snap: _Snapshot, op: str, staged=(), **changes) -> int:
        """Commit the version after ``snap``: its manifest is ``snap``'s
        fields with ``changes`` (files, schema, constraints, ...) applied.
        The put-if-absent write targets exactly snap.version+1, so a racer
        that committed in between makes THIS commit fail with
        ConcurrentCommitError (deleting ``staged``, exactly the files this
        operation wrote) instead of silently dropping the racer's files
        from the live set. Per-file stats carry over for files the
        snapshot already described; other files get theirs from the
        parquet footer when ``stats_cols`` is set. Deletion vectors none
        of whose files stay live are dropped."""
        new = replace(snap, **changes)
        version = (snap.version or 0) + 1
        files = sorted(new.files)
        live = set(files)
        manifest = {
            "version": version,
            "op": op,
            "n_files": len(files),
            "files": files,
            "schema": new.schema.jsonValue(),
            "partition_cols": self.partition_cols,
        }
        carried = {
            "base": new.base,
            "constraints": new.constraints,
            "column_mapping": new.column_mapping,
            "generated_cols": new.generated_cols,
            "retired_physical": list(new.retired_physical),
            "deletes": [d for d in new.deletes if not live.isdisjoint(d["files"])],
            "txns": new.txns,
        }
        manifest.update((k, v) for k, v in carried.items() if v)
        stats = new.stats
        if "stats" not in changes:
            stats = {}
            for f in files:
                if f in snap.stats:
                    stats[f] = snap.stats[f]
                elif self.stats_cols and (
                    s := self._footer_stats(f, new.column_mapping)
                ):
                    stats[f] = s
        if stats or self.stats_cols:
            manifest["stats"] = stats
        try:
            self.fs.write_text_exclusive(
                self._manifest_path(version), json.dumps(manifest)
            )
        except FileExistsError:
            self._drop(staged)
            raise ConcurrentCommitError(
                f"version {version} at {self.path} was committed by a "
                "concurrent writer; re-read and retry"
            ) from None
        return version

    # -- CHECK constraints and generated columns ----------------------------

    def check_constraints(self, version: int | None = None) -> dict[str, str]:
        """The CHECK constraints in force as of ``version`` (default
        latest): name -> SQL predicate. Empty for an empty table."""
        return dict(self._snapshot(version).constraints)

    def add_check_constraint(self, name: str, predicate: str) -> int:
        """Delta's ALTER TABLE ADD CONSTRAINT ... CHECK: validate the
        EXISTING data satisfies the predicate (one scan — a constraint
        that current rows violate must be rejected, or history would lie),
        then commit a data-identical version whose manifest carries the
        constraint; every later append enforces it during the staging
        write. SQL CHECK semantics: a row violates only when the predicate
        evaluates to FALSE — NULL passes (add an IS NOT NULL conjunct for
        not-null enforcement)."""
        snap = self._nonempty(self._snapshot(), "add_check_constraint")
        if name in snap.constraints:
            raise ValidationError(f"constraint {name!r} already exists")
        bad = (
            self._scan(snap)
            .where(F.coalesce(~F.expr(predicate), F.lit(False)))
            .limit(1)
            .count()
        )
        if bad:
            raise ValidationError(
                f"add_check_constraint({name!r}): existing rows violate "
                f"({predicate})"
            )
        return self._commit(
            snap, "add_constraint", constraints={**snap.constraints, name: predicate}
        )

    def drop_check_constraint(self, name: str) -> int:
        snap = self._nonempty(self._snapshot(), "drop_check_constraint")
        if name not in snap.constraints:
            raise ValidationError(f"constraint {name!r} does not exist")
        cons = {n: p for n, p in snap.constraints.items() if n != name}
        return self._commit(snap, "drop_constraint", constraints=cons)

    @staticmethod
    def _constraint_metrics(snap: _Snapshot) -> dict:
        """Per-constraint violation counters as aggregate Columns — ridden
        on the staging write's Observation, so enforcement costs zero
        extra passes."""
        return {
            f"__check__{n}": F.sum(
                F.coalesce(~F.expr(p), F.lit(False)).cast("long")
            )
            for n, p in snap.constraints.items()
        }

    def generated_columns(self, version: int | None = None) -> dict[str, str]:
        """Generated columns in force as of ``version``: name -> SQL
        generation expression (Delta GENERATED ALWAYS AS)."""
        return dict(self._snapshot(version).generated_cols)

    def add_generated_column(self, name: str, expr: str, dtype: str) -> int:
        """Delta's GENERATED ALWAYS AS: a metadata-only commit adding
        ``name`` (DDL type ``dtype``) computed as ``expr`` over the other
        columns. Rows in existing files read NULL for it (they predate the
        column — standard schema-evolution semantics); every later append
        either derives the column automatically (batch doesn't carry it)
        or validates the provided values match the expression null-safely
        and rejects the batch otherwise."""
        snap = self._nonempty(self._snapshot(), "add_generated_column")
        if name in snap.schema.names:
            raise ValidationError(f"add_generated_column: {name!r} exists")
        new_field = T.StructField(name, T._parse_datatype_string(dtype), True)
        return self._commit(
            snap,
            "add_generated_column",
            schema=T.StructType(list(snap.schema.fields) + [new_field]),
            generated_cols={**snap.generated_cols, name: expr},
        )

    @staticmethod
    def _apply_generated(snap: _Snapshot, df: DataFrame) -> tuple[DataFrame, dict]:
        """Derive absent generated columns (cast to their declared table
        type); emit null-safe mismatch counters (ridden on the write
        Observation) for provided ones."""
        checks: dict = {}
        for name, expr in snap.generated_cols.items():
            if name in df.columns:
                checks[f"__gen__{name}"] = F.sum(
                    F.expr(f"NOT (({name}) <=> ({expr}))").cast("long")
                )
            else:
                df = df.withColumn(name, F.expr(expr).cast(snap.schema[name].dataType))
        return df, checks

    # -- column mapping (Delta column-mapping semantics) ---------------------

    def column_mapping(self, version: int | None = None) -> dict[str, str]:
        """logical column name -> physical parquet column name as of
        ``version`` (default latest). Identity when never renamed."""
        return dict(self._snapshot(version).column_mapping)

    def _phys(self, name: str, mapping: dict[str, str]) -> str:
        return mapping.get(name, name)

    def _physical_schema(
        self, schema: T.StructType, mapping: dict[str, str]
    ) -> T.StructType:
        return T.StructType(
            [
                T.StructField(self._phys(f.name, mapping), f.dataType, f.nullable)
                for f in schema.fields
            ]
        )

    def _refuse_referenced(self, snap: _Snapshot, col: str, what: str) -> None:
        """Refuse ``what`` on a column that a CHECK constraint or another
        generated column's rule references: the stored SQL text would
        silently break."""
        ref = re.compile(rf"\b{re.escape(col)}\b")
        for cname, pred in snap.constraints.items():
            if ref.search(pred):
                raise ValidationError(
                    f"{what}: column {col!r} is referenced by CHECK "
                    f"constraint {cname!r} — drop it first"
                )
        for gname, gexpr in snap.generated_cols.items():
            if gname != col and ref.search(gexpr):
                raise ValidationError(
                    f"{what}: column {col!r} is referenced by generated "
                    f"column {gname!r} — drop it first"
                )

    def rename_column(self, old: str, new: str) -> int:
        """Delta's ALTER TABLE RENAME COLUMN under column mapping: a
        METADATA-ONLY commit — no data file is rewritten; the logical
        schema renames the field while the mapping keeps pointing at the
        original physical parquet column, so every snapshot (old and new)
        still reads every file. Partition columns are refused (their
        physical identity is baked into the hive directory layout), as is
        renaming a column referenced by a CHECK constraint or a generated
        column (the stored expression text would silently break). Per-file
        stats keep their values under the new logical name."""
        snap = self._nonempty(self._snapshot(), "rename_column")
        if old not in snap.schema.names:
            raise ValidationError(f"rename_column: no column {old!r}")
        if new in snap.schema.names:
            raise ValidationError(f"rename_column: {new!r} already exists")
        if old in self.partition_cols:
            raise ValidationError(
                f"rename_column: {old!r} is a partition column (its physical "
                "name is the hive directory layout)"
            )
        self._refuse_referenced(snap, old, "rename_column")
        if old in snap.generated_cols:
            raise ValidationError(f"rename_column: {old!r} is a generated column")
        mapping = dict(snap.column_mapping)
        mapping[new] = mapping.pop(old, old)
        schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in snap.schema.fields
            ]
        )
        self.stats_cols = [new if c == old else c for c in self.stats_cols]
        stats = {
            f: {(new if c == old else c): v for c, v in s.items()}
            for f, s in snap.stats.items()
        }
        return self._commit(
            snap, "rename_column", schema=schema, column_mapping=mapping, stats=stats
        )

    def drop_column(self, name: str) -> int:
        """Delta's ALTER TABLE DROP COLUMN under column mapping: metadata-
        only — the physical column stays in the old files (serving earlier
        snapshots) but the logical schema and mapping forget it; its
        physical name is RETIRED so a later re-added column of the same
        logical name gets a fresh physical identity instead of
        resurrecting the dropped values from old files. Dropping a
        generated column retires its rule."""
        snap = self._nonempty(self._snapshot(), "drop_column")
        if name not in snap.schema.names:
            raise ValidationError(f"drop_column: no column {name!r}")
        if name in self.partition_cols:
            raise ValidationError(f"drop_column: {name!r} is a partition column")
        self._refuse_referenced(snap, name, "drop_column")
        mapping = dict(snap.column_mapping)
        retired = (*snap.retired_physical, mapping.pop(name, name))
        self.stats_cols = [c for c in self.stats_cols if c != name]
        return self._commit(
            snap,
            "drop_column",
            schema=T.StructType([f for f in snap.schema.fields if f.name != name]),
            column_mapping=mapping,
            retired_physical=retired,
            generated_cols={g: e for g, e in snap.generated_cols.items() if g != name},
        )

    def _fresh_physical(self, snap: _Snapshot, logical: str) -> str:
        """Physical name for a NEW logical column: the logical name itself
        unless that physical identity is in use or retired (a re-added
        column must not resurrect a dropped column's values)."""
        if snap.version is None:
            return logical
        mapping = snap.column_mapping
        used = set(mapping.values()) | set(snap.retired_physical)
        used |= {self._phys(f.name, mapping) for f in snap.schema.fields}
        if logical not in used:
            return logical
        return f"{logical}_{uuid.uuid4().hex[:8]}"

    def _mapping_with_new_cols(self, snap: _Snapshot, df: DataFrame) -> dict[str, str]:
        """The effective column mapping for an append: the committed
        mapping plus fresh physical identities for columns this batch
        introduces (schema evolution under column mapping)."""
        mapping = dict(snap.column_mapping)
        prev = set(snap.schema.names) if snap.schema else set()
        for c in df.columns:
            if c not in prev and c not in mapping:
                phys = self._fresh_physical(snap, c)
                if phys != c:
                    mapping[c] = phys
        return mapping

    def _footer_stats(self, rel: str, mapping: dict[str, str]) -> dict[str, list]:
        """Per-column [min, max] for one data file, read from the parquet
        FOOTER (row-group statistics aggregated across row groups) — no
        data pages are touched. Only numeric physical types are trusted:
        parquet writers may truncate binary/string min/max, which makes an
        upper bound understate and pruning unsound for them."""
        import pyarrow.parquet as pq

        try:
            md = pq.ParquetFile(os.path.join(self.path, rel)).metadata
        except Exception:
            return {}
        logical_of = {self._phys(c, mapping): c for c in self.stats_cols}
        wanted = set(logical_of)
        out: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                pname = col.path_in_schema
                if pname not in wanted or col.physical_type not in _NUMERIC:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    return {}  # any gap makes the file unprunable — be safe
                name = logical_of[pname]  # stats are keyed by LOGICAL name
                lo, hi = out.get(name, (st.min, st.max))
                out[name] = [min(lo, st.min), max(hi, st.max)]
        return out if set(out) == set(self.stats_cols) else {}

    # -- reads --------------------------------------------------------------

    def prune_files(
        self,
        filters: list[tuple[str, float, float]],
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """Manifest-level data skipping: (surviving relative files, total
        live files) for conjunctive closed-range ``filters`` [(col, lo,
        hi), ...] against the committed per-file min/max stats. A file
        without stats for a filtered column is kept (pruning must never
        drop a possible match). With a z-ordered layout (cluster()) every
        filtered dimension prunes; with a single-column sort only that
        column does — q_zorder_layout is the audit of exactly this."""
        return self._prune(self._snapshot(version), filters)

    def _prune(
        self, snap: _Snapshot, filters: list[tuple[str, float, float]]
    ) -> tuple[list[str], int]:
        self._nonempty(snap, "prune_files")

        def skippable(f: str) -> bool:
            s = snap.stats.get(f) or {}
            return any(
                col in s and (s[col][0] > hi or s[col][1] < lo)
                for col, lo, hi in filters
            )

        return [f for f in snap.files if not skippable(f)], len(snap.files)

    def read(
        self,
        version: int | None = None,
        filters: list[tuple[str, float, float]] | None = None,
    ) -> DataFrame:
        """The table as of ``version`` (default: latest). Reads exactly the
        manifest's files minus the rows its deletion vectors tombstone —
        dead files from later deletes are invisible, and pre-evolution
        files yield NULL for later-added columns.

        ``filters`` [(col, lo, hi), ...] prunes files via the manifest's
        per-file min/max stats BEFORE Spark plans the scan (Iceberg/Delta
        data skipping) and then applies the same predicates as WHERE
        clauses, so the result equals a full-scan filter — just cheaper.
        """
        return self._scan(self._snapshot(version), filters)

    def _scan(
        self,
        snap: _Snapshot,
        filters: list[tuple[str, float, float]] | None = None,
    ) -> DataFrame:
        self._nonempty(snap, "read")
        df = self._read_files(snap, self._prune(snap, filters)[0] if filters else snap.files)
        for col, lo, hi in filters or ():
            df = df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
        return df

    def _root_of(self, f: str) -> tuple[str, str]:
        """(root, root-relative path) of a live file. Relative paths root at
        this table. Shallow-clone manifests (clone_to) list ABSOLUTE paths
        into the table they were cloned from — for a clone of a clone,
        into more than one table — so an absolute file's root is read off
        its own hive layout: the file sits one directory per partition
        column below its root."""
        if not os.path.isabs(f):
            return self.path, f
        parts = f.split(os.sep)
        k = len(self.partition_cols) + 1
        return os.sep.join(parts[:-k]), os.sep.join(parts[-k:])

    def _read_files(
        self, snap: _Snapshot, rel_files, positions: bool = False
    ) -> DataFrame:
        """Read ``rel_files`` of ``snap`` back as its LOGICAL schema, minus
        the rows its deletion vectors tombstone: the one reader of every
        read, time-travel read and rewrite. ``positions`` keeps each row's
        (file URI, row index) as ``__fp`` / ``__ri``.

        A post-clone write mixes this table's files with the clone
        source's: each root's files are read with their own basePath and
        the reads unioned. Files are read under their PHYSICAL column
        names (the names renames never touch) and aliased back to the
        logical schema — the metadata-only rename/drop contract.

        Deletion vectors covering ``rel_files`` are subtracted with a
        left-anti join on (file_path, row_index). Tombstones scale with
        DELETE volume, so the broadcast is gated on the row count the
        manifest records; above the gate the join stays adaptive. Without
        deletion vectors the plan is the plain scan."""
        roots: dict[str, list[str]] = {}
        for f in rel_files:
            root, home = self._root_of(f)
            roots.setdefault(root, []).append(os.path.join(root, home))
        if not roots:
            empty = self.spark.sparkContext.emptyRDD()
            return self.spark.createDataFrame(empty, snap.schema)
        wanted = set(rel_files)
        dvs = [d for d in snap.deletes if not wanted.isdisjoint(d["files"])]
        mapping = snap.column_mapping
        frames = []
        for root, files in roots.items():
            reader = self.spark.read.schema(self._physical_schema(snap.schema, mapping))
            if self.partition_cols:
                reader = reader.option("basePath", root)
            df = reader.parquet(*files)
            if positions or dvs:
                df = df.selectExpr("*", *_POSITIONS)
            frames.append(df)
        df = functools.reduce(DataFrame.unionByName, frames)
        if dvs:
            from .plans.audit import gated_broadcast

            tomb = self.spark.read.schema(_TOMBSTONES).parquet(
                *[os.path.join(self.path, d["path"]) for d in dvs]
            )
            hit = (df["__fp"] == tomb["file_path"]) & (df["__ri"] == tomb["row_index"])
            tomb = gated_broadcast(tomb, sum(d["rows"] for d in dvs))
            df = df.join(tomb, hit, "left_anti")
            if not positions:
                df = df.drop("__fp", "__ri")
        if mapping:
            cols = [F.col(self._phys(f.name, mapping)).alias(f.name) for f in snap.schema]
            df = df.select(*cols, *(["__fp", "__ri"] if positions else []))
        return df

    # -- commits ------------------------------------------------------------

    def _staged_write(
        self, df: DataFrame, mapping: dict[str, str], subdir: str | None = None
    ) -> set[str]:
        """Write df's part files through a PRIVATE staging directory, then
        move them into the table layout; returns the relative paths added.
        With ``subdir`` None the files take the table's partition layout at
        its root; with a directory they land unpartitioned there (compact's
        per-directory rewrite, tombstone files).

        The naive write-then-diff (snapshot _data_files before/after a
        mode("append") write straight into the table) has two concurrency
        defects the OCC log cannot fix: concurrent jobs share Hadoop's
        <table>/_temporary staging (one job's commit deletes the other's
        attempts — observed as lost appends in the stress test), and the
        set diff attributes a racing writer's files to this commit. A
        per-commit staging dir (Delta writes files the same way: uniquely
        named, invisible until the log commit) gives each writer private
        staging and an EXACT added-file list.

        Data files always carry PHYSICAL column names; callers work in
        logical names and pass the mapping the commit will record."""
        if subdir is not None and (
            os.path.isabs(subdir) or os.path.normpath(subdir).split(os.sep)[0] == ".."
        ):
            raise ValidationError(f"staged write outside the table: {subdir!r}")
        if mapping:
            df = df.select(*[F.col(c).alias(mapping.get(c, c)) for c in df.columns])
        stage = os.path.join(self.path, "_staging", uuid.uuid4().hex)
        pcols = self.partition_cols if subdir is None else []
        writer = df.write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(stage)
        files = self.fs.glob(stage, "/".join(["*"] * len(pcols) + ["*.parquet"]))
        try:
            self._move(stage, os.path.join(self.path, subdir or ""), files, pcols)
        finally:
            self.fs.delete(stage, recursive=True)
        self.spark.catalog.refreshByPath(self.path)
        return {os.path.join(subdir or "", f) for f in files}

    def _move(self, stage: str, dest: str, files: list[str], pcols: list[str]) -> None:
        """Move the ``stage``-relative ``files``, ``len(pcols)`` partition
        directories deep, to the same relative paths below ``dest``.

        Each FileSystem call is a py4j round trip, and Hadoop's mkdirs forks
        a ``chmod`` per directory it creates on a host without the native
        library, so the move works per directory level: one glob lists the
        table's directories of that level, a staged directory the table
        lacks moves whole by one rename (no mkdirs), and only files whose
        leaf directory the table already has move one by one. A concurrent
        writer that created the same directory first makes the rename nest
        ours inside it; that is checked after each directory rename, and
        the write is then undone and refused with ConcurrentCommitError."""

        def move(rel: str) -> None:
            if not self.fs.rename(os.path.join(stage, rel), os.path.join(dest, rel)):
                raise ValidationError(f"staged move failed: {rel} -> {dest}")

        pending = files
        for level in range(1, len(pcols) + 1):
            pattern = "/".join(f"{glob_escape(c)}=*" for c in pcols[:level])
            have = set(self.fs.glob(dest, pattern))
            head = lambda f: "/".join(f.split("/")[:level])  # noqa: E731
            fresh = sorted({head(f) for f in pending} - have)
            for d in fresh:
                move(d)
                nested = os.path.join(dest, d, os.path.basename(d))
                if self.fs.exists(nested):
                    self.fs.delete(nested, recursive=True)
                    for f in files:
                        self.fs.delete(os.path.join(dest, f))
                    raise ConcurrentCommitError(
                        f"partition directory {d} at {dest} was created by a "
                        "concurrent writer; re-read and retry"
                    )
            pending = [f for f in pending if head(f) not in fresh]
        if not pcols and pending:
            self.fs.mkdirs(dest)
        for f in pending:
            move(f)

    def _checked_write(
        self, df: DataFrame, mapping: dict[str, str], metrics: dict
    ) -> tuple[set[str], dict, dict]:
        """Stage ``df`` with the aggregate ``metrics`` riding the write job
        (Observation — no extra pass). Returns (added files, the observed
        metrics other than violation counters, {rule: violating rows} for
        the ``__check__`` / ``__gen__`` counters that fired)."""
        if metrics:
            obs = Observation()
            df = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
        added = self._staged_write(df, mapping)
        observed = dict(obs.get) if metrics else {}
        rules = ("__check__", "__gen__")
        bad = {
            k.removeprefix("__check__").removeprefix("__gen__"): v
            for k, v in observed.items()
            if k.startswith(rules) and v and v > 0
        }
        kept = {k: v for k, v in observed.items() if not k.startswith(rules)}
        return added, kept, bad

    def _drop(self, staged) -> None:
        """Delete files this operation staged and will not commit."""
        for rel in staged:
            self.fs.delete(os.path.join(self.path, rel))

    def _discard(self, added: set[str], message: str) -> NoReturn:
        """Delete an uncommitted write's staged files and refuse it."""
        self._drop(added)
        raise ValidationError(message)

    def _stage_append(
        self, snap: _Snapshot, df: DataFrame, merge_schema: bool, metrics: dict
    ) -> tuple[set[str], dict, dict, dict]:
        """Stage one append batch against ``snap`` (shared by append and
        wap_append): derive absent generated columns, check the batch
        schema, and write with ``metrics`` plus the CHECK and
        generated-column counters observed. Returns the _checked_write
        triple and the commit's changes."""
        df, gen_checks = self._apply_generated(snap, df)
        if snap.version is None:
            schema = df.schema
        else:
            new_fields = _added_fields(
                snap.schema, df.schema, f"append(merge_schema={merge_schema})"
            )
            missing = [n for n in snap.schema.names if n not in df.columns]
            if (new_fields or missing) and not merge_schema:
                raise ValidationError(
                    f"append: new columns {[f.name for f in new_fields]}, missing "
                    f"columns {missing} — pass merge_schema=True to evolve the "
                    "table schema"
                )
            schema = T.StructType(list(snap.schema.fields) + new_fields)
        mapping = self._mapping_with_new_cols(snap, df)
        checks = dict(metrics) | self._constraint_metrics(snap) | gen_checks
        added, observed, bad = self._checked_write(df, mapping, checks)
        changes = {
            "files": set(snap.files) | added,
            "schema": schema,
            "column_mapping": mapping,
        }
        return added, observed, bad, changes

    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        """Commit an append. Data lands as fresh uniquely-named part files in
        the normal partition layout; the new manifest = previous live set +
        added files. Returns the new version. CHECK constraints in force
        are enforced during the staging write (Observation — no extra
        pass); a violating batch is discarded before commit, Delta
        semantics. ``merge_schema=True`` lets the batch add columns (the
        reference's mergeSchema append, nyc_taxi_to_iceberg.py:141-143)
        or lack some: the commit's schema is the union, and files without
        a column read NULL for it. Without it the batch must carry exactly
        the table's columns. A column on both sides must keep its type —
        parquet has no transparent type widening."""
        return self._append(self._snapshot(), df, merge_schema)

    def overwrite(self, df: DataFrame) -> int:
        """Commit an INSERT OVERWRITE: ``df``'s rows replace every live file
        and deletion vector (older snapshots keep reading theirs). Schema,
        CHECK and generated-column rules apply as in append. Returns the
        new version."""
        snap = self._snapshot()
        return self._append(snap, df, False, "overwrite", dead=set(snap.files))

    def replace_where(self, df: DataFrame, predicate: str) -> int:
        """Commit Delta's replaceWhere: the rows matching ``predicate``
        leave and ``df``'s rows are added in ONE commit, so no reader ever
        sees one half applied and a failure in between loses nothing — the
        reference's DELETE-recent + append refresh
        (comprehensive_analytics.py:207-213). On a table with no commit
        yet it is an append. ``df`` is checked like an append (schema,
        CHECK, generated columns) and may be a plan over this very table:
        the snapshot it reads stays on disk. Dropping the rows costs what
        delete_where's does: nothing but the manifest for a predicate over
        partition columns only. Returns the new version."""
        snap = self._snapshot()
        if snap.version is None:
            return self._append(snap, df, False)
        dead, kept = self._drop_rows(snap, predicate)
        return self._append(snap, df, False, "replace_where", dead=dead, kept=kept)

    def _append(
        self,
        snap: _Snapshot,
        df: DataFrame,
        merge_schema: bool,
        op: str = "append",
        dead=frozenset(),
        kept: DataFrame | None = None,
        **extra,
    ) -> int:
        """Commit ``op``: ``df`` staged as an append of ``snap`` while the
        live files ``dead`` leave, and the rows ``kept`` (their survivors,
        if any) are rewritten alongside. ``extra`` are further manifest
        changes. A CHECK or generated-column violation discards all of it."""
        added, _, bad, changes = self._stage_append(snap, df, merge_schema, {})
        if kept is not None:
            added |= self._staged_write(kept, changes["column_mapping"])
        if bad:
            self._discard(
                added,
                f"{op} rejected by CHECK constraints / generated-"
                f"column validation (staged files discarded): {bad}",
            )
        changes["files"] = (set(snap.files) - set(dead)) | added
        return self._commit(snap, op, staged=added, **changes, **extra)

    def wap_append(
        self,
        df: DataFrame,
        metrics: dict,
        audit,
        merge_schema: bool = False,
    ):
        """Write-Audit-Publish append (the Iceberg/Netflix WAP pattern) with
        ZERO-extra-pass metrics: an Observation rides the staging write
        job, so row counts / null counts / domain violations are measured
        while the data is being written — not by the count()-per-gate
        re-scans of validate_non_empty / null_profile, which each cost a
        full extra pass at 100 TB. ``metrics`` maps name -> aggregate
        Column (F.count/F.sum/...); ``audit`` is a callable taking the
        observed dict and returning a list of violation strings. Empty
        list -> the staged files are committed (publish) and
        (version, observed) returned; any violation -> the staged files
        are deleted, no commit is written (readers never saw them — the
        audit happens BEFORE publish, unlike a post-append delete), and
        ValidationError lists every violation."""
        snap = self._snapshot()
        added, observed, bad, changes = self._stage_append(
            snap, df, merge_schema, metrics
        )
        violations = [f"CHECK {k}: {v} violating rows" for k, v in bad.items()]
        violations += audit(observed)
        if violations:
            self._discard(
                added,
                "wap_append audit failed (staged files discarded, nothing "
                "published): " + "; ".join(violations),
            )
        return self._commit(snap, "append", staged=added, **changes), observed

    def _bounded(
        self, snap: _Snapshot, current: DataFrame, affected: DataFrame
    ) -> tuple[set[str], DataFrame | None]:
        """The partition-bounded scope of a rewrite of ``snap``, whose rows
        are ``current``: (the live files of the partitions holding a row of
        ``affected``, those partitions' rows) — one small distinct collect.
        An unpartitioned table is one scope: (every live file,
        ``current``). (empty set, None) when no partition is touched."""
        pcols = self.partition_cols
        if not pcols:
            return set(snap.files), current
        parts = [tuple(r) for r in affected.select(*pcols).distinct().collect()]
        if not parts:
            return set(), None
        prefixes = tuple(_partition_subdir(pcols, p) + "/" for p in parts)
        dead = {f for f in snap.files if self._root_of(f)[1].startswith(prefixes)}
        return dead, current.filter(_partition_filter(pcols, parts))

    def _matching_dirs(self, snap: _Snapshot, predicate: str) -> set[str] | None:
        """The partition directories of ``snap``'s live files whose values
        satisfy ``predicate``, decided from the manifest alone: the
        predicate filters a VALUES relation of one row per directory,
        which Spark evaluates on the driver without a job. None when the
        table is unpartitioned or the predicate reads a non-partition
        column — it cannot then be decided per directory."""
        pcols = self.partition_cols
        if not pcols:
            return None
        dirs = sorted({os.path.dirname(self._root_of(f)[1]) for f in snap.files})
        types = {f.name: f.dataType.simpleString() for f in snap.schema}
        rows = []
        for i, d in enumerate(dirs):
            segs = d.split("/")
            if len(segs) != len(pcols) or any(
                not seg.startswith(f"{c}=") for seg, c in zip(segs, pcols)
            ):
                return None
            vals = [unquote(seg.split("=", 1)[1]) for seg in segs]
            lits = [
                "NULL" if v == "__HIVE_DEFAULT_PARTITION__" else _sql_str(v)
                for v in vals
            ]
            rows.append(
                f"({i}, "
                + ", ".join(f"CAST({v} AS {types[c]})" for v, c in zip(lits, pcols))
                + ")"
            )
        if not rows:
            return set()
        names = ", ".join(f"`{c}`" for c in pcols)
        values = self.spark.sql(f"SELECT * FROM VALUES {', '.join(rows)} AS t(__dir, {names})")
        try:
            hits = values.filter(predicate).select("__dir").collect()
        except AnalysisException:
            return None
        return {dirs[r[0]] for r in hits}

    def _drop_rows(
        self, snap: _Snapshot, predicate: str
    ) -> tuple[set[str], DataFrame | None]:
        """What dropping the rows matching ``predicate`` from ``snap``
        takes: (the live files that leave, the rows of theirs that stay,
        or None when none can). A predicate over partition columns only
        drops whole directories (``_matching_dirs``): no scan, no rewrite —
        Delta's metadata-only delete. Otherwise the partitions holding a
        match are rewritten without it (``_bounded``). SQL DELETE
        semantics: a NULL predicate keeps the row."""
        dirs = self._matching_dirs(snap, predicate)
        if dirs is not None:
            dead = {f for f in snap.files if os.path.dirname(self._root_of(f)[1]) in dirs}
            return dead, None
        current = self._scan(snap)
        dead, scope = self._bounded(snap, current, current.filter(predicate))
        keep = ~F.coalesce(F.expr(predicate), F.lit(False))
        return dead, None if scope is None else scope.filter(keep)

    def _rewrite(
        self, snap: _Snapshot, op: str, affected, rewrite, checks=None, **extra
    ) -> int:
        """Commit ``op`` as a partition-bounded rewrite of ``snap``: the
        partitions holding a row of ``affected(current)`` are replaced by
        ``rewrite(their rows)``, written as NEW files (nothing is
        physically removed, so every earlier snapshot and any in-flight
        reader keeps working); every other partition's files carry over.
        An unpartitioned table rewrites whole. ``checks`` (CHECK
        counters) ride the write; a violation discards it. ``extra`` are
        further manifest changes, committed even when nothing is touched."""
        current = self._scan(snap)
        dead, scope = self._bounded(snap, current, affected(current))
        if scope is None:
            return self._commit(snap, f"{op}(noop)", **extra)
        added, _, bad = self._checked_write(
            rewrite(scope), snap.column_mapping, checks or {}
        )
        if bad:
            self._discard(added, f"{op} rejected by CHECK constraints: {bad}")
        return self._commit(
            snap, op, staged=added, files=(set(snap.files) - dead) | added, **extra
        )

    def delete_where(self, predicate: str) -> int:
        """Commit a DELETE. Partition-bounded: a predicate over partition
        columns only drops the matching partitions' files from the manifest
        without a scan; any other predicate rewrites the survivors of the
        partitions holding a match as NEW files. SQL DELETE semantics (a
        NULL predicate keeps the row). Returns the new version."""
        snap = self._nonempty(self._snapshot(), "delete_where")
        dead, kept = self._drop_rows(snap, predicate)
        if not dead:
            return self._commit(snap, "delete_where(noop)")
        added = set() if kept is None else self._staged_write(kept, snap.column_mapping)
        return self._commit(
            snap, "delete_where", staged=added, files=(set(snap.files) - dead) | added
        )

    def update_where(self, predicate: str, set_exprs: dict[str, str]) -> int:
        """Commit an UPDATE ... SET (Delta UPDATE semantics): rows matching
        ``predicate`` get each column in ``set_exprs`` recomputed from its
        SQL expression (evaluated against the PRE-update row, all
        assignments simultaneous, standard UPDATE semantics); unmatched
        rows pass through byte-identical. Partition-bounded like
        delete_where — only partitions containing a match are rewritten,
        as NEW files, so earlier snapshots keep reading. CHECK constraints
        in force are enforced on the rewritten rows (the update must not
        smuggle in violations an append would have rejected); generated
        columns are recomputed when their sources change is the caller's
        concern — assigning a generated column directly is refused.
        Partition columns cannot be assigned (that is a MERGE/move, not an
        in-place update). Returns the new version."""
        snap = self._nonempty(self._snapshot(), "update_where")
        for c in set_exprs:
            if c in self.partition_cols:
                raise ValidationError(
                    f"update_where: cannot assign partition column {c!r}"
                )
            if c in snap.generated_cols:
                raise ValidationError(
                    f"update_where: {c!r} is GENERATED ALWAYS AS — it cannot "
                    "be assigned directly"
                )
            if c not in snap.schema.names:
                raise ValidationError(f"update_where: no column {c!r}")
        match = F.coalesce(F.expr(predicate), F.lit(False))
        # Simultaneous assignment: every SET expression evaluates against
        # the pre-update row (one select, not chained withColumns).
        assigned = [
            F.when(match, F.expr(set_exprs[f.name]).cast(f.dataType))
            .otherwise(F.col(f.name))
            .alias(f.name)
            if f.name in set_exprs
            else F.col(f.name)
            for f in snap.schema.fields
        ]
        return self._rewrite(
            snap,
            "update_where",
            lambda current: current.filter(match),
            lambda scope: scope.select(*assigned),
            self._constraint_metrics(snap),
        )

    def merge_upsert(
        self,
        updates: DataFrame,
        keys: list[str],
        order_col: str | None = None,
        delete_col: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Commit a keyed MERGE (Delta MERGE WHEN MATCHED UPDATE/DELETE,
        NOT MATCHED INSERT) with last-write-wins by ``order_col`` within the
        batch (e.g. source ts_ms — the Debezium contract); ``delete_col =
        true`` rows delete. Affected partitions' surviving rows + inserts
        are written as NEW files; the manifest swaps those partitions' file
        sets. Earlier snapshots stay readable — each CDC batch becomes one
        time-travelable version. Returns the new version.

        ``txn=(app_id, batch_id)`` is Delta's txn action for a
        foreachBatch sink: the batch id is recorded in the SAME manifest
        as the merge, and a batch id at or below the one recorded for
        ``app_id`` is skipped (no commit; the current version is
        returned). Structured Streaming delivers each micro-batch
        at-least-once across restarts; this makes it effectively-once."""
        snap = self._snapshot()
        extra = {}
        if txn is not None:
            app_id, batch_id = txn
            if batch_id <= snap.txns.get(app_id, -1):
                return snap.version
            extra["txns"] = {**snap.txns, app_id: int(batch_id)}
        inserts, all_keys = _merge_batch(updates, keys, order_col, delete_col)
        if snap.version is None:
            return self._append(snap, inserts, False, **extra)
        # Align the insert side to the table schema (drops batch-only
        # bookkeeping columns like the order_col).
        inserts = inserts.select(*snap.schema.names)
        pcols = self.partition_cols
        return self._rewrite(
            snap,
            "merge_upsert",
            lambda current: current.join(all_keys, keys, "left_semi")
            .select(*pcols)
            .unionByName(inserts.select(*pcols)),
            lambda scope: scope.join(all_keys, keys, "left_anti").unionByName(inserts),
            **extra,
        )

    def mark_deleted(self, predicate: str) -> int:
        """Commit a merge-on-read DELETE (Delta deletion vectors / Iceberg
        v2 positional deletes): no data file is rewritten. One job scans
        the live rows matching ``predicate`` and writes their (file_path,
        row_index) as one tombstone file, observing its row count and the
        files it covers; the commit adds it to the snapshot's deletion
        vectors. A NULL predicate keeps the row. Returns the new version."""
        snap = self._nonempty(self._snapshot(), "mark_deleted")
        if not snap.files:
            return self._commit(snap, "mark_deleted(noop)")
        obs = Observation()
        hits = (
            self._read_files(snap, snap.files, positions=True)
            .filter(predicate)
            .select(F.col("__fp").alias("file_path"), F.col("__ri").alias("row_index"))
            .repartition(1)
            .observe(
                obs, F.count("*").alias("rows"), F.collect_set("file_path").alias("files")
            )
        )
        added = self._staged_write(hits, {}, subdir=_DELETES_DIR)
        seen = obs.get
        if not seen["rows"]:
            self._drop(added)
            return self._commit(snap, "mark_deleted(noop)")
        # A file URI, decoded, is an absolute path: its root-relative part
        # names the live file.
        by_home = {self._root_of(f)[1]: f for f in snap.files}
        covered = sorted(
            by_home[self._root_of(unquote(urlsplit(u).path))[1]] for u in seen["files"]
        )
        (path,) = added
        dv = {"path": path, "rows": seen["rows"], "files": covered}
        return self._commit(snap, "mark_deleted", staged=added, deletes=(*snap.deletes, dv))

    # -- maintenance --------------------------------------------------------

    def compact(self, target_file_bytes: int = 128 << 20) -> int:
        """Commit an OPTIMIZE: rewrite the current live set as bin-packed
        files (coalesced toward the target size — the reference's
        ``write-target-file-size-bytes=134217728`` sink setting) and commit
        the new layout. Streaming sinks and frequent small appends fragment
        partitions; only directories with more files than their data needs
        are rewritten. Non-destructive — the fragmented
        files stay on disk serving older snapshots until vacuum(); readers
        of any version are never disturbed (Delta OPTIMIZE semantics: a
        data-identical commit). On a shallow clone it also deep-copies every
        partition that still references the source's files, so the clone
        survives a VACUUM of its source. Returns the new version, or -1 if
        the table is already compact (no commit written)."""
        snap = self._snapshot()
        deleted = {f for d in snap.deletes for f in d["files"]}

        # A partition is worth rewriting if it has more files than its data
        # needs, if it still references a shallow-clone source's files
        # (the rewrite deep-copies them under this table's root), or if a
        # deletion vector covers one of its files (the rewrite applies it).
        def worth(files: list[str], want: int) -> bool:
            return (
                len(files) > want
                or any(map(os.path.isabs, files))
                or not deleted.isdisjoint(files)
            )

        return self._rewrite_dirs(
            snap, "compact", DataFrame.coalesce, 1, target_file_bytes, worth
        )

    def cluster(
        self,
        zorder_by: list[str],
        bits: int = 12,
        target_file_bytes: int = 128 << 20,
        min_files: int = 1,
    ) -> int:
        """Commit an OPTIMIZE ... ZORDER BY: rewrite the live set with rows
        range-partitioned and sorted by the Morton interleave of the named
        numeric columns, so file-level min/max statistics prune scans on
        EVERY zorder dimension (the q_zorder_layout audit measures why).
        Hive-partitioned tables are clustered within each partition
        directory, Delta-style. Non-destructive like compact(): old files
        keep serving older snapshots until vacuum(). Scale shape: one
        bounded 2-scalar-per-column collect for the min/max bounds, then
        repartitionByRange on the z-code (sampled range boundaries — no
        global sort) + sortWithinPartitions; the z expression is JVM-side
        bit arithmetic inside codegen. Returns the new version, or -1 if
        the table is empty."""
        from .operators.zorder import minmax_scale, zorder_column

        def layout(df: DataFrame, want: int) -> DataFrame:
            aggs = []
            for c in zorder_by:
                aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
            bounds = df.agg(*aggs).collect()[0]
            cols = [
                minmax_scale(
                    F.col(c),
                    F.lit(bounds[f"mn_{c}"]),
                    F.lit(bounds[f"mx_{c}"]),
                    bits,
                )
                for c in zorder_by
            ]
            return (
                df.withColumn("__z", zorder_column(cols, bits))
                .repartitionByRange(want, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )

        return self._rewrite_dirs(
            self._snapshot(), "zorder", layout, min_files, target_file_bytes
        )

    def _rewrite_dirs(
        self, snap: _Snapshot, op: str, layout, min_files: int, target_bytes: int, worth=None
    ) -> int:
        """Commit ``op`` (compact, cluster) as a per-directory rewrite of
        ``snap``. Live files are grouped by partition directory relative to
        their root (a shallow-clone source's files are re-homed under this
        table) and sized by one listing per directory. Each directory
        ``worth(files, want)`` rewriting (default: all) gets ``layout(its
        rows, want)`` staged into it as about ``want`` files: partition
        values are fixed there, so no re-shuffle. Returns the new version,
        or -1 if nothing was rewritten."""
        if snap.version is None:
            return -1
        live = set(snap.files)
        new_live = set(live)
        groups: dict[str, list[str]] = {}
        for f in snap.files:
            groups.setdefault(os.path.dirname(self._root_of(f)[1]), []).append(f)
        for d, files in groups.items():
            paths = [os.path.join(self.path, f) for f in files]
            size = {
                os.path.join(absdir, name): n
                for absdir in {os.path.dirname(p) for p in paths}
                for name, _, n in self.fs.list(absdir)
            }
            total = sum(size.get(p, 0) for p in paths)
            want = max(min_files, math.ceil(total / target_bytes))
            if worth and not worth(files, want):
                continue
            df = layout(self._read_files(snap, files).drop(*self.partition_cols), want)
            added = self._staged_write(df, snap.column_mapping, subdir=d)
            new_live = (new_live - set(files)) | added
        if new_live == live:
            return -1
        # Every file new to the live set was staged by this operation.
        return self._commit(snap, op, staged=new_live - live, files=new_live)

    def restore(self, version: int) -> int:
        """Delta RESTORE TABLE ... TO VERSION AS OF n: commit a NEW version
        whose manifest is the target version's file list, deletion vectors
        and schema, with the schema's column mapping, generated columns and
        CHECK constraints — a zero-copy rollback that PRESERVES history (the bad
        versions stay readable until vacuum, exactly Delta's semantics; a
        destructive log rewind would break time travel and concurrent
        readers). The retired-physical ledger only grows, so it carries
        forward from the head. Refuses if any restored data or tombstone
        file has been vacuumed away in the meantime."""
        head = self._snapshot()
        target = self._snapshot(version)
        missing = [
            f for f in (*target.files, *(d["path"] for d in target.deletes))
            if not self.fs.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise ValidationError(
                f"cannot restore to version {version}: {len(missing)} data "
                f"file(s) were vacuumed (e.g. {missing[0]}); restore is only "
                "possible within the vacuum retention window"
            )
        return self._commit(
            head,
            "restore",
            files=target.files,
            deletes=target.deletes,
            schema=target.schema,
            column_mapping=target.column_mapping,
            generated_cols=target.generated_cols,
            constraints=target.constraints,
        )

    def clone_to(self, dest_path: str) -> "VersionedLakeTable":
        """Zero-copy SHALLOW CLONE of the latest snapshot (Delta CLONE):
        the clone gets its own commit log whose first manifest references
        the source's live data and tombstone files by absolute path — no
        data moves — and carries the source's schema, column mapping, CHECK
        constraints and generated columns. Writes to the clone land under
        the clone's root and never touch the source; the source evolving
        (appends/deletes) never changes the clone (its manifest pins the
        file set). The one shared-fate hazard is the same as Delta's:
        VACUUMing the SOURCE can physically remove files a shallow clone
        still references — deep-copy (compact) the clone before vacuuming
        a cloned source."""
        snap = self._nonempty(self._snapshot(), "clone_to")
        clone = VersionedLakeTable(self.spark, dest_path, list(snap.partition_cols))
        empty = clone._snapshot()
        if empty.version is not None:
            raise ValidationError(f"clone destination {dest_path} not empty")
        absolute = functools.partial(os.path.join, self.path)
        clone._commit(
            empty,
            f"clone(shallow from {self.path}@v{snap.version})",
            files=[absolute(f) for f in snap.files],
            deletes=[
                {**d, "path": absolute(d["path"]), "files": list(map(absolute, d["files"]))}
                for d in snap.deletes
            ],
            schema=snap.schema,
            base=snap.base or self.path,
            constraints=snap.constraints,
            column_mapping=snap.column_mapping,
            generated_cols=snap.generated_cols,
            retired_physical=snap.retired_physical,
        )
        return clone

    def orphans(self, retain_last: int = 1) -> set[str]:
        """Table-relative data and tombstone files on disk that no retained
        manifest references (failed writes, vacuum candidates). Pure
        report — the audit half of vacuum()."""
        vs = self.versions()
        if not vs:
            return set()
        referenced: set[str] = set()
        for v in vs[-max(1, retain_last):]:
            snap = self._snapshot(v)
            referenced |= {*snap.files, *(d["path"] for d in snap.deletes)}
        return self._data_files() - referenced

    def vacuum(self, retain_last: int = 1) -> int:
        """Physically delete data and tombstone files unreferenced by the
        newest ``retain_last`` manifests, then drop the expired manifests (Delta VACUUM + log
        retention in one). Also clears ``_staging`` leftovers from crashed
        commits (underscore-prefixed, so invisible to readers and to the
        orphan walk) — like Delta's VACUUM, this must not run concurrently
        with in-flight writers, whose private staging dirs live there.
        Returns the number of data files removed."""
        vs = self.versions()
        if not vs:
            return 0
        removed = 0
        for f in self.orphans(retain_last):
            if self.fs.delete(os.path.join(self.path, f)):
                removed += 1
        for v in vs[: -max(1, retain_last)]:
            self.fs.delete(self._manifest_path(v))
        staging = os.path.join(self.path, "_staging")
        if self.fs.exists(staging):
            self.fs.delete(staging, recursive=True)
        self.spark.catalog.refreshByPath(self.path)
        return removed

"""Versioned lake tables: snapshot isolation, time travel, VACUUM.

The reference gets these semantics from Iceberg (its tables are snapshot
trees on MinIO; SURVEY §1.1/§1.4); ``lake.py``'s LakeTable deliberately
covers only the *current-state* contract (append / delete / merge) over
plain parquet. This module adds the log-structured half — the Delta/Iceberg
commit model — natively:

- every mutation is a **commit**: data files are only ever ADDED (appends
  write fresh uniquely-named part files; deletes rewrite survivors as new
  files), and a JSON manifest ``_log/v{N}.json`` records the live file set,
  schema, and operation of each version;
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
  keeps working while later commits run, because no commit removes files;
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

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fs import LakeFS
from .lake import (
    TxnLedger,
    ValidationError,
    _added_fields,
    _merge_batch,
    _partition_filter,
    _partition_subdir,
)


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
    "rows": its row count, "files": the live files it covers}."""

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


class VersionedLakeTable(TxnLedger):
    """A partitioned parquet table with Delta-style versioned commits."""

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
        if not self.fs.is_dir(self._log_dir):
            return []
        out = []
        for name, is_dir, _ in self.fs.list(self._log_dir):
            if not is_dir and name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

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
        self.fs.mkdirs(self._log_dir)
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
        self,
        df: DataFrame,
        mapping: dict[str, str],
        subdir: str = "",
        partitioned: bool | None = None,
    ) -> set[str]:
        """Write df's part files through a PRIVATE staging directory, then
        move them into the table layout; returns the relative paths added.

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
        if os.path.isabs(subdir) or os.path.normpath(subdir).split(os.sep)[0] == "..":
            raise ValidationError(f"staged write outside the table: {subdir!r}")
        if mapping:
            df = df.select(*[F.col(c).alias(mapping.get(c, c)) for c in df.columns])
        stage = os.path.join(self.path, "_staging", uuid.uuid4().hex)
        writer = df.write.mode("overwrite")
        use_partitioning = (
            bool(self.partition_cols) if partitioned is None else partitioned
        )
        if use_partitioning:
            writer = writer.partitionBy(*self.partition_cols)
        writer.parquet(stage)
        added = {os.path.join(subdir, rel): rel for rel in self._parquet_under(stage)}
        for dest_rel, rel in added.items():
            dest = os.path.join(self.path, dest_rel)
            self.fs.mkdirs(os.path.dirname(dest))
            if not self.fs.rename(os.path.join(stage, rel), dest):
                raise ValidationError(f"staged move failed: {rel} -> {dest_rel}")
        self.fs.delete(stage, recursive=True)
        self.spark.catalog.refreshByPath(self.path)
        return set(added)

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
            if new_fields and not merge_schema:
                raise ValidationError(
                    f"append: new columns {[f.name for f in new_fields]} — pass "
                    "merge_schema=True to evolve the table schema"
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
        semantics."""
        return self._append(self._snapshot(), df, merge_schema)

    def overwrite(self, df: DataFrame) -> int:
        """Commit an INSERT OVERWRITE: ``df``'s rows replace every live file
        and deletion vector (older snapshots keep reading theirs). Schema,
        CHECK and generated-column rules apply as in append. Returns the
        new version."""
        return self._append(self._snapshot(), df, False, "overwrite")

    def _append(
        self, snap: _Snapshot, df: DataFrame, merge_schema: bool, op: str = "append"
    ) -> int:
        added, _, bad, changes = self._stage_append(snap, df, merge_schema, {})
        if bad:
            self._discard(
                added,
                f"{op} rejected by CHECK constraints / generated-"
                f"column validation (staged files discarded): {bad}",
            )
        if op == "overwrite":
            changes["files"] = added
        return self._commit(snap, op, staged=added, **changes)

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

    def _rewrite(self, snap: _Snapshot, op: str, affected, rewrite, checks=None) -> int:
        """Commit ``op`` as a partition-bounded rewrite of ``snap``: the
        partitions holding a row of ``affected(current)`` are replaced by
        ``rewrite(their rows)``, written as NEW files (nothing is
        physically removed, so every earlier snapshot and any in-flight
        reader keeps working); every other partition's files carry over.
        An unpartitioned table rewrites whole. ``checks`` (CHECK
        counters) ride the write; a violation discards it."""
        current = self._scan(snap)
        live = set(snap.files)
        pcols = self.partition_cols
        if pcols:
            parts = [
                tuple(r) for r in affected(current).select(*pcols).distinct().collect()
            ]
            if not parts:
                return self._commit(snap, f"{op}(noop)")
            prefixes = tuple(_partition_subdir(pcols, p) + "/" for p in parts)
            dead = {f for f in live if self._root_of(f)[1].startswith(prefixes)}
            scope = current.filter(_partition_filter(pcols, parts))
        else:
            dead, scope = live, current
        added, _, bad = self._checked_write(
            rewrite(scope), snap.column_mapping, checks or {}
        )
        if bad:
            self._discard(added, f"{op} rejected by CHECK constraints: {bad}")
        return self._commit(snap, op, staged=added, files=(live - dead) | added)

    def delete_where(self, predicate: str) -> int:
        """Commit a DELETE. Survivors of affected partitions are rewritten as
        NEW files; the manifest drops the affected partitions' old files.
        Partition-bounded exactly like LakeTable.delete_where; SQL DELETE
        semantics (a NULL predicate keeps the row). Returns the new
        version."""
        snap = self._nonempty(self._snapshot(), "delete_where")
        keep = ~F.coalesce(F.expr(predicate), F.lit(False))
        return self._rewrite(
            snap,
            "delete_where",
            lambda current: current.filter(predicate),
            lambda scope: scope.filter(keep),
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
    ) -> int:
        """Commit a keyed MERGE (Delta MERGE WHEN MATCHED UPDATE/DELETE,
        NOT MATCHED INSERT) with last-write-wins by ``order_col`` within the
        batch. Affected partitions' surviving rows + inserts are written as
        NEW files; the manifest swaps those partitions' file sets. Earlier
        snapshots stay readable — each CDC batch becomes one time-travelable
        version. Returns the new version."""
        inserts, all_keys = _merge_batch(updates, keys, order_col, delete_col)
        snap = self._snapshot()
        if snap.version is None:
            return self._append(snap, inserts, False)
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
        added = self._staged_write(hits, {}, subdir=_DELETES_DIR, partitioned=False)
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
        files (coalesced toward the target size) and commit the new layout.
        Unlike LakeTable.compact this is non-destructive — the fragmented
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
            added = self._staged_write(df, snap.column_mapping, subdir=d, partitioned=False)
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

"""Lakehouse table layer tests: replace_where refresh, merge, watermark
control, validation gates (reference S7-S9, §2.11)."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from nyc_taxi_lakehouse_spark import lake
from nyc_taxi_lakehouse_spark.lake import (
    ControlTable,
    LakeTable,
    ValidationError,
    null_profile,
    validate_columns,
    validate_non_empty,
)

from .conftest import spark_jobs


@pytest.fixture
def trips(spark):
    return spark.createDataFrame(
        [(i, f"2024-01-{(i % 3) + 1:02d}", float(i)) for i in range(1, 31)],
        "id long, day string, amount double",
    )


def test_partitioned_append_and_read(spark, trips, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), partition_cols=["day"])
    t.append(trips)
    assert t.read().count() == 30
    # Partition pruning: day filter reads one directory.
    plan = t.read().filter("day = '2024-01-01'")._jdf.queryExecution().executedPlan().toString()
    assert t.read().filter("day = '2024-01-01'").count() == 10


def test_delete_where_rewrites_only_affected_partitions(spark, trips, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), partition_cols=["day"])
    t.append(trips)
    t.delete_where("day = '2024-01-02' AND amount > 20")
    df = t.read()
    assert df.count() == 27  # 3 rows matched the predicate
    assert df.filter("day = '2024-01-02' AND amount > 20").count() == 0
    # Other partitions untouched.
    assert df.filter("day = '2024-01-01'").count() == 10


def test_refresh_where_idempotent(spark, trips, tmp_path):
    """The reference's DELETE+append refresh (replace_where) run twice
    yields one copy."""
    t = LakeTable(spark, str(tmp_path / "t"), partition_cols=["day"])
    t.append(trips)
    fresh = trips.filter("day = '2024-01-03'").withColumn("amount", F.col("amount") * 2)
    t.replace_where(fresh, "day = '2024-01-03'")
    t.replace_where(fresh, "day = '2024-01-03'")
    df = t.read()
    assert df.count() == 30
    # day-03 rows are i∈{2,5,...}; doubled min = 4.0 proves the fresh copy won
    assert df.filter("day = '2024-01-03'").agg(F.min("amount")).collect()[0][0] == 4.0


def test_merge_upsert_last_write_wins(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(1, "a", 1.0, 100), (2, "b", 2.0, 100)], "id long, k string, v double, ts long"
    )
    t.append(base)
    updates = spark.createDataFrame(
        [
            (2, "b", 20.0, 200, False),
            (2, "b", 99.0, 150, False),  # older → loses to ts 200
            (3, "c", 3.0, 200, False),
            (1, "a", 1.0, 300, True),  # delete
        ],
        "id long, k string, v double, ts long, __del boolean",
    )
    t.merge_upsert(updates, keys=["id"], order_col="ts", delete_col="__del")
    pdf = t.read().toPandas().sort_values("id")
    assert list(pdf.id) == [2, 3]
    assert float(pdf[pdf.id == 2].v.iloc[0]) == 20.0


def _partition_snapshot(pdir):
    import os

    return sorted(
        (f, os.path.getsize(os.path.join(pdir, f)), os.path.getmtime(os.path.join(pdir, f)))
        for f in os.listdir(pdir)
        if f.endswith(".parquet")
    )


def test_merge_upsert_rewrites_only_affected_partitions(spark, trips, tmp_path):
    """A merge touching day-02 must leave day-01/day-03 files byte-identical
    (VERDICT r1 #1: the CDC landing path must not rewrite the table)."""
    t = LakeTable(spark, str(tmp_path / "t"), partition_cols=["day"])
    t.append(trips)
    before_d1 = _partition_snapshot(str(tmp_path / "t" / "day=2024-01-01"))
    before_d3 = _partition_snapshot(str(tmp_path / "t" / "day=2024-01-03"))
    updates = spark.createDataFrame(
        [(4, "2024-01-02", 400.0, False), (999, "2024-01-02", 999.0, False)],
        "id long, day string, amount double, __del boolean",
    )
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    session_mode = spark.conf.get(mode_key)
    t.merge_upsert(updates, keys=["id"], delete_col="__del")
    # Dynamic overwrite is a per-write option: the session conf is untouched.
    assert spark.conf.get(mode_key) == session_mode
    assert _partition_snapshot(str(tmp_path / "t" / "day=2024-01-01")) == before_d1
    assert _partition_snapshot(str(tmp_path / "t" / "day=2024-01-03")) == before_d3
    df = t.read()
    assert df.count() == 31  # 30 + 1 insert
    assert df.filter("id = 4").collect()[0].amount == 400.0
    assert str(df.filter("id = 999").collect()[0].day) == "2024-01-02"


def test_merge_upsert_drops_fully_deleted_partition(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), partition_cols=["day"])
    t.append(
        spark.createDataFrame(
            [(1, "d1", 1.0), (2, "d2", 2.0)], "id long, day string, v double"
        )
    )
    deletes = spark.createDataFrame(
        [(1, "d1", 1.0, True)], "id long, day string, v double, __del boolean"
    )
    t.merge_upsert(deletes, keys=["id"], delete_col="__del")
    df = t.read()
    assert [r.id for r in df.collect()] == [2]
    assert not [f for f in t._snapshot().files if f.startswith("day=d1/")]


def test_delete_where_null_predicate_keeps_row(spark, tmp_path):
    """SQL DELETE removes only TRUE rows — a NULL predicate keeps the row,
    consistently across partitions (ADVICE r1: lake.py delete_where)."""
    for pcols in ([], ["day"]):
        t = LakeTable(spark, str(tmp_path / f"t{len(pcols)}"), partition_cols=pcols)
        t.append(
            spark.createDataFrame(
                [(1, "d1", 5.0), (2, "d1", None), (3, "d2", None), (4, "d2", 1.0)],
                "id long, day string, amount double",
            )
        )
        t.delete_where("amount > 2")  # NULL > 2 is NULL, not TRUE
        got = sorted(r.id for r in t.read().collect())
        assert got == [2, 3, 4], f"pcols={pcols}: {got}"


def test_append_merge_schema_evolution(spark, tmp_path):
    """mergeSchema append: new column visible on read, old rows NULL, and
    reads stay deterministic via the committed schema (ADVICE r1:
    mergeSchema is a read option — writer option was a silent no-op)."""
    import pytest as _pytest

    from nyc_taxi_lakehouse_spark.lake import ValidationError

    t = LakeTable(spark, str(tmp_path / "t"), partition_cols=["day"])
    t.append(
        spark.createDataFrame([(1, "d1", 1.0)], "id long, day string, amount double")
    )
    evolved = spark.createDataFrame(
        [(2, "d2", 2.0, "card")], "id long, day string, amount double, pay_type string"
    )
    with _pytest.raises(ValidationError):
        t.append(evolved)  # must be explicit
    t.append(evolved, merge_schema=True)
    df = t.read().orderBy("id")
    assert df.columns == ["id", "amount", "pay_type", "day"] or set(df.columns) == {
        "id",
        "day",
        "amount",
        "pay_type",
    }
    rows = df.collect()
    assert rows[0].pay_type is None and rows[1].pay_type == "card"
    # Narrower appends are also evolution: without merge_schema the batch
    # must carry exactly the table's columns.
    narrow = spark.createDataFrame([(3, "d3", 3.0)], "id long, day string, amount double")
    with _pytest.raises(ValidationError):
        t.append(narrow)
    t.append(narrow, merge_schema=True)
    assert t.read().filter("id = 3").collect()[0].pay_type is None
    # Type conflict is rejected.
    bad = spark.createDataFrame([(4, "d4", "x")], "id long, day string, amount string")
    with _pytest.raises(ValidationError):
        t.append(bad, merge_schema=True)


def test_control_table_watermark(spark, tmp_path):
    c = ControlTable(spark, str(tmp_path / "ctl"))
    assert c.get_watermark("trips") is None
    c.set_watermark("trips", "2024-01-01T00:00:00")
    c.set_watermark("trips", "2024-02-01T00:00:00")
    assert c.get_watermark("trips") == "2024-02-01T00:00:00"


def test_get_watermark_reads_with_the_fixed_schema(spark, tmp_path):
    """The control table's schema is fixed, so a watermark read runs one
    job and no schema inference."""
    c = ControlTable(spark, str(tmp_path / "ctl"))
    c.set_watermark("trips", "2024-01-01T00:00:00")
    c.set_watermark("events", "2024-03-01T00:00:00")
    assert spark_jobs(spark, lambda: c.get_watermark("trips"))[:2] == (
        "2024-01-01T00:00:00",
        1,
    )


def test_set_watermark_builds_no_python_rows(spark, tmp_path, monkeypatch):
    """The watermark row is built from Spark expressions: no pickled Python
    row, so no Python worker runs for a one-row write."""

    def refuse(*args, **kwargs):
        raise AssertionError("set_watermark built its row with createDataFrame")

    c = ControlTable(spark, str(tmp_path / "ctl"))
    monkeypatch.setattr(type(spark), "createDataFrame", refuse)
    c.set_watermark("trips", "2024-01-01T00:00:00")
    monkeypatch.undo()
    assert c.get_watermark("trips") == "2024-01-01T00:00:00"
    assert spark.read.parquet(c.path).schema.simpleString() == (
        "struct<source:string,watermark:string,updated_at:timestamp>"
    )


def _literal_row_frames(source: str) -> list[int]:
    """Line numbers of ``createDataFrame`` calls whose data is a list or
    tuple literal (or a list comprehension); comments and docstrings are
    not calls, so they never match."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            continue
        data = node.args[:1] + [k.value for k in node.keywords if k.arg == "data"]
        if any(isinstance(d, (ast.List, ast.Tuple, ast.ListComp)) for d in data):
            lines.append(node.lineno)
    return lines


def test_literal_row_scanner_ignores_comments_and_rdds():
    src = (
        "def f(spark, rdd, schema):\n"
        '    """spark.createDataFrame([(1,)], schema)"""\n'
        "    # spark.createDataFrame([], schema)\n"
        "    a = spark.createDataFrame(rdd, schema)\n"
        "    b = spark.createDataFrame([], schema)\n"
        "    c = spark.createDataFrame([(i,) for i in range(3)], schema)\n"
        "    return spark.createDataFrame(data=((1,),), schema=schema)\n"
    )
    assert _literal_row_frames(src) == [5, 6, 7]


def test_lake_write_path_builds_no_python_rows():
    """Rows on the lake write path come from Spark expressions: a
    ``createDataFrame`` of Python rows pickles them through Python workers,
    about a CPU second for one row."""
    root = pathlib.Path(lake.__file__).parent
    offenders = [
        f"{name}:{line}"
        for name in ("lake.py", "versioned.py", "mor.py", "pipelines.py")
        for line in _literal_row_frames((root / name).read_text())
    ]
    assert not offenders, offenders


# The one DataFrameWriter call each lake module may hold, and why.
_WRITE_PATH_ALLOWED = {
    # Every data and tombstone file of a lake table lands through its
    # private staging directory, before the commit that lists it.
    ("versioned.py", "VersionedLakeTable._staged_write"),
    # The control table is a plain parquet append log of watermark rows,
    # read with its fixed schema; it is not a lake table.
    ("lake.py", "ControlTable.set_watermark"),
}
_WRITE_PATH_MODULES = (
    "lake.py",
    "versioned.py",
    "mor.py",
    "pipelines.py",
    "llm/pipeline.py",
    "operators/evolution.py",
)


def _writer_calls(source: str) -> list[tuple[int, str]]:
    """(line, enclosing ``Class.function``) of every DataFrameWriter
    ``.parquet`` / ``.save`` / ``.insertInto`` call: a call on a chain
    through ``.write``, directly or through a local name bound to one
    (``writer = df.write.mode(...)``; ``writer.parquet(p)``). Reads
    (``spark.read...parquet``) do not pass through ``.write``."""

    def chain(expr, bound) -> set[str]:
        attrs = set()
        while True:
            if isinstance(expr, ast.Call):
                expr = expr.func
            elif isinstance(expr, ast.Attribute):
                attrs.add(expr.attr)
                expr = expr.value
            else:
                if isinstance(expr, ast.Name):
                    attrs |= bound.get(expr.id, set())
                return attrs

    found = []

    def visit(node, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, f"{scope}{child.name}.")
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = f"{scope}{child.name}"
                bound: dict[str, set[str]] = {}
                body = sorted(ast.walk(child), key=lambda n: getattr(n, "lineno", 0))
                for n in body:
                    if isinstance(n, ast.Assign):
                        attrs = chain(n.value, bound)
                        for target in n.targets:
                            if isinstance(target, ast.Name):
                                bound[target.id] = bound.get(target.id, set()) | attrs
                    elif (
                        isinstance(n, ast.Call)
                        and isinstance(n.func, ast.Attribute)
                        and n.func.attr in ("parquet", "save", "insertInto")
                        and "write" in chain(n.func.value, bound)
                    ):
                        found.append((n.lineno, name))
        return None

    visit(ast.parse(source), "")
    return sorted(set(found))


def test_writer_scanner_follows_bound_names():
    src = (
        "class T:\n"
        "    def w(self, df, spark):\n"
        '        """df.write.parquet(p)"""\n'
        "        spark.read.schema(s).parquet(p)\n"
        "        writer = df.write.mode('append')\n"
        "        writer = writer.partitionBy('a')\n"
        "        writer.parquet(p)\n"
        "        reader = spark.read.option('k', 1)\n"
        "        reader.parquet(p)\n"
        "def f(df):\n"
        "    df.write.format('x').save(p)\n"
        "    df.write.insertInto('t')\n"
    )
    assert _writer_calls(src) == [(7, "T.w"), (11, "f"), (12, "f")]


def test_lake_writes_go_through_the_manifest():
    """A lake module writes data only where a commit lists it: any other
    DataFrameWriter call puts files behind the manifest, where no snapshot
    sees them (or a plain-parquet read sees files no snapshot lists)."""
    root = pathlib.Path(lake.__file__).parent
    offenders = [
        f"{name}:{line} ({where})"
        for name in _WRITE_PATH_MODULES
        for line, where in _writer_calls((root / name).read_text())
        if (name, where) not in _WRITE_PATH_ALLOWED
    ]
    assert not offenders, offenders


def test_two_level_table_survives_deleting_every_row(spark, tmp_path):
    """Deleting every row of a two-level partitioned table leaves an empty
    table with its schema, and it stays writable: no directory left on
    disk decides what the table is."""
    t = LakeTable(spark, str(tmp_path / "t"), ["y", "m"])
    rows = spark.range(12).selectExpr(
        "id", "CAST(2024 AS INT) AS y", "CAST(id % 3 + 1 AS INT) AS m"
    )
    t.append(rows)
    t.delete_where("y = 2024")
    empty = t.read()
    assert empty.count() == 0
    assert sorted((f.name, f.dataType.simpleString()) for f in empty.schema) == [
        ("id", "bigint"),
        ("m", "int"),
        ("y", "int"),
    ]
    t.replace_where(rows.filter("m = 1"), "y = 2024 AND m = 1")
    assert sorted(r.id for r in t.read().collect()) == [0, 3, 6, 9]


def test_failed_replace_where_leaves_previous_version(spark, trips, tmp_path):
    """A write that fails inside replace_where commits nothing: the
    previous version stays the latest and reads as before."""
    t = LakeTable(spark, str(tmp_path / "t"), partition_cols=["day"])
    t.append(trips)
    versions = t.versions()
    boom = trips.filter("assert_true(amount < 0) IS NULL")
    with pytest.raises(Exception, match="is not true"):
        t.replace_where(boom, "day = '2024-01-01'")
    assert t.versions() == versions
    assert t.read().count() == 30


def test_partition_predicate_replace_reads_nothing(spark, trips, tmp_path):
    """A replace_where whose predicate names partition columns only drops
    those partitions from the manifest without a scan: its one job is the
    write of the new rows."""
    t = LakeTable(spark, str(tmp_path / "t"), partition_cols=["day"])
    t.append(trips)
    fresh = spark.range(5).selectExpr(
        "id + 100 AS id", "'2024-01-02' AS day", "CAST(id AS DOUBLE) AS amount"
    )
    _, jobs, _ = spark_jobs(spark, lambda: t.replace_where(fresh, "day = '2024-01-02'"))
    assert jobs == 1
    got = t.read()
    assert got.count() == 25
    assert sorted(r.id for r in got.filter("day = '2024-01-02'").collect()) == list(
        range(100, 105)
    )
    assert t.history()[-1]["op"] == "replace_where"


@pytest.mark.parametrize("n_files", [30, 33, 40])
def test_read_construction_runs_no_job(spark, tmp_path, n_files):
    """Constructing a read of a snapshot runs no Spark job whatever its file
    count: Spark lists more than 32 input paths with a distributed job
    unless the session says otherwise."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.append(spark.range(0, 10 * n_files, numPartitions=n_files))
    assert len(t._snapshot().files) == n_files
    df, jobs, _ = spark_jobs(spark, t.read)
    assert jobs == 0
    assert df.count() == 10 * n_files


def test_validation_gates(spark, trips):
    assert validate_non_empty(trips) == 30
    validate_columns(trips, ["id", "day"])
    with pytest.raises(ValidationError):
        validate_columns(trips, ["missing_col"])
    with pytest.raises(ValidationError):
        validate_non_empty(trips.filter("id < 0"))
    prof = null_profile(
        trips.withColumn("maybe", F.when(F.col("id") % 2 == 0, F.col("amount")))
    )
    assert prof["id"] == 0.0 and abs(prof["maybe"] - 50.0) < 0.01


def test_compact_bin_packs_small_files(spark, tmp_path):
    from nyc_taxi_lakehouse_spark.lake import LakeTable
    from pyspark.sql import functions as F

    t = LakeTable(spark, str(tmp_path / "frag"), ["day"])
    base = spark.createDataFrame(
        [("d1", i, float(i)) for i in range(200)], "day string, id int, v double"
    )
    # 5 small appends → fragmented partition
    for k in range(5):
        t.append(base.withColumn("id", F.col("id") + k * 1000))
    import os

    pdir = str(tmp_path / "frag" / "day=d1")
    files_before = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
    assert len(files_before) >= 5
    before_rows = sorted(r.id for r in t.read().collect())

    v = t.compact(target_file_bytes=1 << 30)  # everything fits one file
    assert v == t.latest_version() == 6
    assert len(t._snapshot().files) == 1
    assert sorted(r.id for r in t.read().collect()) == before_rows
    # Idempotent: second compact touches nothing and commits nothing.
    assert t.compact(target_file_bytes=1 << 30) == -1
    # The fragments serve the older snapshots until vacuum removes them.
    t.vacuum(retain_last=1)
    files_after = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
    assert len(files_after) == 1


def test_sorted_append_orders_within_files(spark, tmp_path):
    """Rows sorted within each task (the reference's Iceberg ``sorted.by``
    order) keep that order in the files an append commits: the staged
    write and move never reorder."""
    from nyc_taxi_lakehouse_spark.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "sorted"))
    df = spark.createDataFrame(
        [(i, (i * 37) % 100) for i in range(1000)], "id int, ts int"
    ).repartition(2)
    t.append(df.sortWithinPartitions("ts"))
    import pyarrow.parquet as pq
    import os

    for f in os.listdir(t.path):
        if f.endswith(".parquet"):
            ts = pq.read_table(os.path.join(t.path, f), columns=["ts"])["ts"].to_pylist()
            assert ts == sorted(ts), f"file {f} not sorted"


def test_delete_where_null_partition_value(spark, tmp_path):
    """Rows in a NULL-valued partition (__HIVE_DEFAULT_PARTITION__) must be
    reachable by delete_where — plain == would silently skip them."""
    t = LakeTable(spark, str(tmp_path / "t"), partition_cols=["day"])
    t.append(
        spark.createDataFrame(
            [(1, "2024-01-01", 5.0), (2, None, 50.0), (3, None, 1.0)],
            "id long, day string, amount double",
        )
    )
    t.delete_where("amount > 20")
    rows = {r.id for r in t.read().collect()}
    assert rows == {1, 3}
    # Deleting the whole NULL partition drops its files from the manifest.
    t.delete_where("day IS NULL")
    assert {r.id for r in t.read().collect()} == {1}


def test_merge_upsert_null_partition_value(spark, tmp_path):
    """merge_upsert updates/deletes rows living in a NULL partition."""
    t = LakeTable(spark, str(tmp_path / "t"), partition_cols=["day"])
    t.append(
        spark.createDataFrame(
            [(1, "2024-01-01", 5.0), (2, None, 50.0)],
            "id long, day string, amount double",
        )
    )
    updates = spark.createDataFrame(
        [(2, None, 99.0, False)], "id long, day string, amount double, deleted boolean"
    )
    t.merge_upsert(updates, keys=["id"], delete_col="deleted")
    got = {r.id: r.amount for r in t.read().collect()}
    assert got == {1: 5.0, 2: 99.0}
    # And a delete aimed at the NULL partition removes the row.
    t.merge_upsert(
        spark.createDataFrame(
            [(2, None, 0.0, True)],
            "id long, day string, amount double, deleted boolean",
        ),
        keys=["id"],
        delete_col="deleted",
    )
    assert {r.id for r in t.read().collect()} == {1}


def test_append_merge_schema_ignores_nullability_flags(spark, tmp_path):
    """containsNull / nested nullable differences are not type conflicts."""
    from pyspark.sql import types as T

    t = LakeTable(spark, str(tmp_path / "t"))
    s1 = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tags", T.ArrayType(T.StringType(), containsNull=False)),
        ]
    )
    s2 = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tags", T.ArrayType(T.StringType(), containsNull=True)),
        ]
    )
    t.append(spark.createDataFrame([(1, ["a"])], s1))
    t.append(spark.createDataFrame([(2, ["b", None])], s2), merge_schema=True)
    assert t.read().count() == 2


def test_lake_table_on_scheme_qualified_uri(spark, tmp_path):
    """The maintenance layer must work on scheme-qualified URIs (file:// here,
    s3a:// in production) — exercises LakeFS end-to-end: append, committed
    schema evolution, delete with partition drop, compact."""
    uri = f"file://{tmp_path}/t"
    t = LakeTable(spark, uri, partition_cols=["day"])
    df = spark.createDataFrame(
        [(i, f"d{(i % 2) + 1}", float(i)) for i in range(1, 11)],
        "id long, day string, amount double",
    )
    # Fragmented appends → compact has something to bin-pack.
    for chunk in range(3):
        t.append(df.filter(F.col("id") % 3 == chunk))
    t.append(
        spark.createDataFrame([(99, "d1", 1.0, "x")],
                              "id long, day string, amount double, note string"),
        merge_schema=True,
    )
    assert "note" in t._snapshot().schema.names
    got = t.read()
    assert got.count() == 11 and "note" in got.columns
    assert t.compact() == t.latest_version() == 5
    assert t.read().count() == 11
    t.delete_where("day = 'd2'")
    assert t.read().filter("day = 'd2'").count() == 0
    assert not [f for f in t._snapshot().files if f.startswith("day=d2/")]


def test_control_table_on_scheme_qualified_uri(spark, tmp_path):
    """A watermark set on a file:// control table reads back: the existence
    guard goes through the table's FileSystem, not the local os.path."""
    ctrl = ControlTable(spark, f"file://{tmp_path}/ctrl")
    assert ctrl.get_watermark("lineitem") is None
    ctrl.set_watermark("lineitem", "1998-01-01")
    assert ctrl.get_watermark("lineitem") == "1998-01-01"


def test_schema_compat_rules(spark):
    """Registry-style compatibility: widening/nullable-add are backward-safe,
    required-add breaks backward, drop/widen/nullable-flip break forward."""
    from pyspark.sql import types as T

    from nyc_taxi_lakehouse_spark.lake import schema_compat

    old = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("v", T.FloatType(), True),
        ]
    )
    widened_plus_nullable = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
            T.StructField("note", T.StringType(), True),
        ]
    )
    assert schema_compat(old, widened_plus_nullable, "backward") == []
    # forward: old readers can't hold widened types, and can't find dropped cols
    fwd = schema_compat(old, widened_plus_nullable, "forward")
    assert any("widened" in v for v in fwd)
    required_add = T.StructType(
        old.fields + [T.StructField("must", T.StringType(), False)]
    )
    assert any(
        "required column" in v for v in schema_compat(old, required_add, "backward")
    )
    dropped = T.StructType([old.fields[0]])
    assert any("dropped" in v for v in schema_compat(old, dropped, "forward"))
    assert schema_compat(old, dropped, "backward") == []
    narrowed = T.StructType(
        [T.StructField("id", T.ShortType(), False), old.fields[1]]
    )
    assert schema_compat(old, narrowed, "backward") != []
    # full composes both directions with labels
    full = schema_compat(old, widened_plus_nullable, "full")
    assert any(v.startswith("forward:") for v in full)
    assert not any(v.startswith("backward:") for v in full)


def test_checked_append_enforces_contract(spark, tmp_path):
    """checked_append admits a backward-compatible batch (nullable add) and
    refuses an incompatible one (required add) with the violation listed."""
    import pytest as _pytest

    from nyc_taxi_lakehouse_spark.lake import (
        LakeTable,
        ValidationError,
        checked_append,
    )

    t = LakeTable(spark, str(tmp_path / "contract"), [])
    base = spark.range(5).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    checked_append(t, base)  # first write: no contract yet
    ok = spark.range(5, 8).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v", "CAST('x' AS STRING) AS note"
    )
    checked_append(t, ok)  # nullable add: backward-compatible
    assert t.read().count() == 8
    # a batch carrying a non-null literal column is a benign nullable ADD
    # (the merged table schema nulls it for old rows) — but a type
    # NARROWING is a genuine contract break and must be refused.
    bad = spark.range(8, 9).selectExpr("id", "CAST(id AS INT) AS v")
    with _pytest.raises(ValidationError, match="not a lossless widening"):
        checked_append(t, bad)
    assert t.read().count() == 8  # refused write left the table untouched


def test_schema_compat_properties():
    """Hypothesis: structural laws of the compatibility checker over random
    schemas — reflexivity, add-nullable safety (backward), drop safety
    (backward) vs drop breakage (forward), and widening asymmetry."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import types as T

    from nyc_taxi_lakehouse_spark.lake import schema_compat

    atom = st.sampled_from(
        [T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType(),
         T.FloatType(), T.ShortType()]
    )
    field = st.tuples(
        st.sampled_from(list("abcdefgh")), atom, st.booleans()
    )

    def mk(fields):
        seen, out = set(), []
        for name, dt, nullable in fields:
            if name not in seen:
                seen.add(name)
                out.append(T.StructField(name, dt, nullable))
        return T.StructType(out)

    @given(st.lists(field, min_size=1, max_size=6))
    @settings(max_examples=60, deadline=None)
    def laws(fields):
        s = mk(fields)
        # reflexivity in both directions
        assert schema_compat(s, s, "backward") == []
        assert schema_compat(s, s, "forward") == []
        # adding a nullable column is backward-safe, forward-safe too
        extra = T.StructType(
            s.fields + [T.StructField("zz_new", T.StringType(), True)]
        )
        assert schema_compat(s, extra, "backward") == []
        assert schema_compat(s, extra, "forward") == []
        # dropping any column: backward-safe, forward-BREAKING
        if len(s.fields) > 1:
            dropped = T.StructType(s.fields[:-1])
            assert schema_compat(s, dropped, "backward") == []
            assert schema_compat(s, dropped, "forward") != []
        # int->long widening: backward-safe, forward-breaking
        if any(f.dataType == T.IntegerType() for f in s.fields):
            widened = T.StructType(
                [
                    T.StructField(f.name, T.LongType(), f.nullable)
                    if f.dataType == T.IntegerType()
                    else f
                    for f in s.fields
                ]
            )
            assert schema_compat(s, widened, "backward") == []
            assert schema_compat(s, widened, "forward") != []

    laws()

"""Scratch tables (nyc_taxi_lakehouse_spark/scratch.py): the lake tables
registered queries build for themselves live under the Spark
application's temp directory, are built once per application and source
state, and go away with the application. No other package module picks a
temp directory or keys a path on the process id."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys
import textwrap
import time
from urllib.parse import urlparse

import pytest

from nyc_taxi_lakehouse_spark import scratch

from .conftest import SF_SMOKE

_REPO = pathlib.Path(__file__).resolve().parent.parent


def test_memoized_builds_once_and_only_marks_success(tmp_path):
    path = str(tmp_path / "t")
    calls = []

    def failing(p):
        os.makedirs(p)
        pathlib.Path(p, "partial").touch()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        scratch.memoized(path, failing)
    assert not os.path.exists(os.path.join(path, scratch._COMPLETE))

    def build(p):
        calls.append(p)
        os.makedirs(p)

    assert scratch.memoized(path, build) == path
    assert scratch.memoized(path, build) == path
    assert calls == [path]  # built once, and the partial build was cleared
    assert sorted(os.listdir(path)) == [scratch._COMPLETE]


def test_scratch_dir_keys_on_source_state(spark, tmp_path, monkeypatch):
    """A source regenerated in place gets a new directory; the directory
    sits under the application's scratch root."""
    monkeypatch.setattr(scratch, "scratch_root", lambda _: str(tmp_path / "root"))
    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "orders.parquet"
    src.write_bytes(b"v1")
    first = scratch.scratch_dir(spark, "t", str(sf), ["orders"])
    assert first == scratch.scratch_dir(spark, "t", str(sf), ["orders"])
    assert os.path.dirname(first) == str(tmp_path / "root")
    assert os.path.basename(first).startswith("t-")
    src.write_bytes(b"v2, regenerated")
    assert scratch.scratch_dir(spark, "t", str(sf), ["orders"]) != first


def test_scratch_root_is_the_application_temp_dir(spark):
    from pyspark import SparkFiles

    root = scratch.scratch_root(spark)
    assert os.path.dirname(root) == SparkFiles.getRootDirectory()


_CHILD = textwrap.dedent(
    """
    import json, sys
    from nyc_taxi_lakehouse_spark.registry import all_queries
    from nyc_taxi_lakehouse_spark.session import get_spark

    spark = get_spark(master="local[2]")
    df = all_queries()["q_deletion_vectors"].fn(spark, sys.argv[1])
    assert df.count() > 0
    print(json.dumps(df.inputFiles()))
    """
)


def test_process_exit_leaves_no_scratch_table(tmp_path):
    """A process that ran a table-building query and exited without
    stopping its session leaves none of the table's files behind, and
    nothing under its TMPDIR."""
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        PYTHONPATH=os.pathsep.join(
            p for p in (str(_REPO), os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_DRIVER_MEMORY="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, SF_SMOKE],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    files = [urlparse(u).path for u in json.loads(proc.stdout.splitlines()[-1])]
    assert files
    # The JVM runs Spark's shutdown hooks after the Python process exits.
    deadline = time.monotonic() + 60
    while any(os.path.exists(f) for f in files) and time.monotonic() < deadline:
        time.sleep(0.5)
    assert not [f for f in files if os.path.exists(f)]
    assert not [p.name for p in tmp_path.glob("nyc_taxi_lakehouse*")]


def _temp_path_sources(source: str) -> list[int]:
    """Line numbers that import ``tempfile`` or call ``getpid``; comments
    and docstrings are not code, so they never match."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import) and any(
            a.name == "tempfile" for a in node.names
        ):
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "tempfile":
            lines.append(node.lineno)
        elif isinstance(node, ast.Call) and (
            (isinstance(node.func, ast.Attribute) and node.func.attr == "getpid")
            or (isinstance(node.func, ast.Name) and node.func.id == "getpid")
        ):
            lines.append(node.lineno)
    return lines


def test_temp_path_scanner_ignores_comments_and_docstrings():
    src = (
        "import os\n"
        'def f():\n'
        '    """Keyed on os.getpid(); import tempfile."""\n'
        "    # import tempfile\n"
        "    import tempfile\n"
        "    return f'{tempfile.gettempdir()}/{os.getpid()}'\n"
    )
    assert _temp_path_sources(src) == [5, 6]


def test_scratch_paths_only_in_scratch_module():
    """Every query-built table path comes from scratch.py: a module that
    picks its own temp directory or keys a path on the process id builds
    tables nothing removes."""
    import nyc_taxi_lakehouse_spark

    root = pathlib.Path(nyc_taxi_lakehouse_spark.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{line}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root).as_posix() != "scratch.py"
        for line in _temp_path_sources(path.read_text())
    ]
    assert not offenders, offenders

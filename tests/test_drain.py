"""The one stream-drain primitive (streaming/cdc.py:drain) and the replay
memo on top of it (streaming/replay.py:_replay_sink over
scratch.memoized): a drain that outlives its bound is stopped and raises,
a failed replay drain leaves no completion marker, and no other module
triggers or awaits a stream."""

from __future__ import annotations

import ast
import datetime as dt
import pathlib
import time

import pytest

from nyc_taxi_lakehouse_spark import scratch
from nyc_taxi_lakehouse_spark.lake import LakeTable
from nyc_taxi_lakehouse_spark.plans.invariance import content_hash
from nyc_taxi_lakehouse_spark.registry import all_queries
from nyc_taxi_lakehouse_spark.streaming import cdc, replay

from .conftest import SF_SMOKE as SF


class _SlowMergeTable(LakeTable):
    """A merge that outlasts the drain bound and writes nothing."""

    def merge_upsert(self, *args, **kwargs) -> None:
        time.sleep(4)


def test_cdc_merge_timeout_stops_and_raises(spark, tmp_path, monkeypatch):
    """A drain still running at DRAIN_TIMEOUT_S raises TimeoutError naming
    it, and the query is stopped — not left running with its sink partial."""
    rows = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1, 12), 10, "click", 5.0)],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double",
    )
    env_dir = replay.write_envelopes(rows, str(tmp_path / "env"))
    table = _SlowMergeTable(spark, str(tmp_path / "t"))
    monkeypatch.setattr(cdc, "DRAIN_TIMEOUT_S", 1)
    with pytest.raises(TimeoutError, match="CDC merge did not drain within 1s"):
        cdc.run_cdc_merge(spark, env_dir, table, str(tmp_path / "ckpt"))
    assert spark.streams.active == []


def test_failed_replay_drain_leaves_no_marker(spark, tmp_path, monkeypatch):
    """The completion marker is written only after a drain succeeded: a
    drain that timed out leaves its partial run behind without a marker,
    and the next call clears it, drains again and returns the same rows as
    an uninterrupted replay."""
    fn = all_queries()["q_cdc_windowed"].fn
    monkeypatch.setattr(scratch, "scratch_root", lambda _: str(tmp_path / "ref"))
    expected = content_hash(fn(spark, SF))
    assert expected[1] > 0

    monkeypatch.setattr(scratch, "scratch_root", lambda _: str(tmp_path / "memo"))
    run_dir = pathlib.Path(scratch.scratch_dir(spark, "pipeline", SF, ["events"]))
    assert run_dir.parent == tmp_path / "memo"
    monkeypatch.setattr(cdc, "DRAIN_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError, match="pipeline did not drain"):
        fn(spark, SF)
    assert spark.streams.active == []
    assert (run_dir / "ckpt").is_dir()  # the partial run is really there
    assert not (run_dir / scratch._COMPLETE).exists()

    monkeypatch.setattr(cdc, "DRAIN_TIMEOUT_S", 600)
    assert content_hash(fn(spark, SF)) == expected
    assert (run_dir / scratch._COMPLETE).exists()


def test_checkpoints_commit_through_filesystem_manager(spark, tmp_path):
    """Sessions from get_spark rename checkpoint files through Hadoop's
    FileSystem: FileContext's rename forks a readlink per path when the
    native Hadoop library is absent."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    created = manager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert created.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def _stream_calls(source: str, exempt: str | None = None) -> list[int]:
    """Line numbers of ``.trigger(...)`` / ``.awaitTermination(...)`` calls
    outside the function named ``exempt``; comments and docstrings are not
    calls, so they never match."""
    tree = ast.parse(source)
    inside_exempt = {
        node.lineno
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name == exempt
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
    }
    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("trigger", "awaitTermination")
        and node.lineno not in inside_exempt
    )


def test_stream_call_scanner_ignores_comments_and_drain():
    src = (
        'def drain(w):\n'
        '    """Calls w.trigger(availableNow=True).start()."""\n'
        '    return w.trigger(availableNow=True).start().awaitTermination(1)\n'
        'def other(q):\n'
        '    # q.awaitTermination(600)\n'
        '    return q.awaitTermination(600)\n'
    )
    assert _stream_calls(src, exempt="drain") == [6]
    assert _stream_calls(src) == [3, 3, 6]


def test_streams_drain_only_through_drain():
    """Every stream in the package starts and is awaited in cdc.drain: any
    other trigger/await site would bypass its timeout, stop-on-timeout and
    the single place a per-batch drain record attaches."""
    import nyc_taxi_lakehouse_spark

    root = pathlib.Path(nyc_taxi_lakehouse_spark.__file__).parent
    drain_module = pathlib.Path(cdc.__file__)
    offenders = [
        f"{path.relative_to(root)}:{line}"
        for path in sorted(root.rglob("*.py"))
        for line in _stream_calls(
            path.read_text(), exempt="drain" if path == drain_module else None
        )
    ]
    assert not offenders, offenders
    assert _stream_calls(drain_module.read_text()), "drain itself was not seen"

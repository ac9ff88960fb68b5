"""Merge-on-read deletion vectors (mor.py): data-file immutability, read
subtraction, tombstone composition, purge equivalence, and deletion
vectors as versioned snapshot state (time travel, failure atomicity,
vacuum, copy-on-write DML and clones over them)."""

from __future__ import annotations

import glob
import hashlib
import os

import pytest

from nyc_taxi_lakehouse_spark.fs import LakeFS
from nyc_taxi_lakehouse_spark.mor import MergeOnReadTable
from nyc_taxi_lakehouse_spark.versioned import VersionedLakeTable

from .conftest import SF_SMOKE


def _data_file_hashes(path: str) -> dict[str, str]:
    out = {}
    for f in glob.glob(os.path.join(path, "*.parquet")):
        with open(f, "rb") as fh:
            out[os.path.basename(f)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _table(spark, tmp_path):
    orders = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(4)
    )
    t = MergeOnReadTable(spark, str(tmp_path / "mor"))
    t.write_base(orders)
    return t


def test_delete_leaves_data_files_byte_identical(spark, tmp_path):
    t = _table(spark, tmp_path)
    before = _data_file_hashes(t.path)
    n = t.delete_where("o_orderkey % 5 = 0")
    assert n > 0
    after = _data_file_hashes(t.path)
    # The defining property of merge-on-read: DELETE writes only a
    # tombstone file; every data file is byte-for-byte untouched.
    assert before == after and len(before) > 0


def test_read_subtracts_and_composes(spark, tmp_path):
    t = _table(spark, tmp_path)
    total = t.read().count()
    t.delete_where("o_orderkey % 5 = 0")
    keys = {r[0] for r in t.read().select("o_orderkey").collect()}
    assert all(k % 5 != 0 for k in keys)
    # Second delete composes with the first; overlapping tombstones
    # (keys divisible by both) must not double-subtract.
    t.delete_where("o_orderkey % 3 = 0")
    keys2 = {r[0] for r in t.read().select("o_orderkey").collect()}
    assert all(k % 5 != 0 and k % 3 != 0 for k in keys2)
    expect = {
        r[0]
        for r in spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .select("o_orderkey")
        .collect()
        if r[0] % 5 != 0 and r[0] % 3 != 0
    }
    assert keys2 == expect
    assert total > len(keys) > len(keys2)


def test_purge_equivalence(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.delete_where("o_custkey % 2 = 0")
    before = {tuple(r) for r in t.read().collect()}
    t.purge()
    # After purge: same logical table, no deletion vectors in the latest
    # snapshot, and once vacuum has removed the pre-purge files a plain
    # reader (no MoR logic) sees the same rows — the debt is repaid.
    assert not t._snapshot().deletes
    after = {tuple(r) for r in t.read().collect()}
    t.vacuum(retain_last=1)
    plain = {tuple(r) for r in spark.read.parquet(t.path).collect()}
    assert before == after == plain


def test_read_without_tombstones_is_plain_scan(spark, tmp_path):
    t = _table(spark, tmp_path)
    assert t.read().count() == spark.read.parquet(
        f"{SF_SMOKE}/orders.parquet"
    ).count()


def test_read_gate_both_sides(spark, tmp_path, monkeypatch):
    """VERDICT r06 #5: the tombstone anti-join's broadcast gate must yield
    identical rows on BOTH branches — hinted below the threshold, adaptive
    (shuffled anti-join) above it, as when a 100 TB table has absorbed more
    deletes than fit a broadcast."""
    # plans/__init__ re-exports audit() the FUNCTION under the same name,
    # shadowing the submodule as a package attribute — fetch the real
    # module from sys.modules to patch the gate.
    from importlib import import_module

    audit = import_module("nyc_taxi_lakehouse_spark.plans.audit")

    t = _table(spark, tmp_path)
    t.delete_where("o_orderkey % 5 = 0")

    hinted = t.read()
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    expect = {r[0] for r in hinted.select("o_orderkey").collect()}
    assert expect and all(k % 5 != 0 for k in expect)

    # Force the adaptive branch: a gate of 0 makes every tombstone set
    # "too large to broadcast".
    monkeypatch.setattr(audit, "GATED_BROADCAST_MAX_ROWS", 0)
    adaptive = t.read()
    assert (
        "ResolvedHint"
        not in adaptive._jdf.queryExecution().analyzed().toString()
    )
    got = {r[0] for r in adaptive.select("o_orderkey").collect()}
    assert got == expect


def _keys(df) -> set:
    return {r[0] for r in df.select("o_orderkey").collect()}


def test_time_travel_across_deletes(spark, tmp_path):
    """Deletion vectors are snapshot state: every version reads back
    exactly the deletes committed up to it."""
    t = _table(spark, tmp_path)
    base = t.latest_version()
    everything = _keys(t.read())
    t.delete_where("o_orderkey % 5 = 0")
    t.delete_where("o_orderkey % 3 = 0")
    assert _keys(t.read(version=base)) == everything
    assert _keys(t.read(version=base + 1)) == {k for k in everything if k % 5}
    assert _keys(t.read(version=base + 2)) == {
        k for k in everything if k % 5 and k % 3
    }
    assert _keys(t.read()) == _keys(t.read(version=base + 2))


def _fail(*_args):
    raise OSError("injected storage failure")


def test_failed_delete_commit_leaves_previous_version(spark, tmp_path, monkeypatch):
    """A failure between the tombstone write and its commit leaves the
    table reading its previous version."""
    t = _table(spark, tmp_path)
    t.delete_where("o_orderkey % 5 = 0")
    before = {tuple(r) for r in t.read().collect()}
    version = t.latest_version()
    monkeypatch.setattr(LakeFS, "write_text_exclusive", _fail)
    with pytest.raises(OSError, match="injected"):
        t.delete_where("o_orderkey % 3 = 0")
    monkeypatch.undo()
    assert t.latest_version() == version
    assert {tuple(r) for r in t.read().collect()} == before


def test_failed_purge_leaves_previous_version(spark, tmp_path, monkeypatch):
    """A failure between purge's rewrite and its commit leaves the table
    reading its previous version (a purge that deleted the table before
    renaming its rewrite into place lost it)."""
    t = _table(spark, tmp_path)
    t.delete_where("o_orderkey % 5 = 0")
    before = {tuple(r) for r in t.read().collect()}
    monkeypatch.setattr(LakeFS, "rename", _fail)
    with pytest.raises(OSError, match="injected"):
        t.purge()
    monkeypatch.undo()
    assert {tuple(r) for r in t.read().collect()} == before


def test_vacuum_removes_expired_tombstones(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.delete_where("o_orderkey % 5 = 0")
    (dv,) = t._snapshot().deletes
    tomb = os.path.join(t.path, dv["path"])
    assert os.path.exists(tomb) and t.orphans() == set()
    want = _keys(t.read())
    t.purge()
    assert dv["path"] in t.orphans(retain_last=1)
    t.vacuum(retain_last=1)
    assert not os.path.exists(tomb)
    assert t.orphans(retain_last=1) == set()
    assert _keys(t.read()) == want


def test_copy_on_write_dml_over_deletion_vectors(spark, tmp_path):
    """Copy-on-write DELETE, UPDATE and MERGE on a table with deletion
    vectors rewrite only live rows, so no tombstoned row comes back, and
    the rewrite drops the vectors it applied."""
    t = _table(spark, tmp_path)
    t.delete_where("o_orderkey % 5 = 0")
    want = {r[0]: r[2] for r in t.read().collect()}
    cow = VersionedLakeTable(spark, t.path)
    cow.delete_where("o_orderkey % 3 = 0")
    want = {k: v for k, v in want.items() if k % 3}
    got = {r[0]: r[2] for r in cow.read().collect()}
    assert got == want and not cow._snapshot().deletes

    t.delete_where("o_orderkey % 7 = 0")
    want = {k: v for k, v in want.items() if k % 7}
    cow.update_where("o_orderkey % 2 = 0", {"o_totalprice": "-1.0"})
    want = {k: (-1.0 if k % 2 == 0 else v) for k, v in want.items()}
    assert {r[0]: r[2] for r in cow.read().collect()} == want

    t.delete_where("o_orderkey % 11 = 0")
    gone = next(k for k in _keys(cow.read(version=cow.latest_version() - 1)) if k % 11 == 0)
    upd = spark.createDataFrame(
        [(gone, 1, 5.0), (-1, 1, 7.0)], "o_orderkey bigint, o_custkey bigint, o_totalprice double"
    )
    cow.merge_upsert(upd, keys=["o_orderkey"])
    want = {k: v for k, v in want.items() if k % 11} | {gone: 5.0, -1: 7.0}
    assert {r[0]: r[2] for r in cow.read().collect()} == want


def test_shallow_clone_keeps_deletion_vectors(spark, tmp_path):
    """A shallow clone reads the source's deletion vectors; its own
    merge-on-read deletes stay out of the source, and compacting it
    applies every vector under the clone's root."""
    src = _table(spark, tmp_path)
    src.delete_where("o_orderkey % 5 = 0")
    want = _keys(src.read())
    clone = src.clone_to(str(tmp_path / "clone"))
    assert _keys(clone.read()) == want
    assert all(os.path.isabs(d["path"]) for d in clone._snapshot().deletes)

    clone.mark_deleted("o_orderkey % 3 = 0")
    want3 = {k for k in want if k % 3}
    assert _keys(clone.read()) == want3
    assert _keys(src.read()) == want
    assert clone.orphans() == set()

    clone.compact()
    snap = clone._snapshot()
    assert not snap.deletes and not any(map(os.path.isabs, snap.files))
    src.delete_where("o_orderkey >= 0")
    src.purge()
    src.vacuum(retain_last=1)
    assert _keys(clone.read()) == want3

"""VersionedLakeTable: time travel, snapshot isolation, vacuum."""

from __future__ import annotations

import pytest

from nyc_taxi_lakehouse_spark.lake import ValidationError
from nyc_taxi_lakehouse_spark.versioned import VersionedLakeTable

from .conftest import spark_jobs


def _mk(spark, rows, with_extra=False):
    cols = "id bigint, status string, amount double" + (
        ", extra string" if with_extra else ""
    )
    return spark.createDataFrame(rows, cols)


def test_time_travel_across_append_evolve_delete(spark, tmp_path):
    t = VersionedLakeTable(spark, str(tmp_path / "vt"), ["status"])
    v1 = t.append(_mk(spark, [(1, "O", 10.0), (2, "F", 20.0)]))
    v2 = t.append(
        _mk(spark, [(3, "O", 30.0, "x"), (4, "P", 40.0, "y")], with_extra=True),
        merge_schema=True,
    )
    v3 = t.delete_where("status = 'F'")
    assert (v1, v2, v3) == (1, 2, 3)

    assert sorted(r.id for r in t.read(1).collect()) == [1, 2]
    assert t.read(1).columns == ["id", "amount", "status"]  # pre-evolution

    snap2 = {r.id: r for r in t.read(2).collect()}
    assert sorted(snap2) == [1, 2, 3, 4]
    assert snap2[1].extra is None and snap2[3].extra == "x"  # NULL fill

    assert sorted(r.id for r in t.read().collect()) == [1, 3, 4]  # F deleted
    assert [h["op"] for h in t.history()] == ["append", "append", "delete_where"]


def test_snapshot_isolation_reader_survives_delete(spark, tmp_path):
    t = VersionedLakeTable(spark, str(tmp_path / "vt"), ["status"])
    t.append(_mk(spark, [(1, "O", 10.0), (2, "F", 20.0), (3, "F", 21.0)]))
    pinned = t.read(1)  # lazy plan over version-1 files
    t.delete_where("status = 'F'")
    # The delete dropped partition F from the next commit's manifest but
    # removed no files — the pinned plan still collects all three rows.
    assert sorted(r.id for r in pinned.collect()) == [1, 2, 3]
    assert sorted(r.id for r in t.read().collect()) == [1]


def test_delete_only_touches_affected_partitions(spark, tmp_path):
    t = VersionedLakeTable(spark, str(tmp_path / "vt"), ["status"])
    t.append(_mk(spark, [(1, "O", 10.0), (2, "F", 20.0)]))
    m1 = set(t._manifest(1)["files"])
    t.delete_where("status = 'F' AND amount > 15")
    m2 = set(t._manifest(2)["files"])
    o_files = {f for f in m1 if f.startswith("status=O/")}
    assert o_files and o_files <= m2  # untouched partition carried over


def test_vacuum_drops_history_but_not_latest(spark, tmp_path):
    t = VersionedLakeTable(spark, str(tmp_path / "vt"), ["status"])
    t.append(_mk(spark, [(1, "O", 10.0), (2, "F", 20.0)]))
    t.delete_where("status = 'F'")
    pre = t._data_files()
    removed = t.vacuum(retain_last=1)
    assert removed >= 1  # version-1's F files are unreferenced now
    assert t._data_files() < pre
    assert sorted(r.id for r in t.read().collect()) == [1]
    with pytest.raises(ValidationError, match="vacuumed|not available"):
        t.read(1)
    assert t.versions() == [2]


def test_append_schema_conflict_rejected(spark, tmp_path):
    t = VersionedLakeTable(spark, str(tmp_path / "vt"))
    t.append(_mk(spark, [(1, "O", 10.0)]))
    bad = spark.createDataFrame([(2, "F", "oops")], "id bigint, status string, amount string")
    with pytest.raises(ValidationError, match="type conflict"):
        t.append(bad, merge_schema=True)
    with pytest.raises(ValidationError, match="new columns"):
        t.append(
            _mk(spark, [(5, "O", 1.0, "z")], with_extra=True), merge_schema=False
        )


def test_partition_directory_race_is_refused(spark, tmp_path, monkeypatch):
    """A staged partition directory the table lacks moves in whole, by one
    rename. If a concurrent writer created that directory after the table's
    directories were listed, the rename nests ours inside it: the write is
    undone and refused as a concurrent commit, leaving the table and the
    other writer's files as they were."""
    import os

    from nyc_taxi_lakehouse_spark.versioned import ConcurrentCommitError

    path = str(tmp_path / "vt")
    t = VersionedLakeTable(spark, path, ["status"])
    t.append(_mk(spark, [(1, "O", 10.0)]))
    before = t._data_files()
    listed = t.fs.glob
    # The partition listing as taken before the O directory existed.
    monkeypatch.setattr(
        t.fs, "glob", lambda base, pattern: [] if pattern == "status=*" else listed(base, pattern)
    )
    with pytest.raises(ConcurrentCommitError, match="status=O"):
        t.append(_mk(spark, [(2, "O", 20.0), (3, "P", 30.0)]))
    monkeypatch.undo()
    assert t.versions() == [1]
    assert t._data_files() == before
    assert not os.path.exists(os.path.join(path, "status=O", "status=O"))
    assert sorted(r.id for r in t.read().collect()) == [1]
    # A retry sees the directory and moves files into it one by one.
    t.append(_mk(spark, [(2, "O", 20.0), (3, "P", 30.0)]))
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]


def test_compact_commit_preserves_snapshots(spark, tmp_path):
    """OPTIMIZE as a non-destructive commit: many small appends -> compact
    bin-packs each partition into one file in a NEW version; the fragmented
    snapshot remains readable until vacuum."""
    t = VersionedLakeTable(spark, str(tmp_path / "vt"), ["status"])
    for i in range(4):
        t.append(_mk(spark, [(i, "O", float(i)), (100 + i, "F", float(i))]))
    frag_version = t.latest_version()
    frag_files = set(t._manifest(frag_version)["files"])
    v = t.compact()
    assert v == frag_version + 1
    compacted = set(t._manifest(v)["files"])
    # One file per partition after compaction, data identical.
    assert len(compacted) < len(frag_files)
    per_dir = {}
    for f in compacted:
        per_dir.setdefault(f.rsplit("/", 1)[0], []).append(f)
    assert all(len(fs) == 1 for fs in per_dir.values())
    assert sorted(r.id for r in t.read().collect()) == sorted(
        r.id for r in t.read(frag_version).collect()
    )
    # History intact; vacuum then drops the fragmented files.
    assert t.history()[-1]["op"] == "compact"
    removed = t.vacuum(retain_last=1)
    assert removed == len(frag_files)
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 100, 101, 102, 103]


def test_merge_upsert_commits_are_time_travelable(spark, tmp_path):
    """Each CDC batch = one version: update, delete and insert land in a new
    commit; the pre-merge snapshot remains intact; untouched partitions'
    files carry over unchanged."""
    t = VersionedLakeTable(spark, str(tmp_path / "vt"), ["status"])
    t.append(_mk(spark, [(1, "O", 10.0), (2, "F", 20.0), (3, "P", 30.0)]))
    m1_p_files = {
        f for f in t._manifest(1)["files"] if f.startswith("status=P/")
    }
    batch = spark.createDataFrame(
        [
            (1, "O", 11.0, 2, False),   # update row 1 (last-write-wins check below)
            (1, "O", 10.5, 1, False),   # older duplicate — must lose
            (2, "F", 0.0, 1, True),     # delete row 2
            (9, "O", 90.0, 1, False),   # insert
        ],
        "id bigint, status string, amount double, ts bigint, is_delete boolean",
    )
    v = t.merge_upsert(batch, keys=["id"], order_col="ts", delete_col="is_delete")
    assert v == 2
    now = {r.id: r.amount for r in t.read().collect()}
    assert now == {1: 11.0, 3: 30.0, 9: 90.0}
    # Pre-merge snapshot intact.
    assert {r.id: r.amount for r in t.read(1).collect()} == {1: 10.0, 2: 20.0, 3: 30.0}
    # Partition P had no matched key and no insert — files carried over.
    m2_p_files = {
        f for f in t._manifest(2)["files"] if f.startswith("status=P/")
    }
    assert m2_p_files == m1_p_files
    assert t.history()[-1]["op"] == "merge_upsert"


def test_cdc_stream_merges_into_versioned_table(spark, tmp_path):
    """The streaming CDC MERGE pipeline (foreachBatch, S12/ST8) lands in a
    VersionedLakeTable unchanged — each drained delivery becomes one
    time-travelable commit: the pre-update snapshot keeps the old value and
    lacks the late insert."""
    from nyc_taxi_lakehouse_spark.streaming.cdc import run_cdc_merge
    from nyc_taxi_lakehouse_spark.streaming.replay import write_envelopes

    ev_schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double"
    )
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    batch1 = spark.createDataFrame(
        [(1, t0, 10, "click", 5.0), (2, t0, 11, "view", 7.0)], ev_schema
    )
    env_dir, ckpt = str(tmp_path / "env"), str(tmp_path / "ckpt")
    write_envelopes(batch1, env_dir)
    table = VersionedLakeTable(spark, str(tmp_path / "vt"))
    run_cdc_merge(spark, env_dir, table, ckpt)
    v1 = table.latest_version()
    assert {r.event_id: r.value for r in table.read().collect()} == {1: 5.0, 2: 7.0}

    # Second delivery: update event 1, insert event 3. availableNow + the
    # same checkpoint drains ONLY the appended file.
    batch2 = spark.createDataFrame(
        [(1, t0 + dt.timedelta(hours=1), 10, "click", 9.0),
         (3, t0 + dt.timedelta(hours=1), 12, "purchase", 1.0)],
        ev_schema,
    )
    write_envelopes(batch2, env_dir, mode="append")
    run_cdc_merge(spark, env_dir, table, ckpt)
    assert table.latest_version() > v1
    assert {r.event_id: r.value for r in table.read().collect()} == {
        1: 9.0, 2: 7.0, 3: 1.0,
    }
    # Time travel to the pre-update commit: old value, no event 3.
    assert {r.event_id: r.value for r in table.read(v1).collect()} == {
        1: 5.0, 2: 7.0,
    }


def test_shallow_clone_zero_copy_and_isolated(spark, tmp_path):
    import glob
    import os

    from nyc_taxi_lakehouse_spark.versioned import VersionedLakeTable

    src = VersionedLakeTable(spark, str(tmp_path / "src"))
    df = spark.range(0, 100).selectExpr("id AS k", "CAST(id * 2 AS DOUBLE) AS v")
    src.append(df)

    clone = src.clone_to(str(tmp_path / "clone"))
    # Zero-copy: the clone directory holds a commit log but NO data files.
    assert glob.glob(os.path.join(str(tmp_path / "clone"), "*.parquet")) == []
    assert {r["k"] for r in clone.read().collect()} == set(range(100))

    # Source evolution is invisible to the clone (manifest pins the files).
    src.delete_where("k % 2 = 0")
    assert clone.read().count() == 100
    # Clone writes land under the clone root and are invisible to source.
    clone.append(spark.range(100, 110).selectExpr("id AS k", "CAST(id * 2 AS DOUBLE) AS v"))
    assert clone.read().count() == 110
    assert src.read().count() == 50
    assert glob.glob(os.path.join(str(tmp_path / "clone"), "*.parquet")) != []
    # Clone history starts with the clone commit.
    assert clone.history()[0]["op"].startswith("clone(shallow")


@pytest.mark.parametrize("pcols", [[], ["p"]])
def test_compact_deep_copies_a_shallow_clone(spark, tmp_path, pcols):
    """compact() on a shallow clone rewrites the source's files under the
    clone's root (also when a post-clone append shares a partition with
    them), so vacuuming the source afterwards leaves the clone intact."""
    import glob
    import os

    src = VersionedLakeTable(spark, str(tmp_path / "src"), pcols)
    for i in range(2):
        src.append(spark.range(i * 10, i * 10 + 10).selectExpr("id", "id % 2 AS p"))
    clone = src.clone_to(str(tmp_path / "clone"))
    clone.append(spark.range(20, 25).selectExpr("id", "id % 2 AS p"))
    src_files = lambda: glob.glob(str(tmp_path / "src" / "**"), recursive=True)  # noqa: E731
    before = src_files()
    assert clone.compact() == 3
    assert not any(map(os.path.isabs, clone._manifest(3)["files"]))
    assert src_files() == before  # nothing written into the source
    src.delete_where("id >= 0")
    src.vacuum(retain_last=1)
    assert sorted(r.id for r in clone.read().collect()) == list(range(25))


def test_dml_on_a_partitioned_shallow_clone(spark, tmp_path):
    """DELETE / UPDATE / MERGE on a partitioned shallow clone replace the
    affected partitions' source files as well as the clone's own, so no
    row is duplicated and no deleted or overwritten row comes back."""
    src = VersionedLakeTable(spark, str(tmp_path / "src"), ["p"])
    src.append(spark.range(0, 20).selectExpr("id", "id % 2 AS p", "id * 10 AS v"))
    clone = src.clone_to(str(tmp_path / "clone"))
    clone.append(spark.range(20, 25).selectExpr("id", "id % 2 AS p", "id * 10 AS v"))
    want = {i: (i % 2, i * 10) for i in range(25)}
    rows = lambda t: {r.id: (r.p, r.v) for r in t.read().collect()}  # noqa: E731

    clone.delete_where("id IN (1, 20)")
    del want[1], want[20]
    assert clone.read().count() == len(want) and rows(clone) == want
    clone.update_where("id = 3", {"v": "-1"})
    want[3] = (1, -1)
    assert clone.read().count() == len(want) and rows(clone) == want
    clone.merge_upsert(
        spark.createDataFrame([(4, 0, 400), (99, 1, 990)], "id bigint, p bigint, v bigint"),
        keys=["id"],
    )
    want |= {4: (0, 400), 99: (1, 990)}
    assert clone.read().count() == len(want) and rows(clone) == want
    assert rows(src) == {i: (i % 2, i * 10) for i in range(20)}


@pytest.mark.parametrize("pcols", [[], ["p"]])
def test_clone_of_a_clone(spark, tmp_path, pcols):
    """A clone of a clone lists files under two roots (the first source's
    and the first clone's): it reads both, and compact() deep-copies them
    under its own root only, so vacuuming either ancestor leaves it
    intact."""
    import glob
    import os

    src = VersionedLakeTable(spark, str(tmp_path / "src"), pcols)
    src.append(spark.range(0, 10).selectExpr("id", "id % 2 AS p"))
    c1 = src.clone_to(str(tmp_path / "c1"))
    c1.append(spark.range(10, 15).selectExpr("id", "id % 2 AS p"))
    c2 = c1.clone_to(str(tmp_path / "c2"))
    assert sorted(r.id for r in c2.read().collect()) == list(range(15))
    files = lambda d: glob.glob(str(tmp_path / d / "**"), recursive=True)  # noqa: E731
    before = files("src"), files("c1")
    assert c2.compact() == 2
    assert (files("src"), files("c1")) == before
    assert not any(os.path.isabs(f) or ".." in f for f in c2._snapshot().files)
    for t in (c1, src):  # c1 still reads src's files until it is emptied
        t.delete_where("id >= 0")
        t.vacuum(retain_last=1)
    assert sorted(r.id for r in c2.read().collect()) == list(range(15))
    with pytest.raises(ValidationError, match="outside the table"):
        c2._staged_write(spark.range(1), {}, subdir="../c1")


def test_clone_and_restore_carry_schema_metadata(spark, tmp_path):
    """A shallow clone keeps the source snapshot's column mapping and
    CHECK constraints (a renamed column reads its values, not NULL), and a
    RESTORE brings back the target's generated columns with its schema,
    so later appends work against a consistent snapshot."""
    src = VersionedLakeTable(spark, str(tmp_path / "src"))
    src.append(spark.createDataFrame([(1, 10.0)], "id bigint, amount double"))
    src.rename_column("amount", "total")
    src.add_check_constraint("pos", "total > 0")
    clone = src.clone_to(str(tmp_path / "clone"))
    assert [tuple(r) for r in clone.read().collect()] == [(1, 10.0)]
    assert clone.check_constraints() == {"pos": "total > 0"}
    with pytest.raises(ValidationError, match="pos"):
        clone.append(spark.createDataFrame([(2, -1.0)], "id bigint, total double"))

    g = VersionedLakeTable(spark, str(tmp_path / "gen"))
    g.append(spark.createDataFrame([(1, 10.0)], "id bigint, amount double"))
    g.add_generated_column("cents", "CAST(amount * 100 AS BIGINT)", "bigint")
    assert g.restore(1) == 3 and g.generated_columns() == {}
    g.append(spark.createDataFrame([(2, 20.0)], "id bigint, amount double"))
    assert sorted(tuple(r) for r in g.read().collect()) == [(1, 10.0), (2, 20.0)]
    g.restore(2)
    assert g.generated_columns() == {"cents": "CAST(amount * 100 AS BIGINT)"}


def test_orphans_report_matches_vacuum(spark, tmp_path):
    import os

    from nyc_taxi_lakehouse_spark.versioned import VersionedLakeTable

    t = VersionedLakeTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 50).selectExpr("id AS k")
    t.append(df)
    t.delete_where("k < 25")  # old files become unreferenced by latest
    orphaned = t.orphans(retain_last=1)
    assert orphaned  # the pre-delete files
    # Every orphan exists on disk now; vacuum removes exactly that many.
    for f in orphaned:
        assert os.path.exists(os.path.join(t.path, f))
    assert t.vacuum(retain_last=1) == len(orphaned)
    assert t.orphans(retain_last=1) == set()
    assert t.read().count() == 25


def test_optimistic_concurrency_conflict(spark, tmp_path):
    """Two writers racing to commit the same version: the loser must get
    ConcurrentCommitError, never silently overwrite the winner's manifest."""
    import pytest

    from nyc_taxi_lakehouse_spark.versioned import (
        ConcurrentCommitError,
        VersionedLakeTable,
    )

    path = str(tmp_path / "t")
    w1 = VersionedLakeTable(spark, path)
    w2 = VersionedLakeTable(spark, path)
    df = spark.range(0, 10).selectExpr("id AS k")
    w1.append(df)
    live = set(w1._manifest(1)["files"])
    # w2 wins the race for version 2.
    assert w2._commit(w2._snapshot(), "append", files=live) == 2
    # Pin w1 to its STALE view (it read latest=1 before w2 committed) so
    # its snapshot is version 1 and its _commit targets version 2 — the
    # put-if-absent must refuse.
    w1.versions = lambda: [1]
    w1.latest_version = lambda: 1
    with pytest.raises(ConcurrentCommitError):
        w1._commit(w1._snapshot(), "append", files=live)
    # The winner's manifest is intact; a fresh writer proceeds normally.
    fresh = VersionedLakeTable(spark, path)
    assert fresh._manifest(2)["op"] == "append"
    assert fresh.append(df) == 3


def _count_manifest_reads(monkeypatch):
    """Count LakeFS.read_text calls per commit-log manifest path."""
    from collections import Counter

    from nyc_taxi_lakehouse_spark.fs import LakeFS

    counts: Counter = Counter()
    read_text = LakeFS.read_text

    def counting(self, path):
        if "/_log/" in path:
            counts[path] += 1
        return read_text(self, path)

    monkeypatch.setattr(LakeFS, "read_text", counting)
    return counts


def test_each_operation_reads_each_manifest_once(spark, tmp_path, monkeypatch):
    """One snapshot per operation: an operation reads every manifest it
    needs exactly once, so it can never see two versions of one file."""
    counts = _count_manifest_reads(monkeypatch)
    t = VersionedLakeTable(
        spark, str(tmp_path / "rc"), ["status"], stats_cols=["amount"]
    )
    t.append(_mk(spark, [(1, "O", 10.0), (2, "F", 20.0)]))
    ops = {
        "append": lambda: t.append(_mk(spark, [(3, "O", 30.0), (4, "F", 40.0)])),
        "merge_upsert": lambda: t.merge_upsert(_mk(spark, [(1, "O", 11.0)]), ["id"]),
        "delete_where": lambda: t.delete_where("id = 4"),
        "compact": t.compact,
        "read": lambda: t.read().count(),
        "read(version=1)": lambda: t.read(version=1).count(),
    }
    for name, op in ops.items():
        counts.clear()
        op()
        assert counts and max(counts.values()) == 1, (name, dict(counts))
    assert sorted((r.id, r.amount) for r in t.read().collect()) == [
        (1, 11.0), (2, 20.0), (3, 30.0),
    ]


def test_append_never_mixes_two_snapshots(spark, tmp_path, monkeypatch):
    """A second writer commits add_generated_column right after an append
    read its snapshot's manifest. The append staged its rows without the
    new column, so it must fail with ConcurrentCommitError instead of
    committing rows that hold NULL in a GENERATED ALWAYS AS column; the
    retry reads the new snapshot and derives the column."""
    from nyc_taxi_lakehouse_spark.fs import LakeFS
    from nyc_taxi_lakehouse_spark.versioned import ConcurrentCommitError

    path = str(tmp_path / "mix")
    t = VersionedLakeTable(spark, path)
    t.append(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    other = VersionedLakeTable(spark, path)
    read_text = LakeFS.read_text
    raced = []

    def racing_read(self, p):
        text = read_text(self, p)
        if "/_log/" in p and not raced:
            raced.append(p)
            other.add_generated_column("v2", "v * 2", "bigint")
        return text

    monkeypatch.setattr(LakeFS, "read_text", racing_read)
    batch = spark.createDataFrame([(2, 20), (3, 30)], "k bigint, v bigint")
    with pytest.raises(ConcurrentCommitError):
        t.append(batch)
    monkeypatch.undo()
    assert raced and t.history()[-1]["op"] == "add_generated_column"
    assert t.orphans() == set()  # the losing append's files are gone
    assert t.append(batch) == 3
    # Row 1 predates the column; every row written after it has its value.
    assert sorted((r.k, r.v2) for r in t.read().collect()) == [
        (1, None), (2, 40), (3, 60),
    ]
    assert t.orphans() == set()


def _stale(t, version):
    """Pin handle ``t`` to the log as it stood at ``version``."""
    t.versions = lambda: list(range(1, version + 1))
    t.latest_version = lambda: version


def test_losing_commit_deletes_only_what_it_staged(spark, tmp_path):
    """A merge-on-read delete that loses the OCC race deletes the
    tombstone file it staged; a losing RESTORE, which stages nothing and
    re-references existing files, deletes nothing."""
    import os

    from nyc_taxi_lakehouse_spark.versioned import ConcurrentCommitError

    path = str(tmp_path / "lose")
    t = VersionedLakeTable(spark, path)
    t.append(spark.range(20).selectExpr("id AS k"))
    t.delete_where("k < 2")  # v2 no longer lists v1's files
    VersionedLakeTable(spark, path).mark_deleted("k < 5")  # v3 wins
    on_disk = t._data_files()
    v1_files = set(t._snapshot(1).files)
    _stale(t, 2)
    with pytest.raises(ConcurrentCommitError):
        t.mark_deleted("k >= 15")
    with pytest.raises(ConcurrentCommitError):
        t.restore(1)
    fresh = VersionedLakeTable(spark, path)
    assert fresh._data_files() == on_disk and v1_files <= on_disk
    assert all(os.path.exists(os.path.join(path, f)) for f in on_disk)
    assert fresh.orphans(retain_last=3) == set()
    assert sorted(r.k for r in fresh.read().collect()) == list(range(5, 20))


def test_restore_is_zero_copy_and_history_preserving(spark, tmp_path):
    """RESTORE commits a NEW version pinning the old file list: the table
    reads as the restored snapshot, the bad version stays time-travelable,
    and vacuuming past the window makes a later restore refuse loudly."""
    import pytest as _pytest

    from nyc_taxi_lakehouse_spark.versioned import ValidationError, VersionedLakeTable

    t = VersionedLakeTable(spark, str(tmp_path / "vt"), [])
    df1 = spark.range(5).selectExpr("id", "id * 2 AS v")
    t.append(df1)  # v1
    t.append(spark.range(5, 8).selectExpr("id", "id * 2 AS v"))  # v2
    t.delete_where("id < 3")  # v3
    assert t.read().count() == 5

    v = t.restore(1)  # v4 = v1's files
    assert v == 4
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4]
    # history preserved: v3 still time-travelable
    assert t.read(version=3).count() == 5
    assert t.history()[-1]["op"] == "restore"
    # restoring the restore is idempotent in content
    t.restore(4)
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4]
    # vacuum keeps only the latest version's files -> restore to v2 refuses
    t.vacuum(retain_last=1)
    with _pytest.raises(ValidationError):
        t.restore(2)


def test_occ_concurrent_append_stress(spark, tmp_path):
    """Two writers race appends for 12 rounds with retry-on-conflict: every
    version number is won by exactly one commit, no append is lost, and the
    final table holds precisely the union of all batches — the put-if-absent
    log protocol under real thread interleaving, not just a staged
    two-step conflict."""
    import threading

    from nyc_taxi_lakehouse_spark.versioned import (
        ConcurrentCommitError,
        VersionedLakeTable,
    )

    path = str(tmp_path / "occ")
    VersionedLakeTable(spark, path, []).append(
        spark.range(0, 1).selectExpr("id AS batch", "id AS writer")
    )
    rounds, conflicts = 12, [0, 0]

    def writer(w: int) -> None:
        t = VersionedLakeTable(spark, path, [])
        for r in range(rounds):
            batch = spark.range(1).selectExpr(
                f"CAST({r + 1} AS BIGINT) AS batch", f"CAST({w} AS BIGINT) AS writer"
            )
            while True:
                try:
                    t.append(batch)
                    break
                except ConcurrentCommitError:
                    conflicts[w] += 1

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    t = VersionedLakeTable(spark, path, [])
    # every append landed exactly once
    rows = t.read().groupBy("batch", "writer").count().collect()
    assert all(r["count"] == 1 for r in rows)
    assert t.read().count() == 1 + 2 * rounds
    # version numbers are a gapless sequence: one winner per version
    assert t.versions() == list(range(1, 2 + 2 * rounds))
    # no conflict left a file that no manifest references
    assert t.orphans(retain_last=len(t.versions())) == set()


def test_occ_concurrent_merge_stress(spark, tmp_path):
    """Two writers race merge_upsert over DISJOINT key ranges with
    retry-on-conflict: every writer's final value survives (no lost
    update through the read-modify-write window) and versions are
    gapless."""
    import threading

    from nyc_taxi_lakehouse_spark.versioned import (
        ConcurrentCommitError,
        VersionedLakeTable,
    )

    path = str(tmp_path / "occm")
    base = spark.range(20).selectExpr("id AS k", "CAST(0 AS BIGINT) AS v")
    VersionedLakeTable(spark, path, []).append(base)
    rounds = 6

    def writer(w: int) -> None:
        t = VersionedLakeTable(spark, path, [])
        lo = w * 10
        for r in range(1, rounds + 1):
            upd = spark.range(lo, lo + 10).selectExpr(
                "id AS k", f"CAST({r} AS BIGINT) AS v"
            )
            while True:
                try:
                    t.merge_upsert(upd, keys=["k"])
                    break
                except ConcurrentCommitError:
                    pass

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    t = VersionedLakeTable(spark, path, [])
    rows = {r.k: r.v for r in t.read().collect()}
    assert len(rows) == 20
    assert all(v == rounds for v in rows.values()), rows
    assert t.versions() == list(range(1, 2 + 2 * rounds))
    assert t.orphans(retain_last=len(t.versions())) == set()


def test_crashed_commit_staging_is_invisible_and_vacuumable(spark, tmp_path):
    """A commit that died mid-staged-write leaves only a _staging dir:
    readers and time travel are unaffected (underscore-prefixed = invisible
    to scans and the orphan walk), a subsequent commit is unaffected, and
    vacuum clears the leftovers."""
    import os

    from nyc_taxi_lakehouse_spark.versioned import VersionedLakeTable

    t = VersionedLakeTable(spark, str(tmp_path / "crash"), [])
    t.append(spark.range(5).selectExpr("id"))
    # simulate the crash: stale staging with a parquet-looking file
    stale = os.path.join(t.path, "_staging", "deadbeef")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert t.read().count() == 5  # reader untouched
    t.append(spark.range(5, 8).selectExpr("id"))  # next commit fine
    assert t.read().count() == 8
    assert t.orphans(retain_last=1) == set()  # staging invisible to the walk
    t.vacuum(retain_last=1)
    assert not os.path.exists(os.path.join(t.path, "_staging"))
    assert t.read().count() == 8


def test_wap_append_publishes_with_metrics(spark, tmp_path):
    from pyspark.sql import functions as F

    t = VersionedLakeTable(spark, str(tmp_path / "wap"))
    metrics = {
        "n": F.count(F.lit(1)),
        "null_amount": F.sum(F.col("amount").isNull().cast("long")),
    }

    def audit(m):
        out = []
        if m["n"] == 0:
            out.append("empty batch")
        if m["null_amount"] > 0:
            out.append(f"{m['null_amount']} null amounts")
        return out

    v, observed = t.wap_append(
        _mk(spark, [(1, "O", 10.0), (2, "F", 20.0)]), metrics, audit
    )
    assert v == 1 and observed == {"n": 2, "null_amount": 0}
    assert sorted(r.id for r in t.read().collect()) == [1, 2]


def test_wap_append_audit_failure_discards_staging(spark, tmp_path):
    from pyspark.sql import functions as F

    from nyc_taxi_lakehouse_spark.lake import ValidationError

    t = VersionedLakeTable(spark, str(tmp_path / "wapf"))
    t.append(_mk(spark, [(1, "O", 10.0)]))
    metrics = {"null_amount": F.sum(F.col("amount").isNull().cast("long"))}

    def audit(m):
        return [f"{m['null_amount']} null amounts"] if m["null_amount"] else []

    bad = spark.createDataFrame(
        [(2, "F", None)], "id bigint, status string, amount double"
    )
    with pytest.raises(ValidationError, match="null amounts"):
        t.wap_append(bad, metrics, audit)
    # Nothing published: no new version, table unchanged, and the live
    # set's files all exist while no stray data files remain on disk.
    assert t.latest_version() == 1
    assert [r.id for r in t.read().collect()] == [1]
    live = set(t._manifest(1)["files"])
    assert t._data_files() == live


def test_check_constraints_lifecycle(spark, tmp_path):
    from nyc_taxi_lakehouse_spark.lake import ValidationError

    t = VersionedLakeTable(spark, str(tmp_path / "ck"))
    t.append(_mk(spark, [(1, "O", 10.0), (2, "F", 20.0)]))

    # Existing data must satisfy a new constraint.
    with pytest.raises(ValidationError, match="existing rows violate"):
        t.add_check_constraint("big", "amount > 15")
    v = t.add_check_constraint("pos_amount", "amount > 0")
    assert v == 2 and t.check_constraints() == {"pos_amount": "amount > 0"}
    assert [h["op"] for h in t.history()][-1] == "add_constraint"

    # Violating append is rejected pre-commit, staging cleaned up.
    with pytest.raises(ValidationError, match="pos_amount"):
        t.append(_mk(spark, [(3, "O", -5.0)]))
    assert t.latest_version() == 2
    assert t._data_files() == set(t._manifest(2)["files"])

    # NULL passes (SQL CHECK semantics); good rows commit and the
    # constraint is carried forward through ordinary commits.
    nullrow = spark.createDataFrame(
        [(4, "P", None)], "id bigint, status string, amount double"
    )
    assert t.append(nullrow) == 3
    assert t.check_constraints() == {"pos_amount": "amount > 0"}

    # wap_append surfaces constraint failures through its audit path.
    from pyspark.sql import functions as F

    with pytest.raises(ValidationError, match="CHECK pos_amount"):
        t.wap_append(
            _mk(spark, [(5, "O", -1.0)]),
            {"n": F.count(F.lit(1))},
            lambda m: [],
        )

    assert t.drop_check_constraint("pos_amount") == 4
    assert t.check_constraints() == {}
    assert t.append(_mk(spark, [(6, "O", -2.0)])) == 5  # no longer enforced


def test_rename_column_is_metadata_only(spark, tmp_path):
    from nyc_taxi_lakehouse_spark.lake import ValidationError

    t = VersionedLakeTable(spark, str(tmp_path / "rn"))
    t.append(_mk(spark, [(1, "O", 10.0), (2, "F", 20.0)]))
    files_before = set(t._manifest(1)["files"])
    v = t.rename_column("amount", "total")
    assert v == 2
    assert set(t._manifest(2)["files"]) == files_before  # no rewrite
    got = {r.id: r.total for r in t.read().collect()}
    assert got == {1: 10.0, 2: 20.0}
    # Time travel still shows the OLD logical name at the old version.
    assert "amount" in t.read(1).columns and "total" not in t.read(1).columns

    # Appends and deletes keep working through the mapping.
    t.append(_mk(spark, [(3, "P", 30.0)]).withColumnRenamed("amount", "total"))
    assert {r.id: r.total for r in t.read().collect()} == {
        1: 10.0, 2: 20.0, 3: 30.0,
    }
    t.delete_where("total > 25")
    assert sorted(r.id for r in t.read().collect()) == [1, 2]

    with pytest.raises(ValidationError, match="already exists"):
        t.rename_column("status", "total")


def test_rename_refused_for_partition_and_constraint_cols(spark, tmp_path):
    from nyc_taxi_lakehouse_spark.lake import ValidationError

    t = VersionedLakeTable(spark, str(tmp_path / "rnp"), ["status"])
    t.append(_mk(spark, [(1, "O", 10.0)]))
    with pytest.raises(ValidationError, match="partition column"):
        t.rename_column("status", "state")
    t.add_check_constraint("pos", "amount > 0")
    with pytest.raises(ValidationError, match="CHECK constraint"):
        t.rename_column("amount", "total")


def test_drop_column_and_readd_does_not_resurrect(spark, tmp_path):
    t = VersionedLakeTable(spark, str(tmp_path / "dr"))
    t.append(_mk(spark, [(1, "O", 10.0), (2, "F", 20.0)]))
    v = t.drop_column("amount")
    assert v == 2
    assert t.read().columns == ["id", "status"]
    assert "amount" in t.read(1).columns  # old snapshot unaffected

    # Re-adding a column with the SAME logical name must not read the
    # dropped column's values back out of the old files.
    t.append(
        spark.createDataFrame(
            [(3, "P", 99.0)], "id bigint, status string, amount double"
        ),
        merge_schema=True,
    )
    got = {r.id: r.amount for r in t.read().collect()}
    assert got == {1: None, 2: None, 3: 99.0}


def test_stats_pruning_survives_rename(spark, tmp_path):
    from pyspark.sql import functions as F

    base = spark.range(256).select(
        F.col("id").alias("rid"), (F.col("id") % 16).alias("a")
    )
    t = VersionedLakeTable(spark, str(tmp_path / "rs"), stats_cols=["a"])
    t.append(base.repartitionByRange(8, "a").sortWithinPartitions("a"))
    kept, total = t.prune_files([("a", 0, 1)])
    assert len(kept) < total
    t.rename_column("a", "bucket")
    kept2, total2 = t.prune_files([("bucket", 0, 1)])
    assert (len(kept2), total2) == (len(kept), total)
    # And a post-rename append records stats under the new logical name.
    t.append(
        spark.range(10).coalesce(1).select(
            (F.col("id") + 1000).alias("rid"), F.lit(99).cast("long").alias("bucket")
        )
    )
    kept3, total3 = t.prune_files([("bucket", 99, 99)])
    assert total3 == total + 1 and len(kept3) == 1


def test_fully_pruned_read_runs_no_tasks(spark, tmp_path):
    """A read whose filters prune every file is an empty frame of the
    logical schema that runs no task: no Python worker starts for it."""
    t = VersionedLakeTable(spark, str(tmp_path / "pr"), stats_cols=["amount"])
    t.append(_mk(spark, [(1, "O", 10.0), (2, "F", 20.0)]).coalesce(1))
    assert t.prune_files([("amount", 100.0, 200.0)]) == ([], 1)
    pruned = t.read(filters=[("amount", 100.0, 200.0)])
    assert pruned.schema == t.read().schema
    rows, _, tasks = spark_jobs(spark, pruned.collect)
    assert (rows, tasks) == ([], 0)


def test_generated_columns(spark, tmp_path):
    from nyc_taxi_lakehouse_spark.lake import ValidationError

    t = VersionedLakeTable(spark, str(tmp_path / "gen"))
    t.append(_mk(spark, [(1, "O", 10.0), (2, "F", 20.0)]))
    v = t.add_generated_column("amount_cents", "CAST(amount * 100 AS BIGINT)", "bigint")
    assert v == 2
    # Pre-existing rows read NULL (their files predate the column).
    assert {r.id: r.amount_cents for r in t.read().collect()} == {1: None, 2: None}

    # A batch WITHOUT the column gets it derived automatically.
    t.append(_mk(spark, [(3, "P", 30.5)]))
    got = {r.id: r.amount_cents for r in t.read().collect()}
    assert got[3] == 3050

    # A batch WITH the column must match the expression (null-safely).
    good = spark.createDataFrame(
        [(4, "O", 40.0, 4000)],
        "id bigint, status string, amount double, amount_cents bigint",
    )
    t.append(good)
    bad = spark.createDataFrame(
        [(5, "O", 50.0, 9999)],
        "id bigint, status string, amount double, amount_cents bigint",
    )
    with pytest.raises(ValidationError, match="amount_cents"):
        t.append(bad)
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3, 4]

    # Guards: the source column can be neither renamed nor dropped while
    # the rule references it; dropping the generated column retires it.
    with pytest.raises(ValidationError, match="generated"):
        t.rename_column("amount", "total")
    with pytest.raises(ValidationError, match="generated"):
        t.drop_column("amount")
    t.drop_column("amount_cents")
    assert t.generated_columns() == {}
    t.append(_mk(spark, [(6, "O", 60.0)]))  # no longer derived
    assert "amount_cents" not in t.read().columns


def test_update_where(spark, tmp_path):
    from nyc_taxi_lakehouse_spark.lake import ValidationError

    t = VersionedLakeTable(spark, str(tmp_path / "up"), ["status"])
    t.append(
        _mk(spark, [(1, "O", 10.0), (2, "F", 20.0), (3, "F", 30.0)])
    )
    m1 = set(t._manifest(1)["files"])

    # Simultaneous assignment against the pre-update row: amount doubles
    # AND id shifts by the OLD amount in the same statement.
    v = t.update_where(
        "status = 'F' AND amount > 25",
        {"amount": "amount * 2", "id": "id + CAST(amount AS BIGINT)"},
    )
    assert v == 2
    got = {r.id: r.amount for r in t.read().collect()}
    assert got == {1: 10.0, 2: 20.0, 33: 60.0}
    # Old snapshot intact; untouched partition's files carried over.
    assert {r.id for r in t.read(1).collect()} == {1, 2, 3}
    o_files = {f for f in m1 if f.startswith("status=O/")}
    assert o_files <= set(t._manifest(2)["files"])

    with pytest.raises(ValidationError, match="partition column"):
        t.update_where("id = 1", {"status": "'X'"})

    # Constraint enforcement: an update cannot smuggle in violations.
    t.add_check_constraint("pos", "amount > 0")
    with pytest.raises(ValidationError, match="pos"):
        t.update_where("id = 1", {"amount": "-amount"})
    assert t.read().filter("amount <= 0").count() == 0

    # Generated columns cannot be assigned directly.
    t2 = VersionedLakeTable(spark, str(tmp_path / "upg"))
    t2.append(_mk(spark, [(1, "O", 10.0)]))
    t2.add_generated_column("cents", "CAST(amount * 100 AS BIGINT)", "bigint")
    with pytest.raises(ValidationError, match="GENERATED"):
        t2.update_where("id = 1", {"cents": "0"})
    assert t2.update_where("id = 1", {"amount": "11.0"}) == 3

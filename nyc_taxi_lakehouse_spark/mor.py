"""Merge-on-read row-level deletes via deletion vectors.

Copy-on-write deletes rewrite every touched file. Delta deletion vectors /
Iceberg v2 positional delete files are the merge-on-read alternative: a
DELETE writes only (data_file, row_position) tombstones and readers
subtract them, until a compaction rewrites the files. O(deleted rows)
write cost instead of O(touched files), at the price of an anti-join per
read — right for frequent small deletes (GDPR erasure, retractions).

``MergeOnReadTable`` is a ``VersionedLakeTable`` whose DELETE is
``mark_deleted``: tombstones are deletion vectors in the table's own
snapshots, so they commit under OCC, time-travel and are vacuumed with the
data. ``read`` subtracts them, data files stay byte-identical (pinned in
tests/test_mor.py), and ``purge`` is ``compact``. Registered query
q_deletion_vectors runs the cycle against an orders mirror.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .registry import df_query
from .scratch import memoized, scratch_dir
from .sources.tables import load_tables
from .versioned import VersionedLakeTable


class MergeOnReadTable(VersionedLakeTable):
    """An unpartitioned versioned table whose DELETE is merge-on-read."""

    def write_base(self, df: DataFrame) -> None:
        self.overwrite(df)

    def delete_where(self, predicate: str) -> int:
        """Commit (file_path, row_index) tombstones for the live rows
        matching ``predicate``. Returns the live tombstone count: the
        deletion vectors of the new snapshot, which never tombstone a
        position twice (only live rows are matched)."""
        version = self.mark_deleted(predicate)
        return sum(d["rows"] for d in self._snapshot(version).deletes)

    def purge(self) -> None:
        """Apply the deletion vectors by rewriting the files they cover."""
        self.compact()


@df_query(
    "q_deletion_vectors",
    duck_sql="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
FROM orders
WHERE o_orderkey % 7 <> 0 AND NOT (o_orderstatus = 'F' AND o_custkey % 3 = 0)
""",
    tables=["orders"],
    doc="Merge-on-read deletion vectors (Delta DV / Iceberg v2 positional "
    "deletes): two row-level DELETEs each commit one (file_path, row_index) "
    "tombstone file as a deletion vector in the versioned table's manifest "
    "— the data files are byte-identical afterwards (pinned in "
    "tests/test_mor.py) — and the scan subtracts them with an anti-join on "
    "the position key, broadcast below a gate on the manifest's tombstone "
    "count. Oracle = orders minus both predicates; a green row proves "
    "tombstones compose across commits and the read sees exactly the "
    "surviving rows.",
)
def q_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    orders = t["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir(spark, "mor", sf_dir, ["orders"])
    table = MergeOnReadTable(spark, path)

    def build(_path: str) -> None:
        table.write_base(orders)
        table.delete_where("o_orderkey % 7 = 0")
        table.delete_where("o_orderstatus = 'F' AND o_custkey % 3 = 0")

    memoized(path, build)
    return table.read()

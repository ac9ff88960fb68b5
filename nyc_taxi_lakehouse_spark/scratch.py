"""Scratch tables: the lake tables registered queries build for themselves.

Queries such as q_time_travel, q_deletion_vectors and the streaming
replays build a small table (or drain a stream into a sink) from their
source and return a lazy read of it, so the files must outlive the call,
but not the run. They live under the Spark application's own temp
directory, ``SparkFiles.getRootDirectory()``: it is unique per
application, so two concurrent sessions never share a build, and Spark
deletes it on ``spark.stop()`` and at process exit, so no run leaves
tables behind.

Every builder goes through two calls: ``scratch_dir`` names the
directory from the sources it reads, and ``memoized`` builds it once.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark import SparkFiles
from pyspark.sql import SparkSession

from .sources.tables import _source_snapshot, table_path

_COMPLETE = "_COMPLETE"


def scratch_root(spark: SparkSession) -> str:
    """The directory that holds every scratch table of ``spark``'s
    application. A process runs one SparkContext, and ``SparkFiles``
    answers for it."""
    return os.path.join(SparkFiles.getRootDirectory(), "lakehouse")


def scratch_dir(
    spark: SparkSession, name: str, sf_dir: str, tables: list[str]
) -> str:
    """``<scratch_root>/<name>-<key>``, where the key fingerprints the
    on-disk state of each source table the build reads: a source
    regenerated in place gets a new directory instead of a stale build."""
    h = hashlib.sha256()
    for t in tables:
        path = table_path(sf_dir, t)
        h.update(repr((path, _source_snapshot(path))).encode())
    return os.path.join(scratch_root(spark), f"{name}-{h.hexdigest()[:12]}")


def memoized(path: str, build) -> str:
    """Build ``path`` once: if its ``_COMPLETE`` marker is absent, clear
    any partial build, call ``build(path)`` and write the marker only after
    it returned, so a failed build or drain is redone on the next call.
    Underscore files are invisible to parquet scans and the file stream
    source, so the marker may sit inside a table or replay source."""
    marker = os.path.join(path, _COMPLETE)
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        build(path)
        with open(marker, "w"):
            pass
    return path

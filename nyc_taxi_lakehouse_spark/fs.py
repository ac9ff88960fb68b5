"""Hadoop FileSystem wrapper — object-store-safe table maintenance.

The lake table's file work (commit-log listing and manifests, staged data
file moves, vacuum) runs through the JVM Hadoop FileSystem API instead of
os/shutil, so identical code drives file:// here and s3a:// / abfs:// /
hdfs:// on a real cluster — the operational surface Delta's
OPTIMIZE/VACUUM provide natively (reference delegates this to Iceberg's
table maintenance; SURVEY §1.4). Driver-side work stays metadata-sized:
directory statuses and small JSON manifests, never row data.

Every call here is a py4j round trip, so listings the table layer makes
per write (``glob``) cost a fixed number of calls whatever they match,
rather than one call per path.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import SparkSession


def glob_escape(text: str) -> str:
    """``text`` with Hadoop glob metacharacters escaped, so it matches
    itself literally inside a glob pattern."""
    return re.sub(r"([\\\[\]{}*?])", r"\\\1", text)


class LakeFS:
    """Thin py4j facade over org.apache.hadoop.fs.FileSystem, resolved from
    the table's own path so each table may live on a different store."""

    def __init__(self, spark: SparkSession, base: str):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._path(base).getFileSystem(self._conf)

    @functools.cached_property
    def _classes(self):
        # py4j resolves each segment of a dotted JVM name with its own
        # round trip: look the classes up once, not once per call.
        jvm = self._jvm
        return (
            jvm.org.apache.hadoop.fs.Path,
            jvm.org.apache.hadoop.fs.FileUtil,
            jvm.scala.collection.immutable.ArraySeq,
        )

    def _path(self, path: str):
        return self._classes[0](path)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._path(path)))

    def is_dir(self, path: str) -> bool:
        p = self._path(path)
        return bool(self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory())

    def list(self, path: str) -> list[tuple[str, bool, int]]:
        """Child statuses as (name, is_dir, size) — one listStatus RPC."""
        return [
            (s.getPath().getName(), bool(s.isDirectory()), int(s.getLen()))
            for s in self._fs.listStatus(self._path(path))
        ]

    def glob(self, base: str, pattern: str) -> list[str]:
        """``base``-relative paths matching the Hadoop glob ``pattern``
        (``*``-style, one component per ``/``, e.g. ``*/*.parquet``) below
        ``base``; empty when ``base`` does not exist. A fixed five calls
        whatever the match count: the matches come back as one
        newline-joined string (names cannot hold a newline — Spark escapes
        control characters in partition values)."""
        found = self._fs.globStatus(self._path(f"{glob_escape(base.rstrip('/'))}/{pattern}"))
        if not found:
            return []
        _, file_util, array_seq = self._classes
        joined = array_seq.unsafeWrapArray(file_util.stat2Paths(found))
        depth = pattern.count("/") + 1
        return [
            "/".join(p.split("/")[-depth:]) for p in joined.mkString("\n").split("\n")
        ]

    def delete(self, path: str, recursive: bool = False) -> bool:
        return bool(self._fs.delete(self._path(path), recursive))

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._path(path))

    def rename(self, src: str, dst: str) -> bool:
        return bool(self._fs.rename(self._path(src), self._path(dst)))

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._path(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def write_text(self, path: str, text: str) -> None:
        """Create-or-overwrite a small text file (single PUT on object
        stores — effectively atomic there; local FS overwrite in place)."""
        out = self._fs.create(self._path(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def write_text_exclusive(self, path: str, text: str) -> None:
        """Create a small text file, FAILING if it already exists (Hadoop
        create(overwrite=false)) — the put-if-absent primitive optimistic
        concurrency control needs for commit-log manifests. Raises
        FileExistsError on collision."""
        try:
            out = self._fs.create(self._path(path), False)
        except Exception as e:  # py4j-wrapped FileAlreadyExistsException
            if "exist" in str(e).lower():
                raise FileExistsError(path) from None
            raise
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

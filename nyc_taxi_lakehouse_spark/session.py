"""SparkSession bootstrap.

Maps the reference's ``create_spark_session`` boilerplate
(reference: airflow/dags/spark_jobs/nyc_taxi_to_iceberg.py:16-31 and
spark-defaults.conf:16-18) onto a local-mode builder: AQE + partition
coalescing on, zstd parquet, Kryo. The reference uses Iceberg on MinIO; this
engine uses a plain parquet warehouse (delta-spark is unavailable in this
environment) with an explicit lakehouse table layer in ``versioned.py``
(``lake.LakeTable``) that carries the same semantics (partitioned writes,
versioned commits, replace_where refresh, schema merge).

The session also sizes Spark's JVM-wide generated-class cache
(``spark.sql.codegen.cache.maxEntries``, default 100) to the engine's working
set, ``CODEGEN_CACHE_ENTRIES``. A pass over the six marts of
``perfbench/workloads.py`` compiles 122-136 distinct whole-stage-codegen
classes, and a lake ETL cycle 118-124 (after 8 at set-up). At 100 entries
each round-robin pass evicted classes before their reuse: Janino recompiled
124-128 classes per warm marts pass and 90-96 per warm lake cycle, and
HotSpot's JIT compiled every new class again. With the working set cached, a
warm marts pass compiles 0-10 classes (AQE plan variants it had not met
before) and a warm lake cycle 4.

Streaming checkpoints commit through Hadoop's ``FileSystem`` API
(``CHECKPOINT_FILE_MANAGER``) instead of Spark's default ``FileContext``
one. Without the native Hadoop library, ``FileContext``'s rename asks
``RawLocalFileSystem.getFileLinkStatus`` for both paths, and each call forks
a ``readlink`` process; ``ChecksumFs`` then renames the ``.crc`` file the
same way. Every offset, commit, sink-log and state-store file of a
micro-batch is written to a temp file and renamed, so one CDC drain of the
lake ETL cycle (sf0.01, 4 cores) forked 847 processes. With the
``FileSystem`` manager it forks 239, nearly all of them the ``chmod`` that
``RawLocalFileSystem.setPermission`` runs on each file create, and the
drain's median wall falls from 2.35 s to 1.70 s (8 alternating warm drains
per manager), with the same sink rows. The trade-off: ``FileSystem`` has no
non-overwriting rename, so the manager checks that the target is absent and
then renames. Two applications draining one checkpoint at once are no
longer refused by the rename itself; inside one application Spark already
refuses a second active run of the same query.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Entries of the JVM-wide generated-class cache. It holds at least the
# distinct classes of one cold bench.py headline pass at sf0.1 (1521 over 122
# queries; bench.py records each query's ``codegen_compiles``), so a warm pass
# of any engine workload finds its classes cached. A static conf, fixed when
# the JVM starts.
CODEGEN_CACHE_ENTRIES = 2048

# Input-path count above which Spark lists a scan's paths with a distributed
# job of one task per path (``spark.sql.sources.parallelPartitionDiscovery.
# threshold``, default 32). A lake table read passes one path per live file
# from its manifest, so above 32 files merely constructing the read ran that
# job: 0.34 s and 33 tasks for 33 files against 0.058 s and no job for 30
# (sf0.01, 4 cores). Set to Int.MaxValue, the driver lists every scan's paths
# itself. A runtime conf, so ``configure_runtime`` sets it too.
LISTING_JOB_THRESHOLD = 2**31 - 1

# Streaming checkpoint manager of sessions built by ``get_spark``: commits
# rename through ``FileSystem`` rather than ``FileContext``, which forks a
# ``readlink`` per path on a host without the native Hadoop library.
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "nyc_taxi_lakehouse_spark",
    master: str | None = None,
    warehouse_dir: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured like the reference cluster.

    Reference parity (spark-defaults.conf:16-18, comprehensive_analytics_pipeline.py:100-102):
    AQE enabled, partition coalescing, Kryo serializer, zstd parquet.

    The generated-class cache holds ``CODEGEN_CACHE_ENTRIES`` classes instead
    of Spark's 100: the marts' working set is 122-136 classes and a lake ETL
    cycle's 118-124, and at 100 entries each warm pass recompiled 90-128 of
    them. The cache is JVM-wide and sized once, so ``getOrCreate`` on a
    running session keeps that session's size.

    Scans list their input paths on the driver (``LISTING_JOB_THRESHOLD``),
    so a lake table read of any file count constructs without a job.

    Streaming checkpoints commit through ``CHECKPOINT_FILE_MANAGER``.
    Spark's default ``FileContext`` manager forks a ``readlink`` per path
    of each checkpoint rename when the native Hadoop library is absent:
    847 forked processes per lake ETL CDC drain, against 239 (the ``chmod``
    of each file create) with the ``FileSystem`` manager. Its rename is
    exists-then-rename rather than an atomic put-if-absent, so two
    applications draining one checkpoint at once are not refused by the
    rename; within one application Spark refuses a second active run of a
    query id anyway.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Arrow for the (rare) pandas-UDF paths — the LLM-pipeline operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The cache is keyed on the generated source. AQE numbers codegen
        # stages in the order it plans them, which varies run to run, so a
        # stage id in the class name made one pipeline several classes.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(LISTING_JOB_THRESHOLD),
        )
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    # Pre-start conf that must be in place before the JVM launches
    # (executor sizing/env, scheduler toggles like spark.speculation.*) —
    # runtime spark.conf.set is too late for these.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session.

    The driver hands our entry points an already-built session; timezone and
    AQE are runtime-settable, so pin the ones correctness depends on (UTC so
    unix_timestamp() agrees with DuckDB's epoch()).

    Static conf cannot be set on a running session, so such a session (the
    ``__spark_entry__`` driver's) keeps its own generated-class cache size;
    only sessions built by ``get_spark`` get ``CODEGEN_CACHE_ENTRIES``.
    The checkpoint manager follows the same rule: a session built elsewhere
    (a cluster driver on HDFS, say) keeps ``FileContext``'s atomic rename.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold",
        str(LISTING_JOB_THRESHOLD),
    )
    # The events table is nanosecond-precision parquet, which Spark 4 rejects
    # by default; read as raw long and convert at the source layer.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Microsecond-precision generations of the testdata carry no timezone
    # flag; read them as session-tz TIMESTAMP (UTC) rather than TIMESTAMP_NTZ
    # so epoch extractions (unix_micros/unix_timestamp) resolve and agree
    # with DuckDB's epoch()/epoch_ns() on the same files.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM (Spark's ``CodegenMetrics``
    compilation-time count). A generated-class cache miss compiles one
    class; a hit compiles none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()

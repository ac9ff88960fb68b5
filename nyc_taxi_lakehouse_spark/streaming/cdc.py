"""Streaming CDC pipeline — Debezium envelope → watermarked windows → lake.

Re-expresses the reference's realtime_cdc_processor.py end-to-end on
Structured Streaming:

- S4/S12: Kafka (or file-replay) source carrying Debezium JSON envelopes
  {op, ts_ms, before, after, source{db,table,ts_ms}} where before/after are
  DOUBLE-ENCODED JSON strings requiring a second from_json pass
  (realtime_cdc_processor.py:103-146 — SURVEY §7.3 hard part)
- P6: op-code routing c/u kept in-stream (:126-128); d handled by the
  foreachBatch MERGE path (ST8) for full c/u/d parity
- P7: null-safe positivity filter (:152-156)
- ST1-ST5: 10-min watermark, 5-min tumbling window keyed with a dimension,
  append output mode, per-query checkpoints (:160-192)
- ST7: chained table-as-stream stateless score query (:200-236)
- ST9: start + bounded await (:240-252) — `drain` below, the ONE place in
  the package that triggers and awaits a stream. Every drain is an
  availableNow drain (all pending input, then stop); a drain that outlives
  DRAIN_TIMEOUT_S is stopped and raises TimeoutError instead of returning
  with the query still running and its sink partial. Continuous
  (processing-time) serving is a deployment concern outside this package.
  Each micro-batch commits its offset, commit, sink-log and state-store
  files by rename; sessions from ``session.get_spark`` rename through
  Hadoop's FileSystem, because FileContext's rename forks a ``readlink``
  per path on a host without the native Hadoop library (847 → 239 forked
  processes per lake ETL drain; see the session module).

The payload here is the testdata `events` shape; the trips shape differs
only in the StructType.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..lake import LakeTable

# Bound on one availableNow drain (ST9). A module constant, not a knob: the
# slowest recorded replay drain (q_stream_join_outer, 22.4 s) is far inside it.
DRAIN_TIMEOUT_S = 600

# Debezium envelope: before/after are JSON *strings* (double encoding),
# matching debezium-config.json's default JSON converter output.
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("before", T.StringType()),
        T.StructField("after", T.StringType()),
        T.StructField(
            "source",
            T.StructType(
                [
                    T.StructField("db", T.StringType()),
                    T.StructField("table", T.StringType()),
                    T.StructField("ts_ms", T.LongType()),
                ]
            ),
        ),
    ]
)

EVENT_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def file_replay_source(
    spark: SparkSession, dir_path: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """File-source replay of CDC JSON lines (tests; production uses
    kafka_source below — same `value`-column contract downstream).

    maxFilesPerTrigger=1 makes each file its own micro-batch so event-time
    ordering across files drives the watermark exactly like Kafka batches
    would; None drains everything in one batch.
    """
    reader = spark.readStream.schema(
        T.StructType([T.StructField("value", T.StringType())])
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.text(dir_path)


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str | list[str],
    starting_offsets: str = "latest",
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """Kafka stream source carrying CDC envelopes (S4/ST6).

    Mirrors the reference reader (realtime_cdc_processor.py:91-98): subscribe
    to the CDC topics, startingOffsets=latest (resume from the checkpoint's
    committed offsets on restart — 'latest' only seeds the FIRST run),
    failOnDataLoss=false so an expired/compacted offset logs instead of
    killing the query.

    Returns the same single-`value`-column contract as file_replay_source:
    Kafka's `value` is BINARY, the file source's is STRING, and parse_cdc
    casts to string first — the downstream pipeline is source-agnostic
    (pinned by tests/test_streaming.py::test_parse_cdc_source_agnostic).

    Requires the spark-sql-kafka connector on the classpath; in this sandbox
    (no broker, no connector jar) `.load()` raises the missing-data-source
    error, which the unit test asserts to prove the options are plumbed.
    """
    subscribe = topics if isinstance(topics, str) else ",".join(topics)
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", subscribe)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "true" if fail_on_data_loss else "false")
        .load()
        .select("value")
    )


def parse_cdc(raw: DataFrame, payload_schema: T.StructType = EVENT_PAYLOAD_SCHEMA) -> DataFrame:
    """Envelope parse → op filter → second payload parse → flatten → clean.

    Mirrors realtime_cdc_processor.py:101-156 including the double-encoded
    `after` (second from_json at :135) and struct expansion `trip.*` (P9).
    """
    env = raw.select(
        F.from_json(F.col("value").cast("string"), ENVELOPE_SCHEMA).alias("env")
    )
    kept = env.filter(F.col("env.op").isin("c", "u"))  # P6 (:126-128)
    payload = kept.select(
        F.from_json("env.after", payload_schema).alias("rec"),
        F.col("env.ts_ms").alias("cdc_ts_ms"),
        F.col("env.op").alias("op"),
    )
    flat = payload.select("rec.*", "cdc_ts_ms", "op")  # P9 struct expansion
    return (
        flat.withColumn("event_time", F.to_timestamp("ts"))
        .filter(  # P7 null-safe positivity filter (:152-156)
            F.col("event_id").isNotNull()
            & F.col("event_time").isNotNull()
            & (F.col("value") > 0)
        )
    )


def windowed_aggregation(
    parsed: DataFrame,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """ST1/ST2: watermark + tumbling event-time window keyed with type;
    window struct projected to start/end (realtime_cdc_processor.py:160-182)."""
    return (
        parsed.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), F.col("event_type"))
        .agg(
            F.count("*").alias("event_count"),
            # Exact-decimal sum (associative → independent of micro-batch
            # partial-aggregation order), cast to double once — the engine's
            # determinism convention (functions/detsql.py), which also makes
            # the streaming result oracle-checkable (streaming/replay.py).
            F.sum(F.col("value").cast("decimal(28,2)"))
            .cast("double")
            .alias("total_value"),
            (
                F.sum(F.col("value").cast("decimal(28,2)")).cast("double")
                / F.count("*")
            ).alias("avg_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "event_count",
            "total_value",
            "avg_value",
            "approx_users",
        )
    )


def activity_score_stream(windowed: DataFrame) -> DataFrame:
    """ST7: stateless derived stream — the chained second query over the
    sink table (realtime_cdc_processor.py:206-227)."""
    return windowed.withColumn(
        "activity_score",
        F.col("event_count") * 0.5
        + F.col("total_value") * 0.3
        + F.col("approx_users") * 0.2,
    ).withColumn(
        "activity_level",
        F.when(F.col("activity_score") > 100, "high")
        .when(F.col("activity_score") > 30, "medium")
        .otherwise("low"),
    )


def drain(writer: DataStreamWriter, what: str) -> None:
    """Run a configured stream writer (sink or foreachBatch, plus its
    checkpointLocation) as one availableNow drain: process all pending
    input, then stop. Returns only once the drain completed; a drain still
    running after DRAIN_TIMEOUT_S is stopped and raises TimeoutError naming
    ``what``, and a failed query raises its StreamingQueryException.

    Limit: the timeout cannot bound a hung ``foreachBatch`` callback.
    ``stop()`` waits for the in-flight batch to return, because
    ``spark.sql.streaming.stopTimeout`` defaults to 0 (wait forever), so
    TimeoutError arrives only when the callback ends. A positive
    stopTimeout is not used on purpose: on pyspark 4.1.2 ``stop()`` then
    raises after the timeout while the query stays in
    ``spark.streams.active`` and the callback keeps writing, so a batch
    could still write after TimeoutError was raised — for example into a
    replay run dir that the caller is clearing for a re-run."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"{what} did not drain within {DRAIN_TIMEOUT_S}s")


def run_cdc_pipeline(
    spark: SparkSession,
    source_dir: str,
    sink_path: str,
    checkpoint_dir: str,
) -> None:
    """End-to-end: file-replay source → parse → windowed agg → parquet sink,
    drained once (`drain`). Re-running against the same checkpoint drains
    only the files delivered since."""
    parsed = parse_cdc(file_replay_source(spark, source_dir))
    drain(
        windowed_aggregation(parsed)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_dir),
        "CDC pipeline",
    )


def run_cdc_merge(
    spark: SparkSession,
    source_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
) -> None:
    """S12/ST8 full c/u/d parity: foreachBatch MERGE into a lake table —
    op c/u upsert by key, op d delete (the Iceberg-sink 'rewrite' delete
    mode re-expressed as Delta-shaped MERGE). One `drain`, so a merge that
    outlives DRAIN_TIMEOUT_S raises instead of leaving the table partial."""
    env = file_replay_source(spark, source_dir).select(
        F.from_json(F.col("value").cast("string"), ENVELOPE_SCHEMA).alias("env")
    )
    ops = env.select(
        F.coalesce(
            F.from_json("env.after", EVENT_PAYLOAD_SCHEMA),
            F.from_json("env.before", EVENT_PAYLOAD_SCHEMA),
        ).alias("rec"),
        F.col("env.op").alias("op"),
        F.col("env.ts_ms").alias("cdc_ts_ms"),
    ).select("rec.*", "op", "cdc_ts_ms")

    def upsert(batch: DataFrame, batch_id: int) -> None:
        # Exactly-once discipline (Delta txn appId/version): the checkpoint
        # delivers each micro-batch at-least-once across restarts; the merge
        # records its batch id in its own commit and skips any batch id the
        # table already recorded. (The keyed MERGE is idempotent anyway —
        # the txn makes the guarantee hold for non-idempotent sinks too,
        # and is pinned by tests/test_streaming.py.)
        updates = batch.withColumn("__delete", F.col("op") == "d").drop("op")
        table.merge_upsert(
            updates,
            keys=["event_id"],
            order_col="cdc_ts_ms",
            delete_col="__delete",
            txn=("cdc_merge", batch_id),
        )

    drain(
        ops.writeStream.foreachBatch(upsert).option(
            "checkpointLocation", checkpoint_dir
        ),
        "CDC merge",
    )

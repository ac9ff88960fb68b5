"""Streaming CDC tests: Debezium-envelope replay through file source,
watermarked windows, late-data drop, foreachBatch MERGE (SURVEY §5.3)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_lakehouse_spark.lake import LakeTable
from nyc_taxi_lakehouse_spark.streaming.cdc import (
    EVENT_PAYLOAD_SCHEMA,
    file_replay_source,
    parse_cdc,
    run_cdc_merge,
    run_cdc_pipeline,
    windowed_aggregation,
)


def _envelope(op, event_id, ts, user_id, event_type, value, ts_ms=0):
    payload = json.dumps(
        {
            "event_id": event_id,
            "ts": ts,
            "user_id": user_id,
            "event_type": event_type,
            "value": value,
        }
    )
    return json.dumps(
        {
            "op": op,
            "ts_ms": ts_ms,
            "before": payload if op == "d" else None,
            "after": None if op == "d" else payload,
            "source": {"db": "taxi_db", "table": "events", "ts_ms": ts_ms},
        }
    )


def _write_batch2(d):
    rows2 = [
        # 45+ minutes behind the max event time seen (00:59) → beyond the
        # 10-minute watermark → its window already closed; row dropped.
        _envelope("c", 6, "2024-01-01T00:03:00", 16, "click", 4.0, 2000),
        _envelope("c", 7, "2024-01-01T01:10:00", 17, "click", 6.0, 2001),
    ]
    (d / "batch2.json").write_text("\n".join(rows2))


@pytest.fixture
def cdc_dir(tmp_path):
    """CDC batch 1: creates + an update + malformed rows; batch 2 (written by
    _write_batch2, picked up on a second run) has a row >10 min late."""
    d = tmp_path / "cdc"
    d.mkdir()
    rows1 = [
        _envelope("c", 1, "2024-01-01T00:01:00", 10, "click", 5.0, 1000),
        _envelope("c", 2, "2024-01-01T00:02:30", 11, "click", 7.0, 1001),
        _envelope("c", 3, "2024-01-01T00:06:10", 12, "view", 3.0, 1002),
        _envelope("u", 2, "2024-01-01T00:02:30", 11, "click", 9.0, 1003),
        _envelope("d", 1, "2024-01-01T00:01:00", 10, "click", 5.0, 1004),  # filtered in-stream
        _envelope("c", 4, "2024-01-01T00:30:00", 13, "view", -2.0, 1005),  # value<=0 dropped
        _envelope("c", None, "2024-01-01T00:31:00", 14, "view", 2.0, 1006),  # null id dropped
        _envelope("c", 5, "2024-01-01T00:59:00", 15, "purchase", 20.0, 1007),
    ]
    (d / "batch1.json").write_text("\n".join(rows1))
    return d


def test_parse_cdc_semantics(spark, cdc_dir, tmp_path):
    """Double-encoded payload parse + op routing + cleaning filters."""
    _write_batch2(cdc_dir)
    out = tmp_path / "parsed"
    q = (
        parse_cdc(file_replay_source(spark, str(cdc_dir)))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt_p"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(out)).collect()
    ids = sorted(r.event_id for r in rows)
    # d-op(1), value<=0(4), null-id rows dropped; u-op(2) kept alongside c(2).
    assert ids == [1, 2, 2, 3, 5, 6, 7]
    ops = {(r.event_id, r.op) for r in rows}
    assert (2, "u") in ops and (2, "c") in ops
    assert all(r.value > 0 for r in rows)


def test_windowed_aggregation_with_watermark(spark, cdc_dir, tmp_path):
    """Two availableNow runs over one checkpoint (watermark persists across
    restarts — ST5): run 1 processes batch 1 and advances the watermark to
    00:49; run 2 picks up batch 2, whose 00:03 row is late → dropped."""
    sink = tmp_path / "windows"
    run_cdc_pipeline(spark, str(cdc_dir), str(sink), str(tmp_path / "ckpt_w"))
    _write_batch2(cdc_dir)
    run_cdc_pipeline(spark, str(cdc_dir), str(sink), str(tmp_path / "ckpt_w"))
    pdf = (
        spark.read.parquet(str(sink))
        .orderBy("window_start", "event_type")
        .toPandas()
    )
    # Window 00:00-00:05 'click': events 1, 2(c), 2(u) → 3 rows; the late
    # event 6 (00:03, arriving after watermark passed 00:49) is dropped.
    w0 = pdf[(pdf.window_start.astype(str) == "2024-01-01 00:00:00") & (pdf.event_type == "click")]
    assert len(w0) == 1 and int(w0.event_count.iloc[0]) == 3
    # The 01:10 row arrived in the final batch; its window only closes on a
    # later watermark advance → correctly absent from append-mode output.
    starts = set(pdf.window_start.astype(str))
    assert "2024-01-01 01:10:00" not in starts


def test_foreachbatch_merge_cud(spark, cdc_dir, tmp_path):
    """Full c/u/d parity through foreachBatch MERGE: update wins by ts_ms,
    delete removes, late create inserts."""
    _write_batch2(cdc_dir)
    table = LakeTable(spark, str(tmp_path / "events_cdc"))
    run_cdc_merge(spark, str(cdc_dir), table, str(tmp_path / "ckpt_m"))
    pdf = table.read().toPandas().sort_values("event_id")
    # event 1 deleted; event 2 upserted to value 9.0; 4 (neg value) still
    # merged (merge path is raw CDC, cleaning is a downstream concern);
    # null-id row dropped by key requirement.
    ids = [i for i in pdf.event_id if i == i]
    assert 1 not in ids
    assert float(pdf[pdf.event_id == 2].value.iloc[0]) == 9.0
    assert {3, 5, 6, 7} <= set(ids)


def test_table_as_stream_chain(spark, cdc_dir, tmp_path):
    """S5/ST7: sink table read back as a stream feeding the stateless
    activity-score query — the reference's chained second hop."""
    sink = tmp_path / "windows2"
    _write_batch2(cdc_dir)
    run_cdc_pipeline(spark, str(cdc_dir), str(sink), str(tmp_path / "ckpt_w2"))
    windowed_schema = spark.read.parquet(str(sink)).schema
    from nyc_taxi_lakehouse_spark.streaming.cdc import activity_score_stream

    scored = activity_score_stream(
        spark.readStream.schema(windowed_schema).parquet(str(sink))
    )
    out = tmp_path / "scored"
    q = (
        scored.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt_s"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    pdf = spark.read.parquet(str(out)).toPandas()
    assert len(pdf) == spark.read.parquet(str(sink)).count()
    assert set(pdf.activity_level) <= {"low", "medium", "high"}
    assert (pdf.activity_score > 0).all()


def test_parse_cdc_drops_corrupt_lines(spark, tmp_path):
    """Malformed JSON / wrong-shape envelopes must not kill the stream —
    from_json yields nulls which the op/null filters drop."""
    import json

    src = tmp_path / "corrupt"
    src.mkdir()
    good = json.dumps(
        {
            "op": "c",
            "ts_ms": 1,
            "before": None,
            "after": json.dumps(
                {"event_id": 1, "ts": "2026-01-01 10:00:00", "user_id": 1,
                 "event_type": "a", "value": 2.0}
            ),
            "source": {"db": "d", "table": "t", "ts_ms": 1},
        }
    )
    (src / "b.jsonl").write_text(
        "not json at all\n{\"op\": \"c\", \"after\": 17}\n" + good + "\n{broken"
    )
    from nyc_taxi_lakehouse_spark.streaming.cdc import parse_cdc

    raw = spark.read.text(str(src))  # batch read exercises the same exprs
    out = parse_cdc(raw).collect()
    assert len(out) == 1 and out[0].event_id == 1


def test_stream_dedup_across_micro_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark state survives a restart: a key
    redelivered in a LATER run over the same checkpoint is dropped, while a
    genuinely new key passes. (Within-batch duplicates are covered by the
    oracle-checked q_stream_dedup replay.)"""
    d = tmp_path / "dup_src"
    d.mkdir()

    def run(sink, ckpt):
        parsed = parse_cdc(file_replay_source(spark, str(d)))
        q = (
            parsed.withWatermark("event_time", "10 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    sink, ckpt = tmp_path / "dedup_sink", tmp_path / "dedup_ckpt"
    (d / "delivery1.json").write_text(
        "\n".join(
            [
                _envelope("c", 1, "2024-01-01T00:01:00", 10, "click", 5.0, 1000),
                _envelope("c", 2, "2024-01-01T00:02:00", 11, "view", 3.0, 1001),
            ]
        )
    )
    run(sink, ckpt)
    # Redelivery of event 1 (same payload) + a new event 3 in a second run:
    # checkpointed dedup state drops 1, admits 3.
    (d / "delivery2.json").write_text(
        "\n".join(
            [
                _envelope("c", 1, "2024-01-01T00:01:00", 10, "click", 5.0, 1002),
                _envelope("c", 3, "2024-01-01T00:03:00", 12, "click", 2.0, 1003),
            ]
        )
    )
    run(sink, ckpt)
    ids = sorted(r.event_id for r in spark.read.parquet(str(sink)).collect())
    assert ids == [1, 2, 3]


def test_kafka_source_options_plumbed(spark):
    """kafka_source builds a real format('kafka') reader: without the
    connector jar, .load() must die with the missing-data-source error
    (proving the builder reaches load with the kafka format selected) —
    not an option-validation error."""
    import pytest as _pytest

    from nyc_taxi_lakehouse_spark.streaming.cdc import kafka_source

    with _pytest.raises(Exception) as exc:
        kafka_source(
            spark,
            "broker:9092",
            ["cdc.public.events", "cdc.public.trips"],
            starting_offsets="latest",
            fail_on_data_loss=False,
        )
    msg = str(exc.value)
    assert "kafka" in msg.lower()
    assert "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg


def test_parse_cdc_source_agnostic(spark, cdc_dir):
    """The downstream pipeline accepts any DF with a `value` column: a
    kafka-shaped batch DF (BINARY value + key/topic/partition/offset
    metadata) parses to exactly the same rows as the file-replay text
    source."""
    lines = (cdc_dir / "batch1.json").read_text().splitlines()
    kafka_shaped = spark.createDataFrame(
        [
            (None, line.encode("utf-8"), "cdc.public.events", 0, i)
            for i, line in enumerate(lines)
        ],
        "key binary, value binary, topic string, partition int, offset long",
    ).select("value")

    from_kafka = parse_cdc(kafka_shaped).drop("event_time").collect()
    text_shaped = spark.createDataFrame([(line,) for line in lines], "value string")
    from_text = parse_cdc(text_shaped).drop("event_time").collect()
    assert sorted(map(tuple, from_kafka)) == sorted(map(tuple, from_text))
    assert sorted(r.event_id for r in from_kafka) == [1, 2, 2, 3, 5]


def test_streaming_session_window(spark, tmp_path):
    """session_window under Structured Streaming: sessions whose close is
    beyond the final watermark stay in state; closed sessions emit with the
    same bounds the batch form (q_sessionization) computes."""
    d = tmp_path / "sess_src"
    d.mkdir()
    (d / "b1.json").write_text(
        "\n".join(
            [
                _envelope("c", 1, "2024-01-01T00:00:00", 1, "click", 1.0, 1),
                _envelope("c", 2, "2024-01-01T00:02:00", 1, "click", 2.0, 2),
                _envelope("c", 3, "2024-01-01T00:20:00", 1, "view", 3.0, 3),
                _envelope("c", 4, "2024-01-01T01:00:00", 1, "click", 4.0, 4),
            ]
        )
    )
    parsed = parse_cdc(file_replay_source(spark, str(d)))
    sess = (
        parsed.withWatermark("event_time", "10 minutes")
        .groupBy("user_id", F.session_window("event_time", "5 minutes"))
        .agg(F.count("*").alias("n_events"))
    )
    out, ckpt = tmp_path / "sess_out", tmp_path / "sess_ckpt"
    q = (
        sess.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = sorted(
        (str(r["session_window"]["start"]), r["n_events"])
        for r in spark.read.parquet(str(out)).collect()
    )
    # Final watermark = 01:00 - 10min = 00:50: the two early sessions closed
    # (00:00+00:02 merged within the 5-min gap; 00:20 alone); the 01:00
    # session is still open in state and must NOT emit.
    assert rows == [("2024-01-01 00:00:00", 2), ("2024-01-01 00:20:00", 1)]


def test_progress_recorder_captures_batch_metrics(spark, cdc_dir, tmp_path):
    """StreamingQueryListener observability: per-batch input rows and
    trigger latency land in the recorder; lifecycle events fire."""
    from nyc_taxi_lakehouse_spark.streaming.monitor import ProgressRecorder

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        run_cdc_pipeline(
            spark, str(cdc_dir), str(tmp_path / "mon_sink"), str(tmp_path / "mon_ckpt")
        )
        # Listener delivery is async — wait for the data batch AND the
        # termination event to land.
        import time

        for _ in range(60):
            if any(m.num_input_rows == 8 for m in rec.metrics) and rec.terminated:
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)
    data_batches = [m for m in rec.metrics if m.num_input_rows > 0]
    assert any(m.num_input_rows == 8 for m in data_batches)  # batch1 envelope count
    assert all(m.trigger_ms >= 0 for m in rec.metrics)
    assert rec.started and rec.terminated
    pdf = rec.to_df(spark).toPandas()
    assert len(pdf) == len(rec.metrics)
    assert set(pdf.columns) >= {"query_id", "batch_id", "num_input_rows", "trigger_ms"}


def test_applyinpandaswithstate_running_profile(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-user running
    profile accumulates ACROSS micro-batch runs via checkpointed state."""
    from nyc_taxi_lakehouse_spark.streaming.stateful import running_user_profile

    d = tmp_path / "prof_src"
    d.mkdir()

    def run(sink, ckpt):
        prof = running_user_profile(parse_cdc(file_replay_source(spark, str(d))))
        q = (
            prof.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    sink, ckpt = tmp_path / "prof_sink", tmp_path / "prof_ckpt"
    (d / "b1.json").write_text(
        "\n".join(
            [
                _envelope("c", 1, "2024-01-01T00:01:00", 1, "click", 10.0, 1),
                _envelope("c", 2, "2024-01-01T00:02:00", 1, "click", 20.0, 2),
                _envelope("c", 3, "2024-01-01T00:03:00", 2, "view", 5.0, 3),
            ]
        )
    )
    run(sink, ckpt)
    (d / "b2.json").write_text(
        "\n".join([_envelope("c", 4, "2024-01-01T00:10:00", 1, "click", 30.0, 4)])
    )
    run(sink, ckpt)

    pdf = spark.read.parquet(str(sink)).toPandas()
    # Batch 1 emits profiles (u1: n=2, u2: n=1); batch 2 re-emits only the
    # active user u1 with state carried over: n=3, total=60.
    u1 = pdf[pdf.user_id == 1].sort_values("n_events")
    assert list(u1.n_events) == [2, 3]
    assert float(u1.total_value.iloc[-1]) == 60.0
    # EWMA replay-deterministic: 10 -> 0.2*20+0.8*10=12 -> 0.2*30+0.8*12=15.6
    assert abs(float(u1.ewma_value.iloc[-1]) - 15.6) < 1e-9
    u2 = pdf[pdf.user_id == 2]
    assert len(u2) == 1 and int(u2.n_events.iloc[0]) == 1


def test_stream_static_broadcast_join(spark, tmp_path):
    """Stream-static join: each micro-batch of the parsed CDC stream joins
    the (re-evaluated per batch) static dimension via broadcast — the
    streaming counterpart of J3's dim enrichment. The static side never
    enters streaming state: at 100 TB of stream the dim join cost is
    per-batch broadcast, not per-state-row."""
    from nyc_taxi_lakehouse_spark.streaming.cdc import file_replay_source, parse_cdc

    d = tmp_path / "env"
    d.mkdir()
    (d / "b1.json").write_text(
        "\n".join(
            [
                _envelope("c", 1, "2024-01-01T00:01:00", 1, "click", 10.0, 1),
                _envelope("c", 2, "2024-01-01T00:02:00", 2, "purchase", 99.0, 2),
                _envelope("c", 3, "2024-01-01T00:03:00", 3, "signup", 1.0, 3),
            ]
        )
    )
    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue"), ("view", "engagement")],
        "event_type string, category string",
    )
    parsed = parse_cdc(file_replay_source(spark, str(d)))
    enriched = parsed.join(F.broadcast(dim), "event_type", "left").select(
        "event_id", "event_type", F.coalesce("category", F.lit("other")).alias("category")
    )
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        enriched.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {r.event_id: r.category for r in spark.read.parquet(sink).collect()}
    assert got == {1: "engagement", 2: "revenue", 3: "other"}


def test_txn_ledger_skips_replayed_batches(spark, tmp_path):
    """The Delta txn (appId, version) action on the lake table: a
    foreachBatch sink passing ``txn=(app, batch_id)`` to merge_upsert
    records the batch id in the merge's own commit, and a restart replay of
    an already-committed batch id is skipped — even if the replayed content
    differs (simulating a non-idempotent sink drifting), table state and
    version are unchanged."""
    t = LakeTable(spark, str(tmp_path / "txn_table"))
    schema = "event_id long, v double, cdc_ts_ms long, __delete boolean"
    t.append(spark.createDataFrame([(1, 10.0, 1, False)], schema).drop("__delete"))

    def upsert(batch, batch_id):
        return t.merge_upsert(batch, keys=["event_id"], order_col="cdc_ts_ms",
                              delete_col="__delete", txn=("app", batch_id))

    assert t._snapshot().txns == {}
    b0 = spark.createDataFrame([(1, 20.0, 2, False)], schema)
    v0 = upsert(b0, 0)
    assert v0 == 2 and t.read().collect()[0].v == 20.0
    # The merge's own manifest carries the txn: no second write records it.
    assert t._manifest(v0)["txns"] == {"app": 0}
    assert t._manifest(v0)["op"] == "merge_upsert"

    # restart replay of batch 0 with DIFFERENT content: must be skipped
    b0_drift = spark.createDataFrame([(1, 999.0, 3, False)], schema)
    assert upsert(b0_drift, 0) == v0 == t.latest_version()
    assert t.read().collect()[0].v == 20.0

    # the next batch id applies normally
    b1 = spark.createDataFrame([(1, 30.0, 4, False)], schema)
    assert upsert(b1, 1) == 3
    assert t.read().collect()[0].v == 30.0
    assert t._snapshot().txns == {"app": 1}
    # Another app's txn starts from nothing; both are carried forward.
    t.merge_upsert(b1, keys=["event_id"], order_col="cdc_ts_ms",
                   delete_col="__delete", txn=("other", 0))
    assert t._snapshot().txns == {"app": 1, "other": 0}


def test_transform_with_state_matches_apply_in_pandas_with_state(spark, tmp_path):
    from nyc_taxi_lakehouse_spark.streaming.stateful import _twsp_available

    if not _twsp_available():
        import pytest

        pytest.skip("transformWithStateInPandas needs protobuf (absent here)")
    """API parity: the Spark 4 transformWithStateInPandas profile operator
    drains to the SAME final per-user profiles as the applyInPandasWithState
    form over the same envelope replay (state algebra identical; only the
    state API differs)."""
    import pyspark.sql.functions as F
    from nyc_taxi_lakehouse_spark.sources.tables import load_tables
    from nyc_taxi_lakehouse_spark.streaming.cdc import parse_cdc
    from nyc_taxi_lakehouse_spark.streaming.replay import (
        file_replay_source,
        write_envelopes,
    )
    from nyc_taxi_lakehouse_spark.streaming.stateful import (
        running_user_profile,
        running_user_profile_tws,
    )

    t = load_tables(spark, "/root/testdata/sf0.001", ["events"])
    env_dir = str(tmp_path / "env")
    write_envelopes(t["events"], env_dir)

    outs = {}
    for tag, op in (("aip", running_user_profile), ("tws", running_user_profile_tws)):
        sink, ckpt = str(tmp_path / f"{tag}_sink"), str(tmp_path / f"{tag}_ckpt")
        parsed = parse_cdc(file_replay_source(spark, env_dir, max_files_per_trigger=None))
        q = (
            op(parsed)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)
        final = (
            spark.read.parquet(sink)
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n"), F.max("total_value").alias("tv"))
        )
        outs[tag] = sorted(map(tuple, final.collect()))
    assert outs["aip"] == outs["tws"] and len(outs["tws"]) > 0


def test_rocksdb_state_store_equivalence(spark, tmp_path):
    """The RocksDB state store (production backend: state on local disk,
    not executor memory) produces EXACTLY the default provider's results
    on a watermarked windowed aggregation, and its checkpoint actually
    contains RocksDB artifacts — proving the engine runs on the backend
    that survives 100 TB state."""
    import os

    from pyspark.sql import functions as F

    from nyc_taxi_lakehouse_spark.streaming.stateful import rocksdb_state_conf

    src = str(tmp_path / "src")
    (
        spark.range(500)
        .selectExpr("id % 7 AS k", "timestamp_seconds(1700000000 + id * 37) AS ts")
        .write.parquet(src)
    )

    def run(tag: str, confs: dict) -> list:
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            sink = str(tmp_path / f"sink_{tag}")
            ckpt = str(tmp_path / f"ckpt_{tag}")
            stream = spark.readStream.schema("k long, ts timestamp").parquet(src)
            agg = (
                stream.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "30 minutes"), "k")
                .agg(F.count("*").alias("n"))
            )
            q = (
                agg.writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300)
            rows = sorted(
                (r["window"].start, r.k, r.n)
                for r in spark.read.parquet(sink).collect()
            )
            return rows, ckpt
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    base, _ = run("hdfs", {})
    rock, ckpt = run("rocks", rocksdb_state_conf())
    assert rock == base and len(base) > 0
    # the state dir really is RocksDB: changelog/zip artifacts present
    state_files = []
    for root, _dirs, files in os.walk(os.path.join(ckpt, "state")):
        state_files += files
    assert any(
        f.endswith(".zip") or f.endswith(".changelog") for f in state_files
    ), state_files


# --- transformWithState (Spark 4 arbitrary-state API) ----------------------


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


class _FakeMapState:
    def __init__(self):
        self._m = {}

    def containsKey(self, k):
        return tuple(k) in self._m

    def getValue(self, k):
        return self._m[tuple(k)]

    def updateValue(self, k, v):
        self._m[tuple(k)] = tuple(v)


class _FakeHandle:
    def getValueState(self, name, schema, ttlDurationMs=None):
        return _FakeValueState()

    def getMapState(self, name, kschema, vschema, ttlDurationMs=None):
        return _FakeMapState()


def test_tws_processor_state_algebra(spark, sf_dir):
    """The transformWithState processor's state algebra, pinned engine-free
    (the sandbox has no google.protobuf, so the TWS state-server channel
    cannot start — the documented boundary in replay.run_user_state_tws):
    feed the per-user batches through UserTypeProfileProcessor with fake
    state handles, in two different micro-batch splits, and compare the
    final emission against a pandas groupby. Split-invariance IS the
    checkpoint-resume contract."""
    import pandas as pd

    from nyc_taxi_lakehouse_spark.streaming.stateful import (
        _TWS_TYPES,
        UserTypeProfileProcessor,
    )

    events = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .filter("event_id IS NOT NULL AND ts IS NOT NULL AND value > 0")
        .select("user_id", "event_type")
        .toPandas()
    )
    expected = events.groupby("user_id")["event_type"].agg(
        n_events="count", n_types="nunique"
    )

    for n_splits in (1, 3):
        final = {}
        for uid, pdf in events.groupby("user_id"):
            proc = UserTypeProfileProcessor()
            proc.init(_FakeHandle())
            chunks = [
                pdf.iloc[i::n_splits] for i in range(n_splits)
            ]  # deterministic uneven split
            for chunk in chunks:
                if len(chunk) == 0:
                    continue
                out = list(proc.handleInputRows((uid,), iter([chunk]), None))
                final[uid] = out[-1]
        for uid, row in final.items():
            exp = expected.loc[uid]
            assert int(row["n_events"].iloc[0]) == exp["n_events"]
            assert int(row["n_types"].iloc[0]) == exp["n_types"]
            per_type = events[events.user_id == uid]["event_type"].value_counts()
            for t in _TWS_TYPES:
                assert int(row[f"n_{t}"].iloc[0]) == int(per_type.get(t, 0))
    assert len(final) > 50


def test_tws_e2e_runs_where_protobuf_exists(spark):
    """The full transformWithStateInPandas drain — runs and is compared
    against the batch GROUP BY wherever google.protobuf is available;
    skips with the documented boundary otherwise (pip installs are off
    in this sandbox)."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        pytest.skip("no google.protobuf in sandbox: TWS state server cannot start")
    from nyc_taxi_lakehouse_spark.streaming.replay import run_user_state_tws

    sf = "/root/testdata/sf0.001"
    got = {r.user_id: r for r in run_user_state_tws(spark, sf).collect()}
    exp = {
        r.user_id: r
        for r in spark.read.parquet(os.path.join(sf, "events.parquet"))
        .filter("event_id IS NOT NULL AND ts IS NOT NULL AND value > 0")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .collect()
    }
    assert set(got) == set(exp)
    for uid, r in got.items():
        assert (r.n_events, r.n_types) == (exp[uid].n_events, exp[uid].n_types)

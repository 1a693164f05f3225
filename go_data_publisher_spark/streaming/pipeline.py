"""Structured Streaming wrapper: tail the change log → foreachBatch merge.

The streaming analogue of the reference's consumer main loop
(transactions-consumer/main.go:94-149): a file-shaped change-log source
(stand-in for Kafka; swap `.format("kafka")` + from_json on a cluster — the
schema and everything downstream is identical), microbatched by
maxFilesPerTrigger (the reference's MaxPollRecords),
`foreachBatch(apply_batch)` as the exactly-once sink, checkpointed offsets
for resume.

Exactly-once is the composition of three guarantees:
  1. the source checkpoint replays an uncommitted microbatch after a crash
     (at-least-once), with the SAME epoch_id;
  2. `ChangeApplier.apply_batch` consults the table manifest's committed
     epoch set and no-ops on replay;
  3. the table commit itself is an atomic manifest swap.
This mirrors offsets-committed-after-bulk-index + deterministic doc IDs in
the reference (transaction_consumer.go:134-150).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import schemas
from .apply import ChangeApplier

# The Kafka source's fixed output schema (Structured Streaming Kafka
# integration guide) — what `.format("kafka").load()` yields and what
# `decode_kafka_records` consumes.  Pinned here so the decode stage is
# constructible and testable without a broker or the connector jar.
KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def kafka_reader(spark: SparkSession, bootstrap_servers: str, topic: str,
                 max_offsets_per_trigger: int | None = None,
                 starting_offsets: str = "earliest"):
    """The production S6 source: a Structured Streaming Kafka reader with
    the reference consumer's poll bounds (MaxPollRecords ≈
    maxOffsetsPerTrigger, transactions-consumer/main.go:56).

    Requires the spark-sql-kafka connector artifact on the classpath
    (``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<version>``);
    raises a clear error naming it otherwise.  Compose with
    `decode_kafka_records` for typed change events.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", int(max_offsets_per_trigger))
    try:
        return reader.load()
    except Exception as exc:
        # ONLY the connector-jar-missing shape gets rewritten into the
        # actionable message; genuine config errors (bad options with the
        # jar present) must surface as themselves
        if "Failed to find data source" in str(exc):
            raise RuntimeError(
                "Kafka source unavailable: add the spark-sql-kafka-0-10 "
                "artifact via --packages org.apache.spark:"
                "spark-sql-kafka-0-10_2.13:<spark-version>"
            ) from exc
        raise


def decode_kafka_records(raw: DataFrame, schema=None) -> DataFrame:
    """Kafka-source records → typed change events.

    The consumer-side decode (transactions-consumer/consume/
    transaction_consumer.go:112-116 json.Unmarshal + the LE-uint32 record
    key of client.go:73-79): ``value`` is the JSON envelope, ``key`` the
    4-byte little-endian tick.  Works on any frame with the Kafka source
    schema — the streaming reader, or a static test frame — so the decode
    stage composes and is verifiable without a broker.  The decoded key
    rides along as ``__key_tick`` for key/value-consistency checks
    (dropped by callers that don't need it)."""
    from pyspark.sql import functions as F

    from ..functions.codecs import le_uint32_value

    schema = schema or schemas.CHANGE_EVENT_SCHEMA
    return raw.select(
        le_uint32_value(F.col("key")).alias("__key_tick"),
        F.from_json(F.col("value").cast("string"), schema).alias("__r"),
    ).select("__key_tick", "__r.*")


def run_stream(
    spark: SparkSession,
    source_dir: str,
    applier: ChangeApplier,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    schema=None,
    available_now: bool = True,
    metrics_path: str | None = None,
    wire_format: bool = False,
):
    """Run the CDC stream until the source is drained (availableNow).

    ``metrics_path`` attaches a MicrobatchMetricsListener writing one JSON
    row per progress event (A5).
    ``wire_format=True`` reads Kafka-shaped records — (key binary LE-uint32,
    value string JSON), what ``WirePublisher`` writes — and decodes them
    with ``decode_kafka_records`` (the reference's consumer-side
    json.Unmarshal, transaction_consumer.go:112-116).  On a real cluster,
    replace the file source with `.format("kafka")`; everything from the
    decode down is identical.
    """
    schema = schema or schemas.CHANGE_EVENT_SCHEMA
    if wire_format:
        wire_schema = "key binary, value string"
        raw = (
            spark.readStream.schema(wire_schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            # WirePublisher lays records out as one window-<from>-<to> dir
            # per consumed feed window; recurse so the dir is consumable as
            # a topic
            .option("recursiveFileLookup", "true")
            .parquet(source_dir)
        )
        src = decode_kafka_records(raw, schema).drop("__key_tick")
    else:
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir)
        )
    return run_stream_from(src, applier, checkpoint_dir,
                           available_now=available_now, metrics_path=metrics_path)


def run_stream_from(
    source: DataFrame,
    applier: ChangeApplier,
    checkpoint_dir: str,
    available_now: bool = True,
    metrics_path: str | None = None,
):
    """Drive any typed change-event STREAMING frame through the foreachBatch
    merge sink — the composition point for non-file sources:

        raw = kafka_reader(spark, "broker:9092", "transcripts",
                           max_offsets_per_trigger=4096)
        events = decode_kafka_records(raw).drop("__key_tick")
        run_stream_from(events, applier, "/ckpt/transcripts",
                        available_now=False)

    ``source`` must be a streaming DataFrame with the change-event columns
    (at minimum the key/order columns the applier's table merges on).
    Everything downstream — exactly-once epoch guard, schema evolution,
    dedup, quarantine, lineage, metrics — is source-agnostic."""
    spark = source.sparkSession
    src, listener = source, None
    progress_lines_at_start = 0
    if metrics_path:
        from pyspark.sql import functions as F

        from .metrics import MicrobatchMetricsListener

        # batch counters piggybacked on the stream pass (A5), for the
        # listener to write; attached only when one listens, since each
        # costs per-row work in every microbatch.  The order column comes
        # from the applier's table (not a hardcoded 'lsn') so sources whose
        # order column has another name still pass analysis; a source that
        # doesn't carry it at all gets row counts only.
        order_col = applier.table.order_col
        obs_aggs = [F.count(F.lit(1)).alias("rows")]
        if order_col in source.columns:
            obs_aggs += [F.min(order_col).alias("lsn_min"),
                         F.max(order_col).alias("lsn_max")]
        src = source.observe("cdc_batch", *obs_aggs)

        # the metrics file is append-only across runs: offset the drain-wait
        # by the rows previous runs already wrote, or a resumed run removes
        # the listener before its OWN progress rows land
        try:
            with open(metrics_path) as f:
                progress_lines_at_start = sum(1 for line in f if '"progress"' in line)
        except FileNotFoundError:
            pass
        listener = MicrobatchMetricsListener(metrics_path)
        spark.streams.addListener(listener)

    state = {"applied": 0, "stats": []}

    def handle(batch_df, epoch_id: int):
        stats = applier.apply_batch(batch_df, epoch_id=epoch_id)
        state["applied"] += 1
        state["stats"].append(stats)

    writer = src.writeStream.foreachBatch(handle).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    try:
        q.awaitTermination()
    except Exception:
        q.stop()
        raise
    finally:
        if listener is not None:
            # listener delivery is async (AsyncEventQueue): wait until the
            # progress rows for all applied batches have landed
            import json
            import time

            deadline = time.time() + 10
            while time.time() < deadline:
                try:
                    with open(listener.out_path) as f:
                        n = sum(1 for line in f if '"progress"' in line)
                    if n >= progress_lines_at_start + state["applied"]:
                        break
                except FileNotFoundError:
                    pass
                time.sleep(0.2)
            spark.streams.removeListener(listener)
    return state

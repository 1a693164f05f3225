"""Structured Streaming wrapper: drain-to-done, crash mid-stream → resume
from checkpoint → identical final state (the reference's crash-between-
bulk-index-and-offset-commit replay scenario, SURVEY.md §3.2)."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from go_data_publisher_spark.lake.table import TranscriptTable
from go_data_publisher_spark.sources.changelog import (
    generate_changelog,
    write_changelog_stream_dir,
)
from go_data_publisher_spark.streaming.apply import ChangeApplier
from go_data_publisher_spark.streaming.pipeline import run_stream

from conftest import CrashingApplier, pandas_final_state


def _setup(spark, tmpdir_path, n=3000):
    log = generate_changelog(spark, n, n_convs=60, seed=29).persist()
    src = f"{tmpdir_path}/stream_src"
    write_changelog_stream_dir(log, src, n_chunks=6)
    return log, src


def _assert_equals_oracle(log, tbl):
    snap = tbl.snapshot().orderBy("conv_id", "turn_idx").toPandas()
    oracle = (
        pandas_final_state(log.toPandas())
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert len(snap) == len(oracle)
    for col in ["conv_id", "turn_idx", "text", "lsn"]:
        pd.testing.assert_series_equal(
            snap[col], oracle[col], check_names=False, check_dtype=False, obj=col
        )


def test_stream_drain_equals_oracle(spark, tmpdir_path):
    log, src = _setup(spark, tmpdir_path)
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=8)
    app = ChangeApplier(tbl, lineage_dir=f"{tmpdir_path}/lineage")
    state = run_stream(spark, src, app, f"{tmpdir_path}/ckpt", max_files_per_trigger=2)
    assert state["applied"] >= 3
    _assert_equals_oracle(log, tbl)


def test_crash_and_resume(spark, tmpdir_path):
    log, src = _setup(spark, tmpdir_path)
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=8)
    app = CrashingApplier(tbl, crash_after=2)
    ckpt = f"{tmpdir_path}/ckpt"

    # crash before the sink write of the third microbatch
    with pytest.raises(Exception, match="injected crash"):
        run_stream(spark, src, app, ckpt, max_files_per_trigger=1)
    assert app.applied == 2
    assert tbl.snapshot().count() > 0

    # resume from checkpoint: replays the in-flight batch (epoch guard makes
    # any double-delivery a no-op) and drains the rest
    app.crash_after = None
    state2 = run_stream(spark, src, app, ckpt, max_files_per_trigger=1)
    assert state2["applied"] >= 1
    _assert_equals_oracle(log, tbl)


def test_resume_replay_batch_is_skipped(spark, tmpdir_path):
    """Kill after the table commit but before the checkpoint commit: on
    resume, foreachBatch re-delivers the same epoch_id and the applier
    must no-op (exactly-once-in-effect)."""
    log, src = _setup(spark, tmpdir_path, n=1500)
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=4)
    app = ChangeApplier(tbl)
    ckpt = f"{tmpdir_path}/ckpt"

    seen = []

    class TrackingApplier(ChangeApplier):
        def apply_batch(self, batch, epoch_id):
            stats = super().apply_batch(batch, epoch_id)
            seen.append((epoch_id, stats["status"]))
            # crash AFTER the table committed epoch 1, BEFORE spark
            # checkpoints it
            if epoch_id == 1 and stats["status"] == "committed":
                raise RuntimeError("injected crash after sink commit")
            return stats

    tapp = TrackingApplier(tbl)
    try:
        run_stream(spark, src, tapp, ckpt, max_files_per_trigger=1)
    except Exception:
        pass
    run_stream(spark, src, tapp, ckpt, max_files_per_trigger=1)

    # epoch 1 was delivered at least twice; second delivery skipped
    epoch1 = [s for e, s in seen if e == 1]
    assert epoch1.count("committed") == 1
    assert "skipped_replay" in epoch1
    _assert_equals_oracle(log, tbl)


def test_run_stream_from_composes_with_any_source(spark, tmpdir_path):
    """run_stream_from drives a caller-built streaming frame (the
    kafka_reader/decode composition point) through the same foreachBatch
    sink — result equals the built-in file-source path."""
    from go_data_publisher_spark import schemas
    from go_data_publisher_spark.lake.table import TranscriptTable
    from go_data_publisher_spark.sources.changelog import (
        generate_changelog,
        write_changelog_stream_dir,
    )
    from go_data_publisher_spark.streaming.apply import ChangeApplier
    from go_data_publisher_spark.streaming.pipeline import run_stream, run_stream_from

    log = generate_changelog(spark, 600, n_convs=10, seed=31)
    src_dir = f"{tmpdir_path}/log"
    write_changelog_stream_dir(log, src_dir, n_chunks=3)

    # built-in path
    t1 = TranscriptTable(spark, f"{tmpdir_path}/t1", n_buckets=2)
    run_stream(spark, src_dir, ChangeApplier(t1), f"{tmpdir_path}/ck1")

    # caller-built source through run_stream_from
    src = (spark.readStream.schema(schemas.CHANGE_EVENT_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(src_dir))
    t2 = TranscriptTable(spark, f"{tmpdir_path}/t2", n_buckets=2)
    state = run_stream_from(src, ChangeApplier(t2), f"{tmpdir_path}/ck2")
    assert state["applied"] >= 1

    a = sorted(map(tuple, t1.snapshot().collect()))
    b = sorted(map(tuple, t2.snapshot().collect()))
    assert a == b and len(a) > 0


def test_run_stream_from_derives_observe_column_from_table(spark, tmpdir_path):
    """ADVICE r3: the stream's observed order column (attached with a
    metrics listener) comes from the applier's table, so a source whose
    order column is not named 'lsn' passes analysis and merges correctly."""
    from pyspark.sql import functions as F

    from go_data_publisher_spark.streaming.pipeline import run_stream_from

    schema = ("seq long, op string, conv_id string, turn_idx int, "
              "role string, text string")
    rows = [(i, "I", f"c{i % 4}", i % 3, "user", f"t{i}") for i in range(1, 31)]
    src_dir = f"{tmpdir_path}/seqsrc"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src_dir)

    tbl = TranscriptTable(spark, f"{tmpdir_path}/seqtbl", n_buckets=2,
                          schema=spark.createDataFrame([], schema).drop("op").schema,
                          order_col="seq")
    app = ChangeApplier(tbl)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    metrics = f"{tmpdir_path}/metrics.jsonl"
    state = run_stream_from(stream, app, f"{tmpdir_path}/seqckpt",
                            metrics_path=metrics)
    assert state["applied"] >= 1
    snap = tbl.snapshot()
    assert snap.count() == 12  # 4 convs x 3 turns
    assert snap.agg(F.max("seq")).first()[0] == 30
    # the observed bounds are the source's seq column
    observed = [r["observed"]["cdc_batch"] for r in map(json.loads, open(metrics))
                if r["event"] == "progress" and r["observed"].get("cdc_batch")]
    assert max(o["lsn_max"] for o in observed) == 30

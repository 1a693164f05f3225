"""Per-microbatch metrics listener (A5)."""

import json

from go_data_publisher_spark.lake.table import TranscriptTable
from go_data_publisher_spark.sources.changelog import (
    generate_changelog,
    write_changelog_stream_dir,
)
from go_data_publisher_spark.streaming.apply import ChangeApplier
from go_data_publisher_spark.streaming.pipeline import run_stream


def test_stream_emits_metrics(spark, tmpdir_path):
    log = generate_changelog(spark, 1200, n_convs=30, seed=37)
    src = f"{tmpdir_path}/src"
    write_changelog_stream_dir(log, src, n_chunks=3)
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=4)
    app = ChangeApplier(tbl)
    metrics = f"{tmpdir_path}/metrics.jsonl"
    run_stream(spark, src, app, f"{tmpdir_path}/ckpt", metrics_path=metrics)

    rows = [json.loads(line) for line in open(metrics)]
    progress = [r for r in rows if r["event"] == "progress"]
    assert progress, "no progress rows captured"
    assert sum(r["num_input_rows"] for r in progress) == log.count()
    # observed per-batch counters present
    assert any(r.get("observed", {}).get("cdc_batch") for r in progress)
    # metrics are themselves queryable as a table
    mdf = spark.read.json(metrics)
    assert mdf.where("event = 'progress'").count() == len(progress)

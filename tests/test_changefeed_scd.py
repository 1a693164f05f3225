"""Incremental change feed (table.changes) and SCD-2 history materialization."""

import pytest
from pyspark.sql import functions as F

from go_data_publisher_spark.lake.table import TranscriptTable
from go_data_publisher_spark.operators.scd import scd2_history
from go_data_publisher_spark.streaming.apply import ChangeApplier

SCHEMA = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp, schema_version int"
)


def _apply(spark, app, rows, epoch):
    app.apply_batch(spark.createDataFrame(rows, SCHEMA), epoch_id=epoch)


def test_change_feed_windows(spark, tmpdir_path):
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=2)
    app = ChangeApplier(tbl)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "v1", None, None, 1),
                        (2, "I", "c2", 0, "user", "w1", None, None, 1)], 0)
    v1 = tbl.manifest()["version"]
    _apply(spark, app, [(3, "U", "c1", 0, "user", "v2", None, None, 1),
                        (4, "D", "c2", 0, "user", None, None, None, 1)], 1)
    v2 = tbl.manifest()["version"]

    full = tbl.changes(0)
    assert full.count() == 4
    assert set(full.select("commit_version").distinct().toPandas()["commit_version"]) \
        == {v1, v2}

    tail = {(r.conv_id, r.op) for r in tbl.changes(v1).collect()}
    assert tail == {("c1", "U"), ("c2", "D")}  # tombstone IS in the feed
    assert tbl.changes(v2).count() == 0

    # the feed replays to the same final state as the snapshot
    from conftest import pandas_final_state

    feed = tbl.changes(0).toPandas()
    oracle = pandas_final_state(feed.rename(columns={"commit_version": "_cv"}))
    snap = tbl.snapshot().toPandas()
    assert sorted(zip(oracle.conv_id, oracle.turn_idx, oracle.text)) == \
        sorted(zip(snap.conv_id, snap.turn_idx, snap.text))


def test_change_feed_compaction_retention(spark, tmpdir_path):
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=2)
    app = ChangeApplier(tbl)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "v1", None, None, 1)], 0)
    v1 = tbl.manifest()["version"]
    _apply(spark, app, [(2, "U", "c1", 0, "user", "v2", None, None, 1)], 1)
    tbl.compact()
    v3 = tbl.manifest()["version"]

    with pytest.raises(ValueError, match="compact"):
        tbl.changes(v1)  # window reaches behind the compaction
    assert tbl.changes(v3).count() == 0  # post-compaction window is clean

    _apply(spark, app, [(3, "U", "c1", 0, "user", "v3", None, None, 1)], 2)
    after = tbl.changes(v3).collect()
    assert [(r.text, r.op) for r in after] == [("v3", "U")]


def test_scd2_history(spark):
    log = spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "a", None, None, 1),
         (3, "U", "c1", 0, "user", "b", None, None, 1),
         (5, "D", "c1", 0, "user", None, None, None, 1),
         (2, "I", "c2", 0, "user", "x", None, None, 1)],
        SCHEMA,
    )
    hist = scd2_history(log).orderBy("conv_id", "valid_from").collect()
    assert [(r.conv_id, r.text, r.valid_from, r.valid_to) for r in hist] == [
        ("c1", "a", 1, 3),   # superseded by the update
        ("c1", "b", 3, 5),   # closed by the delete, no row for the delete
        ("c2", "x", 2, None),  # open current version
    ]


def test_change_feed_caught_up_consumer_survives_compaction(spark, tmpdir_path):
    """A consumer checkpointed at the last pre-compaction version lost
    nothing to the compaction — the feed must be empty, not a retention
    error (folded_hwm vs the blunt seq-in-window check)."""
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=2)
    app = ChangeApplier(tbl)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "v1", None, None, 1)], 0)
    _apply(spark, app, [(2, "U", "c1", 0, "user", "v2", None, None, 1)], 1)
    v2 = tbl.manifest()["version"]
    tbl.compact()
    assert tbl.changes(v2).count() == 0  # caught up: clean empty feed
    # the compaction manifest is stamped with its commit time
    import time as _t
    last = tbl.history()[-1]
    assert last["version"] == tbl.manifest()["version"]
    assert 0 < float(last["committed_at"]) <= _t.time()


def test_has_changes_agrees_with_changes_everywhere(spark, tmpdir_path):
    """The manifest-only emptiness probe must agree with the real feed at
    EVERY retained from_version across merges and a compaction — same
    emptiness verdict, and the same retention error on lost windows (a
    False on a lost window would let a poller skip changes silently)."""
    from go_data_publisher_spark.lake.table import RetentionLostError

    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=2)
    app = ChangeApplier(tbl)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1)], 0)
    _apply(spark, app, [(2, "U", "c1", 0, "user", "b", None, None, 1)], 1)
    tbl.compact()
    _apply(spark, app, [(3, "I", "c2", 1, "user", "c", None, None, 1)], 2)
    cur = tbl.manifest()["version"]

    checked_raise = checked_value = 0
    for v in range(0, cur + 1):
        try:
            probe = tbl.has_changes(v)
        except RetentionLostError:
            with pytest.raises(RetentionLostError):
                tbl.changes(v)
            checked_raise += 1
            continue
        assert probe == (tbl.changes(v).count() > 0), f"from_version {v}"
        checked_value += 1
    assert checked_raise >= 1 and checked_value >= 2

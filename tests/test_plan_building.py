"""Driver-side plan building of the merge and read paths.

``ChangeApplier.apply_batch``, ``TranscriptTable.merge`` and the table's
read planners describe each step as SQL text (``sqltext``), so building a
commit's plan costs a fixed, small number of py4j round trips instead of
one per Column node.  These tests pin the round-trip counts with fixed
ceilings (the counts repeat exactly), the null-key guard that rides the
write job, and identifier quoting for SQL-reserved column names.
"""
from __future__ import annotations

import pytest
from conftest import count_round_trips
from pyspark.sql import types as T

from go_data_publisher_spark.lake.table import TranscriptTable
from go_data_publisher_spark.sources.changelog import generate_changelog
from go_data_publisher_spark.streaming.apply import ChangeApplier


def _batch(spark, seed=3):
    return generate_changelog(spark, 4_000, n_convs=200, seed=seed).persist()


def test_apply_batch_round_trips(spark, tmpdir_path):
    tbl = TranscriptTable(spark, tmpdir_path, n_buckets=16)
    applier = ChangeApplier(tbl)
    counts = []
    for epoch in range(2):
        batch = _batch(spark, seed=epoch)
        batch.count()
        with count_round_trips() as c:
            st = applier.apply_batch(batch, epoch_id=epoch)
        assert st["status"] == "committed"
        assert st["files_written"] == 16
        counts.append(c["n"])
    # 1,504 with Column-tree plan building, 114 with SQL text
    assert max(counts) <= 250, counts
    assert counts[0] == counts[1], counts


def test_snapshot_plan_round_trips(spark, tmpdir_path):
    tbl = TranscriptTable(spark, tmpdir_path, n_buckets=16)
    ChangeApplier(tbl).apply_batch(_batch(spark), epoch_id=0)
    counts = []
    for _ in range(2):
        with count_round_trips() as c:
            tbl.snapshot()
        counts.append(c["n"])
    # 677 with Column-tree plan building, 89 with SQL text
    assert max(counts) <= 120, counts
    assert counts[0] == counts[1], counts


def test_merge_null_key_fails_inside_write_job(spark, tmpdir_path):
    tbl = TranscriptTable(spark, tmpdir_path, n_buckets=4)
    rows = spark.createDataFrame(
        [("c1", 0, 1, "I", "ok"), (None, 1, 2, "I", "no key")],
        "conv_id string, turn_idx int, lsn long, op string, text string",
    )
    with pytest.raises(Exception, match="merge: null conv_id key"):
        tbl.merge(rows, epoch_id=0)
    # nothing committed: the guard fails the write job before the manifest
    assert tbl.manifest()["version"] == 0
    assert not tbl.is_epoch_committed(0)


def test_sql_reserved_column_names(spark, tmpdir_path):
    schema = T.StructType([
        T.StructField("select", T.StringType()),
        T.StructField("from", T.IntegerType()),
        T.StructField("order", T.LongType()),
        T.StructField("group by", T.StringType()),
    ])
    tbl = TranscriptTable(spark, tmpdir_path, n_buckets=4, schema=schema,
                          key=("select", "from"), order_col="order")
    events = spark.createDataFrame(
        [("a", 1, 1, "I", "v1"), ("a", 1, 3, "U", "v3"), ("a", 1, 2, "U", "v2"),
         ("b", 2, 4, "I", "b"), ("b", 2, 5, "D", None), ("c", 1, 6, "I", "c"),
         (None, 9, 7, "I", "invalid"), ("d", 3, 8, "X", "invalid")],
        "`select` string, `from` int, `order` long, op string, `group by` string",
    )
    st = ChangeApplier(tbl).apply_batch(events, epoch_id=0)
    assert st["status"] == "committed" and st["rows_quarantined"] == 2
    want = {("a", 1, 3, "v3"), ("c", 1, 6, "c")}

    def rows():
        return {tuple(r) for r in tbl.snapshot().collect()}

    assert rows() == want
    assert {(r["select"], r["op"], r["commit_version"])
            for r in tbl.changes(0).collect()} == {("a", "U", 1), ("b", "D", 1),
                                                   ("c", "I", 1)}
    # a stale update loses to the stored row, a newer one wins
    late = spark.createDataFrame(
        [("a", 1, 2, "U", "stale"), ("c", 1, 9, "U", "c9")],
        "`select` string, `from` int, `order` long, op string, `group by` string",
    )
    tbl.merge(late, epoch_id=1)
    want = {("a", 1, 3, "v3"), ("c", 1, 9, "c9")}
    assert rows() == want
    tbl.compact()
    assert rows() == want
    assert [tuple(r) for r in tbl.lookup("c").collect()] == [("c", 1, 9, "c9")]

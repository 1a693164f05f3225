"""The reference's tick-interval consumer semantics (D5: widen-or-ignore
upsert keyed by (epoch, from), tick-intervals-consumer/consume/
intervals_processor.go:103-157) expressed with the SAME generalized lake
table — key=(epoch, from_lsn), version authority order_col=to_lsn."""

from pyspark.sql import types as T

from go_data_publisher_spark.lake.table import TranscriptTable

INTERVAL_SCHEMA = T.StructType(
    [
        T.StructField("epoch", T.StringType(), False),  # key[0] (bucket col)
        T.StructField("from_lsn", T.IntegerType(), False),
        T.StructField("to_lsn", T.LongType(), False),
    ]
)


def _mk(spark, rows):
    return spark.createDataFrame(
        [(str(e), f, t, op) for e, f, t, op in rows],
        "epoch string, from_lsn int, to_lsn long, op string",
    )


def test_widen_or_ignore_upsert(spark, tmpdir_path):
    tbl = TranscriptTable(
        spark, f"{tmpdir_path}/iv", n_buckets=2,
        schema=INTERVAL_SCHEMA, key=("epoch", "from_lsn"), order_col="to_lsn",
    )
    # initial intervals
    tbl.merge(_mk(spark, [(1, 0, 100, "I"), (2, 0, 50, "I")]),
              epoch_id=0)
    # widen epoch 1 (to 100→120: applied), shrink epoch 2 (to 50→30: ignored)
    tbl.merge(_mk(spark, [(1, 0, 120, "U"), (2, 0, 30, "U")]),
              epoch_id=1)
    got = {(r["epoch"], r["from_lsn"]): r["to_lsn"] for r in tbl.snapshot().collect()}
    assert got == {("1", 0): 120, ("2", 0): 50}

    # in-batch last-wins on max `to` (the reference's temporaryIntervals map):
    # both versions arrive in one batch — only the widest survives
    tbl.merge(_mk(spark, [(3, 10, 40, "I"), (3, 10, 90, "U")]),
              epoch_id=2)
    got = {(r["epoch"], r["from_lsn"]): r["to_lsn"] for r in tbl.snapshot().collect()}
    assert got[("3", 10)] == 90


def test_overlap_conflict_raises(spark, tmpdir_path):
    """D5 conflict branch (intervals_processor.go:124-137): an interval that
    overlaps a stored one under the same epoch with a DIFFERENT `from` is an
    illegal widen — hard error, nothing committed."""
    import pytest

    from go_data_publisher_spark.lake.table import OverlapConflictError

    tbl = TranscriptTable(
        spark, f"{tmpdir_path}/iv", n_buckets=2,
        schema=INTERVAL_SCHEMA, key=("epoch", "from_lsn"), order_col="to_lsn",
        overlap_guard=("from_lsn", "to_lsn"),
    )
    tbl.merge(_mk(spark, [(1, 0, 100, "I")]), epoch_id=0)
    v = tbl.manifest()["version"]

    # same key (epoch=1, from=0): widen — allowed, no conflict
    tbl.merge(_mk(spark, [(1, 0, 150, "U")]), epoch_id=1)

    # overlapping interval with different from under the same epoch: error
    with pytest.raises(OverlapConflictError):
        tbl.merge(_mk(spark, [(1, 50, 200, "I")]), epoch_id=2)
    # nothing committed by the failed merge
    assert not tbl.is_epoch_committed(2)
    got = {(r["epoch"], r["from_lsn"]): r["to_lsn"] for r in tbl.snapshot().collect()}
    assert got == {("1", 0): 150}

    # disjoint interval under the same epoch: fine
    tbl.merge(_mk(spark, [(1, 200, 300, "I")]), epoch_id=3)
    assert tbl.snapshot().count() == 2

"""Snapshot time travel: every manifest version stays readable (the
reference's analogue is the interval/progress history the status-service
serves; ours is Iceberg-style snapshot isolation)."""

from go_data_publisher_spark.lake.table import TranscriptTable
from go_data_publisher_spark.streaming.apply import ChangeApplier

SCHEMA = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp, schema_version int"
)


def test_snapshot_time_travel(spark, tmpdir_path):
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=2)
    app = ChangeApplier(tbl)
    app.apply_batch(
        spark.createDataFrame([(1, "I", "c1", 0, "user", "v1", None, None, 1)], SCHEMA),
        epoch_id=0,
    )
    v1 = tbl.manifest()["version"]
    app.apply_batch(
        spark.createDataFrame(
            [(2, "U", "c1", 0, "user", "v2", None, None, 1),
             (3, "I", "c2", 0, "user", "other", None, None, 1)],
            SCHEMA,
        ),
        epoch_id=1,
    )
    v2 = tbl.manifest()["version"]
    assert v2 > v1

    now = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tbl.snapshot().collect()}
    then = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tbl.snapshot(version=v1).collect()}
    assert now == {("c1", 0): "v2", ("c2", 0): "other"}
    assert then == {("c1", 0): "v1"}

    # each version carries its commit time, stamped in commit order
    hist_by_v = {h["version"]: h for h in tbl.history()}
    assert 0 < float(hist_by_v[v1]["committed_at"]) \
        <= float(hist_by_v[v2]["committed_at"])

    hist = tbl.history()
    assert [h["version"] for h in hist] == sorted(h["version"] for h in hist)
    # bounded epoch state: both epochs folded into the high-watermark
    assert hist[-1]["epoch_hwm"] == 1 and hist[-1]["epochs_recent"] == []
    # cursor advanced monotonically across versions
    cursors = [h["cursor_lsn"] for h in hist]
    assert cursors == sorted(cursors)

"""Review-fix behaviors: writer-scoped epoch guards and outputs, ephemeral
schema evolution, quarantine rows rewritten on replay, null-key fail-fast,
vacuum grace."""

import os

import pytest
from pyspark.sql import functions as F  # noqa: F401

from go_data_publisher_spark import schemas
from go_data_publisher_spark.lake.table import TranscriptTable
from go_data_publisher_spark.serving import lineage_epochs
from go_data_publisher_spark.streaming.apply import ChangeApplier, read_quarantine

SCHEMA = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp, schema_version int"
)
SCHEMA_V1 = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, ts timestamp, schema_version int"
)


def _row(lsn, op, conv, text, tool=None):
    return (lsn, op, conv, 0, "user", text, tool, None, 1)


def test_epoch_guard_scoped_per_writer(spark, tmpdir_path):
    """Two pipelines (fresh checkpoint = new writer id) may both use epoch 0
    without one's commits being mistaken for the other's replays."""
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=2)
    a = ChangeApplier(tbl, writer_id="pipeline-a")
    b = ChangeApplier(tbl, writer_id="pipeline-b")
    s1 = a.apply_batch(spark.createDataFrame([_row(1, "I", "c1", "x")], SCHEMA), 0)
    s2 = b.apply_batch(spark.createDataFrame([_row(2, "I", "c2", "y")], SCHEMA), 0)
    assert s1["status"] == s2["status"] == "committed"
    # same writer, same epoch → replay no-op
    s3 = a.apply_batch(spark.createDataFrame([_row(3, "I", "c3", "z")], SCHEMA), 0)
    assert s3["status"] == "skipped_replay"
    assert tbl.snapshot().count() == 2
    assert tbl.epoch_state("pipeline-a")["epoch_hwm"] == 0
    assert tbl.epoch_state("pipeline-b")["epoch_hwm"] == 0
    assert tbl.epoch_state()["epoch_hwm"] == -1  # default writer untouched


def test_ephemeral_table_schema_evolves_with_main(spark, tmpdir_path):
    """Dual-target routing: a batch adding the v2 'tool' column must land it
    in the EPHEMERAL table too (previously silently dropped)."""
    main = TranscriptTable(spark, f"{tmpdir_path}/main", n_buckets=2)
    eph = TranscriptTable(spark, f"{tmpdir_path}/eph", n_buckets=2)
    app = ChangeApplier(main, route_sql="text = 'EPH'", ephemeral_table=eph)
    app.apply_batch(
        spark.createDataFrame(
            [_row(1, "I", "c1", "EPH", tool="calc"),
             _row(2, "I", "c2", "perm", tool="web")], SCHEMA),
        epoch_id=0,
    )
    got = eph.snapshot().collect()
    assert len(got) == 1 and got[0]["tool"] == "calc"


def test_quarantine_healed_on_replay(spark, tmpdir_path, monkeypatch):
    """Crash between the quarantine write and the manifest commit: the
    redelivered batch rewrites the epoch's invalid rows in place of the
    crashed attempt's, so they are counted once."""
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=2)
    qdir = f"{tmpdir_path}/quarantine"
    app = ChangeApplier(tbl, quarantine_dir=qdir)
    batch = spark.createDataFrame(
        [_row(1, "I", "c1", "good"), _row(2, "I", None, "bad-null-key")], SCHEMA
    )

    def crash(*_a, **_k):
        raise RuntimeError("crash before the commit")

    with monkeypatch.context() as mp:
        mp.setattr(TranscriptTable, "_commit", crash)
        with pytest.raises(RuntimeError, match="before the commit"):
            app.apply_batch(batch, epoch_id=0)
    assert read_quarantine(tbl, qdir).count() == 1
    assert not tbl.is_epoch_committed(0)

    out = app.apply_batch(batch, epoch_id=0)  # redelivery
    assert out["status"] == "committed"
    assert read_quarantine(tbl, qdir).count() == 1
    # second replay: the epoch is committed, nothing is written
    again = app.apply_batch(batch, epoch_id=0)
    assert again["status"] == "skipped_replay"
    assert read_quarantine(tbl, qdir).count() == 1


def test_writers_sharing_output_dirs_keep_their_own_files(spark, tmpdir_path):
    """Two writer ids committing the same epoch ids into one lineage dir and
    one quarantine dir: each (writer, epoch) has its own lineage file and
    quarantine rows, so neither writer overwrites the other's."""
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=2)
    lineage, qdir = f"{tmpdir_path}/lineage", f"{tmpdir_path}/quarantine"
    apps = [ChangeApplier(tbl, lineage_dir=lineage, quarantine_dir=qdir,
                          writer_id=w) for w in ("pipeline-a", "b/2=x")]
    for epoch in (0, 1):
        for i, app in enumerate(apps):
            lsn = 10 * epoch + 2 * i
            batch = spark.createDataFrame(
                [_row(lsn + 1, "I", f"c{i}", "good"),
                 _row(lsn + 2, "I", None, "bad-null-key")], SCHEMA)
            assert app.apply_batch(batch, epoch_id=epoch)["status"] == "committed"

    skipped = sorted(r["lsn"] for r in read_quarantine(tbl, qdir).collect())
    assert skipped == [2, 4, 12, 14]
    assert tbl.manifest()["rows_quarantined_total"] == 4
    lin = spark.read.schema(schemas.LINEAGE_SCHEMA).json(lineage)
    assert sorted(r["lsn_from"] for r in lin.collect()) == [1, 3, 11, 13]
    assert lineage_epochs(lineage) == 4


def test_merge_null_key_fails_fast(spark, tmpdir_path):
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=2)
    bad = spark.createDataFrame([_row(1, "I", None, "x")], SCHEMA)
    with pytest.raises(Exception, match="null conv_id"):
        tbl.merge(bad, epoch_id=0)


def test_vacuum_grace_protects_fresh_orphans(spark, tmpdir_path):
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=2)
    ChangeApplier(tbl).apply_batch(
        spark.createDataFrame([_row(1, "I", "c1", "x")], SCHEMA), 0
    )
    orphan = f"{tmpdir_path}/tbl/data/commit=inflight/part-0.parquet"
    os.makedirs(os.path.dirname(orphan), exist_ok=True)
    with open(orphan, "wb") as f:
        f.write(b"not-yet-committed")
    stats = tbl.vacuum(keep_versions=1)  # default grace: fresh file survives
    assert os.path.exists(orphan) and stats["removed_files"] == 0
    stats = tbl.vacuum(keep_versions=1, orphan_grace_seconds=0)
    assert not os.path.exists(orphan) and stats["removed_files"] == 1


def test_reopen_adopts_persisted_layout(spark, tmpdir_path):
    t1 = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=4)
    ChangeApplier(t1).apply_batch(
        spark.createDataFrame([_row(1, "I", "c1", "x")], SCHEMA), 0
    )
    # reopen with different constructor args: manifest wins
    t2 = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=16,
                         order_col="ts")
    assert t2.n_buckets == 4 and t2.order_col == "lsn"
    ChangeApplier(t2, writer_id="w2").apply_batch(
        spark.createDataFrame([_row(2, "U", "c1", "y")], SCHEMA), 0
    )
    assert [r.text for r in t2.snapshot().collect()] == ["y"]

"""End-to-end merge-apply: full-replay final-state equality vs the pandas
oracle (the reference's golden replay test,
transactions-producer/domain/processor_test.go:130-293, at table level),
idempotent re-application, delete semantics, epoch replay guard."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from go_data_publisher_spark import schemas
from go_data_publisher_spark.lake.table import TranscriptTable, bucket_expr
from go_data_publisher_spark.sources.changelog import generate_changelog
from go_data_publisher_spark.streaming.apply import (
    ChangeApplier,
    read_quarantine,
    replay_batch_range,
)

from conftest import pandas_final_state


def _replay(spark, tmpdir_path, n=4000, n_chunks=4, n_buckets=8):
    log = generate_changelog(spark, n, n_convs=80, seed=23).persist()
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=n_buckets)
    app = ChangeApplier(
        tbl,
        quarantine_dir=f"{tmpdir_path}/quarantine",
        lineage_dir=f"{tmpdir_path}/lineage",
    )
    lo, hi = log.agg(F.min("lsn"), F.max("lsn")).first()
    span = (hi - lo) // n_chunks + 1
    bounds = [(lo + i * span, min(hi, lo + (i + 1) * span - 1)) for i in range(n_chunks)]
    stats = replay_batch_range(app, log, bounds)
    return log, tbl, app, bounds, stats


def _assert_final_state_equals_oracle(log, tbl):
    snap = (
        tbl.snapshot()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    oracle = pandas_final_state(log.toPandas()).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    # per-turn text equality under stable (conv_id, turn_idx, LSN) ordering
    for col in ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"]:
        pd.testing.assert_series_equal(
            snap[col].reset_index(drop=True),
            oracle[col].reset_index(drop=True),
            check_names=False,
            check_dtype=False,
            obj=col,
        )


def test_full_replay_equals_oracle(spark, tmpdir_path):
    log, tbl, app, bounds, stats = _replay(spark, tmpdir_path)
    assert all(s["status"] == "committed" for s in stats)
    _assert_final_state_equals_oracle(log, tbl)


def test_reapply_is_noop(spark, tmpdir_path):
    log, tbl, app, bounds, stats = _replay(spark, tmpdir_path)
    v_before = tbl.manifest()["version"]
    stats2 = replay_batch_range(app, log, bounds)
    assert all(s["status"] == "skipped_replay" for s in stats2)
    assert tbl.manifest()["version"] == v_before
    _assert_final_state_equals_oracle(log, tbl)


def test_single_batch_replay_with_new_epoch_is_still_idempotent(spark, tmpdir_path):
    """Replaying the same DATA under a NEW epoch id must also converge:
    last-wins by LSN makes re-upserts overwrite with identical values."""
    log, tbl, app, bounds, stats = _replay(spark, tmpdir_path)
    before = tbl.snapshot().orderBy("conv_id", "turn_idx").collect()
    batch = log.where(F.col("lsn").between(*bounds[-1]))
    app.apply_batch(batch, epoch_id=999)
    after = tbl.snapshot().orderBy("conv_id", "turn_idx").collect()
    assert before == after


def test_deletes_remove_rows(spark, tmpdir_path):
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=4)
    app = ChangeApplier(tbl)
    rows = [
        (1, "I", "c1", 0, "user", "hello", None, None, 1),
        (2, "I", "c1", 1, "assistant", "hi", None, None, 1),
        (3, "D", "c1", 0, None, None, None, None, 1),
    ]
    batch = spark.createDataFrame(
        rows,
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp, schema_version int",
    )
    app.apply_batch(batch, epoch_id=0)
    got = tbl.snapshot().collect()
    assert len(got) == 1 and got[0]["turn_idx"] == 1

    late = spark.createDataFrame(
        [(9, "U", "c1", 1, "assistant", "hi2", None, None, 1)],
        batch.schema,
    )
    app.apply_batch(late, epoch_id=1)
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tbl.snapshot().collect()}
    assert got == {("c1", 1): "hi2"}


def test_lsn_guard_ignores_stale_cross_batch_update(spark, tmpdir_path):
    """The MERGE is LSN-guarded (D5 generalized): a change whose lsn is below
    the row already in the table is ignored — so replaying old data under a
    new epoch id converges instead of regressing."""
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=4)
    app = ChangeApplier(tbl)
    schema = (
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp, schema_version int"
    )
    app.apply_batch(
        spark.createDataFrame([(9, "U", "c1", 1, "assistant", "new", None, None, 1)], schema),
        epoch_id=0,
    )
    app.apply_batch(
        spark.createDataFrame([(5, "U", "c1", 1, "assistant", "old", None, None, 1),
                               (4, "D", "c1", 1, None, None, None, None, 1)], schema),
        epoch_id=1,
    )
    got = tbl.snapshot().collect()
    assert len(got) == 1 and got[0]["text"] == "new" and got[0]["lsn"] == 9


def test_quarantine_and_lineage(spark, tmpdir_path):
    log, tbl, app, bounds, stats = _replay(spark, tmpdir_path)
    q = read_quarantine(tbl, f"{tmpdir_path}/quarantine")
    assert q.count() == sum(s["rows_quarantined"] for s in stats)
    lin = spark.read.schema(schemas.LINEAGE_SCHEMA).json(f"{tmpdir_path}/lineage")
    assert lin.where("rows_upserted < 0").count() == 0
    # lineage epochs cover every committed batch
    epochs = {r["epoch_id"] for r in lin.select("epoch_id").distinct().collect()}
    assert epochs == {0, 1, 2, 3}
    # lsn ranges per epoch lie within the chunk bounds
    agg = lin.groupBy("epoch_id").agg(F.min("lsn_from").alias("lo"), F.max("lsn_to").alias("hi")).collect()
    for r in agg:
        lo, hi = bounds[r["epoch_id"]]
        assert lo <= r["lo"] <= r["hi"] <= hi


def test_bucket_pruning_only_touched_buckets_rewritten(spark, tmpdir_path):
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=64)
    app = ChangeApplier(tbl)
    big = generate_changelog(spark, 2000, n_convs=100, seed=31)
    app.apply_batch(big, epoch_id=0)
    files_before = {f["path"] for f in tbl.manifest()["files"]}

    one = spark.createDataFrame(
        [(10_000_000, "U", "conv-000050", 1, "user", "patched", None, None, 2)],
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp, schema_version int",
    )
    stats = app.apply_batch(one, epoch_id=1)
    assert len(stats["touched_buckets"]) == 1  # single conv → single bucket
    files_after = {f["path"] for f in tbl.manifest()["files"]}
    # all untouched bucket files survive verbatim
    assert len(files_before - files_after) <= 1
    assert len(files_after - files_before) <= 1


SCHEMA9 = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp, schema_version int"
)


def test_tombstone_survives_stale_cross_batch_update(spark, tmpdir_path):
    """Merge-on-read keeps delete tombstones until compaction, so a replayed
    OLDER update arriving in a later batch cannot resurrect a deleted row
    (the round-1 copy-on-write caveat, now closed)."""
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=4)
    app = ChangeApplier(tbl)
    app.apply_batch(
        spark.createDataFrame([(5, "D", "c1", 0, None, None, None, None, 1)], SCHEMA9),
        epoch_id=0,
    )
    app.apply_batch(
        spark.createDataFrame([(3, "U", "c1", 0, "user", "stale", None, None, 1)], SCHEMA9),
        epoch_id=1,
    )
    assert tbl.snapshot().count() == 0


def test_retry_recovers_from_transient_sink_failures(spark, tmpdir_path):
    """S7 sink retry (reference: bounded backoff on ES 429/5xx,
    transactions-consumer/main.go:186-201): N transient write failures are
    retried with backoff; the batch commits exactly once."""
    from go_data_publisher_spark.streaming.apply import RetryPolicy

    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=4)
    real_merge = tbl.merge
    calls = {"n": 0}

    def flaky_merge(*a, **kw):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise OSError("simulated transient IO failure")
        return real_merge(*a, **kw)

    tbl.merge = flaky_merge
    app = ChangeApplier(tbl, retry=RetryPolicy(max_attempts=5, base_delay=0.01))
    stats = app.apply_batch(
        spark.createDataFrame([(1, "I", "c1", 0, "user", "hi", None, None, 1)], SCHEMA9),
        epoch_id=0,
    )
    assert stats["status"] == "committed" and calls["n"] == 3
    assert tbl.snapshot().count() == 1
    assert tbl.is_epoch_committed(0)


def test_retry_does_not_mask_semantic_failures(spark, tmpdir_path):
    """Non-retriable (schema-conflict-shaped) errors surface immediately."""
    import pytest

    from go_data_publisher_spark.streaming.apply import RetryPolicy

    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=4)
    calls = {"n": 0}

    def bad_merge(*a, **kw):
        calls["n"] += 1
        raise ValueError("incompatible schema change")

    tbl.merge = bad_merge
    app = ChangeApplier(tbl, retry=RetryPolicy(max_attempts=5, base_delay=0.01))
    with pytest.raises(ValueError):
        app.apply_batch(
            spark.createDataFrame([(1, "I", "c1", 0, "user", "hi", None, None, 1)], SCHEMA9),
            epoch_id=0,
        )
    assert calls["n"] == 1  # no retries on semantic failure


def test_strict_mismatch_policy_aborts_batch(spark, tmpdir_path):
    """V4 strict mode (reference: status-service/sync/tick_processor.go:
    238-249 hard-error path): invalid rows abort the batch before anything
    is applied."""
    import pytest

    from go_data_publisher_spark.streaming.apply import MismatchError

    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=4)
    app = ChangeApplier(tbl, on_invalid="error")
    batch = spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "ok", None, None, 1),
         (2, "I", None, 0, "user", "bad key", None, None, 1)],
        SCHEMA9,
    )
    with pytest.raises(MismatchError):
        app.apply_batch(batch, epoch_id=0)
    assert not tbl.is_epoch_committed(0)
    assert tbl.snapshot().count() == 0
    # the same batch under the continue policy applies the valid row and
    # records the invalid one in the persisted skipped set
    app2 = ChangeApplier(tbl, quarantine_dir=f"{tmpdir_path}/q")
    stats = app2.apply_batch(batch, epoch_id=0)
    assert stats["rows_quarantined"] == 1 and tbl.snapshot().count() == 1
    # the quarantine dir is read with a declared schema: building the read
    # launches no schema-inference job
    from conftest import jobs_launched

    with jobs_launched(spark.sparkContext) as jobs:
        skipped_df = read_quarantine(tbl, f"{tmpdir_path}/q")
    assert jobs == []
    skipped = skipped_df.collect()
    assert len(skipped) == 1 and skipped[0]["lsn"] == 2 and skipped[0]["__epoch_id"] == 0


def test_skipped_keys_empty_on_clean_run(spark, tmpdir_path):
    # a clean run leaves the quarantine dir empty: the skipped-key set read
    # from it must be an empty frame, not a schema-inference error
    from go_data_publisher_spark.lake.table import TranscriptTable
    from go_data_publisher_spark.sources.changelog import generate_changelog
    from go_data_publisher_spark.streaming.apply import ChangeApplier

    root = f"{tmpdir_path}/clean"
    app = ChangeApplier(TranscriptTable(spark, root, n_buckets=4),
                        quarantine_dir=f"{root}/_quarantine")
    log = generate_changelog(spark, 300, n_convs=10, seed=6) \
        .where("conv_id is not null and turn_idx is not null "
               "and op in ('I', 'U', 'D')")
    app.apply_batch(log, epoch_id=0)
    assert read_quarantine(app.table, f"{root}/_quarantine").count() == 0


def test_degrade_to_serial_on_persistent_failure(spark, tmpdir_path):
    """Reference's adaptive worker fallback (status-service/sync/
    tick_processor.go:163): after the retry budget is exhausted on a
    retriable error, the applier re-attempts the merge at halved write
    parallelism down to serial; a resource-pressure failure that clears
    when the write narrows completes with exactly-once state."""
    from go_data_publisher_spark.streaming.apply import RetryPolicy

    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=4)
    real_merge = tbl.merge
    calls = {"n": 0, "widths": []}

    def pressured_merge(*a, **kw):
        calls["n"] += 1
        calls["widths"].append(kw.get("write_parallelism"))
        if kw.get("write_parallelism") is None or kw["write_parallelism"] > 2:
            raise OSError("simulated persistent resource-pressure failure")
        return real_merge(*a, **kw)

    tbl.merge = pressured_merge
    app = ChangeApplier(tbl, retry=RetryPolicy(max_attempts=2, base_delay=0.01))
    stats = app.apply_batch(
        spark.createDataFrame(
            [(1, "I", "c1", 0, "user", "hi", None, None, 1),
             (2, "I", "c2", 0, "user", "yo", None, None, 1)], SCHEMA9),
        epoch_id=0,
    )
    assert stats["status"] == "committed"
    assert stats["degraded_write_parallelism"] == 2
    # 2 full-width retry attempts, then the first ladder step succeeded
    assert calls["widths"] == [None, None, 2]
    assert tbl.snapshot().count() == 2
    # exactly-once: the committed epoch replays as a no-op
    tbl.merge = real_merge
    assert app.apply_batch(
        spark.createDataFrame([(1, "I", "c1", 0, "user", "hi", None, None, 1)],
                              SCHEMA9), epoch_id=0)["status"] == "skipped_replay"


def test_degrade_ladder_starts_below_the_failed_width(spark, tmpdir_path):
    """The ladder's first rung is half the width of the write that failed
    (``write_tasks()``, one task per core), not half the bucket count —
    with 32 buckets under local[8] that is 4, never the 16 or 8 that are
    at least as wide as the failed write."""
    from go_data_publisher_spark.streaming.apply import RetryPolicy

    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=32)
    real_merge = tbl.merge
    widths = []

    def pressured_merge(*a, **kw):
        widths.append(kw.get("write_parallelism"))
        if kw.get("write_parallelism") is None or kw["write_parallelism"] > 4:
            raise OSError("simulated resource-pressure failure above 4 tasks")
        return real_merge(*a, **kw)

    tbl.merge = pressured_merge
    app = ChangeApplier(tbl, retry=RetryPolicy(max_attempts=2, base_delay=0.01))
    stats = app.apply_batch(
        spark.createDataFrame([(1, "I", "c1", 0, "user", "hi", None, None, 1)],
                              SCHEMA9), epoch_id=0)
    assert tbl.write_tasks() == 8
    assert widths == [None, None, 4]
    assert stats["degraded_write_parallelism"] == 4
    assert tbl.snapshot().count() == 1


def test_degrade_ladder_stays_terminal_on_semantic_failure(spark, tmpdir_path):
    """A non-retriable failure mid-ladder surfaces immediately — degradation
    must not turn a schema conflict into 5 slower schema conflicts."""
    import pytest

    from go_data_publisher_spark.streaming.apply import RetryPolicy

    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=4)
    calls = {"n": 0}

    def failing_merge(*a, **kw):
        calls["n"] += 1
        if kw.get("write_parallelism") is None:
            raise OSError("transient-shaped")
        raise ValueError("semantic failure exposed at degraded width")

    tbl.merge = failing_merge
    app = ChangeApplier(tbl, retry=RetryPolicy(max_attempts=2, base_delay=0.01))
    with pytest.raises(ValueError):
        app.apply_batch(
            spark.createDataFrame([(1, "I", "c1", 0, "user", "x", None, None, 1)],
                                  SCHEMA9), epoch_id=0)
    assert calls["n"] == 3  # 2 full-width attempts + 1 ladder step, then stop


def test_retriability_is_a_whitelist(spark, tmpdir_path):
    """ADVICE r2: permanent failures that happen to be RuntimeErrors (the
    epoch-gap guard) must not burn the backoff budget; only the whitelisted
    transient shapes retry."""
    from go_data_publisher_spark.lake.table import ConcurrentCommitError
    from go_data_publisher_spark.streaming.apply import MismatchError, RetryPolicy

    p = RetryPolicy()
    assert p.is_retriable(ConcurrentCommitError("lost race"))
    assert p.is_retriable(OSError("io"))
    assert p.is_retriable(ConnectionError("net"))
    assert not p.is_retriable(RuntimeError("epoch id space has a permanent gap"))
    assert not p.is_retriable(ValueError("incompatible schema change"))
    assert not p.is_retriable(MismatchError("strict"))


def test_retriability_excludes_permanent_jvm_shapes(spark):
    """ADVICE r3: known-permanent JVM semantic failures surfaced as
    CapturedException subclasses (bad argument, cast overflow, merge
    cardinality) must NOT retry — they re-fail identically at every
    backoff attempt and ladder width — while a real captured execution
    failure stays retriable."""
    from pyspark.errors import (
        ArithmeticException,
        IllegalArgumentException,
        NumberFormatException,
    )
    from pyspark.errors.exceptions.captured import CapturedException

    from go_data_publisher_spark.streaming.apply import RetryPolicy

    p = RetryPolicy()
    assert not p.is_retriable(IllegalArgumentException("bad arg"))
    assert not p.is_retriable(NumberFormatException("not a number"))
    assert not p.is_retriable(ArithmeticException("overflow"))

    # a captured failure carrying a permanent error condition is terminal...
    class FakeCaptured(CapturedException):
        def __init__(self, cond):
            self._cond = cond

        def getCondition(self):
            return self._cond

        def __str__(self):
            return self._cond

    assert not p.is_retriable(FakeCaptured("MERGE_CARDINALITY_VIOLATION"))
    assert not p.is_retriable(FakeCaptured("CAST_OVERFLOW"))
    # ...but an IO/execution-shaped captured failure still retries
    assert p.is_retriable(FakeCaptured("SHUFFLE_FETCH_FAILED"))
    assert p.is_retriable(FakeCaptured(""))


def test_merge_serial_write_parallelism_is_correct(spark, tmpdir_path):
    """The degrade ladder's narrow widths — 1 (its floor) and 3, which does
    not divide 16 buckets, so each of the 3 tasks holds 5 or 6 buckets —
    commit the same state as the full-width merge, with one file per
    touched bucket."""
    df = spark.createDataFrame(
        [(i, "I", f"c{i % 100}", i // 100, "user", f"t{i}", None, None, 1)
         for i in range(200)], SCHEMA9)

    def layout(tbl):
        per_bucket = {}
        for f in tbl.manifest()["files"]:
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
        return per_bucket

    full = TranscriptTable(spark, f"{tmpdir_path}/full", n_buckets=16)
    out = full.merge(df, epoch_id=0)
    assert full.write_tasks() == 8 and out["status"] == "committed"
    want = sorted(full.snapshot().collect())
    assert len(want) == 200
    touched = sorted(layout(full))
    assert len(touched) == 16
    for width in (1, 3):
        tbl = TranscriptTable(spark, f"{tmpdir_path}/w{width}", n_buckets=16)
        out = tbl.merge(df, epoch_id=0, write_parallelism=width)
        assert out["status"] == "committed"
        assert sorted(tbl.snapshot().collect()) == want, width
        per_bucket = layout(tbl)
        assert sorted(per_bucket) == touched, width
        assert all(n == 1 for n in per_bucket.values()), (width, per_bucket)


@pytest.mark.parametrize("max_records_per_file", [None, 50])
def test_commit_stats_match_an_aggregate_of_the_commit(spark, tmpdir_path,
                                                       monkeypatch,
                                                       max_records_per_file):
    """At 16 buckets, where a merge writes many files, each bucket's
    commit stats (read from the written files' footers) equal a Spark
    aggregate of the commit's change rows, and the manifest's running totals
    and cursor agree.  ``spark.sql.files.maxRecordsPerFile`` splits buckets
    into several files, whose stats merge() sums.  The merge reads the
    manifest exactly once."""
    log = generate_changelog(spark, 2000, n_convs=80, seed=53,
                             invalid_rate=0.0).persist()
    assert log.where("op = 'D'").count() > 0
    assert log.groupBy(*log.columns).count().where("count > 1").count() > 0
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=16)

    calls = []
    real_manifest = TranscriptTable.manifest

    def counted(self, version=None):
        calls.append(version)
        return real_manifest(self, version)

    monkeypatch.setattr(TranscriptTable, "manifest", counted)
    conf = "spark.sql.files.maxRecordsPerFile"
    before = spark.conf.get(conf)
    if max_records_per_file is not None:
        spark.conf.set(conf, str(max_records_per_file))
    try:
        out = tbl.merge(log, epoch_id=0)
    finally:
        spark.conf.set(conf, before)
    assert len(calls) == 1
    monkeypatch.undo()

    assert out["status"] == "committed"
    touched = out["touched_buckets"]
    assert len(touched) == 16
    if max_records_per_file is None:
        assert out["files_written"] == len(touched)
    else:
        assert out["files_written"] > len(touched)

    m = tbl.manifest()
    v = m["version"]
    want = {
        r["b"]: r.asDict()
        for r in tbl.changes(v - 1, v)
        .groupBy(bucket_expr("conv_id", 16).alias("b"))
        .agg(F.count(F.when(F.col("op") != "D", 1)).alias("rows_upserted"),
             F.count(F.when(F.col("op") == "D", 1)).alias("rows_deleted"),
             F.min("lsn").alias("lsn_from"), F.max("lsn").alias("lsn_to"))
        .collect()
    }
    assert sorted(want) == touched
    for st in out["per_bucket"]:
        w = want[st["__bucket"]]
        assert {k: st[k] for k in ("rows_upserted", "rows_deleted",
                                   "lsn_from", "lsn_to")} \
            == {k: w[k] for k in ("rows_upserted", "rows_deleted",
                                  "lsn_from", "lsn_to")}, st["__bucket"]
    assert m["rows_upserted_total"] == sum(w["rows_upserted"] for w in want.values())
    assert m["rows_deleted_total"] == sum(w["rows_deleted"] for w in want.values())
    assert m["cursor_lsn"] == max(w["lsn_to"] for w in want.values())
    log.unpersist()


def test_footer_stats_read_null_counts_and_refuse_a_file_without_them(tmpdir_path):
    """The delete split comes from the marker column's null counts; a file
    whose footer lacks them is refused, and a row group without order-col
    min/max (an all-null chunk) leaves the bounds unknown."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_data_publisher_spark.lake.table import _footer_stats

    t = pa.table({"lsn": pa.array([3, 9, 5], pa.int64()),
                  "__del": pa.array([None, 1, None], pa.int32())})
    pq.write_table(t, f"{tmpdir_path}/a.parquet", row_group_size=2)
    assert _footer_stats(f"{tmpdir_path}/a.parquet", "lsn", "__del") == (3, 3, 9, 1)
    pq.write_table(t.set_column(0, "lsn", pa.array([None] * 3, pa.int64())),
                   f"{tmpdir_path}/b.parquet")
    assert _footer_stats(f"{tmpdir_path}/b.parquet", "lsn", "__del") == (3, None, None, 1)
    pq.write_table(t, f"{tmpdir_path}/c.parquet", write_statistics=False)
    with pytest.raises(ValueError, match="no null count for __del"):
        _footer_stats(f"{tmpdir_path}/c.parquet", "lsn", "__del")


def test_crash_at_each_apply_boundary_then_redeliver(spark, tmpdir_path, monkeypatch):
    """A crash after the delta write, after the quarantine write, after the
    lineage write and after the commit, each followed by redelivery of the
    epoch: the table equals the last-wins oracle, and the quarantined rows
    on disk, the manifest's ``rows_quarantined_total`` and /report's
    ``rows_skipped_total`` all equal the invalid input rows — one batch
    carries its null-key row twice.  Lineage files equal committed epochs."""
    import glob

    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from go_data_publisher_spark.operators.routing import validity_sql
    from go_data_publisher_spark.serving import build_report, lineage_epochs

    class Crash(RuntimeError):
        pass

    log = generate_changelog(spark, 1200, n_convs=30, seed=31,
                             invalid_rate=0.03).persist()
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=4)
    qdir, lineage = f"{tbl.root}/_quarantine", f"{tmpdir_path}/lineage"
    app = ChangeApplier(tbl, quarantine_dir=qdir, lineage_dir=lineage,
                        compact_delta_files=3)
    invalid = f"NOT coalesce({validity_sql()}, false)"
    bounds = [(1, 320), (321, 640), (641, 960), (961, 10_000)]
    batches = [log.where(f"lsn BETWEEN {lo} AND {hi}") for lo, hi in bounds]
    # the null-key row of one batch is delivered twice within it
    batches[1] = batches[1].unionByName(
        batches[1].where("conv_id IS NULL").limit(1))

    def crash_after(real, when=lambda *a, **k: True):
        def wrapped(*a, **k):
            out = real(*a, **k)
            if when(*a, **k):
                raise Crash(real.__name__)
            return out
        return wrapped

    points = [
        (TranscriptTable, "_write_buckets", {}),
        (DataFrameWriter, "parquet",
         {"when": lambda _w, path, *a, **k: path.startswith(qdir)}),
        (ChangeApplier, "_write_lineage", {}),
        (TranscriptTable, "_commit", {}),
    ]
    n_invalid = 0
    for epoch, (batch, (cls, name, kw)) in enumerate(zip(batches, points)):
        n_bad = batch.where(invalid).count()
        assert n_bad > 0
        n_invalid += n_bad
        with monkeypatch.context() as mp:
            mp.setattr(cls, name, crash_after(getattr(cls, name), **kw))
            with pytest.raises(Crash, match=name):
                app.apply_batch(batch, epoch_id=epoch)
        out = app.apply_batch(batch, epoch_id=epoch)  # redelivery
        want = "skipped_replay" if name == "_commit" else "committed"
        assert out["status"] == want, (name, out)
        m = tbl.manifest()
        assert m["epoch_hwm"] == epoch
        n_q = read_quarantine(tbl, qdir).count()
        assert n_q == m["rows_quarantined_total"] == n_invalid, name
        assert build_report(spark, tbl)["rows_skipped_total"] == n_q, name
        assert len(glob.glob(f"{lineage}/*.json")) == lineage_epochs(tbl, lineage) \
            == epoch + 1, name

    # a further redelivery of a committed epoch changes nothing
    assert app.apply_batch(batches[1], epoch_id=1)["status"] == "skipped_replay"
    assert read_quarantine(tbl, qdir).count() == n_invalid
    assert tbl.manifest()["rows_quarantined_total"] == n_invalid
    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    _assert_final_state_equals_oracle(full, tbl)

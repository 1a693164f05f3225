"""CDC-out consumer loop: ChangefeedTailer composes the engine's own change
feed the way a downstream reference consumer tails Kafka — the consumed
source version commits with the target's data, replay-safe across crashes,
loud retention error when compaction outruns it."""

import json
import os

import pytest
from pyspark.sql import functions as F

from go_data_publisher_spark.lake.table import TranscriptTable
from go_data_publisher_spark.streaming.apply import ChangeApplier
from go_data_publisher_spark.streaming.tailer import (
    ChangefeedRetentionError,
    ChangefeedTailer,
)

SCHEMA = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp, schema_version int"
)


def _apply(spark, app, rows, epoch):
    app.apply_batch(spark.createDataFrame(rows, SCHEMA), epoch_id=epoch)


def _snap(tbl):
    return sorted(map(tuple, tbl.snapshot().select(
        "conv_id", "turn_idx", "lsn", "text").collect()))


def _mk(spark, tmpdir_path, name, n_buckets=2):
    return TranscriptTable(spark, f"{tmpdir_path}/{name}", n_buckets=n_buckets)


def _crash_at_commit(monkeypatch, tbl, when):
    """Make ``tbl``'s next manifest commit raise, ``before`` or ``after``
    it is written."""
    real = tbl._commit

    def commit(*a, **k):
        monkeypatch.setattr(tbl, "_commit", real)
        if when == "before":
            raise RuntimeError("injected crash before the target commit")
        real(*a, **k)
        raise RuntimeError("injected crash after the target commit")

    monkeypatch.setattr(tbl, "_commit", commit)


def _recorded(tailer):
    return tailer.target.epoch_state(tailer.writer_id)


def test_tailer_reaches_source_state(spark, tmpdir_path):
    src = _mk(spark, tmpdir_path, "src")
    app = ChangeApplier(src)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1),
                        (2, "I", "c2", 0, "user", "b", None, None, 1)], 0)
    _apply(spark, app, [(3, "U", "c1", 0, "user", "a2", None, None, 1),
                        (4, "D", "c2", 0, "user", None, None, None, 1)], 1)

    tgt = _mk(spark, tmpdir_path, "tgt")
    tailer = ChangefeedTailer(src, tgt, f"{tmpdir_path}/cursor.json")
    out = tailer.run_until_caught_up()
    assert out["caught_up"] and out["ticks"][-1]["status"] == "committed"
    assert tailer.tick()["status"] == "idle"
    # tombstone flowed through the feed: c2 deleted in the copy too
    assert _snap(tgt) == _snap(src) == [("c1", 0, 3, "a2")]

    # incremental: new source commits flow without re-reading old windows
    _apply(spark, app, [(5, "I", "c3", 1, "user", "c", None, None, 1)], 2)
    stats = tailer.tick()
    assert stats["status"] == "committed"
    assert _snap(tgt) == _snap(src)


def test_tailer_crash_before_and_after_the_target_commit(spark, tmpdir_path,
                                                        monkeypatch):
    """A crash before the target commit leaves the tailer's epoch
    uncommitted: the retry applies the window whole under that epoch, even
    though NEW source commits grew it during the outage.  A crash after the
    commit finds that window consumed, and the retry takes only the growth
    under the next epoch.  Either way nothing is skipped or applied twice."""
    for when in ("before", "after"):
        root = f"{tmpdir_path}/{when}"
        src = _mk(spark, root, "src")
        app = ChangeApplier(src)
        _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1)], 0)
        tgt = _mk(spark, root, "tgt")
        tailer = ChangefeedTailer(src, tgt, f"{root}/cursor.json")

        _crash_at_commit(monkeypatch, tgt, when)
        with pytest.raises(RuntimeError, match=f"crash {when}"):
            tailer.tick()
        committed = when == "after"
        assert tgt.is_epoch_committed(0, "cdc-out") == committed
        assert (_snap(tgt) == _snap(src)) == committed

        # outage window: more source commits land
        _apply(spark, app, [(2, "U", "c1", 0, "user", "a2", None, None, 1),
                            (3, "I", "c2", 1, "user", "b", None, None, 1)], 1)

        out = tailer.run_until_caught_up()
        assert out["caught_up"]
        assert [t["status"] for t in out["ticks"]] == ["committed"], when
        assert _snap(tgt) == _snap(src)
        assert len(_snap(tgt)) == 2
        st = _recorded(tailer)
        assert st["source_version"] == src.manifest()["version"]
        assert (st["epoch_hwm"], st["epochs_recent"]) == (int(committed), [])
        assert tailer.tick()["status"] == "idle"


def test_tailer_mid_tail_compaction_raises_retention_error(spark, tmpdir_path):
    """A tailer that fell behind a source compaction must get the loud
    retention error (the deltas it needs are folded away), not a silently
    incomplete copy."""
    src = _mk(spark, tmpdir_path, "src")
    app = ChangeApplier(src)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1)], 0)

    tgt = _mk(spark, tmpdir_path, "tgt")
    tailer = ChangefeedTailer(src, tgt, f"{tmpdir_path}/cursor.json")
    tailer.run_until_caught_up()

    # tailer sleeps; source commits more, then compacts those deltas away
    _apply(spark, app, [(2, "U", "c1", 0, "user", "a2", None, None, 1)], 1)
    src.compact()
    with pytest.raises(ChangefeedRetentionError, match="re-seed"):
        tailer.tick()


def test_tailer_caught_up_consumer_survives_compaction(spark, tmpdir_path):
    """A compaction that folds only windows the tailer ALREADY consumed is
    harmless: the next window is metadata-only (folded_hwm semantics).  It
    commits nothing, so each tick probes it again."""
    src = _mk(spark, tmpdir_path, "src")
    app = ChangeApplier(src)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1)], 0)
    _apply(spark, app, [(2, "U", "c1", 0, "user", "a2", None, None, 1)], 1)

    tgt = _mk(spark, tmpdir_path, "tgt")
    tailer = ChangefeedTailer(src, tgt, f"{tmpdir_path}/cursor.json")
    tailer.run_until_caught_up()

    src.compact()  # folds nothing the tailer still needs
    stats = tailer.tick()
    assert stats["status"] == "empty_window"
    assert tailer.tick()["status"] == "empty_window"

    # and the feed keeps flowing after the compaction
    _apply(spark, app, [(3, "I", "c2", 1, "user", "b", None, None, 1)], 2)
    assert tailer.tick()["status"] == "committed"
    assert _snap(tgt) == _snap(src)


def test_tailer_replays_to_oracle_over_generated_log(spark, tmpdir_path):
    """End-to-end over the synthetic changelog: source replay → tailed copy
    equals the source snapshot (the reference consumer's verify pass)."""
    from go_data_publisher_spark.sources.changelog import generate_changelog
    from go_data_publisher_spark.streaming.apply import replay_batch_range

    log = generate_changelog(spark, 1200, n_convs=20, seed=43)
    src = _mk(spark, tmpdir_path, "src", n_buckets=4)
    app = ChangeApplier(src)
    lo, hi = log.agg(F.min("lsn"), F.max("lsn")).first()
    mid = (lo + hi) // 2
    replay_batch_range(app, log, [(lo, mid), (mid + 1, hi)])

    tgt = _mk(spark, tmpdir_path, "tgt", n_buckets=4)
    tailer = ChangefeedTailer(src, tgt, f"{tmpdir_path}/cursor.json")
    tailer.run_until_caught_up()
    assert _snap(tgt) == _snap(src)
    assert len(_snap(tgt)) > 0


def test_tailer_retry_after_vacuum_converges(spark, tmpdir_path, monkeypatch):
    """A tick crashes before its target commit; during the outage the source
    commits again and vacuum expires every manifest but the newest — the
    one the crashed window ended at and the one the tailer last consumed
    included.  The retry bounds a fresh window at the current version, so
    it converges instead of needing the expired manifests."""
    src = _mk(spark, tmpdir_path, "src")
    app = ChangeApplier(src)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1)], 0)

    tgt = _mk(spark, tmpdir_path, "tgt")
    tailer = ChangefeedTailer(src, tgt, f"{tmpdir_path}/cursor.json")
    tailer.run_until_caught_up()
    caught_up_v = _recorded(tailer)["source_version"]

    _apply(spark, app, [(2, "U", "c1", 0, "user", "a2", None, None, 1)], 1)
    _crash_at_commit(monkeypatch, tgt, "before")
    with pytest.raises(RuntimeError, match="crash before"):
        tailer.tick()
    _apply(spark, app, [(3, "I", "c2", 1, "user", "b", None, None, 1)], 2)
    src.vacuum(keep_versions=1, orphan_grace_seconds=0)
    assert [h["version"] for h in src.history()] == [src.manifest()["version"]]
    assert caught_up_v < src.manifest()["version"]

    out = tailer.run_until_caught_up()
    assert out["caught_up"]
    assert [t["status"] for t in out["ticks"]] == ["committed"]
    assert _snap(tgt) == _snap(src)
    assert len(_snap(tgt)) == 2


@pytest.mark.parametrize("maintain", ["compact", "vacuum", "compact+vacuum"])
def test_metadata_only_window_is_reprobed_until_data_lands(
        spark, tmpdir_path, maintain):
    """A caught-up tailer whose source then only compacts and/or vacuums
    sees a window without change rows: no false retention error, the drain
    reports caught up, no epoch is spent, and the next data commit is
    consumed exactly once.  compact(), evolve_schema() and vacuum() on the
    TARGET keep the recorded source version: _publish and vacuum's squash
    carry the writers map."""
    import pyspark.sql.types as T

    src = _mk(spark, tmpdir_path, "src")
    app = ChangeApplier(src)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1)], 0)
    _apply(spark, app, [(2, "U", "c1", 0, "user", "a2", None, None, 1)], 1)
    tgt = _mk(spark, tmpdir_path, "tgt")
    tailer = ChangefeedTailer(src, tgt, f"{tmpdir_path}/cursor.json")
    assert tailer.run_until_caught_up()["caught_up"]
    before = _recorded(tailer)

    if "compact" in maintain:
        src.compact()
    if "vacuum" in maintain:
        src.vacuum(keep_versions=1, orphan_grace_seconds=0)
    # vacuum alone commits no version: the tailer stays idle
    want = "idle" if maintain == "vacuum" else "empty_window"
    for _ in range(2):
        assert tailer.tick()["status"] == want
    out = tailer.run_until_caught_up()
    assert out["caught_up"] and len(out["ticks"]) == (want != "idle")
    assert _recorded(tailer) == before  # no empty epoch was committed

    # maintenance on the target keeps the recorded version
    tgt.compact()
    tgt.evolve_schema(T.StructType(
        list(tgt.schema.fields) + [T.StructField("note", T.StringType())]))
    tgt.vacuum(keep_versions=1, orphan_grace_seconds=0)
    assert _recorded(tailer) == before

    _apply(spark, app, [(3, "I", "c2", 1, "user", "b", None, None, 1)], 2)
    out = tailer.run_until_caught_up()
    assert [t["status"] for t in out["ticks"]] == ["committed"]
    st = _recorded(tailer)
    assert st["epoch_hwm"] == before["epoch_hwm"] + 1
    assert st["source_version"] == src.manifest()["version"]
    assert _snap(tgt) == _snap(src)
    # one upsert for c1 (the first window's last-wins) and one for c2
    assert tgt.manifest()["rows_upserted_total"] == 2


def test_tailer_flows_source_schema_evolution(spark, tmpdir_path):
    """Columns added to the source by schema evolution must reach the
    CDC-out copy — merge projects onto the TARGET schema, so the tailer
    evolves the target from the feed before merging."""
    src = _mk(spark, tmpdir_path, "src")
    app = ChangeApplier(src)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1)], 0)

    tgt = _mk(spark, tmpdir_path, "tgt")
    tailer = ChangefeedTailer(src, tgt, f"{tmpdir_path}/cursor.json")
    assert tailer.run_until_caught_up()["caught_up"]

    # source evolves: v2 events carry an extra column
    v2 = spark.createDataFrame(
        [(2, "U", "c1", 0, "user", "a2", None, None, 2, "extra-val")],
        SCHEMA + ", extra string")
    app.apply_batch(v2, epoch_id=1)
    assert "extra" in [f.name for f in src.schema.fields]

    assert tailer.tick()["status"] == "committed"
    assert "extra" in [f.name for f in tgt.schema.fields]
    row = tgt.snapshot().where("conv_id = 'c1'").first()
    assert row["extra"] == "extra-val" and row["text"] == "a2"


def test_tailer_bounded_drain_reports_not_caught_up(spark, tmpdir_path):
    """A drain bounded by max_ticks must say so — success-shaped output
    while arbitrarily stale hides an outage."""
    src = _mk(spark, tmpdir_path, "src")
    app = ChangeApplier(src)
    for e in range(3):
        _apply(spark, app,
               [(e + 1, "I", f"c{e}", 0, "user", "x", None, None, 1)], e)
        # one commit per epoch → 3 unconsumed windows? No: the tailer
        # consumes (cursor, CURRENT] in ONE window — so bound to 0 ticks
    tgt = _mk(spark, tmpdir_path, "tgt")
    tailer = ChangefeedTailer(src, tgt, f"{tmpdir_path}/cursor.json")
    out = tailer.run_until_caught_up(max_ticks=0)
    assert out == {"ticks": [], "caught_up": False}
    out = tailer.run_until_caught_up()
    assert out["caught_up"] and len(out["ticks"]) == 1
    assert _snap(tgt) == _snap(src)


def test_reseed_recovers_from_retention_loss(spark, tmpdir_path):
    """After falling behind compaction, reseed() makes the target equal the
    source snapshot — including deletes the tailer missed — and the feed
    flows again from there."""
    src = _mk(spark, tmpdir_path, "src")
    app = ChangeApplier(src)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1),
                        (2, "I", "c2", 0, "user", "b", None, None, 1)], 0)

    tgt = _mk(spark, tmpdir_path, "tgt")
    tailer = ChangefeedTailer(src, tgt, f"{tmpdir_path}/cursor.json")
    assert tailer.run_until_caught_up()["caught_up"]

    # outage: an update AND a delete land, then compaction folds them away
    _apply(spark, app, [(3, "U", "c1", 0, "user", "a2", None, None, 1),
                        (4, "D", "c2", 0, "user", None, None, None, 1)], 1)
    src.compact()
    with pytest.raises(ChangefeedRetentionError):
        tailer.tick()

    stats = tailer.reseed()
    assert stats["status"] == "committed"
    assert _snap(tgt) == _snap(src) == [("c1", 0, 3, "a2")]  # c2 deleted

    assert tailer.tick()["status"] == "idle"
    _apply(spark, app, [(5, "I", "c3", 1, "user", "c", None, None, 1)], 2)
    assert tailer.tick()["status"] == "committed"
    assert _snap(tgt) == _snap(src)


def test_reseed_crash_before_and_after_the_target_commit(spark, tmpdir_path,
                                                        monkeypatch):
    """The reseed merge records the snapshot version in its own commit.  A
    crash before it changes nothing: the tailer is still behind retention
    and the retried reseed commits under the same epoch.  A crash after it
    leaves the tailer at the snapshot version: a commit landing during the
    recovery outage is consumed by the next tick, never jumped over."""
    for when in ("before", "after"):
        root = f"{tmpdir_path}/{when}"
        src = _mk(spark, root, "src")
        app = ChangeApplier(src)
        _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1)], 0)
        tgt = _mk(spark, root, "tgt")
        tailer = ChangefeedTailer(src, tgt, f"{root}/cursor.json")
        tailer.run_until_caught_up()
        first = _recorded(tailer)["source_version"]
        _apply(spark, app, [(2, "U", "c1", 0, "user", "a2", None, None, 1)], 1)
        src.compact()
        snap_v = src.manifest()["version"]

        _crash_at_commit(monkeypatch, tgt, when)
        with pytest.raises(RuntimeError, match=f"crash {when}"):
            tailer.reseed()
        st = _recorded(tailer)
        assert (st["epoch_hwm"], st["source_version"]) == (
            (1, snap_v) if when == "after" else (0, first))

        # a NEW source commit lands during the recovery outage
        _apply(spark, app, [(3, "I", "c2", 1, "user", "b", None, None, 1)], 2)
        if when == "before":
            with pytest.raises(ChangefeedRetentionError):
                tailer.tick()
            assert tailer.reseed()["status"] == "committed"
            assert tailer.tick()["status"] == "idle"
        else:
            out = tailer.run_until_caught_up()
            assert out["caught_up"]
            assert [t["status"] for t in out["ticks"]] == ["committed"]
        assert _snap(tgt) == _snap(src)
        assert len(_snap(tgt)) == 2
        st = _recorded(tailer)
        # contiguous epochs: the crashed attempt left no hole
        assert (st["epoch_hwm"], st["epochs_recent"]) == (
            (1, []) if when == "before" else (2, []))


def test_reseed_after_tick_crash_does_not_reuse_consumed_epoch(spark, tmpdir_path,
                                                              monkeypatch):
    """A tick crash at the target commit, then retention loss, then a
    reseed: the reseed merges under the writer's next uncommitted epoch and
    commits for real — never a replay skip of an epoch the crashed tick
    committed, which would drop everything the snapshot carries."""
    for when in ("before", "after"):
        root = f"{tmpdir_path}/{when}"
        src = _mk(spark, root, "src")
        app = ChangeApplier(src)
        _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1)], 0)
        tgt = _mk(spark, root, "tgt")
        tailer = ChangefeedTailer(src, tgt, f"{root}/cursor.json")
        tailer.run_until_caught_up()

        # window A commits on the source; the tick merging it crashes
        _apply(spark, app, [(2, "U", "c1", 0, "user", "a2", None, None, 1)], 1)
        _crash_at_commit(monkeypatch, tgt, when)
        with pytest.raises(RuntimeError, match=f"crash {when}"):
            tailer.tick()

        # window B lands, then retention outruns the tailer
        _apply(spark, app, [(3, "I", "c2", 1, "user", "b", None, None, 1)], 2)
        src.compact()
        src.vacuum(keep_versions=1, orphan_grace_seconds=0)
        with pytest.raises(ChangefeedRetentionError):
            tailer.tick()
        stats = tailer.reseed()
        assert stats["status"] == "committed", \
            "reseed merged under a consumed epoch and was silently skipped"
        assert _snap(tgt) == _snap(src)
        assert len(_snap(tgt)) == 2  # window A update + window B insert
        assert tailer.tick()["status"] == "idle"


def test_cursor_file_is_only_a_start_position(spark, tmpdir_path):
    """A cursor file in the shape perfbench writes starts a writer the
    target has never seen at its from_version.  From the first commit on,
    the target's recorded version rules: deleting the file or resetting it
    to 0 drops no window and reapplies none, and no tick or reseed writes
    the file."""
    src = _mk(spark, tmpdir_path, "src")
    app = ChangeApplier(src)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1)], 0)
    start_v = src.manifest()["version"]
    _apply(spark, app, [(2, "I", "c2", 0, "user", "b", None, None, 1)], 1)

    tgt = _mk(spark, tmpdir_path, "tgt")
    cursor = f"{tmpdir_path}/cursor.json"
    shape = {"from_version": start_v, "next_epoch": 0, "pending": None}
    with open(cursor, "w") as f:
        json.dump(shape, f)
    tailer = ChangefeedTailer(src, tgt, cursor)
    out = tailer.run_until_caught_up()
    assert [(t["status"], t["from_version"]) for t in out["ticks"]] == [
        ("committed", start_v)]
    assert _snap(tgt) == [("c2", 0, 2, "b")]  # only the window after start_v
    assert json.load(open(cursor)) == shape

    recorded = _recorded(tailer)
    os.unlink(cursor)
    assert tailer.tick()["status"] == "idle"
    with open(cursor, "w") as f:
        json.dump({**shape, "from_version": 0}, f)
    assert tailer.tick()["status"] == "idle"
    assert _recorded(tailer) == recorded and _snap(tgt) == [("c2", 0, 2, "b")]

    # the next source commit is consumed once, from the recorded version
    _apply(spark, app, [(3, "U", "c2", 0, "user", "b2", None, None, 1)], 2)
    out = tailer.run_until_caught_up()
    assert [(t["status"], t["from_version"]) for t in out["ticks"]] == [
        ("committed", recorded["source_version"])]
    assert tailer.reseed()["status"] == "committed"
    assert json.load(open(cursor)) == {**shape, "from_version": 0}
    os.unlink(cursor)
    assert tailer.tick()["status"] == "idle"
    tailer.reseed()
    assert not os.path.exists(cursor)
    assert _snap(tgt) == _snap(src)


def test_reseed_refuses_locally_evolved_target(spark, tmpdir_path):
    """Mirror-topology constraint (r4 verdict nit): reseed rebuilds rows
    from the SOURCE snapshot, so a target column the source lacks would be
    silently overwritten to NULL on every reseeded row — refuse loudly."""
    src = _mk(spark, tmpdir_path, "src")
    app = ChangeApplier(src)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1)], 0)

    tgt = _mk(spark, tmpdir_path, "tgt")
    tailer = ChangefeedTailer(src, tgt, f"{tmpdir_path}/cursor.json")
    tailer.run_until_caught_up()

    # the target evolves a column of its own (not a mirror any more)
    import pyspark.sql.types as T
    tgt.evolve_schema(T.StructType(
        list(tgt.schema.fields) + [T.StructField("local_note", T.StringType())]
    ))
    _apply(spark, app, [(2, "U", "c1", 0, "user", "a2", None, None, 1)], 1)
    src.compact()

    with pytest.raises(ValueError, match="mirror targets only"):
        tailer.reseed()


def test_reseed_refuses_recreated_source_with_unstampable_deletes(spark, tmpdir_path):
    """Code-review r5: a source table wiped and re-created has the
    freshly-initialized cursor_lsn=-1; reseeding a POPULATED target from it
    would stamp every missed-delete tombstone with -1, which loses to every
    stored row — the silent-loss mode reseed exists to fix.  Must refuse
    loudly.  (A fresh never-committed source with nothing to delete reseeds
    harmlessly — the guard keys on rows-to-delete, not on the cursor alone.)"""
    import shutil

    src = _mk(spark, tmpdir_path, "src")
    app = ChangeApplier(src)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1)], 0)

    tgt = _mk(spark, tmpdir_path, "tgt")
    tailer = ChangefeedTailer(src, tgt, f"{tmpdir_path}/cursor.json")
    tailer.run_until_caught_up()
    assert len(_snap(tgt)) == 1

    # the source is wiped and re-created empty (cursor_lsn back to -1)
    shutil.rmtree(f"{tmpdir_path}/src")
    src2 = _mk(spark, tmpdir_path, "src")
    tailer2 = ChangefeedTailer(src2, tgt, f"{tmpdir_path}/cursor2.json")
    with pytest.raises(ValueError, match="never committed"):
        tailer2.reseed()
    assert len(_snap(tgt)) == 1  # nothing was silently dropped

    # an empty target against the same fresh source reseeds harmlessly
    tgt2 = _mk(spark, tmpdir_path, "tgt2")
    stats = ChangefeedTailer(src2, tgt2, f"{tmpdir_path}/cursor3.json").reseed()
    assert "reseeded_to_version" in stats


def test_overlapping_drains_serialize_on_the_cursor_lock(spark, tmpdir_path):
    """Two drain jobs of one (target, writer) (a cron tick outliving its
    interval) must serialize on the tailer's lock, not interleave: the
    second drain blocks until the first finishes, then sees an idle window
    — no error, nothing applied twice."""
    import threading

    src = _mk(spark, tmpdir_path, "src")
    app = ChangeApplier(src)
    _apply(spark, app, [(1, "I", "c1", 0, "user", "a", None, None, 1),
                        (2, "I", "c2", 0, "user", "b", None, None, 1)], 0)
    tgt = _mk(spark, tmpdir_path, "tgt")
    cursor = f"{tmpdir_path}/cursor.json"

    entered, release = threading.Event(), threading.Event()

    class SlowTailer(ChangefeedTailer):
        def _consume(self, from_v, to_v):
            entered.set()
            assert release.wait(timeout=30)
            return super()._consume(from_v, to_v)

    results_a, results_b, errors = [], [], []

    def run(tailer, sink):
        try:
            sink.append(tailer.tick())
        except Exception as exc:  # noqa: BLE001 — surfaced in the assert
            errors.append(exc)

    ta = threading.Thread(
        target=run, args=(SlowTailer(src, tgt, cursor), results_a))
    ta.start()
    assert entered.wait(timeout=30)  # A holds the lock, mid-window
    tb = threading.Thread(
        target=run, args=(ChangefeedTailer(src, tgt, cursor), results_b))
    tb.start()
    tb.join(timeout=1.0)
    assert tb.is_alive()  # B is blocked on the lock, not racing
    release.set()
    ta.join(timeout=60)
    tb.join(timeout=60)
    assert not ta.is_alive() and not tb.is_alive()

    assert errors == []
    assert results_a[0]["status"] == "committed"
    assert results_b[0]["status"] == "idle"  # B saw A's commit, did nothing
    assert _snap(tgt) == _snap(src)
    assert _recorded(ChangefeedTailer(src, tgt, cursor))["epoch_hwm"] == 0
    assert ChangefeedTailer(src, tgt, cursor).tick()["status"] == "idle"


def test_reseed_gives_up_loudly_when_vacuum_outruns_every_pin(spark, tmpdir_path):
    """The reseed retry loop is bounded: if every pinned snapshot version is
    vacuumed before it can be read, the recovery must surface a typed error
    instead of spinning forever while holding the tailer's lock (which would
    block every cron tick of this writer with no visible failure)."""
    from go_data_publisher_spark.lake.table import RetentionLostError

    class VacuumedOutSource:
        order_col = "lsn"

        def manifest(self, version=None):
            if version is None:
                return {"version": 7}  # a fresh pin is always offered...
            raise RetentionLostError("pinned version vacuumed")

        def snapshot(self, version=None):
            raise RetentionLostError("pinned version vacuumed")

    tgt = _mk(spark, tmpdir_path, "tgt")
    tailer = ChangefeedTailer(
        VacuumedOutSource(), tgt, f"{tmpdir_path}/cursor.json")
    with pytest.raises(ChangefeedRetentionError, match="outrunning"):
        tailer.reseed()

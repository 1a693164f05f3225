"""CDC-out: downstream consumers of the table's own change feed.

The engine is not just a CDC sink — its merge-on-read tables serve a
change feed (``TranscriptTable.changes``), and this module holds the two
consumers that tail it the way the reference's consumers tail Kafka
(transactions-consumer/main.go:94-149): poll a bounded window, then apply
it to a second table (``ChangefeedTailer``) or publish it as wire records
(``WirePublisher``).  The result is a copy kept equal to the source by
incremental reads only (no snapshot re-scans), exactly-once in effect
across crashes.

Crash-safety is one commit: each consumer keeps its position in the same
write that publishes its output, so the sink write and the offset cannot
disagree (Delta's ``SetTransaction(appId, version)``).

- The tailer's merge records the source version it consumed in the
  target's manifest, in the commit that records its epoch.  A tick reads
  both its window start and its epoch (``epoch_hwm + 1``, never committed:
  ``fold_epoch_state`` collapses it into the watermark) from the target.
  A crash before the commit leaves that epoch uncommitted, so the retry
  applies the window whole under it, grown or not; a crash after it finds
  the window already consumed.
- The publisher's position is its newest atomically renamed
  ``window-<from>-<to>`` dir.

The cursor file is a read-only start position (Delta CDF's
``startingVersion``): its ``from_version`` is where a consumer with no
position begins — a target the writer has never committed to, or an out
dir with no window yet.  No tick or reseed writes it.  A writer entry
expired by ``TranscriptTable.writer_retention_seconds`` falls back to that
start: the tailer then at worst reapplies a window, a no-op under the LSN
fold, or raises the typed retention error that calls for a reseed.

A metadata-only window (compaction only, no deltas) commits nothing: the
manifest-only ``has_changes`` probes it again on each tick, which reports
``empty_window`` and counts as caught up.

Retention: the feed is served from delta files, which compaction folds
away.  A consumer that has fallen behind the newest compaction of a
touched bucket gets the table's documented RetentionLostError, surfaced
as ``ChangefeedRetentionError`` so operators re-seed the target from a
snapshot instead of silently under-reporting (Iceberg/Delta CDF
semantics).
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager
from urllib.parse import quote

from pyspark.sql.types import StructType

from ..ioutil import locked
from ..sqltext import cast_to, ident, type_sql


class ChangefeedRetentionError(RuntimeError):
    """The tailer's window reaches behind a compaction on the source table:
    the deltas it still needs are folded away.  Recovery is a re-seed (full
    snapshot copy into the target, recorded at the source's current
    version), not a retry."""


class _FeedConsumer:
    """The window loop both CDC-out consumers share: under one lock, read
    the position, bound the window at the source's current version, probe
    it and consume it.  Subclasses supply ``_position()`` and
    ``_consume(from_v, to_v)``, which must record the new position in the
    same write as its output, and a ``tick()`` of their own that calls
    ``_poll()`` (the benchmark's tracer wraps ``ChangefeedTailer.tick`` on
    the class itself)."""

    source = None            # set by subclass __init__
    cursor_path: str = ""    # set by subclass __init__
    lock_path: str = ""      # set by subclass __init__
    retention_hint: str = ""

    def _start_version(self) -> int:
        """The cursor file's ``from_version``: where a consumer with no
        recorded position starts (0 without a file).  Read only."""
        try:
            with open(self.cursor_path) as f:
                return int(json.load(f)["from_version"])
        except FileNotFoundError:
            return 0

    @contextmanager
    def _lock(self):
        """Exclusive advisory lock around one tick or reseed, so overlapping
        drains (a cron tick outliving its interval) serialize instead of
        racing for the same window.  The flock idiom (and its NFS caveat) is
        ``ioutil.locked``'s; NOT reentrant: don't nest."""
        os.makedirs(os.path.dirname(self.lock_path), exist_ok=True)
        with locked(self.lock_path):
            yield

    def _poll(self) -> dict:
        """Consume the window from the position to the source's current
        version.  Returns ``{"status": "idle"}`` when there is no newer
        version, ``empty_window`` when the window holds no change rows, else
        the consume stats — each with the window's
        ``(from_version, to_version]``."""
        from ..lake.table import RetentionLostError

        with self._lock():
            from_v = self._position()
            to_v = int(self.source.manifest()["version"])
            if to_v <= from_v:
                return {"status": "idle", "from_version": from_v}
            # manifest-only emptiness probe first (zero Spark jobs on the
            # polling hot path); a window whose deltas compaction folded
            # away surfaces typed from either read
            try:
                if self.source.has_changes(from_v, to_v):
                    stats = self._consume(from_v, to_v)
                else:
                    stats = {"status": "empty_window"}
            except RetentionLostError as exc:
                raise ChangefeedRetentionError(
                    f"consumer at version {from_v} fell behind source "
                    f"retention — {self.retention_hint}: {exc}"
                ) from exc
            return {**stats, "from_version": from_v, "to_version": to_v}

    def run_until_caught_up(self, max_ticks: int = 1000) -> dict:
        """Tick until the source has no unconsumed change rows (the drain
        loop a cron-scheduled CDC-out job runs): an idle tick or a
        metadata-only window ends it.

        Returns ``{"ticks": [...], "caught_up": bool}`` — ``caught_up`` is
        False when ``max_ticks`` ran out with windows still unconsumed, so
        a bounded drain (cron budget) is never mistaken for a current copy.
        """
        ticks = []
        for _ in range(max_ticks):
            stats = self.tick()
            if stats["status"] != "idle":
                ticks.append(stats)
            if stats["status"] in ("idle", "empty_window"):
                return {"ticks": ticks, "caught_up": True}
        return {"ticks": ticks, "caught_up": False}


class ChangefeedTailer(_FeedConsumer):
    """Tail ``source.changes()`` into ``target``, keeping the consumed
    source version in the target's manifest.

    ``writer_id`` scopes the target's epoch guard and recorded version to
    this tailer so its epochs are never confused with the primary
    pipeline's.  ``cursor_path`` names the read-only start position for a
    target this writer has never committed to.
    """

    retention_hint = "re-seed the target from a snapshot"

    def __init__(self, source, target, cursor_path: str,
                 writer_id: str = "cdc-out"):
        self.source = source
        self.target = target
        self.cursor_path = cursor_path
        self.writer_id = writer_id
        self.lock_path = (f"{target.root}/_manifests/"
                          f"{quote(writer_id, safe='')}.tail.lock")

    def tick(self) -> dict:
        """One poll: merge the next change window into the target (see
        ``_poll`` for the statuses)."""
        return self._poll()

    def _position(self) -> int:
        v = self.target.epoch_state(self.writer_id)["source_version"]
        return self._start_version() if v is None else int(v)

    def _consume(self, from_v: int, to_v: int) -> dict:
        feed = self.source.changes(from_v, to_v)
        # source schema evolution flows through: the feed rows carry the
        # source's CURRENT schema, so widen/extend the target first or
        # merge() would silently project the new columns away (same order
        # as ChangeApplier.apply_batch)
        self.target.evolve_schema(StructType(
            [f for f in feed.schema.fields
             if f.name not in ("op", "commit_version")]))
        return self._merge(feed.drop("commit_version"), to_v)

    def _merge(self, events, version: int) -> dict:
        """Merge ``events`` under the writer's next epoch and record
        ``version`` as consumed in the same commit."""
        epoch = int(self.target.epoch_state(self.writer_id)["epoch_hwm"]) + 1
        return self.target.merge(events, epoch_id=epoch,
                                 writer_id=self.writer_id,
                                 source_version=version)

    def reseed(self) -> dict:
        """Recovery from ChangefeedRetentionError: make the target equal the
        source's CURRENT snapshot and record that snapshot's version.

        One batch, two halves, applied through the normal merge (so the
        epoch guard and the recorded version keep holding):

        - every snapshot row as an upsert carrying its stored order value —
          re-applying rows the target already has is a no-op under the LSN
          guard, so only the genuinely-missed changes do work;
        - a delete tombstone for every target key absent from the snapshot
          (rows whose source delete the tailer missed), stamped with the
          source cursor (≥ any stored order value; D out-ranks I/U at equal
          order, so it always wins).

        The merge's commit records the snapshot's version, like a tick's:
        a crash before it leaves the epoch uncommitted, and the retry pins a
        fresh snapshot; changes committed on the source during the reseed
        are picked up by the next regular tick."""
        with self._lock():
            # bounded retry, not while-True: each pass pins a fresh
            # snapshot version, so hitting the cap means source maintenance
            # (compact/vacuum) is outrunning every read attempt — spinning
            # silently while holding the lock would block every cron tick
            # of this writer with no visible error
            for _ in range(8):
                out = self._reseed_attempt()
                if out is not None:
                    return out
                # the pinned snapshot version was vacuumed mid-recovery:
                # restart with a fresh pin (loop, not recursion — the lock
                # is not reentrant)
            raise ChangefeedRetentionError(
                "reseed lost its pinned snapshot version to vacuum on 8 "
                "consecutive attempts — source maintenance is outrunning "
                "the reseed read; pause compact/vacuum on the source (or "
                "raise its keep-versions) and retry"
            )

    def _reseed_attempt(self) -> dict | None:
        from ..lake.table import RetentionLostError

        m = self.source.manifest()
        ver = int(m["version"])
        try:
            snap = self.source.snapshot(version=ver)
        except RetentionLostError:
            return None
        # MIRROR TOPOLOGY ONLY: every reseeded row is rebuilt from the SOURCE
        # snapshot, so a target column the source lacks would be overwritten
        # to NULL on every row the snapshot re-upserts (merge fills missing
        # columns with NULL and the reseeded row replaces the stored one
        # wholesale).  The supported topology is a pure mirror — fail loud
        # instead of silently nulling locally-evolved columns.
        extra = [f.name for f in self.target.schema.fields
                 if f.name not in set(snap.columns)]
        if extra:
            raise ValueError(
                f"reseed supports mirror targets only: target has columns "
                f"the source snapshot lacks {extra} — reseeding would "
                "overwrite their stored values with NULL on every row"
            )
        self.target.evolve_schema(snap.schema)

        key = list(self.target.key)
        order_col = self.target.order_col
        cursor_lsn = int(m.get("cursor_lsn", -1))
        ups = snap.selectExpr("*", "'I' AS `op`")
        gone = (self.target.snapshot()
                .join(snap.select(*key), on=key, how="left_anti"))
        if cursor_lsn < 0 and gone.limit(1).count() > 0:
            # The tombstone order stamp comes from the source cursor; a
            # missing key OR the freshly-initialized -1 would make every
            # tombstone LOSE to every stored row and silently drop all
            # missed deletes — the exact loss mode this op exists to fix.
            # A source that has ever committed a row has cursor_lsn >= 0,
            # so reaching here with rows to delete means the source table
            # was wiped and re-created; mirroring an empty re-init over a
            # populated target is an operator decision, not a silent one.
            # (With nothing to delete the stamp is unused and a fresh
            # never-committed source reseeds harmlessly.)
            raise ValueError(
                f"source manifest v{ver} has cursor_lsn "
                f"{m.get('cursor_lsn')!r} (never committed) but the target "
                "holds rows absent from the snapshot — cannot stamp their "
                "delete tombstones with a winning order value; if the "
                "source was intentionally re-created, rebuild the target "
                "fresh instead of reseeding over it"
            )
        have = set(gone.columns)
        cols = [f"CAST({cursor_lsn} AS {type_sql(f.dataType)}) AS {ident(f.name)}"
                if f.name == order_col else cast_to(f, f.name in have)
                for f in snap.schema.fields]
        dels = gone.selectExpr(*cols, "'D' AS `op`")

        stats = self._merge(ups.unionByName(dels), ver)
        return {**stats, "reseeded_to_version": ver}


class WirePublisher(_FeedConsumer):
    """S5 produce side, broker-free: tail ``source.changes()`` and emit each
    window as Kafka-shaped wire records — key = 4-byte LE-uint32 of the
    order column (bit-exact with the reference producer's record key,
    transactions-producer/external/kafka/client.go:73-79), value = the JSON
    envelope (client.go:28-65) — into an append-only directory a
    Structured-Streaming consumer tails like a topic
    (``decode_kafka_records`` + ``run_stream_from``, or
    ``run_stream(wire_format=True)``).  This closes the publisher loop
    in-sandbox: engine → wire bytes → engine, everything short of the
    broker socket.

    PATH idempotence instead of epochs: a window's output dir is named by
    its ``(from_version, to_version]`` bounds, written to a temp dir and
    ATOMICALLY renamed into place, and never touched again.  The newest
    renamed dir is the publisher's position, so the rename is both the
    publish and the offset commit: a crash before it republishes the
    (possibly grown) window under a fresh name, and a crash after it finds
    the window consumed.  Rewriting in place would NOT be idempotent for
    consumers: Spark's overwrite writes fresh randomly-named part files,
    which a path-keyed file-stream consumer would re-deliver as new data.
    (On an object store without atomic dir rename, swap the rename for a
    commit-marker file the consumer filters on.)  ``cursor_path`` is read
    only while ``out_dir`` holds no window, as the start version; losing or
    resetting it later republishes nothing.

    Retention: same as the tailer — a window that reaches behind a source
    compaction raises ``ChangefeedRetentionError``.
    """

    retention_hint = "republish from a snapshot"

    def __init__(self, source, out_dir: str, cursor_path: str,
                 key_col: str | None = None):
        self.source = source
        self.out_dir = out_dir
        self.cursor_path = cursor_path
        # consumers skip dot-names, like the temp dir beside it
        self.lock_path = f"{out_dir}/.lock"
        # the reference keys records by the ordering attribute (TickNumber);
        # default to the table's declared order column
        self.key_col = key_col or source.order_col

    def tick(self) -> dict:
        """One poll: publish the next change window as a window dir (see
        ``_poll`` for the statuses)."""
        return self._poll()

    def _position(self) -> int:
        return self._newest_published_to_version() or self._start_version()

    def _consume(self, from_v: int, to_v: int) -> dict:
        from ..functions.codecs import to_wire_kafka

        path = f"{self.out_dir}/window-{from_v:012d}-{to_v:012d}"
        # one temp dir per out_dir: the lock keeps publishes apart, and a
        # crashed attempt's leftover is cleared here
        tmp = f"{self.out_dir}/.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        # commit_version is feed bookkeeping, not envelope payload
        events = self.source.changes(from_v, to_v).drop("commit_version")
        to_wire_kafka(events, self.key_col) \
            .write.mode("overwrite").parquet(tmp)
        os.rename(tmp, path)
        return {"status": "published", "path": path}

    def _newest_published_to_version(self) -> int:
        """Largest to_version among the window dirs already in out_dir (0
        when none) — one listdir, the publisher-side mirror of the tailer's
        O(1) epoch-state read."""
        try:
            names = os.listdir(self.out_dir)
        except FileNotFoundError:
            return 0
        newest = 0
        for n in names:
            if n.startswith("window-"):
                try:
                    newest = max(newest, int(n.split("-")[2]))
                except (IndexError, ValueError):
                    continue
        return newest

"""CDC-out: a downstream consumer loop over the table's own change feed.

The engine is not just a CDC sink — its merge-on-read tables serve a
change feed (``TranscriptTable.changes``), and this module is the consumer
that tails it the way the reference's consumers tail Kafka
(transactions-consumer/main.go:94-149): poll a bounded window, apply it to
the local sink, then — and only then — advance the persisted cursor.  The
result is a second table kept equal to the source by incremental reads
only (no snapshot re-scans), exactly-once in effect across crashes.

Crash-safety is the composition of three pieces, mirroring the engine's
own stream sink:

1. a PENDING window record is persisted before the merge.  Without it, a
   crash after the merge but before the cursor advance would let the retry
   observe a GROWN window (new source commits) under the same epoch id —
   the epoch guard would skip it as a replay and the growth would be lost.
   With it, the retry re-applies exactly the recorded window.
2. the target's epoch guard makes re-merging the recorded window a no-op
   (``skipped_replay``).
3. the cursor file is advanced with an atomic write-fsync-rename after the
   merge commit (offsets-after-sink).

Retention: the feed is served from delta files, which compaction folds
away.  A tailer that has fallen behind the newest compaction of a touched
bucket gets the table's documented ValueError; the tailer surfaces it as
``ChangefeedRetentionError`` so operators re-seed the target from a
snapshot instead of silently under-reporting (Iceberg/Delta CDF
semantics).
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

from pyspark.sql.types import StructType

from ..ioutil import atomic_write_json, locked
from ..sqltext import cast_to, ident, type_sql


class ChangefeedRetentionError(RuntimeError):
    """The tailer's window reaches behind a compaction on the source table:
    the deltas it still needs are folded away.  Recovery is a re-seed (full
    snapshot copy into a fresh target + cursor at the source's current
    version), not a retry."""


class CursorMismatchError(RuntimeError):
    """The cursor file and the target's epoch state disagree: a FRESH window
    (no pending record — the epoch was never merged by a crashed tick)
    merged as ``skipped_replay``, meaning the target already committed that
    epoch id.  The cursor file was reset, restored from a stale backup, or
    pointed at the wrong target — advancing would silently drop the whole
    backlog window.  Recovery: restore the matching cursor file, or reseed."""


class _CursorDrainBase:
    """The persisted-cursor window protocol shared by both CDC-out
    consumers: ``ChangefeedTailer`` (merge windows into a mirror table)
    and ``WirePublisher`` (emit windows as wire dirs).  The cursor store,
    the cursor lock, the window drain, and the drain loop live HERE so a
    protocol fix lands in both consumers at once — subclasses supply only
    their pre-check and consume steps (see ``_drain_window``).

    ``cursor_path`` stores ``{"from_version", "next_epoch", "pending"}`` as
    one atomically-replaced JSON file — the consumer-group offset store of
    the reference, one file per (consumer, sink) pair."""

    source = None            # set by subclass __init__
    cursor_path: str = ""    # set by subclass __init__

    # -- cursor store -------------------------------------------------------

    def _load(self) -> dict:
        try:
            with open(self.cursor_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"from_version": 0, "next_epoch": 0, "pending": None}

    def _store(self, cur: dict) -> None:
        os.makedirs(os.path.dirname(self.cursor_path) or ".", exist_ok=True)
        atomic_write_json(self.cursor_path, cur)

    @contextmanager
    def _cursor_lock(self):
        """Exclusive advisory lock scoping the whole load→consume→store
        sequence to one drain at a time.  Two overlapping drain jobs on one
        cursor file (e.g. a cron tick outliving its interval) would
        otherwise race that sequence: the loser's stale in-memory cursor,
        written back after the winner advanced, rolls the file back and can
        wedge every later tick in CursorMismatchError.  The flock idiom
        (and its NFS caveat) is ``ioutil.locked``'s; per-host advisory
        locking matches the cursor file's own single-host scope (NOT
        reentrant: don't nest)."""
        os.makedirs(os.path.dirname(self.cursor_path) or ".", exist_ok=True)
        with locked(self.cursor_path + ".lock"):
            yield

    # -- the poll loop ------------------------------------------------------

    def _drain_window(self, fresh_precheck, consume,
                      retention_hint: str) -> dict:
        """The window protocol shared by ``ChangefeedTailer.tick`` (merge a
        window into the target under an epoch) and ``WirePublisher.tick``
        (emit a window as a wire dir): load the cursor → crash-retry the
        recorded pending window or bound a fresh one → consistency
        pre-check → persist PENDING → consume → advance the cursor — all
        under the cursor lock.  Factored so a protocol fix lands in both
        consumers at once instead of being hand-mirrored.

        ``fresh_precheck(cur, to_v)`` runs only on a fresh (non-retry)
        window, BEFORE the pending record is written — a pending record
        would make the next attempt accept a mismatch as a legitimate
        crash retry.  ``consume(cur, from_v, to_v, had_pending)`` applies
        the window and returns its stats; mutations it makes to ``cur``
        (e.g. the tailer's epoch bump) are persisted by the final store.
        """
        from ..lake.table import RetentionLostError

        with self._cursor_lock():
            cur = self._load()
            had_pending = bool(cur.get("pending"))
            if had_pending:
                # crash-recovery: re-consume exactly the recorded window
                to_v = int(cur["pending"]["to_version"])
            else:
                to_v = int(self.source.manifest()["version"])
                if to_v <= int(cur["from_version"]):
                    return {"status": "idle",
                            "from_version": cur["from_version"]}
                fresh_precheck(cur, to_v)
                cur["pending"] = {"to_version": to_v}
                self._store(cur)
            from_v = int(cur["from_version"])
            try:
                stats = consume(cur, from_v, to_v, had_pending)
            except RetentionLostError as exc:
                raise ChangefeedRetentionError(
                    f"consumer at version {from_v} fell behind source "
                    f"retention — {retention_hint}: {exc}"
                ) from exc
            cur["from_version"] = to_v
            cur["pending"] = None
            self._store(cur)
            return {**stats, "from_version": from_v, "to_version": to_v}

    def run_until_caught_up(self, max_ticks: int = 1000) -> dict:
        """Tick until the source has no unconsumed versions (the drain loop
        a cron-scheduled CDC-out job runs).

        Returns ``{"ticks": [...], "caught_up": bool}`` — ``caught_up`` is
        False when ``max_ticks`` ran out with windows still unconsumed, so
        a bounded drain (cron budget) is never mistaken for a current copy.
        """
        ticks = []
        for _ in range(max_ticks):
            stats = self.tick()
            if stats["status"] == "idle":
                return {"ticks": ticks, "caught_up": True}
            ticks.append(stats)
        return {"ticks": ticks, "caught_up": False}


class ChangefeedTailer(_CursorDrainBase):
    """Tail ``source.changes()`` into ``target`` with a persisted cursor.

    ``writer_id`` scopes the target's epoch guard to this tailer so its
    epochs are never confused with the primary pipeline's.
    """

    def __init__(self, source, target, cursor_path: str,
                 writer_id: str = "cdc-out"):
        self.source = source
        self.target = target
        self.cursor_path = cursor_path
        self.writer_id = writer_id

    def tick(self) -> dict:
        """One poll: apply the next change window, advance the cursor.

        Returns ``{"status": "idle"}`` when caught up, else the merge stats
        plus the consumed ``(from_version, to_version]`` window."""
        return self._drain_window(
            self._precheck_fresh_epoch, self._consume_merge,
            "re-seed the target from a snapshot")

    def _precheck_fresh_epoch(self, cur: dict, to_v: int) -> None:
        # Cursor/target consistency check BEFORE the pending record is
        # written: on a fresh window next_epoch was never merged by a
        # crashed tick, so the target having committed it means this
        # cursor file does not belong to this (target, writer) state —
        # reset, restored from a stale backup, or pointed at the wrong
        # target.  Proceeding would merge as skipped_replay and advance
        # from_version over the whole backlog window (silent loss).  One
        # O(1) raw-manifest read, only on the non-idle path.
        if self.target.is_epoch_committed(int(cur["next_epoch"]),
                                          self.writer_id):
            raise CursorMismatchError(
                f"cursor epoch {cur['next_epoch']} is already committed "
                f"on the target (writer {self.writer_id!r}) but no "
                f"pending window is recorded: the cursor file at "
                f"{self.cursor_path} disagrees with the target's epoch "
                "state (reset/restored cursor?) — restore the matching "
                "cursor file, or reseed the target"
            )

    def _consume_merge(self, cur: dict, from_v: int, to_v: int,
                       had_pending: bool) -> dict:
        # manifest-only emptiness probe first (zero Spark jobs on the
        # polling hot path); both retention shapes — compaction folded
        # the window's deltas, or vacuum expired the recorded pending
        # manifest during an outage — surface typed from the table
        if not self.source.has_changes(from_v, to_v):
            # metadata-only window (vacuum, no-op commits): advance the
            # cursor without consuming an epoch — re-checking is idempotent
            return {"status": "empty_window"}
        feed = self.source.changes(from_v, to_v)
        events = feed.drop("commit_version")
        # source schema evolution flows through: the feed rows carry the
        # source's CURRENT schema, so widen/extend the target first or
        # merge() would silently project the new columns away (same order
        # as ChangeApplier.apply_batch)
        self.target.evolve_schema(StructType(
            [f for f in feed.schema.fields
             if f.name not in ("op", "commit_version")]))
        epoch = int(cur["next_epoch"])
        stats = self.target.merge(
            events, epoch_id=epoch, writer_id=self.writer_id,
        )
        if stats["status"] == "skipped_replay" and not had_pending:
            # a replay skip is legitimate ONLY on a crash retry (the
            # pending record existed at load).  On a fresh first attempt
            # this epoch was never used — the pre-check found it
            # uncommitted moments ago — so a skip here means some OTHER
            # writer path committed it in between (e.g. a second tailer
            # configured with its own cursor file but the same writer_id):
            # advancing from_version would drop the window.  Clear the
            # pending record this attempt persisted BEFORE raising, or the
            # next attempt would accept its own skip as a crash retry and
            # advance silently.  (Same-cursor-file overlap is excluded by
            # the cursor lock, so this store cannot roll back a concurrent
            # winner's advance.)
            cur["pending"] = None
            self._store(cur)
            raise CursorMismatchError(
                f"fresh window ({from_v}, {to_v}] merged as "
                f"skipped_replay under epoch {epoch} (writer "
                f"{self.writer_id!r}): the cursor file at "
                f"{self.cursor_path} disagrees with the "
                "target's committed-epoch state (reset/restored "
                "cursor?) — restore the matching cursor or reseed"
            )
        cur["next_epoch"] = epoch + 1
        return stats

    def reseed(self) -> dict:
        """Recovery from ChangefeedRetentionError: make the target equal the
        source's CURRENT snapshot and restart the cursor there.

        One batch, two halves, applied through the normal merge (so the
        epoch guard and crash protocol keep holding):

        - every snapshot row as an upsert carrying its stored order value —
          re-applying rows the target already has is a no-op under the LSN
          guard, so only the genuinely-missed changes do work;
        - a delete tombstone for every target key absent from the snapshot
          (rows whose source delete the tailer missed), stamped with the
          source cursor (≥ any stored order value; D out-ranks I/U at equal
          order, so it always wins).

        After the merge the cursor jumps to the snapshot's version; changes
        committed on the source during the reseed are picked up by the next
        regular tick."""
        with self._cursor_lock():
            # bounded retry, not while-True: each pass re-pins a fresh
            # snapshot version, so hitting the cap means source maintenance
            # (compact/vacuum) is outrunning every read attempt — spinning
            # silently while holding the cursor lock would block every cron
            # tick on this cursor with no visible error
            for _ in range(8):
                out = self._reseed_attempt()
                if out is not None:
                    return out
                # the pinned snapshot version was vacuumed mid-recovery:
                # restart with a fresh pin (loop, not recursion — the
                # cursor lock is not reentrant)
            raise ChangefeedRetentionError(
                "reseed lost its pinned snapshot version to vacuum on 8 "
                "consecutive attempts — source maintenance is outrunning "
                "the reseed read; pause compact/vacuum on the source (or "
                "raise its keep-versions) and retry"
            )

    def _reseed_attempt(self) -> dict | None:
        from ..lake.table import RetentionLostError

        cur = self._load()
        # same crash protocol as tick(): pin (version, epoch) BEFORE the
        # merge.  A crash between the merge and the cursor store replays
        # against the PINNED snapshot version (time travel), so the retry
        # can never jump the cursor past windows the skipped merge didn't
        # apply.  The epoch comes from the TARGET's guard state (not the
        # cursor — see _next_uncommitted_epoch); if the pinned version is
        # itself vacuumed before the retry, the reseed restarts fresh and
        # REUSES the abandoned epoch id, so no permanent hole pins the
        # guard's high watermark.
        pend = cur.get("pending_reseed")
        if pend:
            ver, epoch = int(pend["to_version"]), int(pend["epoch"])
        else:
            ver = int(self.source.manifest()["version"])
            epoch = self._next_uncommitted_epoch()
            cur["pending_reseed"] = {"to_version": ver, "epoch": epoch}
            cur["next_epoch"] = max(int(cur["next_epoch"]), epoch + 1)
            self._store(cur)
        try:
            m = self.source.manifest(ver)
            snap = self.source.snapshot(version=ver)
        except RetentionLostError:
            # the pinned version vanished mid-recovery: restart fresh
            cur["pending_reseed"] = None
            self._store(cur)
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

        stats = self.target.merge(ups.unionByName(dels), epoch_id=epoch,
                                  writer_id=self.writer_id)
        self._store({"from_version": ver,
                     "next_epoch": max(int(cur["next_epoch"]), epoch + 1),
                     "pending": None})
        return {**stats, "reseeded_to_version": ver}

    def _next_uncommitted_epoch(self) -> int:
        """The epoch id a FRESH reseed may merge under.  The cursor's
        next_epoch is not trustworthy here: a tick that crashed between its
        merge commit and its cursor store leaves next_epoch pointing at an
        epoch the TARGET already committed — merging the reseed batch under
        it would be skipped by the replay guard while the cursor still
        jumps, silently losing every change the snapshot was meant to carry.
        Ask the target instead: the smallest uncommitted epoch at-or-above
        the guard's high watermark, which also REUSES the hole left by a
        reseed abandoned to a vacuumed pin (an unfilled hole would pin the
        hwm forever and grow the recent set with every later commit)."""
        st = self.target.epoch_state(self.writer_id)
        e = int(st["epoch_hwm"]) + 1
        recent = set(st["epochs_recent"])
        while e in recent:
            e += 1
        return e


class WirePublisher(_CursorDrainBase):
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

    Same persisted-cursor protocol as ``ChangefeedTailer`` but with PATH
    idempotence instead of epochs: a window's output dir is named by its
    ``(from_version, to_version]`` bounds, written to a temp dir and
    ATOMICALLY renamed into place, and never touched again once present —
    so a crash between the publish and the cursor advance makes the retry
    a no-op (the completed dir already exists), not a rewrite.  Rewriting
    in place would NOT be idempotent for consumers: Spark's overwrite
    writes fresh randomly-named part files, which a path-keyed file-stream
    consumer would re-deliver as new data — and a consumer checkpoint
    pinned to the deleted old paths would wedge on restart.  (On an object
    store without atomic dir rename, swap the rename for a commit-marker
    file the consumer filters on.)

    Cursor/history consistency: a fresh window whose ``from_version`` lies
    BEHIND the newest already-published window means the cursor file was
    reset or restored from a stale backup — republishing from there would
    duplicate the feed's history downstream, so it raises
    ``CursorMismatchError`` (same class of guard the tailer grew this
    round).

    Retention: same as the tailer — a window that reaches behind a source
    compaction raises ``ChangefeedRetentionError``.
    """

    def __init__(self, source, out_dir: str, cursor_path: str,
                 key_col: str | None = None):
        self.source = source
        self.out_dir = out_dir
        self.cursor_path = cursor_path
        # the reference keys records by the ordering attribute (TickNumber);
        # default to the table's declared order column
        self.key_col = key_col or source.order_col

    def tick(self) -> dict:
        """One poll: publish the next change window as wire records, then
        advance the cursor."""
        return self._drain_window(
            self._precheck_history, self._consume_publish,
            "republish from a snapshot")

    def _precheck_history(self, cur: dict, to_v: int) -> None:
        # cursor/history consistency BEFORE the pending record (same
        # rationale as the tailer's epoch pre-check): a from_version
        # behind the newest published window is a reset/restored cursor
        # file, and publishing from it would re-deliver history as new
        # window dirs to every path-keyed consumer
        newest = self._newest_published_to_version()
        if int(cur["from_version"]) < newest:
            raise CursorMismatchError(
                f"publisher cursor at version {cur['from_version']} is "
                f"behind the newest published window (to_version "
                f"{newest}) in {self.out_dir}: the cursor file at "
                f"{self.cursor_path} was reset or restored — restore "
                "the matching cursor instead of republishing history"
            )

    def _consume_publish(self, cur: dict, from_v: int, to_v: int,
                         had_pending: bool) -> dict:
        from ..functions.codecs import to_wire_kafka

        name = f"window-{from_v:012d}-{to_v:012d}"
        path = f"{self.out_dir}/{name}"
        if os.path.isdir(path):
            # crash retry after a COMPLETED publish (rename is atomic, so
            # presence == completeness): re-emitting would rotate part-file
            # names and double-deliver to path-keyed consumers.  Checked
            # before any source read — the retry must succeed even if the
            # source vacuumed the pinned window's manifest during the outage
            # (the records are already safely published).
            return {"status": "already_published", "path": path}
        if not self.source.has_changes(from_v, to_v):
            return {"status": "empty_window"}
        feed = self.source.changes(from_v, to_v)
        # commit_version is feed bookkeeping, not envelope payload
        events = feed.drop("commit_version")
        tmp = f"{self.out_dir}/.tmp-{name}"
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)  # dead crash leftover
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

"""The merge-apply stage: one microbatch of change events → target table.

This is the engine's core pipeline (SURVEY.md §7 step 2), the Spark-first
re-expression of the reference consumer loop
(transactions-consumer/consume/transaction_consumer.go:93-155):

    poll batch → validate/route → dedupe → idempotent keyed upsert →
    commit offsets after the sink write.

Stages (all declarative):
 1. validity guard  → quarantine invalid rows or abort the batch (F4/V4)
 2. schema-evolution diff → widen target before apply (archiverv1/v2 analogue)
 3. last-wins dedup per (conv_id, turn_idx) by (lsn, op-rank)  (D4),
    fused into the merge's bucket exchange
 4. merge-on-read delta write into the bucketed lake table    (D1/D5)
 5. the epoch's quarantine rows and lineage rows per touched partition
    (A5/S8), then the manifest commit

Per microbatch this runs one Spark job on the default path: the delta write
(scan → one bucket exchange that also carries the last-wins dedup →
parquet), plus a quarantine write when the batch holds invalid rows.
Lineage counters come from the written files' parquet footers, and the
invalid-row count rides the write job as an Observation — zero extra scans.
The plan itself is described in SQL text (see ``sqltext``), so building it
costs the driver about a hundred py4j round trips, not one per Column node.

Exactly-once: the manifest commit is the epoch's last write, as the
reference commits its offsets only after the sink write.  The delta files,
the quarantine rows and the lineage file are all written before it; the
quarantine and lineage outputs are named by (writer id, epoch), so a
redelivered epoch overwrites what a crashed attempt left.  The commit
records epoch_id and adds the epoch's upserted, deleted and quarantined
rows to the manifest's running totals; a replayed committed epoch is a
no-op.  After the commit the only writes are inline compaction's own
commits.  Transient sink failures are retried with bounded exponential
backoff + jitter (the reference retries ES bulk writes on 429/502/503/504
up to 15 times, transactions-consumer/main.go:118-120, 186-201); each retry
writes a fresh commit dir, so a half-written attempt leaves only orphan
files that vacuum() collects — never a double commit.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.table import TranscriptTable
from ..operators.dedup import last_wins
from ..operators.routing import split_valid, validity_sql
from ..sqltext import project_to


class MismatchError(RuntimeError):
    """V4 strict mode: the batch contained invalid rows and the policy is
    abort-batch (reference: status-service/sync/tick_processor.go:238-249
    with the skip-list disabled)."""


def _default_is_retriable(exc: BaseException) -> bool:
    """WHITELIST of transient shapes; everything else is terminal.

    The reference's split: HTTP 429/502/503/504 retry, anything else is
    terminal (transactions-consumer/main.go:118-120).  Retriable here:
    lost optimistic-commit races (merge re-reads the manifest per attempt
    and self-heals), OS/IO errors, and JVM-side job failures surfaced
    through py4j/Spark (executor loss, fetch failure, storage hiccups).
    A whitelist — not a blacklist of known-semantic types — so permanent
    failures that happen to be RuntimeErrors (e.g. the epoch-gap guard in
    TranscriptTable._commit) surface immediately instead of burning the
    backoff budget first.
    """
    from pyspark.errors import AnalysisException

    from ..lake.table import ConcurrentCommitError

    if isinstance(exc, AnalysisException):
        return False  # plan/schema-shaped: retrying re-runs the same analysis
    if isinstance(exc, (ConcurrentCommitError, OSError)):
        return True
    try:
        from py4j.protocol import Py4JError

        if isinstance(exc, Py4JError):
            return True  # JVM-side job failure: presumed IO-shaped
    except ImportError:
        pass
    try:
        from pyspark.errors.exceptions.captured import CapturedException

        if isinstance(exc, CapturedException):
            # Known-PERMANENT JVM semantic shapes must not burn the backoff
            # budget + the degrade ladder: bad arguments, cast/parse
            # failures, arithmetic overflow, and merge-cardinality
            # violations re-fail identically at every width.
            try:
                from pyspark.errors import (
                    ArithmeticException,
                    ArrayIndexOutOfBoundsException,
                    DateTimeException,
                    IllegalArgumentException,
                    NumberFormatException,
                )

                if isinstance(exc, (ArithmeticException,
                                    ArrayIndexOutOfBoundsException,
                                    DateTimeException,
                                    IllegalArgumentException,
                                    NumberFormatException)):
                    return False
            except ImportError:
                pass
            try:
                # Spark 4 name, falling back to the 3.x name so the
                # permanent-class detection doesn't silently no-op there
                getter = getattr(exc, "getCondition", None) \
                    or getattr(exc, "getErrorClass", None)
                err_class = (getter() if getter else "") or ""
            except Exception:
                err_class = ""
            _PERMANENT_CLASSES = ("MERGE_CARDINALITY_VIOLATION",
                                  "CAST_OVERFLOW", "CAST_INVALID_INPUT",
                                  "ARITHMETIC_OVERFLOW", "DIVIDE_BY_ZERO",
                                  "NUMERIC_VALUE_OUT_OF_RANGE")
            if any(err_class.startswith(p) for p in _PERMANENT_CLASSES):
                return False
            return True  # non-analysis JVM exception surfaced via Spark
    except ImportError:
        pass
    return False


@dataclass
class RetryPolicy:
    """Bounded exponential backoff with full jitter."""

    max_attempts: int = 5
    base_delay: float = 0.2
    max_delay: float = 5.0
    is_retriable: callable = field(default=_default_is_retriable)

    def run(self, fn, on_retry=None):
        attempt = 0
        while True:
            try:
                return fn()
            # Exception, NOT BaseException: KeyboardInterrupt/SystemExit must
            # propagate immediately, never sleep-and-retry a Ctrl-C
            except Exception as exc:  # noqa: BLE001 — classified below
                attempt += 1
                if attempt >= self.max_attempts or not self.is_retriable(exc):
                    raise
                delay = min(self.max_delay, self.base_delay * (2 ** (attempt - 1)))
                delay *= random.uniform(0.5, 1.0)  # full jitter
                if on_retry is not None:
                    on_retry(attempt, exc, delay)
                time.sleep(delay)


class ChangeApplier:
    """Applies change batches, last-wins per key, into a TranscriptTable."""

    def __init__(
        self,
        table: TranscriptTable,
        quarantine_dir: str | None = None,
        lineage_dir: str | None = None,
        route_sql: str | None = None,
        ephemeral_table: TranscriptTable | None = None,
        on_invalid: str = "quarantine",
        retry: RetryPolicy | None = None,
        compact_delta_files: int | None = None,
        writer_id: str = "default",
    ):
        """``route_sql`` + ``ephemeral_table``: F3 routing — winners matching
        the predicate are merged into a second target instead of the main
        one (the reference's ephemeral-transactions index,
        transactions-consumer/consume/transaction_consumer.go:118-123,
        134-146; both tables' manifests record the epoch before foreachBatch
        returns).

        ``on_invalid``: the V4 mismatch policy — "quarantine" (record invalid
        rows in the persisted skipped set and continue, the reference's
        skip-list mode, status-service/db/store.go:79-111) or "error" (abort
        the batch before anything is applied, the reference's strict mode).

        ``retry``: RetryPolicy wrapped around every sink write (each merge
        attempt also writes the quarantine and lineage outputs).  Defaults to 5 attempts of exponential backoff with
        jitter; pass RetryPolicy(max_attempts=1) to disable.

        ``writer_id``: scopes the epoch replay guard (Delta txnAppId
        pattern) — give each logical pipeline / checkpoint lineage its own
        id so a fresh checkpoint's epochs restarting at 0 are never mistaken
        for replays of another writer's epochs.  It also names the epoch's
        quarantine and lineage outputs, so writers sharing those dirs keep
        each other's files.

        ``compact_delta_files``: merge-on-read maintenance policy — after a
        commit, any bucket whose live delta-file count reaches this
        threshold is compacted back to a single base file group (incremental
        per-bucket fold, bounding read amplification without ever rewriting
        the whole table at once).  None disables inline compaction (run
        `table.compact()` out of band instead).
        """
        self.table = table
        self.quarantine_dir = quarantine_dir
        self.lineage_dir = lineage_dir
        self.route_sql = route_sql
        self.ephemeral_table = ephemeral_table
        if on_invalid not in ("quarantine", "error"):
            raise ValueError("on_invalid must be 'quarantine' or 'error'")
        self.on_invalid = on_invalid
        self.retry = retry or RetryPolicy()
        self.compact_delta_files = compact_delta_files
        self.writer_id = writer_id
        if (route_sql is None) != (ephemeral_table is None):
            raise ValueError("route_sql and ephemeral_table must be set together")

    # -- called by foreachBatch and by the batch driver ----------------------

    def apply_batch(self, batch: DataFrame, epoch_id: int) -> dict:
        if self.table.is_epoch_committed(epoch_id, writer_id=self.writer_id):
            # replayed microbatch after crash-before-checkpoint: every
            # output of the epoch was written before its commit
            return {"status": "skipped_replay", "epoch_id": epoch_id}

        from pyspark.sql import Observation

        # The invalid-row count rides the merge write as an Observation —
        # zero extra jobs/scans (the reference piggybacks its counters on
        # the consume loop the same way, A5).  The valid-lsn bounds are NOT
        # observed here: merge() derives them from parquet footer statistics,
        # so aggregating them per row would be dead work on the hot path.
        # key/order columns come from the TABLE's declared contract, not
        # hardcoded names — an applier over a table keyed/ordered differently
        # (custom key, order_col='seq') validates and dedups on its own
        # columns
        key = tuple(self.table.key)
        order = (self.table.order_col,)
        invalid = f"NOT coalesce({validity_sql(key_cols=key)}, false)"
        n_invalid = f"sum(CASE WHEN {invalid} THEN 1 ELSE 0 END) AS nq"
        # Unique observation name per invocation: a previously-registered
        # observation with the same name (e.g. an aborted strict-mode attempt
        # of the same epoch) would otherwise receive this run's metrics and
        # leave ours blocking forever in get().
        import uuid

        obs = Observation(f"cdc_batch_{epoch_id}_{uuid.uuid4().hex[:8]}")
        observed = batch.observe(obs, F.expr(n_invalid))
        valid, quarantined = split_valid(observed, key_cols=key)

        n_quarantined = 0

        def pre_commit(per_bucket: list) -> int:
            # merge() calls this after the main merge's write job and before
            # its commit: the epoch's quarantine rows and lineage file land
            # before the manifest records the epoch, and the count commits
            # with it
            nonlocal n_quarantined
            try:
                stats_row = obs.get
            except Exception:
                # degenerate (e.g. empty) batch: the observed metrics row
                # may be unavailable — fall back to a direct aggregate
                stats_row = batch.agg(F.expr(n_invalid)).first()
            n_q = int(stats_row["nq"] or 0)
            if self.quarantine_dir:
                # the dir exists once an epoch commits, so a clean run's
                # skipped-key set reads as 0 rows
                os.makedirs(self.quarantine_dir, exist_ok=True)
                if n_q:
                    (quarantined.selectExpr(
                        "*", f"CAST({int(epoch_id)} AS BIGINT) AS __epoch_id")
                     .write.mode("overwrite")
                     .parquet(f"{self.quarantine_dir}/{self._epoch_name(epoch_id)}"))
            self._write_lineage(epoch_id, per_bucket, n_q)
            n_quarantined = n_q
            return n_q

        if self.on_invalid == "error":
            # strict mode pays one extra (pushdown-pruned) job to abort
            # BEFORE anything is applied
            bad = batch.where(invalid).limit(1).count()
            if bad:
                raise MismatchError(
                    f"batch {epoch_id} contains invalid rows and on_invalid='error'"
                )

        # schema evolution BEFORE apply: v2 events may add columns/widen.
        # BOTH targets evolve — the ephemeral table would otherwise silently
        # drop new columns (merge projects onto its own target schema)
        batch_schema = T.StructType([f for f in batch.schema.fields
                                     if f.name not in ("op", "schema_version")])
        # retry-wrapped like every other manifest commit: an evolution commit
        # losing a race to a concurrent writer (out-of-band compaction, a
        # second writer-id pipeline) is retriable, not fatal
        self.retry.run(lambda: self.table.evolve_schema(batch_schema))
        if self.ephemeral_table is not None:
            self.retry.run(lambda: self.ephemeral_table.evolve_schema(batch_schema))

        # merge() owns the dedup and the cast to the target schema: it fuses
        # the in-batch last-wins into its bucket exchange.  The routing path
        # needs the winners (cast to the target schema the route predicate
        # is written against) materialized before the split; merging them
        # runs the same fused plan, and winners of winners are the winners.
        if self.route_sql is not None:
            # F3 dual-target routing: split winners by predicate; each
            # target computes its own touched buckets + cursor.  The winners
            # are materialized ONCE so both targets' merges (and any retry)
            # reuse them — without the persist, each merge would re-run the
            # source scan and the dedup shuffle.
            dedup = last_wins(valid, key=key, order=order)
            changes = dedup.selectExpr(
                *project_to(self.table.schema, dedup.columns), "`op`").persist()
            try:
                eph = changes.where(self.route_sql)
                perm = changes.where(f"NOT coalesce(({self.route_sql}), false)")
                self._merge_sink(self.ephemeral_table, eph, epoch_id)
                stats = self._merge_sink(self.table, perm, epoch_id, pre_commit)
            finally:
                changes.unpersist()
        else:
            stats = self._merge_sink(self.table, valid, epoch_id, pre_commit)
        stats.pop("per_bucket", None)
        stats["rows_quarantined"] = n_quarantined

        if stats["status"] == "committed" and self.compact_delta_files is not None:
            hot = sorted(
                b for b, n in self.table.delta_file_counts().items()
                if n >= self.compact_delta_files
            )
            if hot:
                self.retry.run(lambda: self.table.compact(buckets=hot))
                stats["compacted_buckets"] = hot
        return stats

    def _merge_sink(self, tbl: TranscriptTable, changes: DataFrame,
                    epoch_id: int, pre_commit=None) -> dict:
        """Retry-wrapped merge with a DEGRADE ladder: when the full-width
        write keeps failing retriably even after the backoff budget, retry
        at progressively lower write parallelism (half, quarter, ..., serial)
        before surfacing — the reference's adaptive fallback to fewer
        workers / serial tick processing on repeated batch error
        (status-service/sync/tick_processor.go:163).  Resource-pressure
        failures (executor OOM, too many concurrent writers on one store)
        often clear when the write narrows; semantic failures stay terminal
        at every width.  Each attempt is a fresh commit dir, so abandoned
        attempts are vacuum-collected orphans — never a partial commit."""
        def attempt(wp=None):
            return tbl.merge(changes, epoch_id=epoch_id,
                             writer_id=self.writer_id, write_parallelism=wp,
                             pre_commit=pre_commit)

        try:
            return self.retry.run(attempt)
        except Exception as exc:  # noqa: BLE001 — classified below
            if not self.retry.is_retriable(exc):
                raise
            last = exc
            # first rung: half the width of the write that just failed
            width = max(1, tbl.write_tasks() // 2)
            while True:
                try:
                    out = attempt(width)
                    out["degraded_write_parallelism"] = width
                    return out
                except Exception as exc2:  # noqa: BLE001
                    if not self.retry.is_retriable(exc2):
                        raise
                    last = exc2
                if width == 1:
                    break
                width = max(1, width // 2)
            raise last

    def _epoch_name(self, epoch_id: int) -> str:
        """The file name stem of one (writer, epoch)'s quarantine and lineage
        outputs: a redelivered epoch rewrites its own, and writers sharing a
        dir never touch each other's."""
        return f"epoch-{int(epoch_id):012d}-{quote(self.writer_id, safe='')}"

    def _write_lineage(self, epoch_id, per_bucket_rows, n_q):
        """Per-partition lineage manifest rows (FIXTURES.md §3) in the
        epoch's own JSON-lines file, written driver-side — ≤ n_buckets tiny
        rows per microbatch, so a Spark write job would be pure overhead.
        Read it with ``schemas.LINEAGE_SCHEMA``."""
        if not self.lineage_dir:
            return
        import json

        os.makedirs(self.lineage_dir, exist_ok=True)
        now = time.strftime("%Y-%m-%dT%H:%M:%S")
        if not per_bucket_rows:
            # a committed epoch that touched no bucket — every row
            # quarantined (the poisoned batch the /metrics quarantine gauge
            # exists for) or an entirely empty microbatch (idle source) —
            # must still appear in the lineage feed, or lineage_epochs
            # falls behind epoch_hwm and monitors alert on the divergence:
            # one sentinel row, partition_id = -1 ("no bucket")
            per_bucket_rows = [{"__bucket": -1, "lsn_from": None,
                                "lsn_to": None, "rows_upserted": 0,
                                "rows_deleted": 0}]
        with open(f"{self.lineage_dir}/{self._epoch_name(epoch_id)}.json", "w") as f:
            for r in per_bucket_rows:
                f.write(
                    json.dumps(
                        {
                            "epoch_id": int(epoch_id),
                            "partition_id": int(r["__bucket"]),
                            "lsn_from": r["lsn_from"],
                            "lsn_to": r["lsn_to"],
                            "rows_upserted": r["rows_upserted"],
                            "rows_deleted": r["rows_deleted"],
                            "rows_quarantined": int(n_q),
                            "committed_at": now,
                        }
                    )
                    + "\n"
                )


def committed_epoch_names(table: TranscriptTable, names) -> list[str]:
    """The names among ``names`` — ``ChangeApplier._epoch_name`` stems,
    ``epoch-<N>-<URL-quoted writer id>`` — whose (writer, epoch) the
    table's manifest marks committed.  An attempt that failed at its commit
    leaves its outputs under the same name until the epoch is redelivered;
    they belong to no committed epoch, so readers skip them.  One manifest
    read per writer id, no Spark job."""
    states: dict[str, tuple[int, list]] = {}
    out = []
    for name in names:
        _, epoch, writer = name.split("-", 2)
        if writer not in states:
            st = table.epoch_state(unquote(writer))
            states[writer] = (st["epoch_hwm"], st["epochs_recent"])
        hwm, recent = states[writer]
        if int(epoch) <= hwm or int(epoch) in recent:
            out.append(name)
    return out


def read_quarantine(table: TranscriptTable, path: str) -> DataFrame:
    """The quarantine dir at ``path`` read with a declared schema: the
    table's key and order columns (nullable — quarantined rows are the ones
    with a null key), ``op`` and ``__epoch_id`` (a BIGINT, as
    ``LINEAGE_SCHEMA.epoch_id``) as the writer writes them, from the subdirs
    of the (writer, epoch) pairs the manifest marks committed (see
    ``committed_epoch_names``), so the count equals the manifest's
    ``rows_quarantined_total``.  Declaring the schema skips the
    schema-inference job, and the empty dir of a clean run reads as 0
    rows."""
    by_name = {f.name: f for f in table.schema.fields}
    fields = [T.StructField(c, by_name[c].dataType, True)
              for c in (*table.key, table.order_col)]
    schema = T.StructType(fields + [
        T.StructField("op", T.StringType(), True),
        T.StructField("__epoch_id", T.LongType(), True),
    ])
    names = committed_epoch_names(
        table, sorted(n for n in os.listdir(path) if n.startswith("epoch-")))
    return table.spark.read.schema(schema).parquet(
        *(f"{path}/{n}" for n in names))


def replay_batch_range(
    applier: ChangeApplier,
    changelog: DataFrame,
    chunk_bounds: list[tuple[int, int]],
    epoch_offset: int = 0,
) -> list[dict]:
    """Batch-mode driver: replay the log one LSN-chunk at a time (the
    reference publisher's chunked processTickRange loop,
    transactions-producer/domain/processor.go:128-155)."""
    out = []
    for i, (lo, hi) in enumerate(chunk_bounds):
        batch = changelog.where(F.col("lsn").between(lo, hi))
        out.append(applier.apply_batch(batch, epoch_id=epoch_offset + i))
    return out

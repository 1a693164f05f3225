"""Manifest-committed, hash-bucketed, merge-on-read lake table — the MERGE target.

This is the Iceberg-fallback backend from SURVEY.md §7 (no Iceberg runtime jar
ships in this environment).  It reproduces the properties the engine needs
from a lake table, with the same commit discipline the reference gets from
"ES bulk index with deterministic doc IDs, then commit Kafka offsets"
(transactions-consumer/consume/transaction_consumer.go:134-150):

- **atomic snapshot commits**: data files are written first, then a JSON
  manifest is published by an atomic rename of the CURRENT pointer.  Readers
  resolve CURRENT → manifest → files; a crash mid-write leaves orphan data
  files that no manifest references.
- **O(batch) metadata per commit**: a commit manifest records only the
  file-list *delta* (``base_version`` + ``files_added``/``files_removed``);
  every ``_CHECKPOINT_INTERVAL``-th version is a self-contained checkpoint
  holding the full folded list (Delta Lake's JSON-actions-plus-checkpoint
  log, Iceberg's manifest-list-over-manifest-deltas).  Readers fold at most
  one checkpoint plus ≤ interval deltas and memoize per immutable version,
  so steady-state commit metadata is independent of live-file count — the
  same O(1)-per-commit property as the reference's pebble cursor write
  (status-service/db/store.go:144).
- **epoch replay guard (exactly-once-in-effect)**: every manifest records the
  committed foreachBatch epochs (as a contiguous high-watermark plus a small
  out-of-order recent set, so the manifest stays O(1) in stream length);
  `merge()` of an already-committed epoch is a no-op, so at-least-once
  redelivery of a microbatch cannot double-apply (the reference's idempotent
  doc-id upsert, D1 in SURVEY §2.3).
- **hash-bucket partitioning + MERGE-ON-READ deltas**: rows live in
  ``n_buckets`` directories by ``pmod(xxhash64(conv_id), n_buckets)``.  A
  merge writes only *delta* files (upsert rows + delete tombstones, batch-
  sized), never rewriting existing data; `snapshot()` folds base + deltas
  with a last-wins reduce on (order_col, commit_seq); `compact()` folds a
  bucket back to a single base file group.  This is Iceberg/Delta
  merge-on-read: commit cost is O(batch), not O(table) — the copy-on-write
  alternative rewrites every touched bucket per microbatch, which at CDC
  batch sizes means rewriting the whole table every commit.
- **LSN-guarded upsert semantics** (D5 generalized): the fold orders by
  (order_col, commit_seq), so a stale change (order value below the row
  already in the table) loses, and an equal-order change from a later commit
  wins — exactly `WHEN MATCHED AND s.lsn >= t.lsn THEN UPDATE/DELETE`.
  Delete tombstones persist in delta files until compaction, so a
  cross-batch "delete, then replayed older update" cannot resurrect the row
  (the copy-on-write caveat of round 1 is gone).
- **schema evolution**: the manifest carries a schema id per file group;
  `evolve_schema()` widens/extends the current schema (new columns,
  value-preserving type promotions only, matching Iceberg's rules) without
  rewriting old files — readers cast old file groups up to the current
  schema at scan time (exactly Iceberg's schema-id-per-data-file).

Scale notes: a commit writes O(batch-files) manifest JSON (plus one
amortized O(live-files) checkpoint every interval) and O(1) epoch state; all
data movement is executor-side.  The driver only lists/renames manifest
JSON — the same metadata-plane work an Iceberg catalog commit does.
Commit mutual exclusion uses ``flock`` and therefore assumes the table root
is on a LOCAL POSIX filesystem (see `_write_manifest`); pointing multiple
hosts at a network mount needs an external lock service or the Iceberg
catalog backend.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..sqltext import ident, project_to, string_literal


def bucket_sql(conv_col: str, n_buckets: int) -> str:
    """The table's partition transform, bucket(n, conv_id) Iceberg-style, as
    SQL text."""
    return f"CAST(pmod(xxhash64({ident(conv_col)}), {int(n_buckets)}) AS INT)"


def bucket_expr(conv_col: str, n_buckets: int):
    """``bucket_sql`` as a Column."""
    return F.expr(bucket_sql(conv_col, n_buckets))


# --- balanced write partitioning -------------------------------------------
#
# ``repartition(n, "__bucket")`` hashes the ~n distinct bucket ids into n
# partitions, so birthday collisions leave ~1/e of the write tasks EMPTY and
# hand others 2-3 buckets (guide §2.5 "synthetic partitioning keys with too
# few distinct values") — a built-in 2-3× straggler on every commit's write
# stage, and the root cause that sank the r7 merge-fusion experiment (see the
# NOTE in merge()).  Since the layout only requires that all rows of one
# bucket land in ONE task (any deterministic function of __bucket does), we
# repartition on a PREIMAGE key instead: j(b) chosen so that Spark's shuffle
# hash sends bucket b exactly to partition b % n — perfect round-robin, one
# bucket per task when n == n_buckets.  Pure placement device: file contents,
# one-file-per-bucket layout and lineage are byte-identical.

_MMH3_SEED = 42  # Spark's HashPartitioning seed
_PKEY_CACHE: dict[int, list[int]] = {}


def _mmh3_hash_int(x: int, seed: int = _MMH3_SEED) -> int:
    """Murmur3_x86_32 of one 4-byte int block — byte-for-byte the hash
    HashPartitioning applies to an IntegerType repartition column (same as
    ``F.hash`` on an int).  Pinned against F.hash in
    tests/test_balanced_write.py; a mismatch would only cost balance, never
    correctness (placement is still a pure function of __bucket)."""
    m = 0xFFFFFFFF
    k = (x & m) * 0xCC9E2D51 & m
    k = ((k << 15) | (k >> 17)) & m
    k = k * 0x1B873593 & m
    h = (seed ^ k) & m
    h = ((h << 13) | (h >> 19)) & m
    h = (h * 5 + 0xE6546B64) & m
    h ^= 4  # total byte length
    h ^= h >> 16
    h = h * 0x85EBCA6B & m
    h ^= h >> 13
    h = h * 0xC2B2AE35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _balanced_pkeys(n_parts: int) -> list[int]:
    """First int j per residue p with hash(j) ≡ p (mod n_parts); memoized.
    Coupon-collector search, ~n·ln n probes (≈1.5k for 256 parts, once),
    capped at 64·n probes: a residue still without a preimage then maps to
    itself, so placement stays a pure function of __bucket and only the
    balance of that residue is lost."""
    got = _PKEY_CACHE.get(n_parts)
    if got is None:
        found: dict[int, int] = {}
        for j in range(64 * n_parts):
            found.setdefault(_mmh3_hash_int(j) % n_parts, j)
            if len(found) == n_parts:
                break
        got = [found.get(p, p) for p in range(n_parts)]
        _PKEY_CACHE[n_parts] = got
    return got


def balanced_write_pkey(bucket_col: str, n_parts: int) -> str:
    """SQL text of j(bucket_col), whose shuffle hash places bucket b in
    partition b % n_parts — exact round-robin over the write tasks."""
    arr = ", ".join(str(j) for j in _balanced_pkeys(n_parts))
    return (f"element_at(array({arr}), "
            f"CAST(pmod({ident(bucket_col)}, {int(n_parts)}) AS INT) + 1)")


def _footer_stats(path: str, order_col: str, del_col: str | None = None):
    """(num_rows, min(order_col), max(order_col), n_deletes) from the parquet
    footer — no data pages read.  Order-col stats fall back to (None, None)
    when column statistics are absent.

    ``del_col`` names the delete-marker column the merge writes (1 for
    tombstones, NULL otherwise): per-row-group null counts then give the
    exact upsert/delete split from the same footer read — this is what lets
    a commit write ONE file per touched bucket instead of a
    partitionBy-(bucket, is-delete) pair while keeping exact per-op lineage
    counters.  n_deletes is 0 when ``del_col`` is absent from the file's
    schema entirely, and None only when the column EXISTS but a row group
    lacks a null count — the one case where the caller's fallback column
    scan is both needed and guaranteed not to raise.

    Scope caveat: absent-column-means-zero only holds for MERGE-written
    delta files, which always carry the marker column.  compact()-written
    base files drop ``del_col`` yet RETAIN op='D' tombstone rows — a caller
    wanting the delete split of a base file must count op='D' instead of
    trusting this 0 (today's callers — the merge commit and bench.py's
    driver-phase re-measure — read fresh delta commits, where it holds)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = md.schema.names
    n_del = None
    if del_col is not None and del_col not in names:
        n_del = 0
    if del_col is not None and del_col in names:
        didx = names.index(del_col)
        non_null = 0
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(didx).statistics
            if st is None or st.null_count is None:
                ok = False
                break
            non_null += md.row_group(rg).num_rows - st.null_count
        if ok:
            n_del = non_null
    try:
        idx = names.index(order_col)
    except ValueError:
        return md.num_rows, None, None, n_del
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return md.num_rows, None, None, n_del
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return md.num_rows, lo, hi, n_del


def _split_snapshot_files(files: list) -> tuple[list, list]:
    """Split a snapshot's live files into (fold_files, clean_files).

    A bucket needs the last-wins fold iff it holds at least one delta file:
    base files are only ever produced by ``compact()``, whose per-bucket
    fold guarantees one winner row per key, so an all-base bucket is
    read-ready as-is.  Extra guard: an all-base bucket with MORE than one
    live base file (never produced by the current writer, but a manifest a
    foreign tool edited could hold one) cannot rely on that invariant and
    is routed through the fold too."""
    dirty = {f["bucket"] for f in files if f.get("kind", "base") == "delta"}
    base_counts: dict[int, int] = {}
    for f in files:
        if f.get("kind", "base") != "delta":
            base_counts[f["bucket"]] = base_counts.get(f["bucket"], 0) + 1
    dirty |= {b for b, c in base_counts.items() if c > 1}
    fold = [f for f in files if f["bucket"] in dirty]
    clean = [f for f in files if f["bucket"] not in dirty]
    return fold, clean


# epoch ids are expected contiguous per writer; a permanent gap would grow
# the recent set with every commit, so the fold fails loud long before the
# metadata bloats
MAX_EPOCHS_RECENT = 100_000


def fold_epoch_state(hwm: int, recent: set, epoch_id: int,
                     writer_id: str = "default") -> tuple[int, set]:
    """Fold a newly-committed epoch into a writer's bounded (hwm, recent)
    replay-guard state: collapse the contiguous prefix into the high
    watermark and enforce the permanent-gap bound.  ONE implementation
    shared by the mini-lake commit and the Iceberg property update, so the
    two backends cannot diverge."""
    hwm = int(hwm)
    recent = set(recent) | {int(epoch_id)}
    while hwm + 1 in recent:
        hwm += 1
        recent.discard(hwm)
    if len(recent) > MAX_EPOCHS_RECENT:
        raise RuntimeError(
            f"writer {writer_id!r} has {len(recent)} committed epochs "
            f"above its high watermark {hwm} — the epoch id space has a "
            f"permanent gap; epoch ids must be contiguous per writer"
        )
    return hwm, recent


class RetentionLostError(ValueError):
    """The requested history is gone: a change window reaches behind a
    compaction that folded its deltas away, or a time-travel version was
    expired by vacuum.  Subclasses ValueError so existing broad handlers
    keep working; consumers that need to distinguish retention loss (the
    tailer's re-seed path) catch this type instead of matching message
    text."""


class OverlapConflictError(ValueError):
    """D5 conflict branch: a batch interval overlaps a stored interval with a
    different lower bound (reference: tick-intervals-consumer/consume/
    intervals_processor.go:124-137, overlap probe elastic/client.go:55-95)."""


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the manifest version this commit targeted —
    the optimistic-concurrency loser (Iceberg's CommitFailedException).  The
    losing attempt's data files are unreferenced orphans (vacuum collects
    them); callers re-run the whole merge/compact against the fresh manifest.
    Deliberately a RuntimeError so the applier's RetryPolicy classifies it
    retriable: merge() re-reads the manifest per attempt, so a retried merge
    targets the next free version and self-heals.  NOT a subclass of
    ValueError — a lost race is transient."""


# Value-preserving promotions only (Iceberg schema-evolution rules): the int
# family widens upward to long, float widens to double.  Lossy "widenings"
# (long→float/double would corrupt values above 2^53/2^24) are rejected.
_INT_ORDER = [T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()]
_FLOAT_ORDER = [T.FloatType(), T.DoubleType()]


def _widen(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """Least common widened type for schema evolution, or None if incompatible."""
    if a == b:
        return a
    if a in _INT_ORDER and b in _INT_ORDER:
        return max(a, b, key=_INT_ORDER.index)
    if a in _FLOAT_ORDER and b in _FLOAT_ORDER:
        return max(a, b, key=_FLOAT_ORDER.index)
    return None


class TranscriptTable:
    """The partitioned MERGE target with atomic manifest commits."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16,
                 schema: T.StructType | None = None, key=schemas.TRANSCRIPT_KEY,
                 order_col: str = "lsn",
                 overlap_guard: tuple[str, str] | None = None):
        """``order_col`` is the per-key version authority the merge-on-read
        fold orders by (the reference's tick/LSN monotonicity).
        ``overlap_guard=(lo_col, hi_col)`` arms the D5 conflict branch: a
        merge whose interval overlaps a stored interval under the same
        ``key[0]`` with a different ``lo_col`` raises OverlapConflictError."""
        self.spark = spark
        self.root = root.rstrip("/")
        self.n_buckets = n_buckets
        self.key = list(key)
        self.order_col = order_col
        self.overlap_guard = overlap_guard
        # folded file lists per (immutable) manifest version — see _resolve_files
        self._files_cache: dict[int, list] = {}
        import threading as _threading

        self._files_cache_lock = _threading.RLock()
        os.makedirs(f"{self.root}/data", exist_ok=True)
        os.makedirs(f"{self.root}/_manifests", exist_ok=True)
        if self._current_version() is None:
            init_schema = schema or schemas.TRANSCRIPT_SCHEMA
            try:
                self._write_manifest(
                    version=0,
                    manifest={
                        "version": 0,
                        "schemas": {"0": init_schema.json()},
                        "current_schema_id": 0,
                        # file groups: {path, bucket, schema_id, kind:
                        # base|delta, seq: committing manifest version}.
                        # v0 is a checkpoint manifest (full list); later
                        # versions usually carry only base_version +
                        # files_added/files_removed deltas (see manifest()).
                        "files": [],
                        "n_live_files": 0,
                        # bounded epoch state: all epochs <= hwm are
                        # committed, plus a small set of committed epochs
                        # above the hwm
                        "epoch_hwm": -1,
                        "epochs_recent": [],
                        "cursor_lsn": -1,
                        "n_buckets": n_buckets,
                        "key": self.key,
                        "order_col": order_col,
                        "overlap_guard": list(overlap_guard) if overlap_guard else None,
                        "committed_at": time.time(),
                    },
                )
            except ConcurrentCommitError:
                pass  # a racing initializer won — adopt its manifest below
        # The manifest is the authority for the physical layout AND the merge
        # semantics — constructor args (often defaults from a different CLI
        # invocation) must not silently re-bucket new writes under a
        # different modulus, re-key the fold, or disarm the D5 overlap guard.
        m = self.manifest()
        self.n_buckets = int(m.get("n_buckets", n_buckets))
        self.key = list(m.get("key", self.key))
        self.order_col = str(m.get("order_col", order_col))
        og = m.get("overlap_guard")
        if og:
            self.overlap_guard = (og[0], og[1])

    # ---------------- manifest plumbing ----------------

    def _current_path(self) -> str:
        return f"{self.root}/_manifests/CURRENT"

    def _current_version(self) -> int | None:
        try:
            with open(self._current_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _manifest_path(self, version: int) -> str:
        return f"{self.root}/_manifests/manifest-{version:012d}.json"

    # Every _CHECKPOINT_INTERVAL-th version is a self-contained checkpoint
    # (full folded file list); versions in between carry only the per-commit
    # file-list delta.  Bounds both the fold depth on read and the retention
    # scope of vacuum's squash step.
    _CHECKPOINT_INTERVAL = 20

    def _retained_versions(self) -> list[int]:
        """COMMITTED versions on disk: manifest files at or below CURRENT.
        A file above CURRENT is a crashed writer's unpointed leftover (its
        content may be arbitrary garbage — the commit died mid-write);
        `_write_manifest` reclaims the slot, so readers, history() and
        vacuum() must never parse it as a snapshot."""
        cur = self._current_version()
        if cur is None:
            return []
        return sorted(
            v for n in os.listdir(f"{self.root}/_manifests")
            if n.startswith("manifest-")
            and (v := int(n.split("-")[1].split(".")[0])) <= cur
        )

    def _load_raw(self, version: int) -> dict:
        """The manifest JSON exactly as committed — a checkpoint (has
        ``files``) or a delta (has ``base_version`` + ``files_added`` /
        ``files_removed``).  A version expired by vacuum raises a clear
        retention error instead of a raw FileNotFoundError, and a version
        ABOVE CURRENT is refused even if a file exists there — that file is
        a crashed writer's unpointed leftover (possibly garbage, and its
        slot will be reclaimed by a later commit), never a snapshot."""
        cur = self._current_version()
        if cur is None or int(version) > cur:
            raise ValueError(
                f"version {version} is not a committed snapshot "
                f"(CURRENT is {cur})"
            )
        try:
            with open(self._manifest_path(version)) as f:
                return json.load(f)
        except FileNotFoundError:
            retained = self._retained_versions()
            oldest = retained[0] if retained else None
            raise RetentionLostError(
                f"version {version} is not retained (removed by vacuum); "
                f"oldest retained version is {oldest}"
            ) from None

    def _raw_current(self) -> dict:
        """Raw CURRENT manifest — the O(1)-in-live-files fast path for the
        per-microbatch scalar reads (no file-list fold).  One place owns the
        missing-CURRENT edge."""
        cur = self._current_version()
        if cur is None:
            raise ValueError(f"table at {self.root} has no committed manifest")
        with open(self._manifest_path(cur)) as f:
            return json.load(f)

    def _resolve_files(self, version: int, raw: dict | None = None) -> list:
        """Fold the delta chain into the version's full live-file list.
        Walks back to the nearest checkpoint OR nearest cached version (the
        common case after a commit: one delta on top of the cached parent),
        then replays removals/additions forward.  Memoized per version —
        manifests are immutable once published.

        The memo dict is mutated under a lock: concurrent readers (the
        threaded serving endpoint, a tailer polling while a report runs)
        would otherwise race the insert + eviction loop mid-iteration."""
        with self._files_cache_lock:
            cached = self._files_cache.get(version)
            if cached is not None:
                return list(cached)
            m = raw if raw is not None else self._load_raw(version)
            chain: list[dict] = []
            files: list | None = None
            while "files" not in m:
                base = self._files_cache.get(int(m["base_version"]))
                if base is not None:
                    files = list(base)
                    chain.append(m)
                    break
                chain.append(m)
                m = self._load_raw(int(m["base_version"]))
            if files is None:
                files = list(m["files"])
            for d in reversed(chain):
                removed = set(d.get("files_removed", ()))
                if removed:
                    files = [f for f in files if f["path"] not in removed]
                files = files + list(d.get("files_added", ()))
            self._files_cache[version] = files
            while len(self._files_cache) > 8:
                self._files_cache.pop(min(self._files_cache))
            return list(files)

    def manifest(self, version: int | None = None) -> dict:
        """The committed manifest at ``version`` (default: CURRENT), with the
        file-list delta chain folded so ``m["files"]`` is always the full
        live set regardless of the on-disk representation."""
        v = self._current_version() if version is None else int(version)
        m = dict(self._load_raw(v))
        m["files"] = self._resolve_files(v, m)
        m.pop("base_version", None)
        m.pop("files_added", None)
        m.pop("files_removed", None)
        return m

    def _file_fields(self, m: dict, files_added, files_removed, version: int) -> dict:
        """The file-list portion of the next manifest: a full checkpoint every
        interval (amortized O(live/interval) per commit), a delta otherwise
        (O(batch-files))."""
        if version % self._CHECKPOINT_INTERVAL == 0:
            removed = set(files_removed)
            files = [f for f in m["files"] if f["path"] not in removed]
            return {"files": files + list(files_added)}
        return {"base_version": int(m["version"]),
                "files_added": list(files_added),
                "files_removed": list(files_removed)}

    def _publish(self, m: dict, files_added=(), files_removed=(),
                 extra: dict | None = None) -> dict:
        """Build and commit version ``m["version"]+1`` from the folded
        manifest ``m`` plus a file-list delta and any metadata updates.
        Metadata written per commit is O(files_added + files_removed), not
        O(live files), except at checkpoint versions."""
        v = int(m["version"]) + 1
        update = {k: val for k, val in m.items()
                  if k not in ("files", "base_version", "files_added", "files_removed")}
        update.update(self._file_fields(m, files_added, files_removed, v))
        update["version"] = v
        update["committed_at"] = time.time()
        update["n_live_files"] = (
            int(m.get("n_live_files", len(m["files"])))
            - len(set(files_removed)) + len(list(files_added))
        )
        if extra:
            update.update(extra)
        self._write_manifest(v, update)
        return update

    def history(self) -> list[dict]:
        """All committed snapshot versions (time travel index): one dict per
        manifest with version, epoch watermark, cursor, live-file count.
        Iceberg-style snapshot log — retained versions stay readable with
        ``snapshot(version=...)``.  Cheap: reads each manifest JSON once, and
        all non-checkpoint manifests are O(commit-delta) small; ``n_files``
        comes from the running ``n_live_files`` counter, no folding.

        Vacuum interaction: ``vacuum(keep_versions=k)`` removes manifests
        below the keep floor (squashing each survivor's delta chain onto a
        retained base), so history() shrinks to the kept suffix — a version
        listed here is guaranteed readable, and one vacuumed away raises the
        documented retention error from ``_load_raw``/``snapshot``."""
        out = []
        for v in self._retained_versions():
            m = self._load_raw(v)
            out.append(
                {"version": m["version"], "cursor_lsn": m["cursor_lsn"],
                 "n_files": int(m.get("n_live_files", len(m.get("files", ())))),
                 "epoch_hwm": m["epoch_hwm"],
                 "epochs_recent": m["epochs_recent"],
                 "committed_at": m.get("committed_at"),
                 "kind": "checkpoint" if "files" in m else "delta"}
            )
        return out

    def _write_manifest(self, version: int, manifest: dict) -> None:
        """Write manifest file, then atomically swing the CURRENT pointer —
        the whole publish under an exclusive flock on COMMIT_LOCK, so the
        version check, manifest write, and CURRENT swap form ONE critical
        section.  Properties:

        - two optimistic writers that both read v-1 serialize here; the
          loser sees CURRENT already >= its target and raises retriable
          ConcurrentCommitError (Iceberg's CommitFailedException shape) —
          never a silent last-write-wins;
        - a STALLED writer (GC pause, VM suspend) holds the lock and merely
          blocks peers — it can never interleave a late CURRENT swap that
          rolls back someone else's commit;
        - a CRASHED writer's flock auto-releases with its process, and a
          leftover unpointed manifest file can then only be a crashed
          writer's (the lock excludes live mid-commit writers) — reclaimed
          immediately, no grace-window guessing.

        The lock file protects the metadata plane only (one small JSON write
        + rename per commit) — data-file writes stay fully parallel.

        SCOPE: ``flock`` guarantees mutual exclusion only on a LOCAL POSIX
        filesystem.  On NFS/FUSE mounts it may silently be advisory-per-host
        or a no-op, reverting concurrent cross-host commits to
        last-write-wins.  Single-host (many processes) use is safe anywhere
        flock works; multi-host deployments need a shared lock service or
        the Iceberg catalog backend (`lake.iceberg`), whose catalog provides
        the atomic compare-and-swap instead."""
        from ..ioutil import atomic_write_json, atomic_write_text, locked

        with locked(f"{self.root}/_manifests/COMMIT_LOCK"):
            cur = self._current_version()
            if cur is not None and cur >= version:
                raise ConcurrentCommitError(
                    f"manifest version {version} was committed by a "
                    f"concurrent writer (CURRENT is now {cur})"
                )
            # overwrites any crashed writer's unpointed leftover in the slot
            atomic_write_json(self._manifest_path(version), manifest)
            # atomic publish (the fsync'd cursor write of the reference,
            # status-service/db/store.go:144)
            atomic_write_text(self._current_path(), str(version))

    # ---------------- schema ----------------

    @property
    def schema(self) -> T.StructType:
        m = self.manifest()
        return T.StructType.fromJson(json.loads(m["schemas"][str(m["current_schema_id"])]))

    def evolve_schema(self, batch_schema: T.StructType) -> bool:
        """Diff batch schema vs table schema; add columns / widen types.

        Returns True if the table schema changed.  Reference analogue: the
        archiverv1/v2 dual wire schemas mapped into one domain schema
        (status-service/main.go:157-163).  Incompatible changes raise; type
        changes to key columns are always rejected (a widened key would
        re-hash rows into different buckets).
        """
        cur = self.schema
        cur_by_name = {f.name: f for f in cur.fields}
        out = list(cur.fields)
        changed = False
        for f in batch_schema.fields:
            if f.name not in cur_by_name:
                out.append(T.StructField(f.name, f.dataType, True))
                changed = True
            else:
                w = _widen(cur_by_name[f.name].dataType, f.dataType)
                if w is None:
                    raise ValueError(
                        f"incompatible schema change for column {f.name}: "
                        f"{cur_by_name[f.name].dataType} vs {f.dataType}"
                    )
                if w != cur_by_name[f.name].dataType:
                    if f.name in self.key:
                        raise ValueError(
                            f"type change on key column {f.name} is not allowed"
                        )
                    i = next(i for i, g in enumerate(out) if g.name == f.name)
                    out[i] = T.StructField(f.name, w, True)
                    changed = True
        if not changed:
            return False
        m = self.manifest()
        new_id = int(m["current_schema_id"]) + 1
        m["schemas"][str(new_id)] = T.StructType(out).json()
        m["current_schema_id"] = new_id
        self._publish(m)  # metadata-only commit: no file-list change
        return True

    # ---------------- reads ----------------

    def version_as_of(self, ts: float) -> int:
        """Timestamp time travel: the newest committed version whose commit
        time is <= ``ts`` (unix seconds) — Iceberg's snapshot-as-of-time
        resolution over the retained manifest log."""
        best = None
        for h in self.history():
            c = h.get("committed_at")
            if c is not None and float(c) <= float(ts):
                best = h["version"] if best is None else max(best, h["version"])
        if best is None:
            raise ValueError(f"no snapshot committed at or before {ts}")
        return best

    def snapshot(self, buckets: list[int] | None = None,
                 version: int | None = None,
                 as_of: float | None = None,
                 keep_tombstones: bool = False) -> DataFrame:
        """Committed state (optionally pruned to a bucket subset), at the
        current version, any past version, or the version live at unix
        time ``as_of`` (time travel by version or by timestamp).
        ``keep_tombstones=True`` returns the fold *winners* including delete
        tombstones with an ``op`` column — what compaction rewrites, so late
        out-of-order changes below a tombstone's order value still lose
        after the deltas are folded away.

        Merge-on-read: base file groups and delta file groups are unioned and
        folded with one last-wins reduce on (order_col, commit_seq) — a
        map-side-partial hash aggregate, so hot keys are reduced before the
        shuffle.  The fold covers ONLY buckets that hold delta files; buckets
        that are fully compacted bypass it as a plain pruned-and-cast scan
        on a Union branch (shuffle is O(dirty buckets), not O(table)), and
        when NO selected bucket holds deltas the plan is a plain scan with
        no aggregate at all.

        File groups are read per (schema_id, seq) and cast up to the
        version's current schema — the scan-time cast Iceberg does for old
        data files.
        """
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version or as_of, not both")
            version = self.version_as_of(as_of)
        m = self.manifest(version)
        target = T.StructType.fromJson(
            json.loads(m["schemas"][str(m["current_schema_id"])])
        )
        out_cols = [ident(f.name) for f in target.fields]
        files = m["files"]
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        empty_schema = target if not keep_tombstones else T.StructType(
            target.fields + [T.StructField("op", T.StringType(), True)]
        )
        if not files:
            return self.spark.createDataFrame([], empty_schema)
        # The last-wins fold is a hash-aggregate SHUFFLE of everything it
        # reads, so it covers ONLY the buckets that actually hold delta
        # files.  A bucket whose live files are all compacted bases already
        # holds exactly one winner row per key (compact() folded it), so it
        # bypasses the aggregate as a plain pruned scan — a mostly-compacted
        # table pays shuffle for its dirty buckets, not O(table).  At 100 TB
        # with a hot-partition write pattern this is the difference between
        # re-shuffling the whole table per read and re-shuffling the working
        # set (see _split_snapshot_files; plan pinned in test_plan_shapes).
        fold_files, clean_files = _split_snapshot_files(files)

        def read_group(subset: list, with_seq: bool) -> DataFrame:
            # Every data file carries (op, __seq) as data columns, so files
            # group by SCHEMA ID only — the union stays O(live schemas) wide
            # no matter how many commits are live (a per-commit read group
            # would grow the driver plan without bound between compactions).
            groups: dict[int, list[str]] = {}
            for f in subset:
                groups.setdefault(int(f["schema_id"]), []).append(f["path"])
            parts = []
            for _sid, paths in groups.items():
                df = self.spark.read.parquet(*paths)
                have = df.columns
                cols = project_to(target, have)
                cols.append("`op`" if "op" in have else "'U' AS `op`")
                if with_seq:
                    cols.append("`__seq`" if "__seq" in have
                                else "CAST(0 AS BIGINT) AS `__seq`")
                parts.append(df.selectExpr(*cols))
            grouped = parts[0]
            for p in parts[1:]:
                grouped = grouped.unionByName(p)
            return grouped

        folded = None
        if fold_files:
            from ..operators.dedup import last_wins

            folded = last_wins(read_group(fold_files, with_seq=True),
                               key=self.key, order=(self.order_col, "__seq"))
            folded = folded.drop("__seq")
        clean = read_group(clean_files, with_seq=False) if clean_files else None
        if folded is not None and clean is not None:
            out = folded.unionByName(clean)
        else:
            out = folded if folded is not None else clean
        # base files retain delete tombstones as op='D' rows (so a compacted
        # table still beats late, lower-order changes); the reader filters
        # them here, at the very end of the fold
        if keep_tombstones:
            return out.selectExpr(*out_cols, "`op`")
        return out.where("`op` != 'D'").selectExpr(*out_cols)

    _BUCKET_MEMO_MAX = 4096

    def bucket_of(self, key_value) -> int:
        """The bucket the partition transform assigns ``key_value`` — the
        SAME expression the writer buckets with (``bucket_expr``), evaluated
        on a 1-row frame so a Python re-implementation of xxhash64 can never
        drift from the JVM's.  The mapping is pure and ``n_buckets`` is
        fixed at construction, so results are memoized (bounded) — under
        point-lookup traffic the probe job runs once per DISTINCT key, not
        per request."""
        # thread-safety (the /row route serves from a ThreadingHTTPServer):
        # single GIL-atomic dict reads/writes only, and the return value is
        # a LOCAL — never re-read after a point where another thread's
        # capacity clear() could have emptied the dict
        memo = getattr(self, "_bucket_memo", None)
        if memo is None:
            memo = self._bucket_memo = {}
        cached = memo.get(key_value)
        if cached is not None:
            return cached
        row = self.spark.createDataFrame(
            [(key_value,)], T.StructType([self.schema[self.key[0]]])
        ).selectExpr(f"{bucket_sql(self.key[0], self.n_buckets)} AS b").first()
        b = int(row["b"])
        if len(memo) >= self._BUCKET_MEMO_MAX:
            memo.clear()
        memo[key_value] = b
        return b

    def lookup(self, key_value, second=None, version: int | None = None) -> DataFrame:
        """S2/S3 point lookup served from the table: all committed rows for
        one primary-key value (the reference's per-tick transactions scan,
        transactions-producer/external/archiver/client.go:33-45), or the
        single row when ``second`` pins the rest of the compound key (the
        one-row TickData read, tick-data-publisher/archiver/client.go:57-77).

        Scale shape: the key hashes to exactly one bucket, so the read is
        ``snapshot(buckets=[b])`` — O(one bucket's files), never a table
        scan — and Catalyst pushes the key equality into that pruned scan
        (visible as PushedFilters).  On a compacted bucket this is a plain
        one-file predicate-pushdown read; on a dirty bucket the merge-on-
        read fold covers just that bucket."""
        b = self.bucket_of(key_value)
        out = self.snapshot(buckets=[b], version=version).where(
            F.col(self.key[0]) == F.lit(key_value)
        )
        if second is not None:
            if len(self.key) < 2:
                raise ValueError("second= given but the table key is single-column")
            out = out.where(F.col(self.key[1]) == F.lit(second))
        return out

    @staticmethod
    def _writer_state(m: dict, writer_id: str) -> tuple[int, set]:
        """(hwm, recent) for one writer.  The legacy top-level fields ARE the
        'default' writer's state; named writers live under ``writers`` — the
        Delta/Iceberg txnAppId pattern, so a fresh checkpoint (new writer id)
        or a second pipeline never has its epochs mistaken for replays of
        another writer's."""
        if writer_id == "default":
            return int(m["epoch_hwm"]), set(m["epochs_recent"])
        w = m.get("writers", {}).get(writer_id)
        if w is None:
            return -1, set()
        return int(w["epoch_hwm"]), set(w["epochs_recent"])

    # the epoch/cursor fast-path reads load the raw CURRENT manifest only —
    # no file-list fold; these run once per microbatch and must stay O(1)
    # in live-file count

    def is_epoch_committed(self, epoch_id: int, writer_id: str = "default") -> bool:
        hwm, recent = self._writer_state(self._raw_current(), writer_id)
        e = int(epoch_id)
        return e <= hwm or e in recent

    def epoch_state(self, writer_id: str = "default") -> dict:
        hwm, recent = self._writer_state(self._raw_current(), writer_id)
        return {"epoch_hwm": hwm, "epochs_recent": sorted(recent)}

    def cursor_lsn(self) -> int:
        return int(self._raw_current()["cursor_lsn"])

    # ---------------- MERGE (merge-on-read delta commit) ----------------

    def merge(
        self,
        changes: DataFrame,
        epoch_id: int,
        batch_max_lsn: int | None = None,
        order_col: str | None = None,
        deduped: bool = False,
        writer_id: str = "default",
        write_parallelism: int | None = None,
    ) -> dict:
        """Idempotent, LSN-guarded MERGE of one change batch.

        ``changes`` carries the target columns plus an ``op`` column (I/U/D);
        ``self.order_col`` is the per-key version authority.  Equivalent SQL
        (the reference's conditional widen-or-ignore upsert, D5 —
        tick-intervals-consumer/consume/intervals_processor.go:124-137 —
        generalized to LSN monotonicity):

            MERGE INTO target t USING batch s ON t.conv_id = s.conv_id
                                            AND t.turn_idx = s.turn_idx
            WHEN MATCHED AND s.lsn >= t.lsn AND s.op = 'D' THEN DELETE
            WHEN MATCHED AND s.lsn >= t.lsn THEN UPDATE SET *
            WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *

        Physical strategy — merge-on-read: the batch winners (incl. delete
        tombstones) are cast to the target schema, bucketed, and written as
        *delta* files; no existing file is read or rewritten, so commit cost
        is O(batch) regardless of table size.  The MERGE conditions are
        enforced by `snapshot()`'s fold ordering (order_col, commit_seq):
        stale changes lose to the stored row, equal-order changes from a
        later commit win — so re-applying any previously-applied batch, even
        under a fresh epoch id, is a no-op in effect.

        One Spark job: the delta write.  Per-bucket lineage counters
        (touched buckets, upsert/delete counts, order-col bounds) come from
        the written files' parquet footers, read driver-side.

        This method owns the dedup shape.  ``deduped=False`` (the default)
        folds the in-batch last-wins into the bucket exchange: one shuffle
        per microbatch.  Only an overlap-guarded table dedups first (the
        guard needs the winners before the write).  ``deduped=True`` skips
        the dedup (the caller — the salted or routed ChangeApplier — already
        reduced the batch to one winner per key).

        Every step of the plan is SQL text (see ``sqltext``): building it
        costs the driver about a hundred py4j round trips, not one per
        Column node, and Catalyst sees the same expressions.

        ``batch_max_lsn`` overrides the cursor advance; by default the cursor
        advances to the batch's max order value.
        ``write_parallelism`` caps the delta write's concurrent tasks (still
        one output file pair per bucket via partitionBy) — the applier's
        degrade-on-persistent-failure ladder lowers it toward serial when
        full-width writes keep failing (the reference's adaptive worker
        fallback, status-service/sync/tick_processor.go:163).
        """
        m = self.manifest()
        hwm0, recent0 = self._writer_state(m, writer_id)
        if int(epoch_id) <= hwm0 or int(epoch_id) in recent0:
            return {"status": "skipped_replay", "epoch_id": epoch_id}
        if order_col is not None and order_col != self.order_col:
            raise ValueError(
                f"merge order_col {order_col!r} != table order_col "
                f"{self.order_col!r} (set order_col at table construction)"
            )
        target_schema = self.schema

        # Defensive cast to the target schema BEFORE bucketing: xxhash64 of an
        # int differs from xxhash64 of a long, so bucketing pre-cast rows
        # would scatter them into buckets the manifest doesn't associate with
        # the key (silent loss for numeric-keyed tables).
        changes = changes.selectExpr(
            *project_to(target_schema, changes.columns), "`op`")
        # r7: when this merge owns the dedup, FUSE the in-batch last-wins
        # into the (balanced) bucket shuffle — one exchange per microbatch
        # instead of two.  A first fusion attempt over the raw bucket hash
        # lost the chunk-replay A/B 2-3× to bucket-hash collision skew (~1/e
        # of the tasks empty, others holding 2-3 buckets); with the balanced
        # pkey placement (one bucket per task, see balanced_write_pkey) the
        # same fusion wins every interleaved rep of the headline 4×1M replay
        # by 15-25% (plans/r07/fused_ab_run{1,2}.json; full-row snapshot
        # equality verified on both runs).  The overlap guard needs
        # the winners BEFORE the write job, so it keeps the standalone dedup.
        fuse_dedup = not deduped and self.overlap_guard is None
        if not deduped and not fuse_dedup:
            from ..operators.dedup import last_wins

            changes = last_wins(changes, key=self.key, order=(self.order_col,))

        if self.overlap_guard is not None:
            self._check_overlap(changes)

        seq = m["version"] + 1
        # fail fast on null merge keys, inside the write job (zero extra
        # jobs): a null key would land in a __HIVE_DEFAULT_PARTITION__ dir
        # the manifest can't bucket, after the write already ran
        k0 = self.key[0]
        msg = string_literal(f"merge: null {k0} key — route or quarantine "
                             "invalid rows before merging")
        changes = changes.selectExpr(
            "*", f"CAST(CASE WHEN {ident(k0)} IS NULL THEN raise_error({msg}) "
                 f"ELSE {bucket_sql(k0, self.n_buckets)} END AS INT) AS __bucket")

        # Delta write: one output dir per commit, partitioned by bucket, one
        # writer task per bucket → ONE file per touched bucket per commit
        # (empty tasks write nothing).  ``op``/``__del`` stay data columns —
        # snapshot() reads files by path and never sees the partition dirs.
        # This is the ONLY Spark job of the merge: per-bucket lineage
        # counters come from the parquet footers below.
        commit_id = uuid.uuid4().hex[:12]
        out_dir = f"{self.root}/data/commit={commit_id}"
        # Delta files get a small row-group target (vs the 128 MB default):
        # each writer task buffers a full row group per open file on-heap, so
        # at high task concurrency the default measures GC, not the engine
        # (measured 12s → 4s per write stage at 32 threads).  Deltas are
        # batch-sized and folded/compacted away, so scan-side row-group size
        # doesn't matter; compact() writes base files with the default.
        # Task count: repartitioning on a pure function of __bucket keeps
        # every bucket's rows inside ONE task regardless of task count, so
        # the one-file-per-bucket layout is invariant — capping tasks at ~2×
        # the cluster's parallelism only removes task-wave overhead when
        # n_buckets ≫ cores (measured 2.9s → 1.2s for a 20k-event commit
        # into 256 buckets on local[8]).  On a cluster with ≥ n_buckets
        # cores the cap is inactive.
        if write_parallelism:
            n_write_tasks = min(self.n_buckets, write_parallelism)
        else:
            par = self.spark.sparkContext.defaultParallelism
            n_write_tasks = min(self.n_buckets, max(1, par) * 2)
        # Balanced placement (r7): repartition on the hash-preimage key, not
        # __bucket itself — see balanced_write_pkey.
        changes = (
            changes
            .selectExpr("*", f"{balanced_write_pkey('__bucket', n_write_tasks)} "
                             "AS __pkey")
            .repartition(n_write_tasks, "__pkey")
        )
        if fuse_dedup:
            # FUSED in-batch last-wins (guide §2.4): placement is a pure
            # function of key[0], so the write repartition already clusters
            # every key group into one task; grouping by the partition key
            # itself (plus __bucket — functionally dependent, a no-op for
            # the groups) lets Catalyst prove the distribution is satisfied
            # and plan NO second exchange.  Winners are identical to
            # last_wins: max_by over the same (order_col, op-rank) within
            # the same key groups.
            from ..operators.dedup import winner_sql

            payload = [f.name for f in target_schema.fields] + ["op", "__bucket"]
            changes = (
                changes.groupBy("__pkey", "__bucket", *self.key)
                .agg(F.expr(winner_sql(payload, (self.order_col,))))
                .select("__win.*")
            )
        else:
            changes = changes.drop("__pkey")
        # delete marker as a NULLABLE data column (1 for tombstones, NULL
        # otherwise): the parquet footer's per-column null counts then
        # yield the exact upsert/delete split with zero extra reads, so
        # the commit writes ONE file per touched bucket instead of the
        # round-4 partitionBy-(bucket, is-delete) pair (which doubled the
        # per-commit file count and the footer-read fan-out — the 3.81×
        # 16→256-bucket commit growth in BENCH_r04)
        changes = changes.selectExpr(
            "*", "CAST(CASE WHEN `op` = 'D' THEN 1 END AS INT) AS __del",
            f"CAST({int(seq)} AS BIGINT) AS __seq")
        (changes.write.mode("overwrite").option("parquet.block.size", 16 << 20)
                .partitionBy("__bucket").parquet(out_dir))

        # Enumerate written files and derive lineage counters from parquet
        # footer metadata (row counts, order-col min/max statistics, and the
        # delete split from __del null counts): driver-side metadata reads of
        # ≤ n_buckets small footers — the same stats-from-manifest trick
        # Iceberg uses, replacing a whole post-write aggregation job per
        # commit.
        sid = int(m["current_schema_id"])
        entries: list[tuple[str, int]] = []
        for bdir in sorted(os.listdir(out_dir)):
            if not bdir.startswith("__bucket="):
                continue
            b = int(bdir.split("=")[1])
            for name in sorted(os.listdir(f"{out_dir}/{bdir}")):
                if name.endswith(".parquet"):
                    entries.append((f"{out_dir}/{bdir}/{name}", b))
        new_files = [{"path": path, "bucket": b,
                      "schema_id": sid, "kind": "delta", "seq": seq}
                     for path, b in entries]
        # The footer reads are independent metadata fetches — thread-pooled:
        # at a production bucket count (≥256) on remote storage a serial
        # loop is the commit-latency tail (the reference's cursor write is
        # O(1), status-service/db/store.go:144).  Results are folded in the
        # original sorted order, so per_bucket stays deterministic.
        if len(entries) > 4:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, len(entries))) as ex:
                stats = list(ex.map(
                    lambda e: _footer_stats(e[0], self.order_col, "__del"),
                    entries))
        else:
            stats = [_footer_stats(p, self.order_col, "__del")
                     for p, _ in entries]
        per_bucket_map: dict[int, dict] = {}
        for (path, b), (n_rows, omin, omax, n_del) in zip(entries, stats):
            if n_del is None:
                # a writer that omitted null counts (non-default parquet
                # properties): fall back to scanning just the 1-byte marker
                # column of this one batch-sized delta file
                import pyarrow.parquet as pq

                tbl = pq.read_table(path, columns=["__del"])
                n_del = n_rows - tbl.column("__del").null_count
            st = per_bucket_map.setdefault(b, {
                "__bucket": b, "rows_upserted": 0, "rows_deleted": 0,
                "lsn_from": None, "lsn_to": None,
            })
            st["rows_deleted"] += n_del
            st["rows_upserted"] += n_rows - n_del
            if omin is not None:
                st["lsn_from"] = omin if st["lsn_from"] is None else min(st["lsn_from"], omin)
            if omax is not None:
                st["lsn_to"] = omax if st["lsn_to"] is None else max(st["lsn_to"], omax)
        per_bucket = [per_bucket_map[b] for b in sorted(per_bucket_map)]
        touched = sorted(per_bucket_map)
        if batch_max_lsn is None and per_bucket:
            tos = [r["lsn_to"] for r in per_bucket if r["lsn_to"] is not None]
            batch_max_lsn = max(tos) if tos else None

        self._commit(m, writer_id=writer_id, files_added=new_files,
                     epoch_id=epoch_id, batch_max_lsn=batch_max_lsn)
        return {
            "status": "committed",
            "epoch_id": epoch_id,
            "touched_buckets": touched,
            "files_written": len(new_files),
            "per_bucket": per_bucket,
        }

    def _check_overlap(self, winners: DataFrame) -> None:
        """D5 conflict branch: error if a batch interval overlaps a stored
        interval with a different lower bound under the same key[0].

        The stored-side probe is pruned to the batch's touched buckets
        (≤ n_buckets ints to the driver), so the pre-merge check stays
        O(touched buckets' data), not O(table) — an armed guard must not
        reintroduce the table-sized per-commit cost merge-on-read removed."""
        lo, hi = self.overlap_guard
        k0 = self.key[0]
        touched = sorted(
            r["b"]
            for r in winners.select(
                bucket_expr(k0, self.n_buckets).alias("b")).distinct().collect()
            if r["b"] is not None  # null keys fail later in the write's guard
        )
        cur = self.snapshot(buckets=touched).select(
            F.col(k0).alias("__k"), F.col(lo).alias("__clo"), F.col(hi).alias("__chi")
        )
        b = winners.select(F.col(k0).alias("__k"), F.col(lo).alias("__blo"),
                           F.col(hi).alias("__bhi"))
        conflicts = (
            b.join(cur, on="__k")
            .where((F.col("__blo") != F.col("__clo"))
                   & (F.col("__blo") <= F.col("__chi"))
                   & (F.col("__clo") <= F.col("__bhi")))
        )
        row = conflicts.limit(1).collect()
        if row:
            r = row[0]
            raise OverlapConflictError(
                f"interval [{r['__blo']},{r['__bhi']}] for key {r['__k']!r} "
                f"overlaps stored interval [{r['__clo']},{r['__chi']}] "
                f"with different lower bound"
            )

    # a named writer whose last commit is older than this is dropped from the
    # manifest's writers map at the next commit — Delta's
    # setTransactionRetentionDuration: long-lived tables would otherwise
    # retain every rotated checkpoint/pipeline id forever.  An expired
    # writer that resumes restarts from epoch -1, so the retention must
    # exceed the longest plausible checkpoint pause.
    writer_retention_seconds: float = 30 * 24 * 3600.0

    def _commit(self, m: dict, epoch_id, batch_max_lsn,
                writer_id: str = "default",
                files_added=(), files_removed=()) -> None:
        cursor = max(int(m["cursor_lsn"]), int(batch_max_lsn)) if batch_max_lsn is not None \
            else int(m["cursor_lsn"])
        # bounded epoch state: fold the new epoch into the writer's
        # hwm + recent set (shared helper — same guard as the Iceberg backend)
        hwm0, recent0 = self._writer_state(m, writer_id)
        hwm, recent = fold_epoch_state(hwm0, recent0, epoch_id, writer_id)
        now = time.time()
        extra = {"cursor_lsn": cursor}
        # expire stale named writers (entries without a timestamp are legacy:
        # stamp them lazily rather than dropping a live replay guard)
        writers = {
            wid: (w if "last_commit_at" in w else {**w, "last_commit_at": now})
            for wid, w in m.get("writers", {}).items()
            if now - float(w.get("last_commit_at", now)) <= self.writer_retention_seconds
        }
        if writer_id == "default":
            extra["epoch_hwm"] = hwm
            extra["epochs_recent"] = sorted(recent)
        else:
            writers[writer_id] = {"epoch_hwm": hwm, "epochs_recent": sorted(recent),
                                  "last_commit_at": now}
        if writers or "writers" in m:
            extra["writers"] = writers
        self._publish(m, files_added=files_added, files_removed=files_removed,
                      extra=extra)

    # ---------------- maintenance ----------------

    def vacuum(self, keep_versions: int = 2,
               orphan_grace_seconds: float = 3600.0) -> dict:
        """Garbage-collect: delete data files not referenced by the newest
        ``keep_versions`` manifests, and drop older manifests (bounding time
        travel).  Crash-safe: files are unlinked only after the surviving
        manifest set is known; a reader of a retained version never loses a
        file.  (Iceberg's expire_snapshots + remove_orphan_files.)

        ``orphan_grace_seconds``: an unreferenced file younger than this is
        left alone — it may belong to an IN-FLIGHT merge that has written
        its delta dir but not yet published the manifest (Delta's
        deletedFileRetentionDuration rationale).  Pass 0 only when no writer
        can be running concurrently."""
        from ..ioutil import atomic_write_json, locked

        now = time.time()
        # The METADATA phase (squash + manifest expiry) runs under the commit
        # lock: with the lock held no writer can sit between its manifest
        # write and the CURRENT swap, so (a) any manifest file above CURRENT
        # is a crashed writer's dead leftover and can be reclaimed, and
        # (b) expiring a manifest can never race a commit that is about to
        # point CURRENT at it.  The critical section is squash + expiry ONLY
        # — O(keep-window) small JSON work; the O(live-files) fold and the
        # data-file walk run after release (kept manifests survive expiry by
        # construction, and the orphan grace window protects in-flight delta
        # writes), so a large table's vacuum never stalls concurrent commits.
        removed_manifests = 0
        with locked(f"{self.root}/_manifests/COMMIT_LOCK"):
            cur = self._current_version()
            versions = self._retained_versions()
            keep = set(v for v in versions if v > cur - keep_versions) | {cur}
            # Squash before expiry: a kept DELTA manifest whose base chain
            # reaches below the keep window is rewritten in place as a
            # self-contained checkpoint (content-identical fold — the
            # resolved file list does not change), so expiring older
            # manifests can never strand a chain.  Ascending order: within
            # the contiguous keep window a base >= min(keep) is itself kept
            # and already squashed.
            min_keep = min(keep)
            for v in sorted(keep):
                raw = self._load_raw(v)
                if "files" not in raw and int(raw["base_version"]) < min_keep:
                    folded = {k: val for k, val in raw.items()
                              if k not in ("base_version", "files_added", "files_removed")}
                    folded["files"] = self._resolve_files(v, raw)
                    atomic_write_json(self._manifest_path(v), folded)
            # expire: committed manifests outside the keep window AND
            # crashed-writer leftovers above CURRENT (safe only here, under
            # the lock)
            for name in os.listdir(f"{self.root}/_manifests"):
                if not name.startswith("manifest-"):
                    continue
                v = int(name.split("-")[1].split(".")[0])
                if v not in keep:
                    os.unlink(f"{self.root}/_manifests/{name}")
                    removed_manifests += 1
        live: set[str] = set()
        for v in keep:
            live |= {f["path"] for f in self._resolve_files(v)}
        removed_files = 0
        for dirpath, _dirs, files in os.walk(f"{self.root}/data"):
            for name in files:
                p = f"{dirpath}/{name}"
                if name.endswith(".parquet") and p not in live:
                    try:
                        if now - os.path.getmtime(p) < orphan_grace_seconds:
                            continue  # possibly an in-flight commit's file
                    except OSError:
                        continue
                    os.unlink(p)
                    removed_files += 1
        return {"removed_files": removed_files, "removed_manifests": removed_manifests,
                "kept_versions": sorted(keep)}

    def compact(self, buckets: list[int] | None = None,
                drop_tombstones_below: int | None = None) -> None:
        """Fold base + deltas back to one base file group per bucket at the
        current schema (Iceberg's rewrite_data_files).  ``buckets`` restricts
        the rewrite to a subset — incremental compaction keyed off per-bucket
        delta counts is how a 100 TB table keeps read amplification bounded
        without ever rewriting the whole table at once.

        Delete tombstones are RETAINED in the base files (op='D' winners):
        dropping them would resurrect a deleted key if a lower-order change
        arrives late (out-of-order redelivery behind a compaction — the
        Cassandra gc_grace problem).  ``drop_tombstones_below`` expires
        tombstones whose order value is below a caller-supplied low
        watermark — safe once the source can no longer replay below it."""
        m = self.manifest()
        seq = m["version"] + 1
        target_buckets = set(range(self.n_buckets)) if buckets is None else set(buckets)
        winners = self.snapshot(buckets=sorted(target_buckets), keep_tombstones=True)
        if drop_tombstones_below is not None:
            winners = winners.where(
                f"(`op` != 'D') OR ({ident(self.order_col)} >= "
                f"{int(drop_tombstones_below)})")
        df = winners.selectExpr(
            "*", f"{bucket_sql(self.key[0], self.n_buckets)} AS __bucket",
            # base rows carry (op, __seq) as data columns too, so all live
            # files share one read schema per schema id (see snapshot())
            f"CAST({int(seq)} AS BIGINT) AS __seq")
        commit_id = uuid.uuid4().hex[:12]
        out_dir = f"{self.root}/data/commit={commit_id}"
        # Same balanced placement as merge(): one bucket per writer task
        # instead of the collision-skewed raw bucket hash.
        df = (df.selectExpr("*", f"{balanced_write_pkey('__bucket', self.n_buckets)} "
                                 "AS __pkey")
                .repartition(self.n_buckets, "__pkey").drop("__pkey"))
        df.write.mode("overwrite").partitionBy("__bucket").parquet(out_dir)
        sid = int(m["current_schema_id"])
        # per-bucket fold high watermark: the newest change version this base
        # absorbs — changes() uses it to raise ONLY when a requested window
        # genuinely lost deltas to this compaction, not whenever the
        # compaction commit itself lands inside the window
        folded_hwm = {b: 0 for b in target_buckets}
        for f in m["files"]:
            if f["bucket"] in target_buckets:
                folded_hwm[f["bucket"]] = max(
                    folded_hwm[f["bucket"]],
                    int(f.get("folded_hwm", f.get("seq", 0))),
                )
        new_files = []
        for entry in sorted(os.listdir(out_dir)):
            if not entry.startswith("__bucket="):
                continue
            b = int(entry.split("=")[1])
            for name in sorted(os.listdir(f"{out_dir}/{entry}")):
                if name.endswith(".parquet"):
                    new_files.append({"path": f"{out_dir}/{entry}/{name}", "bucket": b,
                                      "schema_id": sid, "kind": "base", "seq": seq,
                                      "folded_hwm": folded_hwm.get(b, 0)})
        folded_paths = [f["path"] for f in m["files"] if f["bucket"] in target_buckets]
        # manifest delta is O(work done): the files this compaction folded
        # away plus the base files it wrote — never the untouched buckets
        self._publish(m, files_added=new_files, files_removed=folded_paths)

    def has_changes(self, from_version: int, to_version: int | None = None) -> bool:
        """Manifest-only emptiness probe for a change window — True iff
        ``changes(from_version, to_version)`` would return any rows.  Costs
        one manifest fold and ZERO Spark jobs, so a polling consumer (the
        CDC-out tailer) can detect metadata-only windows (vacuum, no-op
        commits) without scanning anything.

        Runs the SAME retention check as changes(): a window whose deltas
        were folded away by compaction raises RetentionLostError here too —
        returning False for it would let a poller silently skip lost
        changes."""
        m = self.manifest(to_version)
        to_v = int(m["version"])
        if from_version > to_v:
            # same guard as changes(): a cursor ahead of the source is a
            # misconfiguration to surface, not an idle feed to hide
            raise ValueError(f"from_version {from_version} > to_version {to_v}")
        in_window = [f for f in m["files"]
                     if from_version < int(f.get("seq", 0)) <= to_v]
        lost = [f for f in in_window
                if f.get("kind", "base") != "delta"
                and int(f.get("folded_hwm", int(f.get("seq", 1)) - 1)) > from_version]
        if lost:
            raise RetentionLostError(
                f"change window ({from_version}, {to_v}] lost versions up to "
                f"{lost[0].get('folded_hwm')} to compaction (base seq "
                f"{lost[0]['seq']}); changes are retained only until compaction"
            )
        return any(f.get("kind", "base") == "delta" for f in in_window)

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental read / change data feed: the raw change rows (upserts
        AND delete tombstones, with ``op`` and the committing version) of
        every commit in ``(from_version, to_version]`` — the lake-side
        changefeed a downstream CDC consumer tails instead of re-reading
        snapshots.  Zero-cost to serve: merge-on-read already persists each
        commit as delta files keyed by ``seq``, so this is a pruned scan of
        exactly the window's files — no diffing of snapshots.

        Retention bound (Iceberg/Delta CDF semantics): compaction folds
        deltas into base files, so a window that reaches behind the newest
        compaction of a touched bucket is gone — that raises ValueError
        rather than silently under-reporting changes.
        """
        m = self.manifest(to_version)
        to_v = int(m["version"])
        if from_version > to_v:
            raise ValueError(f"from_version {from_version} > to_version {to_v}")
        in_window = [f for f in m["files"]
                     if from_version < int(f.get("seq", 0)) <= to_v]
        # a base (compaction) file inside the window is data loss ONLY if it
        # folded deltas the window still needs (folded_hwm > from_version);
        # a fully-caught-up consumer whose from_version is the last
        # pre-compaction version sees no loss and reads an empty/clean feed
        lost = [f for f in in_window
                if f.get("kind", "base") != "delta"
                and int(f.get("folded_hwm", int(f.get("seq", 1)) - 1)) > from_version]
        if lost:
            raise RetentionLostError(
                f"change window ({from_version}, {to_v}] lost versions up to "
                f"{lost[0].get('folded_hwm')} to compaction (base seq "
                f"{lost[0]['seq']}); changes are retained only until compaction"
            )
        in_window = [f for f in in_window if f.get("kind", "base") == "delta"]
        target = T.StructType.fromJson(
            json.loads(m["schemas"][str(m["current_schema_id"])])
        )
        out_schema = T.StructType(
            target.fields
            + [T.StructField("op", T.StringType(), True),
               T.StructField("commit_version", T.LongType(), True)]
        )
        if not in_window:
            return self.spark.createDataFrame([], out_schema)
        groups: dict[int, list[str]] = {}
        for f in in_window:
            groups.setdefault(int(f["schema_id"]), []).append(f["path"])
        parts = []
        for paths in groups.values():
            df = self.spark.read.parquet(*paths)
            parts.append(df.selectExpr(*project_to(target, df.columns), "`op`",
                                       "`__seq` AS commit_version"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def delta_file_counts(self) -> dict[int, int]:
        """Per-bucket live delta-file counts — the compaction trigger signal."""
        out: dict[int, int] = {}
        for f in self.manifest()["files"]:
            if f.get("kind", "base") == "delta":
                out[f["bucket"]] = out.get(f["bucket"], 0) + 1
        return out

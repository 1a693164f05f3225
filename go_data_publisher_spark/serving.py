"""S10: the status/progress serving surface over a lake table.

The reference exposes ingest progress over HTTP+gRPC
(status-service/rpc/server.go:104-151, status.proto:68-100: GetStatus,
processed-interval lists, skipped-tick report).  SURVEY.md scoped gRPC out
of the engine core; this module provides the same documents as (a) plain
dicts for the CLI `report` command and (b) a minimal stdlib HTTP JSON
endpoint (`ReportServer`) — enough for a dashboard or a health probe to
consume without spark-submit access.

Two cost tiers, deliberately separate:

- ``/status`` and ``/metrics`` are the manifest tier — version, cursor,
  epoch state, live-file count and the row totals each epoch's commit
  folds into the manifest — served from manifest reads and a listing of
  the lineage dir, NO Spark job; their cost is linear in the live-file
  count.  Safe to poll at health-check and scrape frequency.
- ``/report`` runs the full progress document (snapshot row count, interval
  union, gap scan, skipped keys) — a handful of Spark jobs; poll it like a
  dashboard, not like a liveness probe.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from .lake.table import ROW_TOTALS

# the one flat prefix of every exported series (the reference's namespace,
# status-service/metrics/metrics.go:23-100)
NAMESPACE = "gdps"


def build_status(tbl) -> dict:
    """Manifest-only status (no Spark job): the reference's cheap GetStatus
    fields (status-service/rpc/server.go:104-118)."""
    m = tbl.manifest()
    return {
        "version": m["version"],
        "cursor_lsn": m["cursor_lsn"],
        "epoch_hwm": m["epoch_hwm"],
        "epochs_recent": m["epochs_recent"],
        "live_files": m.get("n_live_files", len(m["files"])),
        "delta_files_per_bucket": tbl.delta_file_counts(),
    }


def lineage_epochs(tbl, lineage_dir: str) -> int:
    """Committed (writer, epoch) pairs in the lineage feed: ChangeApplier
    writes one ``epoch-*.json`` file per pair, just before the epoch's
    commit (0 when the dir does not exist yet).  A file whose attempt failed
    at the commit is not counted (``committed_epoch_names``)."""
    from .streaming.apply import committed_epoch_names

    return len(committed_epoch_names(tbl, [
        os.path.basename(p)[:-len(".json")]
        for p in glob.glob(os.path.join(lineage_dir, "epoch-*.json"))]))


def build_report(spark, tbl, lineage_dir: str | None = None) -> dict:
    """The full progress/intervals/gaps document (S10/Q7/Q8/A3 composed).

    With ``lineage_dir``: ``lineage_epochs`` counts the lineage feed's epoch
    files and ``rows_upserted_total`` is the manifest's running total — 0 on
    a fresh table (it used to be None, a sum over an empty feed)."""
    from .operators.sequencing import detect_gaps, group_intervals
    from .streaming.apply import read_quarantine

    m = tbl.manifest()
    snap = tbl.snapshot()
    intervals = group_intervals(
        snap.withColumn("__all", F.lit(1)), ["__all"], "lsn"
    ).first()
    gaps = detect_gaps(
        snap.withColumn("__all", F.lit(1)), ["__all"], "lsn", min_gap=1000
    ).count()
    report = {
        "version": m["version"],
        "cursor_lsn": m["cursor_lsn"],
        "epoch_hwm": m["epoch_hwm"],
        "epochs_recent": m["epochs_recent"],
        "rows": snap.count(),
        "lsn_range": [intervals["from_lsn"], intervals["to_lsn"]] if intervals else None,
        "large_gaps": gaps,
        "history": tbl.history()[-5:],
    }
    if lineage_dir:
        report["lineage_epochs"] = lineage_epochs(tbl, lineage_dir)
        report["rows_upserted_total"] = m.get("rows_upserted_total", 0)
    # V4 persisted skipped-key set (served sorted, like the reference's
    # status-service/db/store.go:109 read-back); the dir exists once the
    # applier has run, and a read of a missing path would raise
    # PATH_NOT_FOUND
    qdir = f"{tbl.root}/_quarantine"
    if os.path.isdir(qdir):
        cols = (*tbl.key, tbl.order_col)
        q = read_quarantine(tbl, qdir)
        report["rows_skipped_total"] = q.count()
        report["skipped_sample"] = [
            {c: r[c] for c in cols}
            for r in q.orderBy(*cols).limit(5).collect()
        ]
    return report


def build_metrics_text(tbl, lineage_dir: str | None = None) -> str:
    """Prometheus text exposition (format 0.0.4) of the engine's progress
    gauges — the reference's scrape surface
    (status-service/metrics/metrics.go:23-100: processed tick/epoch, source
    tick/epoch, error gauges, one flat namespace prefix).  The three
    ``ROW_TOTALS`` are typed ``counter``.

    Every series comes from the same manifest reads as ``/status`` — the row
    totals too, which each epoch's commit advances — plus, with
    ``lineage_dir``, a listing of the lineage feed: no Spark job, linear in
    live files, safe at scrape frequency."""
    m = tbl.manifest()
    gauges: list[tuple[str, str, float | int]] = [
        ("cursor_lsn",
         "Highest LSN durably applied to the table "
         "(reference: processed_transactions_tick)", m["cursor_lsn"]),
        ("epoch_hwm",
         "Highest fully committed epoch "
         "(reference: processed_transactions_epoch)", m["epoch_hwm"]),
        ("table_version", "Current committed table version", m["version"]),
        ("live_files", "Live data files in the current snapshot",
         m.get("n_live_files", len(m["files"]))),
        ("delta_files_max_per_bucket",
         "Deepest per-bucket delta chain awaiting compaction",
         max(tbl.delta_file_counts().values(), default=0)),
        ("rows_upserted_total", "Rows upserted across all committed epochs",
         m.get("rows_upserted_total", 0)),
        ("rows_deleted_total", "Rows deleted across all committed epochs",
         m.get("rows_deleted_total", 0)),
        ("rows_quarantined_total", "Rows quarantined by the validity guard",
         m.get("rows_quarantined_total", 0)),
    ]
    if lineage_dir:
        gauges.append(("lineage_epochs", "Committed epochs with a lineage file",
                       lineage_epochs(tbl, lineage_dir)))
    out = []
    for name, help_, value in gauges:
        full = f"{NAMESPACE}_{name}"
        out.append(f"# HELP {full} {help_}")
        # the row totals only grow, one committed epoch at a time
        out.append(f"# TYPE {full} {'counter' if name in ROW_TOTALS else 'gauge'}")
        out.append(f"{full} {value}")
    return "\n".join(out) + "\n"


class ReportServer:
    """Minimal HTTP JSON endpoint over one table.

    Routes: ``/healthz`` (constant), ``/status`` (manifest fast path),
    ``/metrics`` (Prometheus text format, manifest tier: no Spark job),
    ``/history`` (retained snapshot log), ``/report`` (full document, runs
    Spark jobs, TTL-cached), ``/row?key=<v>[&second=<v>]`` (bucket-pruned
    point lookup, S2/S3).  ``lineage_dir`` names the audit feed whose epoch
    files /report and /metrics count.  Threaded: the cheap routes answer
    while a slow /report is in flight; one Spark session is shared (job
    submission is thread-safe).
    The driver is still not a web worker pool — put a cache/proxy in front
    for real fan-out, exactly as the reference fronts its status service.

    Usage::

        srv = ReportServer(spark, tbl, port=0)   # port 0 → ephemeral
        srv.start()                              # background thread
        ... GET http://127.0.0.1:{srv.port}/status ...
        srv.shutdown()

    or blocking: ``srv.serve_forever()`` (the CLI `serve` command).
    """

    def __init__(self, spark, tbl, port: int = 8080,
                 lineage_dir: str | None = None,
                 report_ttl_seconds: float = 60.0):
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib contract)
                # COMPUTE fully before writing a single response byte, so a
                # compute failure becomes a clean 500 and a socket failure
                # never triggers a second status line on the same connection
                ctype = "application/json"
                try:
                    if self.path == "/healthz":
                        status, body = 200, {"ok": True}
                    elif self.path == "/status":
                        status, body = 200, build_status(outer.tbl)
                    elif self.path == "/metrics":
                        # Prometheus scrape target: text format, not JSON
                        status, body = 200, outer._metrics_text()
                        ctype = "text/plain; version=0.0.4"
                    elif self.path == "/history":
                        status, body = 200, {"history": outer.tbl.history()}
                    elif self.path == "/report":
                        status, body = 200, outer._cached_report()
                    elif self.path.startswith("/row?"):
                        status, body = outer._lookup(self.path)
                    else:
                        status, body = 404, {"error": "not found"}
                except Exception as exc:  # surface as 500, keep serving
                    status, body, ctype = 500, {"error": str(exc)}, "application/json"
                payload = (body.encode() if isinstance(body, str)
                           else json.dumps(body, default=str).encode())
                try:
                    self.send_response(status)
                    self.send_header("Content-Type", ctype)
                    self.send_header("Content-Length", str(len(payload)))
                    self.end_headers()
                    self.wfile.write(payload)
                except OSError:
                    pass  # client went away mid-write; nothing to salvage

            def log_message(self, *_a):  # quiet: engine logs, not access logs
                pass

        self.spark = spark
        self.tbl = tbl
        self.lineage_dir = lineage_dir
        # /report TTL cache — the reference fronts the same document with a
        # time-bounded cache (status-service/main.go:221-233 wraps GetStatus
        # in a 1s cache, rpc/status_service.go:118-137 serves the report from
        # a 1m one) so dashboard polling never multiplies Spark jobs on the
        # driver.  report_builds counts ACTUAL builds (observable in tests).
        self.report_ttl_seconds = float(report_ttl_seconds)
        self.report_builds = 0
        self._report_cache: tuple[float, dict] | None = None
        self._report_lock = threading.Lock()
        # Threading: /healthz, /status and /metrics (no Spark job) must
        # answer while a slow /report (several Spark jobs) is in flight, or a
        # liveness probe flaps unhealthy exactly when the service is doing
        # normal work.  Spark job submission is thread-safe; concurrent /report
        # calls just queue in the scheduler.
        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self._httpd.daemon_threads = True
        self.port = self._httpd.server_address[1]
        self._thread = None

    def _cached_report(self) -> dict:
        """Serve /report from the TTL cache, building at most once per
        window.  The lock is held ACROSS the build so concurrent polls
        arriving during a slow build queue behind it and reuse its result
        instead of each launching their own Spark jobs; the no-Spark routes
        (/status, /metrics, /healthz) never touch this lock."""
        import time

        with self._report_lock:
            now = time.monotonic()
            if (self._report_cache is not None
                    and now - self._report_cache[0] < self.report_ttl_seconds):
                return self._report_cache[1]
            body = build_report(self.spark, self.tbl,
                                lineage_dir=self.lineage_dir)
            self.report_builds += 1
            self._report_cache = (time.monotonic(), body)
            return body

    _LOOKUP_LIMIT = 1000

    def _lookup(self, path: str) -> tuple[int, dict]:
        """``/row?key=<v>[&second=<v>]`` — the reference's per-tick
        transactions / single-TickData reads (S2/S3) served over HTTP from
        the committed table via the bucket-pruned ``TranscriptTable.lookup``
        (one bucket's files, key equality pushed into the scan).  ``second``
        is coerced to the second key column's type when it is integral (URL
        query params arrive as strings)."""
        from urllib.parse import parse_qs, urlparse

        import pyspark.sql.types as T

        def coerce(col_name: str, raw: str):
            dt = self.tbl.schema[col_name].dataType
            if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType)):
                return int(raw)  # ValueError → 400 below
            return raw

        # keep_blank_values: `second=` (client interpolated an unset
        # variable) must be a 400, not a silently ignored parameter that
        # returns every row of the key
        q = parse_qs(urlparse(path).query, keep_blank_values=True)
        if "key" not in q or q["key"][0] == "":
            return 400, {"error": "missing key= parameter"}
        second = q.get("second", [None])[0]
        if second is not None:
            if second == "":
                return 400, {"error": "second= given without a value"}
            if len(self.tbl.key) < 2:
                return 400, {"error": "second= given but the table key is "
                                      "single-column"}
        try:
            key_value = coerce(self.tbl.key[0], q["key"][0])
            if second is not None:
                second = coerce(self.tbl.key[1], second)
        except ValueError as exc:
            return 400, {"error": f"non-integral value for integral key "
                                  f"column: {exc}"}
        rows = (self.tbl.lookup(key_value, second=second)
                .limit(self._LOOKUP_LIMIT + 1).collect())
        truncated = len(rows) > self._LOOKUP_LIMIT
        return 200, {
            "rows": [r.asDict() for r in rows[: self._LOOKUP_LIMIT]],
            "truncated": truncated,
        }

    def _metrics_text(self) -> str:
        """/metrics body, rebuilt every scrape from the manifest."""
        return build_metrics_text(self.tbl, self.lineage_dir)

    def start(self) -> None:
        import threading

        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    def serve_forever(self) -> None:
        self._httpd.serve_forever()

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)

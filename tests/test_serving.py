"""S10 HTTP serving surface: the status/report documents over stdlib HTTP
(reference: status-service/rpc/server.go:104-151 GetStatus + interval
report; SURVEY scoped gRPC out, HTTP JSON is the declared serving form)."""

import json
import urllib.error
import urllib.request

import pytest

from go_data_publisher_spark.lake.table import TranscriptTable
from pyspark.sql import functions as F

from go_data_publisher_spark.serving import (
    ReportServer,
    build_metrics_text,
    build_report,
    build_status,
)
from go_data_publisher_spark.streaming.apply import ChangeApplier, read_quarantine

SCHEMA = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp, schema_version int"
)


@pytest.fixture()
def small_table(spark, tmpdir_path):
    # quarantine_dir configured like the CLI does: a CLEAN run still creates
    # the dir with per-epoch marker files only — the state that used to
    # crash build_report with UNABLE_TO_INFER_SCHEMA
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=2)
    app = ChangeApplier(tbl, lineage_dir=f"{tmpdir_path}/lineage",
                        quarantine_dir=f"{tmpdir_path}/tbl/_quarantine")
    rows = [(i, "I", f"c{i % 3}", i % 4, "user", f"t{i}", None, None, 1)
            for i in range(1, 21)]
    app.apply_batch(spark.createDataFrame(rows, SCHEMA), epoch_id=0)
    return tbl, f"{tmpdir_path}/lineage"


def _get(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=30) as r:
        return r.status, json.loads(r.read())


def test_build_status_is_manifest_only(small_table):
    tbl, _ = small_table
    s = build_status(tbl)
    assert s["version"] >= 1 and s["cursor_lsn"] == 20
    assert s["epoch_hwm"] == 0 and s["live_files"] > 0


def test_http_endpoint_serves_all_routes(spark, small_table):
    tbl, lineage = small_table
    srv = ReportServer(spark, tbl, port=0, lineage_dir=lineage)
    srv.start()
    try:
        st, health = _get(srv.port, "/healthz")
        assert st == 200 and health == {"ok": True}

        st, status = _get(srv.port, "/status")
        assert st == 200
        assert status["cursor_lsn"] == 20 and status["epoch_hwm"] == 0

        st, hist = _get(srv.port, "/history")
        assert st == 200 and len(hist["history"]) >= 1

        st, report = _get(srv.port, "/report")
        assert st == 200
        assert report["rows"] == 12  # 3 convs x 4 turns
        # snapshot holds last-wins winners: keys cycle every 12 lsns, so the
        # surviving rows are lsn 9..20
        assert [int(x) for x in report["lsn_range"]] == [9, 20]
        # clean run: quarantine dir exists with marker files only — the
        # report must serve an explicit zero, not crash on schema inference
        assert report["rows_skipped_total"] == 0
        assert report["skipped_sample"] == []
        assert report["lineage_epochs"] == 1

        with pytest.raises(urllib.error.HTTPError) as exc:
            _get(srv.port, "/nope")
        assert exc.value.code == 404
    finally:
        srv.shutdown()


def test_http_report_matches_cli_document(spark, small_table):
    """The HTTP /report body is the same document the CLI report command
    prints (one builder, two transports)."""
    tbl, lineage = small_table
    direct = json.loads(json.dumps(
        build_report(spark, tbl, lineage_dir=lineage), default=str))
    srv = ReportServer(spark, tbl, port=0, lineage_dir=lineage)
    srv.start()
    try:
        _, served = _get(srv.port, "/report")
    finally:
        srv.shutdown()
    assert served == direct


def test_healthz_answers_while_report_runs(spark, small_table):
    """Threaded server: the liveness route must answer while a slow /report
    (Spark jobs) is in flight — a probe timing out during normal work would
    flap the service unhealthy."""
    import threading
    import time

    tbl, lineage = small_table
    srv = ReportServer(spark, tbl, port=0, lineage_dir=lineage)
    srv.start()
    try:
        t0 = time.time()
        report_done = []
        th = threading.Thread(
            target=lambda: report_done.append(_get(srv.port, "/report")))
        th.start()
        # while the report's Spark jobs run, healthz must return quickly
        st, health = _get(srv.port, "/healthz")
        dt = time.time() - t0
        th.join(timeout=60)
        assert st == 200 and health == {"ok": True}
        assert report_done and report_done[0][0] == 200
        assert dt < 30  # generous; single-threaded would serialize fully
    finally:
        srv.shutdown()


def test_report_on_fresh_pipeline_with_empty_lineage_dir(spark, tmpdir_path):
    """A lineage dir that is configured but still EMPTY (fresh pipeline,
    report before the first lineage write) must yield a 200 with zeroed
    lineage fields, not UNABLE_TO_INFER_SCHEMA and a 500.
    ``rows_upserted_total`` is the manifest's total: 0 before the first
    commit (it was None as a sum over an empty feed), then the committed
    rows."""
    import os

    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=2)
    lineage = f"{tmpdir_path}/lineage_empty"
    os.makedirs(lineage)
    report = build_report(spark, tbl, lineage_dir=lineage)
    assert report["lineage_epochs"] == 0
    assert report["rows_upserted_total"] == 0

    app = ChangeApplier(tbl)  # no lineage writer — the dir stays empty
    app.apply_batch(spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "a", None, None, 1)], SCHEMA), epoch_id=0)
    report = build_report(spark, tbl, lineage_dir=lineage)
    assert report["lineage_epochs"] == 0
    assert report["rows_upserted_total"] == 1

    srv = ReportServer(spark, tbl, port=0, lineage_dir=lineage)
    srv.start()
    try:
        st, served = _get(srv.port, "/report")
        assert st == 200 and served["rows"] == 1
        assert served["rows_upserted_total"] == 1
    finally:
        srv.shutdown()


def test_report_with_not_yet_created_lineage_dir(spark, tmpdir_path):
    """The actual fresh-pipeline state: ChangeApplier only CREATES the
    lineage dir on the first applied batch, so `serve --lineage DIR` started
    before the stream's first commit points at a path that does not exist.
    The report must zero the lineage fields instead of 500ing with
    PATH_NOT_FOUND."""
    tbl = TranscriptTable(spark, f"{tmpdir_path}/tbl", n_buckets=2)
    missing = f"{tmpdir_path}/lineage_never_created"
    report = build_report(spark, tbl, lineage_dir=missing)
    assert report["lineage_epochs"] == 0
    assert report["rows_upserted_total"] == 0

    app = ChangeApplier(tbl)
    app.apply_batch(spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "a", None, None, 1)], SCHEMA), epoch_id=0)
    report = build_report(spark, tbl, lineage_dir=missing)
    assert report["lineage_epochs"] == 0
    assert report["rows_upserted_total"] == 1

    srv = ReportServer(spark, tbl, port=0, lineage_dir=missing)
    srv.start()
    try:
        st, served = _get(srv.port, "/report")
        assert st == 200 and served["lineage_epochs"] == 0
        assert served["rows"] == 1 and served["rows_upserted_total"] == 1
    finally:
        srv.shutdown()


def test_report_ttl_cache_builds_once_per_window(spark, small_table):
    """r4 verdict #3 (TTL cache): polls inside the TTL window serve the
    memoized document and run the Spark jobs ONCE — the reference fronts the
    same report with a time-bounded cache (status-service/main.go:221-233,
    rpc/status_service.go:118-137); expiry rebuilds and observes new commits."""
    tbl, lineage = small_table
    srv = ReportServer(spark, tbl, port=0, lineage_dir=lineage,
                       report_ttl_seconds=3600.0)
    srv.start()
    try:
        _, first = _get(srv.port, "/report")
        _, second = _get(srv.port, "/report")
        assert srv.report_builds == 1
        assert first == second

        # expire the window: the next poll rebuilds and sees a new commit
        srv.report_ttl_seconds = 0.0
        app = ChangeApplier(tbl)
        app.apply_batch(spark.createDataFrame(
            [(99, "I", "cNEW", 9, "user", "x", None, None, 1)], SCHEMA),
            epoch_id=7)
        _, third = _get(srv.port, "/report")
        assert srv.report_builds == 2
        assert third["rows"] == first["rows"] + 1
    finally:
        srv.shutdown()


def _get_text(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=30) as r:
        return r.status, r.headers.get("Content-Type"), r.read().decode()


COUNTERS = {"gdps_rows_upserted_total", "gdps_rows_deleted_total",
            "gdps_rows_quarantined_total"}


def _parse_prom(text):
    """Prometheus text format 0.0.4 → {name: value}; asserts the HELP/TYPE
    preamble discipline for every exported series: the three row totals are
    counters, every other series a gauge."""
    values, seen_help, seen_type = {}, set(), set()
    for line in text.strip().splitlines():
        if line.startswith("# HELP "):
            seen_help.add(line.split()[2])
        elif line.startswith("# TYPE "):
            name, mtype = line.split()[2], line.split()[3]
            assert mtype == ("counter" if name in COUNTERS else "gauge"), name
            seen_type.add(name)
        else:
            name, val = line.split()
            values[name] = float(val)
    assert set(values) == seen_help == seen_type
    return values


def _lineage_records(lineage):
    import glob

    return [json.loads(line)
            for f in glob.glob(f"{lineage}/*.json")
            for line in open(f) if line.strip()]


def _assert_totals_match_lineage(vals, m, recs):
    """The row totals served from the manifest equal what the lineage
    records themselves sum to.  Quarantine counts are epoch-level,
    replicated into every per-bucket row: one value per epoch, summed across
    epochs (not across bucket rows)."""
    assert recs, "fixture wrote lineage"
    assert vals["gdps_rows_upserted_total"] == m["rows_upserted_total"] == sum(
        r["rows_upserted"] for r in recs)
    assert vals["gdps_rows_deleted_total"] == m["rows_deleted_total"] == sum(
        r["rows_deleted"] for r in recs)
    assert vals["gdps_rows_quarantined_total"] == m["rows_quarantined_total"] \
        == sum({r["epoch_id"]: r["rows_quarantined"] for r in recs}.values())
    assert vals["gdps_lineage_epochs"] == len({r["epoch_id"] for r in recs})


def test_metrics_route_prometheus_format_and_values(spark, small_table):
    """r5 verdict #7: /metrics serves the reference's scrape surface
    (status-service/metrics/metrics.go:23-100) in Prometheus text format;
    gauge values must equal the manifest, and the manifest's row totals the
    lineage records' own sums — also after a chunked replay, a redelivered
    epoch, a fully quarantined batch, an empty epoch, and a compact() and a
    vacuum() between commits (both rewrite manifests the totals ride)."""
    from go_data_publisher_spark.sources.changelog import generate_changelog
    from go_data_publisher_spark.streaming.apply import replay_batch_range

    tbl, lineage = small_table
    # second epoch with TWO invalid rows (null key / bad op) landing beside
    # valid rows in BOTH buckets: the quarantine count is epoch-level and
    # replicated into every per-bucket lineage row, so a flat sum across
    # rows would overcount by n_buckets — this batch catches that
    app = ChangeApplier(tbl, lineage_dir=lineage,
                        quarantine_dir=f"{tbl.root}/_quarantine")
    app.apply_batch(spark.createDataFrame(
        [(31, "I", "c0", 5, "user", "ok1", None, None, 1),
         (32, "I", "c1", 5, "user", "ok2", None, None, 1),
         (33, "I", None, 5, "user", "bad-key", None, None, 1),
         (34, "X", "c2", 5, "user", "bad-op", None, None, 1)],
        SCHEMA), epoch_id=1)
    srv = ReportServer(spark, tbl, port=0, lineage_dir=lineage)
    srv.start()
    try:
        st, ctype, text = _get_text(srv.port, "/metrics")
    finally:
        srv.shutdown()
    assert st == 200
    assert ctype.startswith("text/plain")
    vals = _parse_prom(text)

    m = tbl.manifest()
    assert vals["gdps_cursor_lsn"] == m["cursor_lsn"] == 32
    assert vals["gdps_epoch_hwm"] == m["epoch_hwm"] == 1
    assert vals["gdps_table_version"] == m["version"]
    assert vals["gdps_live_files"] == m.get("n_live_files", len(m["files"]))
    assert vals["gdps_delta_files_max_per_bucket"] == max(
        tbl.delta_file_counts().values())
    _assert_totals_match_lineage(vals, m, _lineage_records(lineage))

    # epochs 2-4: a chunked replay of a log with updates, deletes,
    # redelivered copies and invalid rows, above the fixture's LSNs
    log = generate_changelog(spark, 600, n_convs=20, seed=5,
                             invalid_rate=0.05).withColumn("lsn", F.expr("lsn + 100"))
    chunks = [(101, 300), (301, 500), (501, 800)]
    stats = replay_batch_range(app, log, chunks, epoch_offset=2)
    assert [s["status"] for s in stats] == ["committed"] * 3
    assert all(s["rows_quarantined"] for s in stats)
    assert sum(r["rows_deleted"] for r in _lineage_records(lineage)) > 0
    tbl.compact()
    # redelivered epoch 3: a skipped replay that must not count twice
    lo, hi = chunks[1]
    again = app.apply_batch(log.where(f"lsn BETWEEN {lo} AND {hi}"), epoch_id=3)
    assert again["status"] == "skipped_replay"
    # epoch 5: every row quarantined
    app.apply_batch(spark.createDataFrame(
        [(901, "I", None, 7, "user", "bad1", None, None, 1),
         (902, "X", "c9", 7, "user", "bad2", None, None, 1)], SCHEMA),
        epoch_id=5)
    tbl.vacuum(keep_versions=1, orphan_grace_seconds=0)
    # epoch 6: empty; epoch 7: commits on top of the squashed manifest
    app.apply_batch(spark.createDataFrame([], SCHEMA), epoch_id=6)
    app.apply_batch(spark.createDataFrame(
        [(903, "D", "c0", 5, "user", None, None, None, 1),
         (904, "I", "c5", 1, "user", "late", None, None, 1)], SCHEMA),
        epoch_id=7)

    m = tbl.manifest()
    assert m["epoch_hwm"] == 7
    vals = _parse_prom(build_metrics_text(tbl, lineage))
    recs = _lineage_records(lineage)
    assert vals["gdps_lineage_epochs"] == m["epoch_hwm"] + 1
    assert {r["epoch_id"]: r["rows_quarantined"] for r in recs}[5] == 2
    _assert_totals_match_lineage(vals, m, recs)


def test_metrics_without_lineage_dir_omits_series_and_stays_cheap(
        spark, small_table):
    """Without a lineage dir the lineage series disappears (Prometheus
    semantics for an absent series) while the row totals, which live in the
    manifest, are still exported; manifest gauges refresh every scrape — a
    commit between scrapes must show up even while the /report TTL window
    is open."""
    tbl, lineage = small_table
    srv = ReportServer(spark, tbl, port=0, lineage_dir=None,
                       report_ttl_seconds=3600.0)
    srv.start()
    try:
        _, _, text = _get_text(srv.port, "/metrics")
        vals = _parse_prom(text)
        assert "gdps_lineage_epochs" not in vals
        assert vals["gdps_rows_upserted_total"] == 12

        app = ChangeApplier(tbl)
        app.apply_batch(spark.createDataFrame(
            [(99, "I", "cNEW", 9, "user", "x", None, None, 1)], SCHEMA),
            epoch_id=1)  # contiguous after the fixture's epoch 0 → hwm moves
        _, _, text2 = _get_text(srv.port, "/metrics")
        vals2 = _parse_prom(text2)
        assert vals2["gdps_cursor_lsn"] == 99
        assert vals2["gdps_epoch_hwm"] == 1
    finally:
        srv.shutdown()


def test_metrics_scrape_launches_no_spark_job(spark, small_table):
    """With a lineage dir configured, a /metrics scrape reads the manifest
    and lists the lineage dir: no Spark job runs.  (It used to aggregate the
    lineage feed with Spark, behind a TTL cache.)"""
    from conftest import jobs_launched

    tbl, lineage = small_table
    srv = ReportServer(spark, tbl, port=0, lineage_dir=lineage)
    srv.start()
    try:
        # the route's body, built on this thread so the job group sees it
        with jobs_launched(spark.sparkContext) as jobs:
            text = srv._metrics_text()
        _, _, served = _get_text(srv.port, "/metrics")
    finally:
        srv.shutdown()
    assert jobs == []
    assert served == text
    vals = _parse_prom(text)
    assert vals["gdps_lineage_epochs"] == 1
    assert vals["gdps_rows_upserted_total"] == 12  # 3 convs x 4 turns


def test_uncommitted_attempt_outputs_are_not_counted(spark, small_table,
                                                     monkeypatch):
    """An attempt that fails at its commit and is never redelivered leaves
    its quarantine rows and lineage file on disk.  They belong to no
    committed (writer, epoch), so /report's skipped rows equal the
    manifest's quarantined total and gdps_lineage_epochs counts the
    committed pairs only; the scrape still runs no Spark job."""
    import os

    from conftest import jobs_launched

    tbl, lineage = small_table
    qdir = f"{tbl.root}/_quarantine"
    app = ChangeApplier(tbl, lineage_dir=lineage, quarantine_dir=qdir,
                        writer_id="side/1")
    app.apply_batch(spark.createDataFrame(
        [(71, "I", "c0", 8, "user", "a", None, None, 1),
         (72, "I", None, 8, "user", "bad-key", None, None, 1)], SCHEMA),
        epoch_id=0)

    def crash(*_a, **_k):
        raise RuntimeError("crash before the commit")

    with monkeypatch.context() as mp:
        mp.setattr(TranscriptTable, "_commit", crash)
        with pytest.raises(RuntimeError, match="crash before the commit"):
            app.apply_batch(spark.createDataFrame(
                [(81, "I", "c1", 8, "user", "b", None, None, 1),
                 (82, "I", None, 8, "user", "bad1", None, None, 1),
                 (83, "X", "c2", 8, "user", "bad2", None, None, 1)], SCHEMA),
                epoch_id=1)
    # the failed attempt's outputs are on disk: 3 lineage files, 2 quarantine
    # dirs (the fixture's epoch had no invalid row)
    assert len(os.listdir(lineage)) == 3 and len(os.listdir(qdir)) == 2

    report = build_report(spark, tbl, lineage)
    m = tbl.manifest()
    assert m["rows_quarantined_total"] == 1
    assert report["rows_skipped_total"] == m["rows_quarantined_total"]
    assert report["lineage_epochs"] == 2  # (default, 0) and (side/1, 0)
    with jobs_launched(spark.sparkContext) as jobs:
        text = build_metrics_text(tbl, lineage)
    assert jobs == []
    vals = _parse_prom(text)
    assert vals["gdps_lineage_epochs"] == 2
    assert vals["gdps_rows_quarantined_total"] == 1


def test_lineage_crash_window_keeps_manifest_totals(spark, small_table,
                                                    monkeypatch):
    """A crash after epoch N's lineage file and before its commit: the
    redelivered epoch commits and rewrites that file, so the manifest
    totals count the epoch exactly once and gdps_lineage_epochs equals the
    committed epochs — no lineage gap.  A crash before the quarantine write
    commits nothing; the redelivered epoch writes the rows and adds them to
    the quarantined total once."""
    from pyspark.sql.readwriter import DataFrameWriter

    tbl, lineage = small_table
    qdir = f"{tbl.root}/_quarantine"
    app = ChangeApplier(tbl, lineage_dir=lineage, quarantine_dir=qdir)
    batch = spark.createDataFrame(
        [(51, "I", "c0", 6, "user", "a", None, None, 1),
         (52, "I", "c1", 6, "user", "b", None, None, 1),
         (53, "I", None, 6, "user", "bad-key", None, None, 1)], SCHEMA)

    def crash(*_a, **_k):
        raise RuntimeError("crash before the commit")

    with monkeypatch.context() as mp:
        mp.setattr(TranscriptTable, "_commit", crash)
        with pytest.raises(RuntimeError, match="crash before the commit"):
            app.apply_batch(batch, epoch_id=1)
    assert app.apply_batch(batch, epoch_id=1)["status"] == "committed"

    srv = ReportServer(spark, tbl, port=0, lineage_dir=lineage)
    srv.start()
    try:
        _, _, text = _get_text(srv.port, "/metrics")
    finally:
        srv.shutdown()
    vals = _parse_prom(text)
    m = tbl.manifest()
    assert m["epoch_hwm"] == 1
    assert vals["gdps_rows_upserted_total"] == 12 + 2
    assert vals["gdps_rows_quarantined_total"] == 1
    assert vals["gdps_lineage_epochs"] == m["epoch_hwm"] + 1

    # epoch 2: the quarantine write crashes before the commit
    real_parquet = DataFrameWriter.parquet

    def crash_quarantine(self, path, *a, **k):
        if path.startswith(qdir):
            raise RuntimeError("crash before the quarantine append")
        return real_parquet(self, path, *a, **k)

    poisoned = spark.createDataFrame(
        [(61, "I", "c2", 6, "user", "c", None, None, 1),
         (62, "I", None, 6, "user", "bad1", None, None, 1),
         (63, "X", "c2", 7, "user", "bad2", None, None, 1)], SCHEMA)
    with monkeypatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", crash_quarantine)
        with pytest.raises(RuntimeError, match="quarantine append"):
            app.apply_batch(poisoned, epoch_id=2)
    committed = tbl.manifest()["rows_quarantined_total"]
    assert committed == 1
    healed = app.apply_batch(poisoned, epoch_id=2)
    assert healed["status"] == "committed"
    assert tbl.manifest()["rows_quarantined_total"] == committed + 2
    assert read_quarantine(tbl, qdir).count() == 3


def test_fully_quarantined_batch_reaches_metrics(spark, small_table):
    """A batch whose EVERY row fails validity touches no bucket, so it used
    to write an empty lineage epoch file and its quarantine count silently
    vanished from /metrics — the poisoned-batch case the quarantine gauge
    exists to surface.  The writer now emits one partition_id=-1 sentinel
    row carrying the epoch's count."""
    import glob
    import json as _json

    tbl, lineage = small_table
    app = ChangeApplier(tbl, lineage_dir=lineage,
                        quarantine_dir=f"{tbl.root}/_quarantine")
    out = app.apply_batch(spark.createDataFrame(
        [(41, "I", None, 7, "user", "bad1", None, None, 1),
         (42, "X", "c9", 7, "user", "bad2", None, None, 1)],
        SCHEMA), epoch_id=1)
    assert out["rows_quarantined"] == 2
    assert out.get("touched_buckets") in ([], None) or not out["touched_buckets"]

    recs = [_json.loads(line)
            for f in glob.glob(f"{lineage}/*.json")
            for line in open(f) if line.strip()]
    sentinel = [r for r in recs if r["epoch_id"] == 1]
    assert len(sentinel) == 1
    assert sentinel[0]["partition_id"] == -1
    assert sentinel[0]["rows_quarantined"] == 2
    assert sentinel[0]["rows_upserted"] == 0

    srv = ReportServer(spark, tbl, port=0, lineage_dir=lineage)
    srv.start()
    try:
        st, _ctype, text = _get_text(srv.port, "/metrics")
        st2, report = _get(srv.port, "/report")
    finally:
        srv.shutdown()
    assert st == 200 and st2 == 200
    vals = _parse_prom(text)
    assert vals["gdps_rows_quarantined_total"] == 2
    assert vals["gdps_lineage_epochs"] == 2
    assert report["lineage_epochs"] == 2
    # the skipped-key set, read with the declared quarantine schema
    assert report["rows_skipped_total"] == 2
    assert [r["lsn"] for r in report["skipped_sample"]] == [41, 42]


def test_row_route_serves_bucket_pruned_point_lookup(spark, small_table):
    """/row?key=...&second=... — the reference's S2/S3 point reads served
    from the committed table (per-tick transactions scan / one-row TickData
    read) via the bucket-pruned lookup."""
    tbl, lineage = small_table
    srv = ReportServer(spark, tbl, port=0, lineage_dir=lineage)
    srv.start()
    try:
        st, body = _get(srv.port, "/row?key=c1")
        assert st == 200 and not body["truncated"]
        assert body["rows"] and all(r["conv_id"] == "c1" for r in body["rows"])
        want = sorted((r["conv_id"], r["turn_idx"]) for r in body["rows"])
        have = sorted(map(tuple, tbl.snapshot().where("conv_id = 'c1'")
                          .select("conv_id", "turn_idx").collect()))
        assert want == have

        ti = body["rows"][0]["turn_idx"]
        st2, one = _get(srv.port, f"/row?key=c1&second={ti}")
        assert st2 == 200 and len(one["rows"]) == 1
        assert one["rows"][0]["turn_idx"] == ti

        import urllib.error
        import urllib.request

        def get_status(path):
            try:
                with urllib.request.urlopen(
                        f"http://127.0.0.1:{srv.port}{path}", timeout=30) as r:
                    return r.status
            except urllib.error.HTTPError as e:
                return e.code

        assert get_status("/row?nope=1") == 400
        assert get_status("/row?key=c1&second=notanint") == 400
        st5, empty = _get(srv.port, "/row?key=zzz-no-such-conv")
        assert st5 == 200 and empty["rows"] == []
    finally:
        srv.shutdown()

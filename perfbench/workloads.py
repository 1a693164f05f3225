"""The two workloads.  Each runs in its own process on a fresh session.

Both have the same shape: set-up (inputs and warm-up, counted in
``setup_s``), a timed phase with tracing off, with ``--trace 1`` the same
phase again with tracing on, then correctness checks outside any timed
region.  A workload fills ``run.e2e`` with the end-to-end metrics and
``run.layer`` with the per-layer metrics.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq

from . import env, gen, oracle
from .layers import commit_counts, layer_metrics, table_state_metrics

# -- cdc: bulk replay ---------------------------------------------------------

BULK_EVENTS = 60_000       # logical events; ~5% redeliveries ride on top
WARM_EVENTS = 15_000       # the warm-up replay: same chunks and plans, fewer rows
CONVS = 2_000
BULK_CHUNKS = 4
BUCKETS = 16

# -- cdc: open-loop tail with reads beside it ---------------------------------

EVENT_RATE = 600.0         # change events created per second (open loop)
TRIGGER_S = 3.5            # consumer poll interval: ~2k events per poll
TAIL_POLLS = 3             # timed polls; the latency quantiles are over these
MAX_POLL = 8_000           # events per batch at most
COMPACT_AT = 7             # per-bucket delta files that trigger compaction
TAIL_SLACK_S = 40.0        # events beyond the schedule, for a window that runs late
HOT_KEYS = ("conv-000013",)
COLD_KEYS = ("conv-001777",)


def _v1_schema():
    from pyspark.sql import types as T

    from go_data_publisher_spark import schemas

    return T.StructType([f for f in schemas.TRANSCRIPT_SCHEMA.fields if f.name != "tool"])


def _write_chunks(log, src: str) -> list[str]:
    """The log as BULK_CHUNKS LSN-range files, oldest first by mtime."""
    os.makedirs(src)
    files, mtime = [], time.time() - 3600
    for i, chunk in enumerate(gen.split_by_lsn(log, BULK_CHUNKS)):
        files.append(f"{src}/chunk-{i:04d}.parquet")
        gen.write_events(chunk, files[-1], mtime=mtime + i)
    return files


class TimedApplier:
    """Per-call wall times of ``ChangeApplier.apply_batch``, measured from
    outside (the applier is wrapped, not modified)."""

    def __init__(self, applier):
        self.applier = applier
        self.table = applier.table  # run_stream reads the order column here
        self.times: list[float] = []
        self.stats: list[dict] = []

    def apply_batch(self, batch, epoch_id):
        t = time.perf_counter()
        out = self.applier.apply_batch(batch, epoch_id=epoch_id)
        self.times.append(time.perf_counter() - t)
        self.stats.append(out)
        return out


class Reads:
    """The client thread that reads beside the writer.  After a commit it
    ticks the mirror, reads every key over HTTP and scrapes /metrics: one
    cycle per commit, late if it falls behind, and a fixed number of cycles
    per window.  The mirror lock keeps its ticks apart from the writer's
    compaction."""

    def __init__(self, tracer, port, tailer, committed):
        self.tracer, self.port, self.tailer = tracer, port, tailer
        self.committed = committed  # -> the newest committed epoch
        self.mirror_lock = threading.Lock()
        self.samples: list[dict] = []   # one per /row read
        self.statuses: list[tuple[str, int]] = []  # (path, HTTP status)
        self.tick_stats: list[dict] = []
        self.error: BaseException | None = None
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _get(self, path: str) -> tuple[int, bytes]:
        try:
            with urllib.request.urlopen(f"http://127.0.0.1:{self.port}{path}",
                                        timeout=120) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as exc:
            return exc.code, exc.read()

    def tick(self) -> None:
        with self.mirror_lock:
            self.tick_stats.append(self.tailer.tick())

    def cycle(self, epoch: int) -> None:
        tracer = self.tracer
        tracer.set_trace(f"mirror-{epoch}")
        self.tick()
        for key in (*HOT_KEYS, *COLD_KEYS):
            tracer.set_trace(f"row-{epoch}-{key}")
            lo = self.committed()
            with tracer.span("serving.row", "serving"):
                status, body = self._get(f"/row?key={key}")
            self.statuses.append(("/row", status))
            if status == 200:
                # the read saw one committed epoch in [lo, hi]; the writer may
                # have committed hi + 1 before it recorded it
                rows = {(r["turn_idx"], r["lsn"], r["text"])
                        for r in json.loads(body)["rows"]}
                self.samples.append({"key": key, "lo": lo,
                                     "hi": self.committed() + 1, "rows": rows})
        tracer.set_trace(f"metrics-{epoch}")
        with tracer.span("serving.metrics", "serving"):
            status, _ = self._get("/metrics")
        self.statuses.append(("/metrics", status))

    def _loop(self, seen: int, last: int) -> None:
        try:
            while seen < last:
                if seen < self.committed():
                    seen += 1
                    self.cycle(seen)
                elif self._stop.is_set():
                    return
                else:
                    self._stop.wait(0.02)
        except BaseException as exc:  # reported by stop()
            self.error = exc

    def start(self, cycles: int) -> None:
        """Read after each of the next ``cycles`` commits."""
        self._stop.clear()
        seen = self.committed()
        self._thread = threading.Thread(target=self._loop, args=(seen, seen + cycles),
                                        name="perfbench-reads")
        self._thread.start()
        # spans opened by the HTTP handlers belong to the client's request
        self.tracer.foster = self._thread.ident

    def stop(self) -> None:
        """Waits for the cycles still due."""
        self._stop.set()
        self._thread.join()
        if self.error is not None:
            raise RuntimeError(f"read client failed: {self.error!r}") from self.error


class Tail:
    """The consumer of the open-loop tail on one replayed table: an applier
    with lineage and quarantine on, a mirror fed by a tailer that starts at
    the replayed version, a ReportServer and the read client."""

    def __init__(self, run, root: str, tail_file: str, tail_lsn, rewind: int = 0):
        from go_data_publisher_spark.lake.table import TranscriptTable
        from go_data_publisher_spark.serving import ReportServer
        from go_data_publisher_spark.streaming.apply import ChangeApplier
        from go_data_publisher_spark.streaming.tailer import ChangefeedTailer

        self.run, self.spark = run, run.spark
        self.tail_file, self.tail_lsn = tail_file, tail_lsn
        self.tbl = TranscriptTable(self.spark, root)
        self.applier = ChangeApplier(self.tbl, quarantine_dir=f"{root}-quarantine",
                                     lineage_dir=f"{root}-lineage",
                                     retry=run.retry_policy())
        self.mirror = TranscriptTable(self.spark, f"{root}-mirror", n_buckets=BUCKETS)
        cursor = f"{root}-mirror-cursor.json"
        with open(cursor, "w") as f:
            json.dump({"from_version": self.tbl.manifest()["version"] - rewind,
                       "next_epoch": 0, "pending": None}, f)
        self.server = ReportServer(self.spark, self.tbl, port=0,
                                   lineage_dir=f"{root}-lineage")
        self.server.start()
        # the epoch after the replay's last one
        self.j, self.epoch = 0, int(self.tbl.manifest()["epoch_hwm"]) + 1
        self.first_epoch = self.epoch
        self.stats: list[dict] = []
        self.epoch_max_lsn: dict[int, int] = {}
        self.reads = Reads(run.tracer, self.server.port,
                           ChangefeedTailer(self.tbl, self.mirror, cursor),
                           committed=lambda: self.epoch - 1)

    def cut(self, j_hi: int) -> int:
        """Never split redelivered copies (equal LSNs) across batches."""
        lsn = self.tail_lsn
        j_hi = min(j_hi, len(lsn))
        while j_hi < len(lsn) and lsn[j_hi] == lsn[j_hi - 1]:
            j_hi += 1
        return j_hi

    def commit(self, j_hi: int) -> float:
        """Apply tail rows [j, j_hi) as the next epoch, then compact when a
        bucket is due, as inline compaction would; returns the time the
        commit and its compaction were done."""
        j_lo, epoch = self.j, self.epoch
        lo, hi = int(self.tail_lsn[j_lo]), int(self.tail_lsn[j_hi - 1])
        self.run.tracer.set_trace(f"batch-{epoch}")
        batch = self.spark.read.parquet(self.tail_file).where(f"lsn BETWEEN {lo} AND {hi}")
        st = self.applier.apply_batch(batch, epoch_id=epoch)
        self.run.attempted += 1
        if st.get("status") != "committed":
            self.run.fail(f"epoch {epoch}: status {st.get('status')}")
        self.stats.append(st)
        self.epoch_max_lsn[epoch] = hi
        self.j, self.epoch = j_hi, epoch + 1
        hot = sorted(b for b, n in self.tbl.delta_file_counts().items() if n >= COMPACT_AT)
        if hot:
            with self.reads.mirror_lock:
                self.reads.tailer.tick()  # the mirror must consume the deltas first
                self.tbl.compact(buckets=hot)
        return time.perf_counter()

    def window(self, traced: bool) -> dict:
        """TAIL_POLLS polls on a fixed schedule, each taking every event
        created so far (at most MAX_POLL) and timed from the time it was due
        until its commit, and any compaction it made due, were done.  The
        read client runs meanwhile and reads after every commit but the
        last."""
        run = self.run
        fresh, backlog, lateness = [], [], []
        t0 = time.perf_counter()
        # event j is created at gen0 + j/R; one interval is already waiting
        gen0 = t0 - TRIGGER_S - self.j / EVENT_RATE
        with run.measuring(traced):
            self.reads.start(cycles=TAIL_POLLS - 1)
            try:
                for k in range(TAIL_POLLS):
                    due = t0 + k * TRIGGER_S
                    time.sleep(max(0.0, due - time.perf_counter()))
                    now = time.perf_counter()
                    lateness.append(now - due)
                    j_lo = self.j
                    waiting = self.cut(int((now - gen0) * EVENT_RATE)) - j_lo
                    backlog.append(waiting)
                    j_hi = self.cut(j_lo + min(waiting, MAX_POLL))
                    if j_hi <= j_lo:
                        run.fail("tail log exhausted")
                        break
                    with run.tracer.span("bench.poll", "bench"):
                        fresh.append(self.commit(j_hi) - due)
            finally:
                self.reads.stop()
        return {"fresh": fresh, "backlog": backlog, "lateness": lateness}

    def check(self, bulk_files: list[str], bulk_max_lsn: int) -> None:
        """The table, the mirror and every /row read against the oracle."""
        run, reads = self.run, self.reads
        reads.tailer.run_until_caught_up()
        self.server.shutdown()
        run.log("mirror caught up")
        files, last_lsn = [*bulk_files, self.tail_file], self.epoch_max_lsn[self.epoch - 1]
        with ThreadPoolExecutor(max_workers=2) as ex:  # both reads at once
            table = ex.submit(lambda: self.tbl.snapshot().toPandas())
            mirror = ex.submit(lambda: self.mirror.snapshot().toPandas())
            run.check_state(table.result, files,
                            "table state after replay and tail", max_lsn=last_lsn)
            run.check_state(mirror.result, [self.tail_file],
                            "mirror state (tail changes)", max_lsn=last_lsn)
        run.log("table and mirror checked")
        for path, status in reads.statuses:
            run.attempted += 1
            if status != 200:
                run.fail(f"{path}: HTTP {status}")
        con = oracle.load_log(files)
        max_lsn = {self.first_epoch - 1: bulk_max_lsn, **self.epoch_max_lsn}
        for s in reads.samples:
            run.attempted += 1
            epochs = [e for e in range(s["lo"], s["hi"] + 1) if e in max_lsn]
            if not any(s["rows"] == oracle.rows_at(con, s["key"], max_lsn[e])
                       for e in epochs):
                run.fail(f"/row {s['key']} read during epochs {s['lo']}..{s['hi']} "
                         "differs from the oracle at each of them")


def cdc(run) -> None:
    """Bulk replay through the streaming pipeline, then an open-loop tail of
    small commits into the replayed table with reads and a mirror beside it."""
    from go_data_publisher_spark.lake.table import TranscriptTable
    from go_data_publisher_spark.streaming import pipeline
    from go_data_publisher_spark.streaming.apply import ChangeApplier

    work, spark = run.work, run.spark
    # foreachBatch callbacks run on threads of their own
    run.tracer.foster = threading.get_ident()

    # ---- set-up: inputs, then a small replay and one read cycle to warm up --
    bulk_log = gen.changelog(run.seed, BULK_EVENTS, CONVS)
    bulk_files = _write_chunks(bulk_log, f"{work}/src")
    n_bulk = bulk_log.num_rows
    warm_src = f"{work}/warm-src"
    _write_chunks(gen.changelog(run.seed + 2, WARM_EVENTS, CONVS), warm_src)
    n_tail = int(EVENT_RATE * (TRIGGER_S * TAIL_POLLS + TAIL_SLACK_S))
    tail = gen.changelog(run.seed + 1, n_tail, CONVS, v2_from=0.0,
                         lsn0=bulk_log["lsn"][-1].as_py() + 10)
    tail_file = f"{work}/tail.parquet"
    pq.write_table(tail, tail_file, row_group_size=1024)
    tail_lsn = tail["lsn"].to_numpy()
    tags = itertools.count()

    def replay(src: str, **applier_opts) -> tuple[float, TimedApplier, str]:
        root = f"{work}/tbl-{next(tags)}"
        tbl = TranscriptTable(spark, root, n_buckets=BUCKETS, schema=_v1_schema())
        applier = TimedApplier(ChangeApplier(tbl, retry=run.retry_policy(),
                                             **applier_opts))
        t = time.perf_counter()
        with run.tracer.span("bench.replay", "bench"):
            state = pipeline.run_stream(spark, src, applier, f"{root}-ckpt")
        wall = time.perf_counter() - t
        run.attempted += len(applier.times)
        if len(state["stats"]) != BULK_CHUNKS or any(
                s.get("status") != "committed" for s in applier.stats):
            run.fail(f"replay: {len(state['stats'])} batches, "
                     f"statuses {[s.get('status') for s in applier.stats]}")
        return wall, applier, root

    # plan compilation and JIT: a replay with lineage and quarantine on, as
    # the tail has them, then one read cycle whose tick copies its last chunk
    run.log("inputs written")
    _, _, warm_root = replay(warm_src, lineage_dir=f"{work}/warm-lineage",
                             quarantine_dir=f"{work}/warm-quarantine")
    run.log("warm-up replay done")
    warm = Tail(run, warm_root, tail_file, tail_lsn, rewind=1)
    warm.reads.cycle(warm.epoch - 1)
    warm.server.shutdown()
    run.setup_done()

    def measure_bulk(traced: bool) -> dict:
        """Untraced: whole replays for at most --seconds (at least one).
        Traced: exactly one, so the per-layer sums cover a fixed amount of
        work."""
        rates, appliers, root, wall = [], [], None, 0.0
        t0 = time.perf_counter()
        with run.measuring(traced):
            while not rates or (not traced
                                and time.perf_counter() - t0 + wall <= run.seconds):
                wall, applier, root = replay(f"{work}/src")
                rates.append(n_bulk / wall)
                appliers.append(applier)
        return {"rate": env.median(rates), "replays": len(rates),
                "appliers": appliers, "root": root}

    bulk = measure_bulk(traced=False)
    run.e2e["throughput_per_s"] = bulk["rate"]
    chunk_times = [x for a in bulk["appliers"] for x in a.times]
    run.info["bulk"] = {"events_per_replay": n_bulk, "replays": bulk["replays"],
                        "chunk_commit_p50_s": env.median(chunk_times),
                        "chunk_commit_s": [round(x, 3) for x in chunk_times]}
    bulk_stats = []
    if run.trace:
        # untraced, traced, untraced: warm-up drift cancels out
        traced = measure_bulk(traced=True)
        again = measure_bulk(traced=False)
        run.trace_overhead(
            "bulk_s_per_event",
            untraced=1 / env.median([bulk["rate"], again["rate"]]),
            traced=1 / traced["rate"])
        bulk_stats = [s for a in traced["appliers"] for s in a.stats]
        bulk = again
    run.log("bulk replay measured")

    # ---- open-loop tail into the last measured replay --------------------------
    # The replay left 4 deltas per bucket, so the last timed poll compacts.
    t_setup = time.perf_counter()
    tail_run = Tail(run, bulk["root"], tail_file, tail_lsn)
    run.e2e["setup_s"] += time.perf_counter() - t_setup
    # a traced run traces the one tail window, so that it holds the same
    # compaction; its overhead is measured on the bulk replay
    tt = tail_run.window(traced=run.trace)
    reads = tail_run.reads
    run.e2e["latency_p50_s"] = env.quantile(tt["fresh"], 0.5)
    run.e2e["latency_p90_s"] = env.quantile(tt["fresh"], 0.9)
    run.info["tail"] = {"events_per_s": EVENT_RATE, "trigger_s": TRIGGER_S,
                        "poll_latency_s": [round(x, 3) for x in tt["fresh"]],
                        "read_cycles": len(reads.tick_stats),
                        "row_reads": len(reads.samples)}
    if run.trace:
        run.layer.update(layer_metrics(run.tracer.spans))
        run.layer.update(commit_counts(bulk_stats + tail_run.stats))
        run.layer.update({
            "pipeline.batches": float(len(bulk_stats)),
            "tailer.rows_applied": float(sum(
                r["rows_upserted"] + r["rows_deleted"]
                for s in reads.tick_stats for r in s.get("per_bucket", ()))),
            "tailer.empty_window_ratio": float(np.mean(
                [s["status"] in ("idle", "empty_window") for s in reads.tick_stats])),
            "serving.errors": float(sum(st != 200 for _, st in reads.statuses)),
            "tail.backlog_max_events": float(max(tt["backlog"])),
            "tail.poll_lateness_max_s": float(max(tt["lateness"])),
        })
    run.log("tail measured")

    # ---- correctness, outside the timed phases -----------------------------
    run.checks_start()
    if run.trace:
        run.layer.update(table_state_metrics(tail_run.tbl, n_bulk + tail_run.j))
    tail_run.check(bulk_files, bulk_log["lsn"][-1].as_py())


# -- queries ------------------------------------------------------------------

HEADLINE = (
    "cdc_final_state", "cdc_final_state_salted", "latest_per_group",
    "count_per_key", "gap_detection", "range_join", "range_join_chunked",
    "range_join_stab", "set_difference", "dedup_exact_docs",
    "minhash_pairs_docs", "emb_topk", "asof_enrich", "windowed_counts",
    "docs_curated",
)
QUERY_TABLES = {"n_events": 10_000, "n_users": 150, "n_docs": 300, "n_vecs": 200}
QUERY_WARMUPS = 1


def queries(run) -> None:
    """The headline queries of ``__spark_entry__`` over generated tables."""
    import __spark_entry__ as E

    data = f"{run.work}/qdata"
    gen.query_tables(run.seed, data, **QUERY_TABLES)
    entries = E.queries()

    # warm-up: every query QUERY_WARMUPS times, nproc at a time (compiles
    # the plans; the JIT keeps speeding passes up for several passes more)
    with ThreadPoolExecutor(max_workers=env.nproc()) as ex:
        for f in [ex.submit(lambda n: entries[n](run.spark, data).collect(), n)
                  for n in HEADLINE * QUERY_WARMUPS]:
            f.result()
    run.setup_done()

    def measure(traced: bool) -> tuple[dict, dict]:
        """Untraced: whole passes for at most --seconds (at least one).
        Traced: exactly one pass."""
        times, results = {}, {}
        t0, last = time.perf_counter(), 0.0
        with run.measuring(traced):
            while not times or (not traced
                                and time.perf_counter() - t0 + last <= run.seconds):
                t_pass = time.perf_counter()
                for name in HEADLINE:
                    run.tracer.set_trace(f"query-{name}")
                    t = time.perf_counter()
                    with run.tracer.span(f"query.{name}", "operators"):
                        df = entries[name](run.spark, data)
                        rows = [tuple(r) for r in df.collect()]
                    times.setdefault(name, []).append(time.perf_counter() - t)
                    results[name] = (df.columns, rows)
                last = time.perf_counter() - t_pass
        return times, results

    times, results = measure(traced=False)
    medians = {n: env.median(v) for n, v in times.items()}
    samples = [x for v in times.values() for x in v]
    run.e2e["throughput_per_s"] = len(HEADLINE) / sum(medians.values())
    run.e2e["latency_p50_s"] = env.quantile(samples, 0.5)
    run.e2e["latency_p90_s"] = env.quantile(samples, 0.9)
    run.info["queries"] = {"passes": len(times[HEADLINE[0]]),
                           "total_s": sum(medians.values())}
    if run.trace:
        # untraced, traced, untraced: warm-up drift cancels out
        traced, _ = measure(traced=True)
        again, _ = measure(traced=False)

        def total(*runs):
            return sum(env.median([x for r in runs for x in r[n]]) for n in HEADLINE)

        run.trace_overhead("queries_total_s", untraced=total(times, again),
                           traced=total(traced))
        run.layer.update(layer_metrics(run.tracer.spans))
        run.layer.update({f"query.{n}_s": medians[n] for n in HEADLINE})
    run.log("queries measured")

    run.checks_start()
    con = oracle.query_views(data)
    sqls = E.oracle_sql()
    for name in HEADLINE:
        cols, rows = results[name]
        run.attempted += 1
        problem = oracle.query_problem(con, sqls[name], cols, rows)
        if problem:
            run.fail(f"query {name}: {problem}")


WORKLOADS = {"cdc": cdc, "queries": queries}

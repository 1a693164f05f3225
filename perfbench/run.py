"""CDC engine benchmark.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all        # every workload, one process each
    python3 perfbench/run.py --selftest            # tiny sizes, checks the checks

Runs one workload on a fresh local[nproc] session and prints, as its last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``.  The line before it (``{"info": ...}``) records the host,
the resolved Spark conf and the sample counts.  See NOTES.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here, session start included

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    __package__ = "perfbench"

from perfbench import env  # noqa: E402

from perfbench.layers import LAYERS  # noqa: E402
from perfbench.workloads import HEADLINE, WORKLOADS  # noqa: E402

E2E = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "pipeline.batches": "count", "pipeline.wall_s": "s", "pipeline.overhead_s": "s",
    "apply.calls": "count", "apply.busy_s": "s", "apply.self_s": "s",
    "pipeline.chunk_p50_s": "s", "apply.p50_s": "s", "apply.retries": "count", "apply.degraded_writes": "count",
    "table.merge_calls": "count", "table.merge_s": "s",
    "table.manifest_calls_per_commit": "count", "table.manifest_s": "s",
    "table.schema_s": "s", "table.evolve_schema_s": "s",
    "table.is_epoch_committed_s": "s", "table.delta_file_counts_s": "s",
    "table.compact_calls": "count", "table.compact_s": "s",
    "table.files_per_commit": "count", "table.bytes_written": "bytes",
    "table.rows_written_per_event": "ratio", "table.live_files_end": "count",
    "table.delta_depth_max": "count",
    "table.lookup_calls": "count", "table.lookup_s": "s", "table.bucket_of_s": "s",
    "table.snapshot_s": "s", "table.changes_s": "s", "table.has_changes_s": "s",
    "serving.row_requests": "count", "serving.row_s": "s",
    "serving.row_p50_s": "s", "serving.row_p90_s": "s", "serving.overhead_s": "s",
    "serving.metrics_scrape_s": "s", "serving.errors": "count",
    "tailer.ticks": "count", "tailer.tick_s": "s", "tailer.tick_p50_s": "s",
    "tailer.rows_applied": "count", "tailer.empty_window_ratio": "ratio",
    "tail.backlog_max_events": "count", "tail.poll_lateness_max_s": "s",
    "spark.jobs_per_commit": "count", "spark.tasks_per_commit": "count",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.write_stage_task_skew": "ratio",
    "spark.executor_run_s": "s", "spark.gc_s": "s", "spark.jobs_attributed": "count",
    **{f"query.{q}_s": "s" for q in HEADLINE},
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.spans": "count", "trace.wall_s": "s", "trace.self_sum_ratio": "ratio",
    "trace.overhead_share": "ratio",
}


class Run:
    """State of one workload run: session, tracer, counters and metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 spark=None, work: str | None = None, t_start: float = T_START):
        from perfbench.layers import patch_layers
        from perfbench.trace import Tracer

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.t_start = t_start
        self.work = work or env.fresh_workdir(workload)
        self.spark = spark or env.start_spark(self.work, event_log=trace)
        self.tracer = Tracer(self.spark)
        patch_layers(self.tracer)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = env.host_info(self.spark)
        self.retries = 0

    def retry_policy(self):
        """The engine's default retry policy, counting retriable failures."""
        from go_data_publisher_spark.streaming.apply import RetryPolicy

        classify = RetryPolicy().is_retriable

        def counting(exc):
            retriable = classify(exc)
            self.retries += bool(retriable)
            return retriable

        return RetryPolicy(is_retriable=counting)

    def log(self, msg: str) -> None:
        """Progress line on stderr (stdout carries only the result)."""
        print(f"[perfbench +{time.perf_counter() - self.t_start:7.2f}s] {msg}",
              file=sys.stderr, flush=True)

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)

    def setup_done(self) -> None:
        self.e2e["setup_s"] = time.perf_counter() - self.t_start
        self.log("setup done")

    def checks_start(self) -> None:
        """Called when the timed phases are over and the correctness checks
        begin: peak memory is read here, so it leaves out the checks."""
        self.e2e["peak_rss_mb"] = env.peak_rss_mb(self.spark)
        self.log("checking")

    @contextlib.contextmanager
    def measuring(self, traced: bool):
        retries0 = self.retries
        self.tracer.enabled = traced
        try:
            with self.tracer.span("bench.measure", "bench"):
                yield
        finally:
            self.tracer.enabled = False
        if traced:
            self.layer["apply.retries"] = float(self.retries - retries0)

    def trace_overhead(self, label: str, untraced: float, traced: float) -> None:
        """Traced minus untraced value of one lower-is-better quantity, as a
        share of the untraced one."""
        self.layer["trace.overhead_share"] = traced / untraced - 1.0
        self.info.setdefault("trace_overhead", {})[label] = {
            "untraced": untraced, "traced": traced}

    def check_state(self, read_state, files: list[str], label: str,
                    max_lsn: int | None = None) -> None:
        """``read_state()`` returns the engine's rows as pandas; any error
        while reading them counts as a mismatch too."""
        from perfbench import oracle

        self.attempted += 1
        try:
            actual = read_state()
        except Exception as exc:  # a broken table must fail the check, not the run
            self.fail(f"{label}: state unreadable: {type(exc).__name__}")
            return
        n = oracle.state_mismatches(oracle.load_log(files), actual, max_lsn=max_lsn)
        if n:
            self.fail(f"{label}: {n} rows differ from the oracle")

    def metrics(self, trace: bool) -> dict:
        """The per-layer metrics when ``trace``, else the end-to-end ones;
        a layer the workload does not exercise reads 0."""
        names, values = (PER_LAYER, self.layer) if trace else (E2E, self.e2e)
        return {n: {"value": float(values.get(n, 0.0)), "unit": u}
                for n, u in names.items()}

    def result(self) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": self.metrics(self.trace),
        }


def main_one(args) -> int:
    env.check_sources()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.log("session started")
    try:
        try:
            WORKLOADS[run.workload](run)
        finally:
            run.log("workload done")
            env.stop_spark(run.spark)
        if run.trace:
            from perfbench.layers import spark_metrics

            run.layer.update(spark_metrics(f"{run.work}/eventlog", run.tracer.spans))
            spans_path = os.path.join(env.WORK_ROOT, f"spans-{run.workload}-{run.seed}.jsonl")
            run.tracer.write_jsonl(spans_path)
            run.info["spans_jsonl"] = os.path.relpath(spans_path, env.REPO_ROOT)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    run.info["workload"], run.info["seed"] = run.workload, run.seed
    if run.problems:
        run.info["problems"] = run.problems[:20]
    print(json.dumps({"info": run.info}))
    print(json.dumps(run.result()), flush=True)
    return 0


def main_all(args) -> int:
    """Each workload in a fresh process; prints a table and one merged line."""
    env.check_sources()
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=env.REPO_ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for metric, v in res["metrics"].items():
            merged["metrics"][f"{name}.{metric}"] = v
            print(f"{name:16s} {metric:36s} {v['value']:>14.6g} {v['unit']}")
        print(f"{name:16s} correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
    print(json.dumps(merged), flush=True)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    args = p.parse_args(argv)
    if args.selftest:
        env.check_sources()
        from perfbench.selftest import main as selftest

        return selftest()
    if args.workload is None:
        p.error("--workload is required")
    try:
        return main_all(args) if args.workload == "all" else main_one(args)
    except Exception:  # no result line: the run failed
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())

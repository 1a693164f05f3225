"""Self-test at tiny sizes: ``python3 perfbench/run.py --selftest``.

Checks that the benchmark's own checks work:
  1. every metric named in BENCHMARK.json is printed, with its unit;
  2. deleting one committed delta file from a finished table makes the
     oracle check report a failure;
  3. the span JSONL of a traced run forms a tree whose child spans fall
     inside their parents, and self times sum to the traced wall time.
Exits 0 when all pass.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

from perfbench import env, gen, workloads
from perfbench.trace import check_tree, self_times

TINY = {
    "BULK_EVENTS": 4_000, "WARM_EVENTS": 2_000, "EVENT_RATE": 500.0,
    "TRIGGER_S": 1.0, "TAIL_POLLS": 3, "TAIL_SLACK_S": 20.0, "QUERY_TABLES": {"n_events": 800, "n_users": 200,
                                       "n_docs": 60, "n_vecs": 40},
}


def check_metrics(results: dict[str, dict]) -> list[str]:
    path = os.path.join(env.REPO_ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return ["BENCHMARK.json not found"]
    with open(path) as f:
        bench = json.load(f)
    problems = []
    for workload, printed in results.items():
        for m in bench["end_to_end"] + bench["per_layer"]:
            got = printed.get(m["name"])
            if got is None:
                problems.append(f"{workload}: {m['name']} not printed")
            elif got["unit"] != m["unit"] or not math.isfinite(got["value"]):
                problems.append(f"{workload}: {m['name']} printed as {got}")
    return problems


def check_spans(spans: list[dict], path: str) -> list[str]:
    """Round-trips the spans through JSONL, then checks the tree."""
    from perfbench.trace import Tracer

    t = Tracer()
    t.spans = spans
    t.write_jsonl(path)
    with open(path) as f:
        loaded = [json.loads(line) for line in f]
    problems = check_tree(loaded)
    roots = sum(s["end"] - s["start"] for s in loaded if s["parent"] is None)
    ratio = sum(self_times(loaded).values()) / roots if roots else 0.0
    if not 0.95 <= ratio <= 1.05:
        problems.append(f"self times sum to {ratio:.3f} of the traced wall time")
    return problems


def check_deleted_delta(run) -> list[str]:
    """A finished table passes the oracle check; without one of its delta
    files it must fail it."""
    from go_data_publisher_spark.lake.table import TranscriptTable
    from go_data_publisher_spark.streaming import pipeline
    from go_data_publisher_spark.streaming.apply import ChangeApplier

    src = f"{run.work}/broken-src"
    os.makedirs(src)
    log = gen.changelog(run.seed, 3_000, 200)
    files = []
    for i, chunk in enumerate(gen.split_by_lsn(log, 2)):
        files.append(f"{src}/chunk-{i:04d}.parquet")
        gen.write_events(chunk, files[-1], mtime=time.time() - 100 + i)
    tbl = TranscriptTable(run.spark, f"{run.work}/broken", n_buckets=8)
    pipeline.run_stream(run.spark, src, ChangeApplier(tbl), f"{run.work}/broken-ckpt")
    before = run.failed
    run.check_state(lambda: tbl.snapshot().toPandas(), files, "intact table")
    if run.failed != before:
        return [f"intact table failed the oracle check: {run.problems[-1]}"]
    victim = next(f["path"] for f in tbl.manifest()["files"] if f["kind"] == "delta")
    os.unlink(victim)
    run.check_state(lambda: tbl.snapshot().toPandas(), files, "table missing a delta")
    if run.failed == before:
        return ["deleting a committed delta file went unnoticed"]
    run.failed, run.problems = before, run.problems[:-1]
    return []


def main() -> int:
    from perfbench.run import Run

    for name, value in TINY.items():
        setattr(workloads, name, value)
    work = env.fresh_workdir("selftest")
    spark = env.start_spark(work)
    problems, printed = [], {}
    try:
        for name in workloads.WORKLOADS:
            run = Run(name, seed=7, seconds=3.0, trace=True, spark=spark,
                      work=f"{work}/{name}", t_start=time.perf_counter())
            os.makedirs(run.work)
            try:
                workloads.WORKLOADS[name](run)
            finally:
                run.tracer.unpatch()
            problems += [f"{name}: {p}" for p in run.problems]
            printed[name] = {**run.metrics(trace=False), **run.metrics(trace=True)}
            problems += [f"{name} spans: {p}" for p in
                         check_spans(run.tracer.spans, f"{work}/spans-{name}.jsonl")]
            if name == "cdc":
                problems += check_deleted_delta(run)
        problems += check_metrics(printed)
    finally:
        env.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"FAIL {p}")
    print("selftest passed" if not problems else f"selftest failed ({len(problems)})")
    return 0 if not problems else 1

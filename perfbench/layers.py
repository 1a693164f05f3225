"""Per-layer metrics, computed from the spans of a traced phase, the commit
stats the engine returns, the table left on disk, and the Spark event log.

Layer names follow the package's modules: ``pipeline`` (streaming.pipeline),
``apply`` (streaming.apply), ``table`` (lake.table), ``serving``,
``tailer`` (streaming.tailer), ``operators`` (the ``__spark_entry__``
queries over operators/* and functions.text) and ``bench`` (the
benchmark's own loop).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

import pyarrow.parquet as pq

from .env import median, quantile
from .trace import ancestors, self_times

LAYERS = ("bench", "pipeline", "apply", "table", "serving", "tailer", "operators")
TABLE_CALLS = ("merge", "manifest", "schema", "evolve_schema", "is_epoch_committed",
               "delta_file_counts", "compact", "lookup", "bucket_of", "snapshot",
               "changes", "has_changes")


def patch_layers(tracer) -> None:
    """Wrap the public calls of every layer the benchmark times."""
    from go_data_publisher_spark import serving
    from go_data_publisher_spark.lake.table import TranscriptTable
    from go_data_publisher_spark.streaming import pipeline
    from go_data_publisher_spark.streaming.apply import ChangeApplier
    from go_data_publisher_spark.streaming.tailer import ChangefeedTailer

    tracer.patch(pipeline, "run_stream", "pipeline.run_stream", "pipeline")
    tracer.patch(ChangeApplier, "apply_batch", "apply.apply_batch", "apply")
    for name in TABLE_CALLS:
        tracer.patch(TranscriptTable, name, f"table.{name}", "table")
    tracer.patch(ChangefeedTailer, "tick", "tailer.tick", "tailer")
    tracer.patch(serving, "build_metrics_text", "serving.build_metrics_text", "serving")


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    by_id = {s["id"]: s for s in spans}
    dur = defaultdict(list)
    for s in spans:
        dur[s["name"]].append(s["end"] - s["start"])

    def total(name):
        return float(sum(dur.get(name, ())))

    def count(name):
        return float(len(dur.get(name, ())))

    def pct(name, q):
        return quantile(dur[name], q) if dur.get(name) else 0.0

    selfs = self_times(spans)
    apply_ids = {s["id"] for s in spans if s["name"] == "apply.apply_batch"}
    n_apply = len(apply_ids)
    in_apply = [s for s in spans if any(a["id"] in apply_ids for a in ancestors(s, by_id))]
    table_direct = sum(s["end"] - s["start"] for s in spans
                       if s["layer"] == "table" and s["parent"] in apply_ids)
    streamed = [s["end"] - s["start"] for s in spans if s["id"] in apply_ids
                and any(a["name"] == "pipeline.run_stream" for a in ancestors(s, by_id))]
    direct = [s["end"] - s["start"] for s in spans if s["id"] in apply_ids
              and not any(a["name"] == "pipeline.run_stream" for a in ancestors(s, by_id))]
    roots = [s for s in spans if s["parent"] is None]
    root_wall = sum(s["end"] - s["start"] for s in roots)

    out = {
        "pipeline.wall_s": total("pipeline.run_stream"),
        "pipeline.overhead_s": total("pipeline.run_stream") - sum(streamed),
        "pipeline.chunk_p50_s": quantile(streamed, 0.5) if streamed else 0.0,
        "apply.calls": float(n_apply),
        "apply.busy_s": total("apply.apply_batch"),
        "apply.self_s": total("apply.apply_batch") - table_direct,
        "apply.p50_s": quantile(direct, 0.5) if direct else 0.0,
        "table.manifest_calls_per_commit": (
            sum(1 for s in in_apply if s["name"] == "table.manifest") / n_apply
            if n_apply else 0.0),
        "serving.row_requests": count("serving.row"),
        "serving.row_s": total("serving.row"),
        "serving.row_p50_s": pct("serving.row", 0.5),
        "serving.row_p90_s": pct("serving.row", 0.9),
        "serving.overhead_s": total("serving.row") - total("table.lookup"),
        "serving.metrics_scrape_s": total("serving.metrics"),
        "tailer.ticks": count("tailer.tick"),
        "tailer.tick_s": total("tailer.tick"),
        "tailer.tick_p50_s": pct("tailer.tick", 0.5),
        "trace.spans": float(len(spans)),
        "trace.wall_s": root_wall,
        "trace.self_sum_ratio": sum(selfs.values()) / root_wall if root_wall else 0.0,
    }
    for name in ("merge", "compact", "lookup"):
        out[f"table.{name}_calls"] = count(f"table.{name}")
    for name in TABLE_CALLS:
        out[f"table.{name}_s"] = total(f"table.{name}")
    per_layer = defaultdict(float)
    for s in spans:
        per_layer[s["layer"]] += selfs[s["id"]]
    for layer in LAYERS:
        out[f"self.{layer}_s"] = per_layer.get(layer, 0.0)
    return out


def commit_counts(stats: list[dict]) -> dict[str, float]:
    merged = [s for s in stats if s.get("status") == "committed"]
    return {
        "apply.degraded_writes": float(sum(
            1 for s in merged if "degraded_write_parallelism" in s)),
        "table.files_per_commit": (
            sum(s.get("files_written", 0) for s in merged) / len(merged)
            if merged else 0.0),
    }


def table_state_metrics(tbl, events_offered: int) -> dict[str, float]:
    """Storage left behind by one table: bytes of every data file written
    (merge deltas and compaction bases), merge rows per offered event, and
    the live layout at the end."""
    total_bytes, delta_rows = 0, 0
    for path in glob.glob(f"{tbl.root}/data/commit=*/*/*.parquet"):
        total_bytes += os.path.getsize(path)
        md = pq.read_metadata(path)
        if "__del" in md.schema.names:  # merge deltas carry the delete marker
            delta_rows += md.num_rows
    m = tbl.manifest()
    return {
        "table.bytes_written": float(total_bytes),
        "table.rows_written_per_event": delta_rows / events_offered,
        "table.live_files_end": float(len(m["files"])),
        "table.delta_depth_max": float(max(tbl.delta_file_counts().values(), default=0)),
    }


# ---------------------------------------------------------------------------
# Spark engine metrics from the event log
# ---------------------------------------------------------------------------

def spark_metrics(eventlog_dir: str, spans: list[dict]) -> dict[str, float]:
    """Jobs are attributed to spans through their job group (the id of the
    span that was open on the submitting thread).  Only jobs of traced
    spans count."""
    by_id = {s["id"]: s for s in spans}
    job_span, stage_job, tasks = {}, {}, defaultdict(list)
    for path in glob.glob(f"{eventlog_dir}/**/*", recursive=True):
        if not os.path.isfile(path) or os.path.basename(path).startswith((".", "app")):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is not None and group.isdigit() and int(group) in by_id:
                        job_span[ev["Job ID"]] = int(group)
                        for sid in ev.get("Stage IDs", ()):
                            stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    tasks[ev["Stage ID"]].append(ev)

    def in_commit(span_id):
        s = by_id[span_id]
        return s["name"] == "apply.apply_batch" or any(
            a["name"] == "apply.apply_batch" for a in ancestors(s, by_id))

    n_apply = sum(1 for s in spans if s["name"] == "apply.apply_batch")
    commit_jobs = {j for j, sid in job_span.items() if in_commit(sid)}
    mb = 1024.0 * 1024.0
    agg = defaultdict(float)
    commit_tasks = 0
    stages_of = defaultdict(list)
    for sid, job in stage_job.items():
        stages_of[job].append(sid)
        for ev in tasks.get(sid, ()):
            tm = ev.get("Task Metrics") or {}
            rd = tm.get("Shuffle Read Metrics") or {}
            wr = tm.get("Shuffle Write Metrics") or {}
            agg["shuffle_write"] += wr.get("Shuffle Bytes Written", 0)
            agg["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            agg["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            agg["run_ms"] += tm.get("Executor Run Time", 0)
            agg["gc_ms"] += tm.get("JVM GC Time", 0)
            if job in commit_jobs:
                commit_tasks += 1
    skews = []
    for job, sid in job_span.items():
        if by_id[sid]["name"] != "table.merge" or not stages_of.get(job):
            continue
        times = [ev["Task Info"]["Finish Time"] - ev["Task Info"]["Launch Time"]
                 for ev in tasks.get(max(stages_of[job]), ())]
        if times and median(times) > 0:
            skews.append(max(times) / median(times))
    return {
        "spark.jobs_per_commit": len(commit_jobs) / n_apply if n_apply else 0.0,
        "spark.tasks_per_commit": commit_tasks / n_apply if n_apply else 0.0,
        "spark.shuffle_write_mb": agg["shuffle_write"] / mb,
        "spark.shuffle_read_mb": agg["shuffle_read"] / mb,
        "spark.spill_mb": agg["spill"] / mb,
        "spark.write_stage_task_skew": median(skews) if skews else 0.0,
        "spark.executor_run_s": agg["run_ms"] / 1000.0,
        "spark.gc_s": agg["gc_ms"] / 1000.0,
        "spark.jobs_attributed": float(len(job_span)),
    }

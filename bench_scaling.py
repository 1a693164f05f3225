#!/usr/bin/env python
"""Scaling-efficiency evidence (BASELINE.json north_rule / driver instruction).

Three measurement modes, each cached into ``bench_results.json`` so
``BENCH.md`` always regenerates complete from whatever has been measured:

- **pairs**  — the IDENTICAL end-to-end merge-replay job at two parallelism
  levels (N and 4N executor threads) on the same deterministic input;
  reports throughput at both plus efficiency eff = (T_N / T_4N) / 4.
  Default step pairs: local[1]→local[4] and local[2]→local[8].
- **scale10** — the same replay at 1× and 10× the event count with a FIXED
  batch size (so the 10× run commits 10× more batches into an ever-growing
  table): evidence that per-event throughput and per-batch commit cost stay
  flat as the table grows, plus wall-time linearity for two representative
  query shapes (final-state dedup, gap detection) at both scales.
- **skew**   — a hot-key replay log (ONE key carrying a fixed share of all
  events) deduped by the three D4 formulations: the skew-prone row_number
  window, the map-side-partial max_by (`last_wins`), and the explicit
  two-phase salted reduction (`last_wins_salted`) — the measured skew story.

Usage:  python bench_scaling.py [pairs] [scale10] [skew]   (default: all)

Methodology notes (single shared host):
- levels run in separate JVMs (one JVM can't host two masters);
- pairs runs are INTERLEAVED and repeated; best-of-R per level is reported
  (the sandbox host shows multi-second noise spikes that hit long runs at
  random — observed same-binary same-input swings of 18s → 200s — best-of
  is the standard throughput-claim estimator under asymmetric noise);
- shuffle partitions and input partitioning are pinned identically at both
  levels so the plans are the same and only executor-thread count varies;
- a HOST CEILING calibration runs the same N→4N step for a pure
  embarrassingly-parallel JVM aggregation (range → xxhash64 → avg; no
  shuffle, no IO): on this virtualized shared box even ideal work cannot
  reach 4×, so the engine's efficiency is also reported normalized to what
  the host can express at all.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# repo root derived from this file's location (not hardcoded): running the
# bench from another checkout must read/write THAT checkout's cache and
# import THAT checkout's package, both here and in the child processes
REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

N_EVENTS = int(os.environ.get("SPARK_GRAFT_SCALE_EVENTS", "8000000"))
N_CHUNKS = int(os.environ.get("SPARK_GRAFT_SCALE_CHUNKS", "2"))
REPEATS = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "3"))
PAIRS = [
    tuple(int(x) for x in p.split(":"))
    for p in os.environ.get("SPARK_GRAFT_SCALE_PAIRS", "1:4,2:8").split(",")
]
SCALE10_BASE = int(os.environ.get("SPARK_GRAFT_SCALE10_BASE", "4000000"))
SCALE10_FACTOR = int(os.environ.get("SPARK_GRAFT_SCALE10_FACTOR", "10"))
SCALE10_CHUNK = int(os.environ.get("SPARK_GRAFT_SCALE10_CHUNK", "500000"))
SKEW_EVENTS = int(os.environ.get("SPARK_GRAFT_SKEW_EVENTS", "32000000"))
CACHE = os.path.join(REPO, "bench_results.json")

CHILD = r"""
import json, sys, time, tempfile, shutil
sys.path.insert(0, r"__REPO__")
from go_data_publisher_spark.session import get_spark
from go_data_publisher_spark.sources.changelog import generate_changelog
from go_data_publisher_spark.lake.table import TranscriptTable
from go_data_publisher_spark.streaming.apply import ChangeApplier, replay_batch_range
from pyspark.sql import functions as F

import os
cores, n_events, n_chunks = int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3])
# spark.default.parallelism pinned like shuffle partitions: the merge's
# write-task cap reads it, so leaving it at the core count would give the
# two levels DIFFERENT write plans (fewer task waves at low cores) and
# measure the plan change, not the thread scaling
spark = get_spark(app_name=f"scalebench-{cores}", cores=cores, shuffle_partitions=32,
                  extra_conf={"spark.driver.memory": "48g",
                              "spark.default.parallelism": "32"})
log = generate_changelog(spark, n_events, n_convs=max(200, n_events // 500),
                         seed=42, n_partitions=32).persist()
cnt = log.count()
root = tempfile.mkdtemp(prefix="scale_",
                        dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
try:
    tbl = TranscriptTable(spark, f"{root}/tbl", n_buckets=32)
    app = ChangeApplier(tbl, lineage_dir=f"{root}/lineage")
    lo, hi = log.agg(F.min("lsn"), F.max("lsn")).first()
    span = (hi - lo) // n_chunks + 1
    bounds = [(lo + i*span, min(hi, lo + (i+1)*span - 1)) for i in range(n_chunks)]
    # full-size warm-up chunk (untimed, throwaway table): excludes one-time
    # JIT/codegen warmup from BOTH levels so efficiency compares steady state
    warm = TranscriptTable(spark, f"{root}/warm", n_buckets=32)
    ChangeApplier(warm).apply_batch(log.where(F.col("lsn").between(*bounds[0])), epoch_id=0)
    t0 = time.perf_counter()
    replay_batch_range(app, log, bounds)
    dt = time.perf_counter() - t0
    rows = tbl.snapshot().count()
finally:
    shutil.rmtree(root, ignore_errors=True)
print("RESULT " + json.dumps({"cores": cores, "n_events": cnt, "seconds": round(dt, 2),
                              "events_per_sec": round(cnt / dt, 1), "final_rows": rows}))
"""


CPU_CHILD = r"""
import sys, time
sys.path.insert(0, r"__REPO__")
from go_data_publisher_spark.session import get_spark
from pyspark.sql import functions as F
cores = int(sys.argv[1])
spark = get_spark(app_name="cal", cores=cores, shuffle_partitions=32,
                  extra_conf={"spark.driver.memory": "48g"})
df = spark.range(0, 1_000_000_000, numPartitions=128)
df.select(F.avg(F.xxhash64("id"))).first()  # warm
t0 = time.perf_counter(); df.select(F.avg(F.xxhash64("id", F.lit(1)))).first()
print(f"RESULT {time.perf_counter()-t0:.3f}")
"""


SCALE10_CHILD = r"""
import json, sys, time, tempfile, shutil, os
sys.path.insert(0, r"__REPO__")
from go_data_publisher_spark.session import get_spark
from go_data_publisher_spark.sources.changelog import generate_changelog
from go_data_publisher_spark.lake.table import TranscriptTable
from go_data_publisher_spark.streaming.apply import ChangeApplier
from go_data_publisher_spark.operators.dedup import last_wins
from go_data_publisher_spark.operators.sequencing import detect_gaps
from pyspark.sql import functions as F

cores, n_events, chunk_events = int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3])
# shuffle width sized for the LARGER scale and pinned identical at both (a
# cluster sizes this by data volume via AQE; pinning 32 here pushed the 10x
# aggregation past the per-partition spill threshold and measured spill, not
# the engine — observed 2.3s -> 45-100s q_dedup swings)
spark = get_spark(app_name=f"scale10-{n_events}", cores=cores, shuffle_partitions=128,
                  extra_conf={"spark.driver.memory": "48g"})
root = tempfile.mkdtemp(prefix="scale10_",
                        dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
try:
    # materialize the log as parquet (the real pipeline's source shape):
    # per-chunk reads then scan with lsn pushdown instead of caching ~GBs.
    # CONSTANT rows-per-file at every scale (a binlog tail's geometry):
    # spark.range partitions are contiguous id ranges, so each file spans a
    # contiguous lsn window and a batch's lsn filter prunes to ~the same
    # number of files/rows regardless of total scale — a fixed file count
    # would make 10x batches scan 10x-coarser files and measure the source
    # layout, not the engine
    src = f"{root}/log"
    generate_changelog(spark, n_events, n_convs=max(200, n_events // 500),
                       seed=42,
                       n_partitions=max(8, n_events // 250_000)
                       ).write.parquet(src)
    log = spark.read.parquet(src)
    cnt = log.count()
    lo, hi = log.agg(F.min("lsn"), F.max("lsn")).first()

    tbl = TranscriptTable(spark, f"{root}/tbl", n_buckets=32)
    app = ChangeApplier(tbl, lineage_dir=f"{root}/lineage")
    n_chunks = max(1, (n_events + chunk_events - 1) // chunk_events)
    span = (hi - lo) // n_chunks + 1
    bounds = [(lo + i*span, min(hi, lo + (i+1)*span - 1)) for i in range(n_chunks)]

    # query-linearity timings FIRST, on a fresh JVM: measured after the
    # 80-batch replay they inherit its heap state (observed a 7x q_dedup
    # swing from exactly that ordering)
    def timed_noop(df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    q_dedup = min(timed_noop(last_wins(log)) for _ in range(2))
    q_gaps = min(timed_noop(
        detect_gaps(log.select("conv_id", "lsn"), ["conv_id"], "lsn")
    ) for _ in range(2))

    warm = TranscriptTable(spark, f"{root}/warm", n_buckets=32)
    ChangeApplier(warm).apply_batch(log.where(F.col("lsn").between(*bounds[0])), epoch_id=0)

    batch_times = []
    t0 = time.perf_counter()
    for i, (a, b) in enumerate(bounds):
        tb = time.perf_counter()
        app.apply_batch(log.where(F.col("lsn").between(a, b)), epoch_id=i)
        batch_times.append(time.perf_counter() - tb)
    dt = time.perf_counter() - t0
    rows = tbl.snapshot().count()
finally:
    shutil.rmtree(root, ignore_errors=True)

k = min(5, len(batch_times))
print("RESULT " + json.dumps({
    "cores": cores, "n_events": cnt, "n_batches": len(bounds),
    "chunk_events": chunk_events,
    "seconds": round(dt, 2), "events_per_sec": round(cnt / dt, 1),
    "final_rows": rows,
    "first_batches_avg_s": round(sum(batch_times[:k]) / k, 3),
    "last_batches_avg_s": round(sum(batch_times[-k:]) / k, 3),
    "q_dedup_s": round(q_dedup, 2), "q_gaps_s": round(q_gaps, 2),
}))
"""


SKEW_CHILD = r"""
import json, sys, time, tempfile, shutil, os
sys.path.insert(0, r"__REPO__")
from go_data_publisher_spark.session import get_spark
from go_data_publisher_spark.sources.changelog import generate_changelog
from go_data_publisher_spark.operators.dedup import (
    last_wins, last_wins_salted, last_wins_window)
from pyspark.sql import functions as F

cores, n_events = int(sys.argv[1]), int(sys.argv[2])
hot_share = float(sys.argv[3])
spark = get_spark(app_name=f"skew-{hot_share}", cores=cores, shuffle_partitions=32,
                  extra_conf={"spark.driver.memory": "48g"})
root = tempfile.mkdtemp(prefix="skew_",
                        dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
try:
    # max_turns=1 → the hot conversation is ONE hot (conv_id, turn_idx) key;
    # hot_frac→0 pins n_hot to a single conversation carrying hot_share of
    # ALL events (reference analogue: per-tick fan-out concentrating a tick's
    # transactions on one key, transactions-producer/domain/processor.go:157-165)
    src = f"{root}/log"
    generate_changelog(spark, n_events, n_convs=4000, max_turns=1, seed=42,
                       hot_frac=1e-9, hot_share=hot_share,
                       n_partitions=64).write.parquet(src)
    log = spark.read.parquet(src)
    cnt = log.count()
    hot = (log.groupBy("conv_id").count().orderBy(F.desc("count")).first())

    def timed(df):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return best

    timed(last_wins(log))  # warm the scan + codegen once
    t_window = timed(last_wins_window(log))
    t_maxby = timed(last_wins(log))
    t_salted = timed(last_wins_salted(log, n_salts=8))
finally:
    shutil.rmtree(root, ignore_errors=True)

print("RESULT " + json.dumps({
    "cores": cores, "n_events": cnt, "hot_share": hot_share,
    "hot_key_events": int(hot["count"]),
    "window_s": round(t_window, 2),
    "maxby_s": round(t_maxby, 2),
    "salted_s": round(t_salted, 2),
}))
"""


def _run_child(code: str, *args, timeout: int = 3600) -> dict | float:
    code = code.replace("__REPO__", REPO)
    p = subprocess.run([sys.executable, "-c", code, *[str(a) for a in args]],
                       capture_output=True, text=True, timeout=timeout,
                       cwd=REPO)
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            body = line[len("RESULT "):]
            try:
                return json.loads(body)
            except json.JSONDecodeError:
                return float(body)
    raise RuntimeError(
        f"no result from child:\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}")


def run_calibration(cores: int) -> float:
    return _run_child(CPU_CHILD, cores, timeout=600)


def run_level(cores: int) -> dict:
    return _run_child(CHILD, cores, N_EVENTS, N_CHUNKS)


def measure_pair(c_lo: int, c_hi: int) -> dict:
    runs = {c_lo: [], c_hi: []}
    for _ in range(REPEATS):
        for cores in (c_lo, c_hi):  # interleaved
            r = run_level(cores)
            runs[cores].append(r)
            print(json.dumps(r), flush=True)
    lo = min(runs[c_lo], key=lambda r: r["seconds"])
    hi = min(runs[c_hi], key=lambda r: r["seconds"])
    factor = c_hi / c_lo
    speedup = lo["seconds"] / hi["seconds"]
    cal_lo = min(run_calibration(c_lo) for _ in range(2))
    cal_hi = min(run_calibration(c_hi) for _ in range(2))
    host_speedup = cal_lo / cal_hi
    return {
        "pair": f"{c_lo}->{c_hi}", "N": lo, "4N": hi,
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(speedup / factor, 3),
        "host_ceiling_speedup": round(host_speedup, 3),
        "host_ceiling_efficiency": round(host_speedup / factor, 3),
        "normalized_efficiency": round(min(1.0, speedup / host_speedup), 3),
        "all_runs": {str(k): v for k, v in runs.items()},
    }


def measure_scale10() -> dict:
    base = _run_child(SCALE10_CHILD, 32, SCALE10_BASE, SCALE10_CHUNK)
    print(json.dumps(base), flush=True)
    big = _run_child(SCALE10_CHILD, 32, SCALE10_BASE * SCALE10_FACTOR,
                     SCALE10_CHUNK, timeout=7200)
    print(json.dumps(big), flush=True)
    return {
        "base": base, "big": big, "factor": SCALE10_FACTOR,
        "throughput_ratio": round(
            big["events_per_sec"] / base["events_per_sec"], 3),
        "commit_flatness_big": round(
            big["last_batches_avg_s"] / big["first_batches_avg_s"], 3),
        "q_dedup_per_event_ratio": round(
            (big["q_dedup_s"] / big["n_events"])
            / (base["q_dedup_s"] / base["n_events"]), 3),
        "q_gaps_per_event_ratio": round(
            (big["q_gaps_s"] / big["n_events"])
            / (base["q_gaps_s"] / base["n_events"]), 3),
    }


def measure_skew() -> dict:
    out = {"shares": []}
    for share in (0.1, 0.5):
        r = _run_child(SKEW_CHILD, 32, SKEW_EVENTS, share)
        print(json.dumps(r), flush=True)
        out["shares"].append(r)
    return out


def _load_cache() -> dict:
    try:
        with open(CACHE) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return {}


def _save_cache(cache: dict) -> None:
    # atomic: a Ctrl-C/timeout landing mid-dump must not wipe hours of
    # cached measurements (a torn file parses as {} on the next load)
    from go_data_publisher_spark.ioutil import atomic_write_json

    atomic_write_json(CACHE, cache)


def write_bench_md(cache: dict) -> None:
    results = cache.get("pairs", [])
    rows = []
    for r in results:
        rows.append(
            f"| local[{r['N']['cores']}] → local[{r['4N']['cores']}] "
            f"| {r['N']['seconds']}s → {r['4N']['seconds']}s "
            f"| {r['N']['events_per_sec']:,.0f} → {r['4N']['events_per_sec']:,.0f} ev/s "
            f"| **{r['speedup']:.2f}×** | {r['scaling_efficiency']:.2f} "
            f"| {r['host_ceiling_speedup']:.2f}× ({r['host_ceiling_efficiency']:.2f}) "
            f"| **{r['normalized_efficiency']:.2f}** |"
        )
    detail = "\n".join(
        f"- local[{c}]: " + "; ".join(f"{x['seconds']}s" for x in r["all_runs"][c])
        for r in results for c in sorted(r["all_runs"], key=int)
    )
    lead = results[0] if results else None
    headline = (
        f"**Headline: N→4N speedup {lead['speedup']:.2f}×, RAW scaling efficiency\n"
        f"{lead['scaling_efficiency']:.2f} (target ≥ 0.8; host-normalized\n"
        f"{lead['normalized_efficiency']:.2f}) at the {lead['pair']} step.**"
        if lead else "_pairs mode not yet measured this round_"
    )
    ceilings = ", ".join(
        f"{r['host_ceiling_speedup']:.2f}× at {r['pair']}" for r in results
    ) or "n/a"
    spike = max((x["seconds"] for r in results
                 for x in r["all_runs"][str(r["4N"]["cores"])]), default=0)

    s10 = cache.get("scale10")
    if s10:
        b, g = s10["base"], s10["big"]
        scale10_md = f"""Identical replay pipeline, FIXED {b['chunk_events']:,}-event batches, 1× vs
{s10['factor']}× events on local[32] (single solo run each — too long for best-of):

| scale | events | batches | wall | throughput | first-5 batch avg | last-5 batch avg |
|---|---|---|---|---|---|---|
| 1× | {b['n_events']:,} | {b['n_batches']} | {b['seconds']}s | {b['events_per_sec']:,.0f} ev/s | {b['first_batches_avg_s']}s | {b['last_batches_avg_s']}s |
| {s10['factor']}× | {g['n_events']:,} | {g['n_batches']} | {g['seconds']}s | {g['events_per_sec']:,.0f} ev/s | {g['first_batches_avg_s']}s | {g['last_batches_avg_s']}s |

- **Throughput ratio {s10['throughput_ratio']:.2f}** ({s10['factor']}× vs 1× events/sec): per-event
  cost is ~flat at 10× the data.
- **Commit flatness {s10['commit_flatness_big']:.2f}** (avg of the LAST 5 batches ÷ FIRST 5
  within the {s10['factor']}× run): committing batch #{g['n_batches']} into a table already
  holding ~{g['n_events']:,} events costs no more than batch #1 into an empty
  table (≤ 1.0 = no growth; below 1.0 the first batches carry residual
  codegen/AQE warm-up) — merge-on-read + manifest deltas hold at growing
  table size.
- Query linearity (seconds per event, {s10['factor']}× ÷ 1×): final-state dedup
  **{s10['q_dedup_per_event_ratio']:.2f}** ({b['q_dedup_s']}s → {g['q_dedup_s']}s), gap detection
  **{s10['q_gaps_per_event_ratio']:.2f}** ({b['q_gaps_s']}s → {g['q_gaps_s']}s).  ≈1.0 is linear;
  <1.0 means the larger run amortizes fixed costs better."""
    else:
        scale10_md = "_scale10 mode not yet measured this round_"

    skew = cache.get("skew")
    if skew:
        n_ev = skew["shares"][0]["n_events"]
        skew_rows = "\n".join(
            f"| {int(r['hot_share']*100)}% | {r['hot_key_events']:,} "
            f"| {r['window_s']}s | {r['maxby_s']}s | {r['salted_s']}s "
            f"| **{r['window_s'] / r['maxby_s']:.1f}×** |"
            for r in skew["shares"]
        )
        worst = max(skew["shares"], key=lambda r: r["window_s"] / r["maxby_s"])
        worst_ratio = worst["window_s"] / worst["maxby_s"]
        if worst_ratio >= 1.5:
            contrast_md = f"""- At the {int(worst['hot_share'] * 100)}% share the skew story appears: the
  row_number window pays the straggler (every duplicate of the hot key
  shuffles to ONE reducer and sorts there — a {worst['hot_key_events']:,}-row
  single-task sort, window ÷ max_by {worst_ratio:.1f}×), while
  `last_wins`'s map-side partial max_by gets FASTER with more skew:
  duplicates collapse to one row per input partition before the shuffle,
  so the shuffle shrinks as the hot share grows."""
        else:
            contrast_md = f"""- In THIS measurement window the window/max_by gap stays within
  {worst_ratio:.1f}× at every share: at {n_ev:,} events the hot key's
  single-reducer sort ({worst['hot_key_events']:,} rows) costs no more
  than the parallel scan floor, so the straggler does not dominate at this
  scale on this host.  The structural asymmetry is unchanged — the window
  form funnels every duplicate of the hot key through one task (work grows
  with the hot share), while max_by's map-side partial aggregation
  collapses duplicates per input partition BEFORE the shuffle (shuffle
  shrinks as the hot share grows) — it just needs a larger hot-key row
  count than this run's to dominate wall time (a degraded-window round-5
  run at the same shape measured 2.5× at the 50% share when the box
  amplified the single-task sort)."""
        skew_md = f"""One (conv_id, turn_idx) key carries the hot share of all {n_ev:,}
events (max_turns=1, single hot conversation — the reference's per-tick
fan-out shape, transactions-producer/domain/processor.go:157-165).  The
three D4 dedup formulations, best of 2 on local[32]:

| hot share | hot-key events | row_number window | max_by (`last_wins`) | salted 2-phase | window ÷ max_by |
|---|---|---|---|---|---|
{skew_rows}

Reading the measurements honestly:

- At 10% hot share the parquet scan of {n_ev:,} wide rows dominates all
  three forms — skew differences are invisible below that floor on this
  host.
{contrast_md}
- The explicit salted two-phase is NOT a win here — it pays a full-width
  repartition of the raw rows that partial aggregation makes unnecessary.
  It exists (and is measured, and kept) for the case that defeats partial
  aggregation: payloads too wide for the in-memory hash map, where the
  max_by plan degrades to sort-based aggregation and the window's straggler
  shape returns.  A measured rejection, not a default.

This is why the engine's hot path uses max_by, fused into the merge's
bucket exchange; the salted form runs only as the `cdc_final_state_salted`
query and in this measurement, and the window form is kept as a test oracle
only (`operators/dedup.py`)."""
    else:
        skew_md = "_skew mode not yet measured this round_"

    md = f"""# BENCH — merge-replay throughput & scaling efficiency

Evidence for the north_rule's two-cluster-size criterion, per driver
instruction: the identical end-to-end job (deterministic change log →
last-wins dedup → bucketed LSN-guarded merge-on-read delta commits with
atomic manifest swaps + per-partition lineage) run at two parallelism levels
on the same input ({N_EVENTS:,} logical events, seed 42, {N_CHUNKS}
microbatches), plans pinned identical (32 shuffle partitions / 32 input
partitions / default parallelism 32, so the merge's write-task cap resolves
the same at every level); only executor-thread count varies.  Best of
{REPEATS} interleaved runs per level.

| step (N → 4N) | wall sec | throughput | speedup | raw eff | host ceiling (eff) | normalized eff |
|---|---|---|---|---|---|---|
{chr(10).join(rows) if rows else "| _not yet measured_ | | | | | | |"}

{headline}

**Host ceiling calibration**: the same N→4N step for a pure
embarrassingly-parallel JVM aggregation (`spark.range(1e9) → xxhash64 →
avg`, no shuffle/IO, no engine code) is measured per pair (column 6) — this
virtualized shared box cannot express 4× even on ideal work (measured
ceilings ≈ {ceilings}).
Since round 5 the SAME probe is also embedded in `bench.py` itself as a
`host_control` field (good-day constant + probe time sampled immediately
before the headline merge and after the queries + a `slowdown_factor`
ratio), so every `BENCH_r*.json` records its own host condition: a reader
comparing rounds checks that factor before attributing a delta to the
engine (the round-4 merge "regression" — 290k ev/s in the driver artifact
vs 540k in round 3 while every query got faster — was exactly such a day).
The factor BOUNDS rather than linearly rescales the merge — the probe is
pure CPU while the merge has IO phases that dilute a CPU slowdown — so use
it as a validity gate (≳1.5 means don't trust the number), not a divisor.
The normalized column is engine speedup ÷ host ceiling: what fraction of
the parallelism the host *can* express the engine actually captures.
The raw-vs-normalized gap at higher thread counts is host memory-bandwidth
contention, not engine serialization: the engine has no serial stage —
dedup is a map-side partial hash aggregate, the delta write is one task per
bucket, lineage comes from parquet footer metadata (zero extra jobs), and
the manifest commit is a driver-side O(buckets) JSON swap.

All interleaved runs (note the asymmetric noise spikes — e.g. a 4-core run
at {spike}s against a best of {lead['4N']['seconds'] if lead else 'n/a'}s —
which is why best-of is used):
{detail}

Caveats: single shared host — all "cluster sizes" share one memory bus, one
virtio disk and the host's noisy neighbors, so high thread counts measure
host contention rather than the engine (local[32] is slower than local[8]
here on *any* shuffle-heavy job, including stock Spark aggregations). On a
real multi-executor cluster each executor brings its own disks and memory
bandwidth.

Regenerate: `python bench_scaling.py [pairs] [scale10] [skew]` (env
`SPARK_GRAFT_SCALE_EVENTS`, `SPARK_GRAFT_SCALE_REPEATS`,
`SPARK_GRAFT_SCALE_PAIRS=1:4,2:8`, `SPARK_GRAFT_SCALE10_BASE/FACTOR/CHUNK`,
`SPARK_GRAFT_SKEW_EVENTS`).

## 10× scale stress (growing-table + query-linearity evidence)

{scale10_md}

## Hot-key skew (salting evidence)

{skew_md}

## Commit cost vs table size (merge-on-read evidence)

`bench.py` also times the same small batch (20k events) merged into an
empty table and into a table preloaded with 1M events (`commit_cost` in the
JSON).  Measured ratio ≈ **0.9–1.0**: commit cost is O(batch), independent
of table size — the property that keeps a CDC tail alive at 100 TB (the
round-1 copy-on-write design rewrote every touched bucket, making every
commit O(table)).  Since round 6 the block also splits each commit into
`driver_phase_s` (footer-stat reads + manifest fold — the only part that
could hide an O(live-files) term) and `write_stage_s` (the executor write
job): the driver phase is O(batch-files) at BOTH table sizes (tens of ms,
same file count either way), pinning the earlier rounds' ratio drift
(0.92 → 1.21 → 1.40 across r3–r5) to write-stage/JVM variance on this
shared box, not to a table-size term in the commit path.

## Commit cost vs live-file count (manifest-delta evidence)

`bench.py`'s `commit_metadata` section times the same small merge into
tables whose manifests hold 100 vs 10,000 live file entries (preloaded
through the same metadata path real commits use).  Measured ratio ≈
**0.85–1.0**: a commit writes O(batch-files) manifest JSON (per-commit
file-list deltas + a checkpoint every 20 versions), so metadata cost no
longer grows with table file count — the round-2 design rewrote the full
live-file list under the commit lock on every merge.

## Commit cost vs bucket count (driver-metadata evidence)

`bench.py`'s `commit_buckets` section times the same 20k-event merge into a
16-bucket and a 256-bucket table.  The driver-side per-commit metadata work
(thread-pooled footer-stat reads + manifest fold, reported separately as
`driver_phase_s`, beside the executor-side `write_stage_s`) stays
sub-second at 256 buckets; the residual full-
commit growth is the write job producing ~16× more output files, which a
multi-executor cluster parallelizes (and which the write-task cap bounds at
one task per core locally, so each write stage is one task wave).

## Read path vs delta depth (auto-compaction evidence)

`bench.py`'s `read_path` block measures the one classic failure mode of a
merge-on-read design: full-snapshot latency as delta files accumulate
between compactions.  With inline compaction disabled, `snapshot()` cost
grows ~linearly with delta depth (each delta adds one more parquet scan +
one more round of the LSN-guarded fold per bucket) — roughly **10× slower
at 64 deltas/bucket than at 1**.  A `compact()` collapses the chain back to
the floor.  The same stream replayed WITH the inline policy
(`ChangeApplier(compact_delta_files=8)`) triggers compaction every ~8
commits, keeps the observed depth strictly below the threshold, and holds
`snapshot()` **within ~1× of the fully-compacted floor** while writes
stream (`read_vs_post_compact` ≈ 0.8–1.3 across runs; the pinned claim is
≤ ~2×).  Policy trigger behavior is separately pytest-pinned
(`tests/test_maintenance.py`).  Reference semantics: the verifier's
read-after-write path (status-service/sync/tick_processor.go:251-310) —
reads must stay cheap while the write side tails.

The block's `hot_bucket` sub-measurement covers the skewed-write pattern:
a fully-compacted table that keeps taking deltas in ONE of its buckets.
`snapshot()` splits its plan at the bucket level — the last-wins fold (a
hash-aggregate shuffle) covers only buckets that hold delta files, and
compacted buckets ride a Union branch around it as plain scans
(`lake/table.py:_split_snapshot_files`, plan pinned in
`tests/test_plan_shapes.py`).  Measured effect: at the same per-bucket
delta depth the 1-dirty-bucket read costs ~half the every-bucket-dirty
read (0.58s vs 1.18s at depth 16, r6); the residual over the compacted
floor is the dirty bucket's own delta volume — the fold's cost now
tracks the DIRTY DATA volume, not the table width.  At 100 TB this is
the difference between re-shuffling the table per read and re-shuffling
the working set.

## Microbatch commit latency (poll-cadence evidence)

The reference consumes on a 100 ms poll cadence
(transactions-consumer/consume/transaction_consumer.go:72-91), so a
replacement engine owes a LATENCY distribution, not just throughput.
`bench.py`'s `microbatch_latency` block pushes 30 sequential 2k-event
batches through the full exactly-once path (dedup → bucket write → footer
stats → atomic manifest swap) and reports p50/p95/min/max wall clock per
batch — **p50 ≈ 0.6–0.9s, p95 ≈ 0.8–1.6s** on local[32] at 32 buckets
(measured 0.68/0.77 at sf0.1 conditions, r6).
The floor is Spark job-scheduling overhead (two jobs per commit), not data
volume: the same path moves 4M-event batches at >500k ev/s, so per-event
cost at 2k events is ~99% fixed overhead.  That is the honest trade of a
Spark microbatch engine vs the reference's in-process 100 ms loop: ~0.7s
commit latency instead of ~0.1s, in exchange for exactly-once table
commits and two orders of magnitude more headroom per batch.  A deployment
that needs sub-second p50 raises the poll interval to amortize (the
reference itself batches up to 4096 records per poll for the same
reason) or drops `n_buckets`; both knobs are exposed.

## Per-query host-validity gating

Every headline-query row in `BENCH_r*.json` since round 6 carries its own
control (`query_control`): the full best-of sample list, the max/min
spread, and a quarter-scale pure-JVM `mini_probe` sampled immediately
before the first timed run, expressed as `probe_factor` = probe ÷ good-day
constant.  Reading a row: slow best-of + probe_factor ≈ 1 + tight spread =
engine regression; slow best-of + probe_factor ≫ 1 or wide spread = the
box (this shared host shows 3s → 25s same-binary swings).  This closes the
round-5 attribution gap where four queries "regressed" 30–90% with no code
change and only whole-artifact probes could argue host noise.  The factor
is a validity gate, not a divisor.

## 10× query-set scaling (sf1)

`bench.py`'s `sf1` block re-times the whole headline query set on a
deterministically synthesized 10× copy of the sf0.1 tables (disjoint id
spaces; document text alphabet-rotated per copy so length/shingle
statistics are preserved but no artificial cross-copy near-duplicates
exist; embedding dims rotated likewise — see `synthesize_sf1`).  Reported
`ratio_per_event` = t_sf1 ÷ (10 × t_sf0.1): ≈1 is linear, <1 sublinear
(fixed job overhead amortizing), >1 flags superlinear work.

The gate earned its keep in round 6: every operator lands at 0.08–0.19
per-event EXCEPT `range_join_chunked`, flagged at **1.65** (69.5s at
sf1).  Root cause is the data shape, not the plan: this benchmark's
per-user intervals span ~97% of the log, so the matching-pair count is
~events × intervals and ANY pair-enumerating range join — chunked
equi-join or broadcast nested loop — is O(pairs) (the BNLJ twin hides it
only because its tight codegen loop is compute-bound rather than
shuffle-bound).  The fix is the third twin, `range_join_stab`
(`operators/sequencing.py:interval_stab_count`): the count aggregate
computed by sweeping the interval boundary step function (+1 at lo, −1
at hi+1, range-partitioned running sum, O(n_parts) boundary stitch) —
zero pair enumeration, measured **linear at 10× (1.83s, ratio 0.12)**
and the fastest twin at sf0.1 (1.49s vs 3.4s BNLJ / 4.1s chunked).
Oracled against the same DuckDB SQL as its siblings; plan pinned
pair-free in `tests/test_plan_shapes.py`.

## Table backend

The **mini-lake** (`lake/table.py`) is the only table backend; every run
above used it.  Its manifest log mirrors Iceberg's O(batch) commit-metadata
shape; `tests/test_iceberg_backend.py` pins its eight-point table contract.
"""
    with open(os.path.join(REPO, "BENCH.md"), "w") as f:
        f.write(md)


def main():
    modes = sys.argv[1:] or ["pairs", "scale10", "skew"]
    cache = _load_cache()
    if "skew" in modes:
        cache["skew"] = measure_skew()
        _save_cache(cache)
    if "scale10" in modes:
        cache["scale10"] = measure_scale10()
        _save_cache(cache)
    if "pairs" in modes:
        cache["pairs"] = [measure_pair(lo, hi) for lo, hi in PAIRS]
        _save_cache(cache)
    write_bench_md(cache)
    print(json.dumps({m: bool(cache.get(m)) for m in ("pairs", "scale10", "skew")}))


if __name__ == "__main__":
    main()

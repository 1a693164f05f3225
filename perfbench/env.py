"""Process environment for one benchmark run: paths, the pinned Spark
session, host facts and peak memory.

Everything the run writes lives under ``<checkout>/.perfbench_work`` (Spark
scratch, JVM temp files, tables, event logs), so a run never touches
anything outside the checkout it was started from.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")

# JVM heap for local mode.  The session factory's default asks for at least
# 16g, which is more than a small host has; every workload here fits in 2g.
JVM_HEAP = "2g"


def check_sources() -> None:
    """Exit with code 2 unless the engine sources sit beside the benchmark."""
    needed = [os.path.join(REPO_ROOT, "go_data_publisher_spark", "__init__.py"),
              os.path.join(REPO_ROOT, "__spark_entry__.py")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: engine sources not found: {missing}", file=sys.stderr)
        raise SystemExit(2)
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def fresh_workdir(name: str) -> str:
    """A clean per-run directory; JVM and Python temp files go under it."""
    path = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    return path


def start_spark(work: str, event_log: bool = False):
    """The session every workload runs on: local[nproc], at most a 2g heap
    (not pre-sized, so peak RSS follows the engine's use), shuffle
    partitions at twice the cores, Spark scratch inside the work dir."""
    from go_data_publisher_spark.session import get_spark

    cores = nproc()
    local = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's helper JVM
    conf = {
        "spark.driver.memory": JVM_HEAP,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark(app_name="perfbench", cores=cores,
                     shuffle_partitions=2 * cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited.  The JVM ends
    when its stdin pipe closes, which would otherwise happen only as this
    process exits, leaving it running past the end of the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def host_info(spark) -> dict:
    keep = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.local.dir", "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold", "spark.eventLog.enabled")
    conf = dict(spark.sparkContext.getConf().getAll())
    return {"nproc": nproc(), "ram_mb": ram_mb(), "spark_version": spark.version,
            "python": sys.version.split()[0],
            "spark_conf": {k: conf.get(k) for k in keep}}


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty sample."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values))

"""SparkSession factory tuned for the CDC/merge workload.

Local mode is a single JVM with N executor threads; on a real cluster the same
configs hold, with ``spark.sql.shuffle.partitions`` sized to ~2-3x total cores
and AQE coalescing down at runtime.  Everything here is cluster-safe: we never
rely on local-mode behavior in engine logic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle-partition default: at 100 TB this would be several thousand; AQE
# coalesces small post-shuffle partitions either way, so we set a ceiling that
# matches the testing hardware and let AQE shrink.
DEFAULT_SHUFFLE_PARTITIONS = 32


# Engine confs that hold on any master: every session that runs the engine
# sets them, the local one from ``get_spark`` and the CLI's under
# spark-submit (``run_pipeline.py``, which leaves the master to spark-submit).
ENGINE_CONF = {
    # commit via direct task-attempt rename (v2): one rename per file
    # instead of a driver-side rename storm at job commit — the many
    # small per-microbatch writes are commit-latency-bound otherwise.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # Streaming offsets/commits/sources logs through the FileSystem API:
    # the default FileContext manager checks both ends of every log
    # rename with getFileLinkStatus, which without libhadoop runs
    # `readlink` as a child process (104 per 4-batch replay, all on the
    # stream thread).  On a local filesystem both managers check that
    # the destination is absent and then rename, so the logs'
    # no-overwrite guard is the same; the table commit already requires
    # a local POSIX root (its flock lock).
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
    # List table files on the driver: above this many paths a read lists
    # them with a Spark job, one task per path (default 32).  Table
    # reads name their files from the manifest, under a local POSIX root
    # (the flock commit lock needs one), where the driver lists faster
    # than a job starts.  Building snapshot() (4 cores, with the
    # manifest's schema, so no inference job either): 16 files
    # 0.27 s -> 0.12-0.16 s, 112 files 1.1-2.0 s -> 0.20 s, 1,792 files
    # (256 buckets x 7 deltas) 8.2-10.9 s -> 0.62-0.85 s.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1000000",
}


def get_spark(
    app_name: str = "spark-cdc-transcripts",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores`` accepts an int (local[N]) or "*" — used by the scaling bench to
    run the identical job at two parallelism levels (local[8] vs local[32]),
    the sandbox stand-in for N vs 4N executors.
    """
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    nparts = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    # Per-thread heap provisioning: local[N] packs N executor threads into
    # one JVM, so the heap must scale with N the way per-executor memory
    # does on a cluster (~1.5 GB/thread; a 16g heap under 32 writer threads
    # measures GC, not the engine: 12s vs 4s per merge write stage).
    try:
        n_threads = os.cpu_count() if str(cores) == "*" else int(cores)
    except ValueError:
        n_threads = os.cpu_count()
    driver_mem = f"{max(16, int(n_threads * 1.5))}g"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=ENGINE_CONF)
        .config("spark.sql.shuffle.partitions", str(nparts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # CDC batches are small relative to the target table: give the
        # planner room to broadcast the batch side of the merge join.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    # Shuffle scratch space: the sandbox's single virtio disk collapses under
    # 32 concurrent shuffle writers (measured: 3s → 38s stalls); RAM-backed
    # local dirs remove the cliff.  On a real cluster this is the standard
    # "local SSDs for spark.local.dir" provisioning, not a code concern.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

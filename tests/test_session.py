"""Session configuration that the engine's guarantees rest on."""

import sys
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from go_data_publisher_spark.session import ENGINE_CONF

ROOT = Path(__file__).resolve().parents[1]
LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def test_checkpoint_log_never_overwrites(spark, tmpdir_path):
    """The streaming offset/commit logs rely on an atomic create that
    refuses to replace an existing batch file.  The session's checkpoint
    file manager (FileSystem-based, chosen to avoid readlink shell-outs)
    must keep that guard: closing a no-overwrite atomic create onto an
    existing path raises and leaves that file as it was."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path
    mgr = (jvm.org.apache.spark.sql.execution.streaming.checkpointing
           .CheckpointFileManager.create(path(tmpdir_path), conf))
    assert mgr.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    existing = f"{tmpdir_path}/0"
    with open(existing, "w") as f:
        f.write("v1")
    out = mgr.createAtomic(path(existing), False)
    out.write(bytearray(b"v2"))
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    already_exists = jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException")
    assert already_exists.isInstance(err.value.java_exception)
    with open(existing) as f:
        assert f.read() == "v1"


def test_file_listing_stays_on_the_driver(spark):
    """Table reads name up to thousands of files; above this many paths
    Spark would list them with a Spark job, one task per path
    (tests/test_read_jobs.py checks that reads launch none)."""
    assert spark.conf.get(LISTING_THRESHOLD) == "1000000"


def test_cli_session_gets_the_engine_confs(spark, tmpdir_path, monkeypatch, capsys):
    """``run_pipeline.py`` sets ``ENGINE_CONF`` on its session, so under
    spark-submit its reads list files on the driver too.  The CLI runs here
    in-process: its getOrCreate() returns this session and applies those
    confs to it."""
    assert ENGINE_CONF[LISTING_THRESHOLD] == "1000000"
    monkeypatch.syspath_prepend(str(ROOT))
    import run_pipeline

    spark.conf.unset(LISTING_THRESHOLD)
    try:
        assert spark.conf.get(LISTING_THRESHOLD) == "32"
        monkeypatch.setattr(sys, "argv", ["run_pipeline.py", "maintain",
                                          "--table", tmpdir_path, "--no-compact"])
        run_pipeline.main()
        assert spark.conf.get(LISTING_THRESHOLD) == "1000000"
    finally:
        spark.conf.set(LISTING_THRESHOLD, "1000000")
    assert '"version": 0' in capsys.readouterr().out

from __future__ import annotations

import contextlib
import shutil
import tempfile
import uuid

import py4j.clientserver
import py4j.java_gateway
import pytest

from go_data_publisher_spark.session import get_spark
from go_data_publisher_spark.streaming.apply import ChangeApplier


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="cdc_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def pandas_final_state(log_pdf):
    """Naive oracle: replay the change log in pandas.

    Keep valid rows; per (conv_id, turn_idx) the winner is max (lsn, op_rank);
    winner op 'D' means the key is absent from the final state.
    """
    import pandas as pd

    pdf = log_pdf.copy()
    pdf = pdf[pdf["conv_id"].notna() & pdf["turn_idx"].notna() & pdf["op"].isin(["I", "U", "D"])]
    pdf["__op_rank"] = pdf["op"].map({"I": 1, "U": 2, "D": 3})
    pdf = pdf.sort_values(["lsn", "__op_rank"]).drop_duplicates(
        subset=["conv_id", "turn_idx"], keep="last"
    )
    pdf = pdf[pdf["op"] != "D"].drop(columns=["__op_rank"])
    return pdf.reset_index(drop=True)


# py4j releases a Java object by sending a "memory delete" command when its
# Python proxy is garbage collected; when that happens depends on the
# collector, not on the plan, so those commands are not counted.
_GC_COMMAND = "m\nd\n"


@contextlib.contextmanager
def count_round_trips():
    """The py4j round trips made inside the block, GC traffic excepted."""
    counter = {"n": 0}
    patched = []
    for cls in (py4j.clientserver.ClientServerConnection,
                py4j.java_gateway.GatewayConnection):
        real = cls.send_command

        def counted(self, command, *a, _real=real, **kw):
            if not command.startswith(_GC_COMMAND):
                counter["n"] += 1
            return _real(self, command, *a, **kw)

        cls.send_command = counted
        patched.append((cls, real))
    try:
        yield counter
    finally:
        for cls, real in patched:
            cls.send_command = real


@contextlib.contextmanager
def jobs_launched(sc):
    """The ids of the Spark jobs started inside the block, via a job group
    of the test's own."""
    group = f"read-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "table read planning")
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


class CrashingApplier(ChangeApplier):
    """A ChangeApplier that raises before the sink write of the batch after
    its first ``crash_after``; ``applied`` counts the batches it applied.
    ``crash_after=None`` never crashes."""

    def __init__(self, table, crash_after=None, **kwargs):
        super().__init__(table, **kwargs)
        self.crash_after, self.applied = crash_after, 0

    def apply_batch(self, batch, epoch_id):
        if self.applied == self.crash_after:
            raise RuntimeError("injected crash before the sink write")
        stats = super().apply_batch(batch, epoch_id)
        self.applied += 1
        return stats

"""Table reads launch only their scan job.

``snapshot()`` and ``changes()`` read each schema id's files with the schema
the manifest declares for it (no schema-inference job), and the session lists
files on the driver at any path count (no parallel listing job, which Spark
otherwise starts past 32 paths).  The table here holds more than 32 live
files across two schema ids, the second of which adds a column and widens a
non-key type, so both the job count and the scan-time cast are exercised.
"""
from __future__ import annotations

from conftest import jobs_launched
from pyspark.sql import types as T

from go_data_publisher_spark.lake.table import TranscriptTable

SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("score", T.IntegerType(), True),
    T.StructField("lsn", T.LongType(), False),
])
N_KEYS = 160
INT_MAX = 2**31 - 1


def _build(spark, root):
    """Three commits into 16 buckets (two at schema 0, one at schema 1) and
    the expected (changes, fold winners) rows, modelled in Python."""
    tbl = TranscriptTable(spark, root, n_buckets=16, schema=SCHEMA)
    keys = [f"c{i:03d}" for i in range(N_KEYS)]
    # (conv_id, turn_idx, score, note, lsn, op, commit_version)
    flat: list[tuple] = []

    def commit(epoch, rows, ddl):
        """Merge ``rows`` of (conv_id, turn_idx, score, note, lsn, op); the
        note goes in only once the schema has that column."""
        note = (3,) if "note" in ddl else ()
        df = spark.createDataFrame(
            [tuple(r[i] for i in (0, 1, 2, 4, 5, *note)) for r in rows], ddl)
        st = tbl.merge(df, epoch_id=epoch)
        assert st["status"] == "committed"
        flat.extend(r + (tbl.manifest()["version"],) for r in rows)

    ddl0 = "conv_id string, turn_idx int, score int, lsn long, op string"
    # scores at the int limit: the widened read must keep them exact
    commit(0, [(k, 0, INT_MAX - i, None, 1, "I") for i, k in enumerate(keys)],
           ddl0)
    commit(1, [(k, 0, -INT_MAX + i, None, 2, "D" if i % 4 == 0 else "U")
               for i, k in enumerate(keys) if i % 2 == 0], ddl0)
    evolved = T.StructType([*SCHEMA.fields[:2],
                            T.StructField("score", T.LongType(), True),
                            SCHEMA.fields[3],
                            T.StructField("note", T.StringType(), True)])
    assert tbl.evolve_schema(evolved)
    commit(2, [(k, 0, 2**40 + i, f"n{i}", 3, "U")
               for i, k in enumerate(keys) if i % 3 == 0],
           "conv_id string, turn_idx int, score long, lsn long, op string, "
           "note string")
    winners: dict = {}
    for r in flat:  # lsn rises with every commit: the last change wins
        winners[r[:2]] = r[:6]
    return tbl, flat, winners


def test_reads_launch_no_metadata_jobs(spark, tmpdir_path):
    tbl, flat, winners = _build(spark, f"{tmpdir_path}/t")
    m = tbl.manifest()
    assert len(m["files"]) > 32
    assert {f["schema_id"] for f in m["files"]} == {0, 1}
    first_commit = min(f["seq"] for f in m["files"])

    sc = spark.sparkContext
    with jobs_launched(sc) as jobs:
        b = tbl.bucket_of("c003")
        reads = {
            "snapshot": tbl.snapshot(),
            "bucket": tbl.snapshot(buckets=[b]),
            "tombstones": tbl.snapshot(keep_tombstones=True),
            "changes": tbl.changes(first_commit - 1, m["version"]),
        }
    assert jobs == []

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    cols = ["conv_id", "turn_idx", "score", "note", "lsn"]
    live = sorted(w[:5] for w in winners.values() if w[5] != "D")
    assert rows(reads["snapshot"], cols) == live
    in_b = [r for r in live if tbl.bucket_of(r[0]) == b]
    assert ("c003", 0, 2**40 + 3, "n3", 3) in in_b
    assert rows(reads["bucket"], cols) == in_b
    assert rows(reads["tombstones"], cols + ["op"]) == sorted(winners.values())
    assert rows(reads["changes"], cols + ["op", "commit_version"]) == sorted(flat)
    # the cases the rows above must contain: a widened value that only fits
    # a long, an old file's value at the int limit, a null for the added
    # column, and a tombstone
    assert ("c000", 0, 2**40, "n0", 3) in live
    assert ("c001", 0, INT_MAX - 1, None, 1) in live
    assert ("c002", 0, -INT_MAX + 2, None, 2, "U") in rows(
        reads["tombstones"], cols + ["op"])
    assert ("c004", 0, -INT_MAX + 4, None, 2, "D") in rows(
        reads["tombstones"], cols + ["op"])
    assert dict(reads["snapshot"].dtypes)["score"] == "bigint"

"""Unit tests for sequencing (Q*), routing (F*), aggregate (A*) and
verification (V*) operators against tiny hand-built frames."""

import pytest
from pyspark.sql import functions as F

from go_data_publisher_spark.operators import aggregates as A
from go_data_publisher_spark.operators import routing as R
from go_data_publisher_spark.operators import sequencing as Q
from go_data_publisher_spark.operators import verify as V


@pytest.fixture(scope="module")
def seqdf(spark):
    rows = [(e, l) for e, l in [(1, 10), (1, 11), (1, 12), (1, 20), (2, 21), (2, 25), (3, 30)]]
    return spark.createDataFrame(rows, "epoch int, lsn long")


def test_next_range(spark, seqdf):
    got = sorted(r["lsn"] for r in Q.next_range(seqdf, "lsn", cursor=11, head=21).collect())
    assert got == [12, 20, 21]


def test_unprocessed_suffix(spark, seqdf):
    got = sorted(r["lsn"] for r in Q.unprocessed_suffix(seqdf, "epoch", 1).collect())
    assert got == [21, 25, 30]


def test_detect_gaps(spark, seqdf):
    gaps = Q.detect_gaps(seqdf.withColumn("k", F.lit(1)), ["k"], "lsn").collect()
    got = sorted((r["gap_from"], r["gap_to"]) for r in gaps)
    assert got == [(13, 19), (22, 24), (26, 29)]


def test_group_intervals_and_trim(spark, seqdf):
    iv = Q.group_intervals(seqdf, ["epoch"], "lsn")
    got = {r["epoch"]: (r["from_lsn"], r["to_lsn"], r["n_rows"]) for r in iv.collect()}
    assert got == {1: (10, 20, 4), 2: (21, 25, 2), 3: (30, 30, 1)}
    trimmed = Q.trim_to_cursor(iv, cursor=22)
    got = {r["epoch"]: (r["from_lsn"], r["to_lsn"]) for r in trimmed.collect()}
    assert got == {1: (10, 20), 2: (21, 22)}


def test_verify_monotonic(spark):
    ok = spark.createDataFrame(
        [(0, 1, 10), (1, 1, 20), (2, 2, 5)], "pos int, epoch int, from_lsn long"
    )
    bad = spark.createDataFrame(
        [(0, 1, 20), (1, 1, 10), (2, 2, 5)], "pos int, epoch int, from_lsn long"
    )
    dup = spark.createDataFrame(
        [(0, 1, 10), (1, 1, 10)], "pos int, epoch int, from_lsn long"
    )
    assert Q.verify_monotonic(ok, "pos").first()["n_violations"] == 0
    assert Q.verify_monotonic(bad, "pos").first()["n_violations"] == 1
    assert Q.verify_monotonic(dup, "pos").first()["n_violations"] == 1


def test_split_valid(spark):
    df = spark.createDataFrame(
        [("I", "c", 1), ("U", None, 2), ("X", "c", 3), ("D", "c", None)],
        "op string, conv_id string, turn_idx int",
    )
    valid, quarantined = R.split_valid(df, key_cols=("conv_id", "turn_idx"))
    assert valid.count() == 1 and quarantined.count() == 3


def test_drop_empty_and_patch(spark):
    pat = spark.createDataFrame(
        [(65535, 22180000, "x"), (65535, 1, "y"), (3, 22180000, "z")],
        "epoch int, lsn long, payload string",
    )
    out = R.patch_corrupt_range(pat, null_cols=["payload"])
    got = {(r["epoch"], r["lsn"]): r["payload"] for r in out.collect()}
    assert got[(65535, 22180000)] is None
    assert got[(65535, 1)] == "y" and got[(3, 22180000)] == "z"


def test_route_ephemeral(spark):
    df = spark.createDataFrame([(0, "zero"), (5, "z")], "amount int, dest string")
    out = R.route_ephemeral(df, (F.col("amount") == 0) & (F.col("dest") == "zero"))
    got = {r["amount"]: r["sink"] for r in out.collect()}
    assert got == {0: "ephemeral", 5: "permanent"}


def test_latest_per_group_and_counts(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "epoch int, lsn long, sig string"
    )
    got = {r["epoch"]: r["sig"] for r in A.latest_per_group(df, ["epoch"], "lsn").collect()}
    assert got == {1: "b", 2: "c"}
    got = {r["epoch"]: r["last_lsn"] for r in A.last_per_epoch(df, "epoch", "lsn").collect()}
    assert got == {1: 20, 2: 5}


def test_set_difference_and_mismatch(spark):
    a = spark.createDataFrame([("h1",), ("h2",)], "hash string")
    b = spark.createDataFrame([("h2",), ("h3",)], "hash string")
    got = {(r["hash"], r["side"]) for r in V.set_difference(a, b, ["hash"]).collect()}
    assert got == {("h1", "only_left"), ("h3", "only_right")}

    x = spark.createDataFrame([(1, "t", 5), (2, "u", 6)], "k int, txt string, n int")
    y = spark.createDataFrame([(1, "t", 5), (2, "DIFF", 6)], "k int, txt string, n int")
    bad = V.rows_mismatching(x, y, ["k"], ["txt", "n"]).collect()
    assert len(bad) == 1 and bad[0]["k"] == 2

    with pytest.raises(AssertionError):
        V.assert_equal_state(x, y, ["k"], ["txt", "n"])
    V.assert_equal_state(x, x, ["k"], ["txt", "n"])

"""Balanced write placement (r7): the hash-preimage partition key.

The merge/compact write stages repartition by a preimage j(__bucket) so that
Spark's shuffle hash sends bucket b exactly to partition b % n — one bucket
per writer task instead of the birthday-collision spread of hashing ~n
distinct ids into n partitions.  These tests pin the two load-bearing facts:

1. the pure-Python Murmur3 mirrors ``F.hash`` on ints (if Spark ever changed
   its shuffle hash this fails loudly; the engine would still be CORRECT,
   only balance would regress — placement stays a pure function of __bucket);
2. the resulting placement is exact round-robin, verified both arithmetically
   and live via spark_partition_id().
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_data_publisher_spark.lake.table import (
    TranscriptTable,
    _balanced_pkeys,
    _mmh3_hash_int,
    balanced_write_pkey,
)


def test_mmh3_matches_spark_hash(spark):
    vals = list(range(-8, 64)) + [1_000, 65_535, 2**31 - 1, -(2**31)]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "x int")
        .select("x", F.hash("x").alias("h"))
        .collect()
    )
    for r in rows:
        assert _mmh3_hash_int(r.x) == r.h, f"murmur3 mismatch at {r.x}"


@pytest.mark.parametrize("n", [1, 8, 16, 32, 256])
def test_preimages_are_exact_round_robin(n):
    pkeys = _balanced_pkeys(n)
    assert len(pkeys) == n
    for p, j in enumerate(pkeys):
        assert _mmh3_hash_int(j) % n == p


def test_one_bucket_per_partition_live(spark):
    n = 32
    df = (
        spark.range(10_000)
        .select(F.pmod(F.col("id"), F.lit(n)).cast("int").alias("__bucket"))
        .withColumn("__pkey", F.expr(balanced_write_pkey("__bucket", n)))
        .repartition(n, "__pkey")
        .select("__bucket", F.spark_partition_id().alias("pid"))
    )
    placement = df.distinct().collect()
    # every bucket in exactly one partition, and no partition holds two
    by_bucket = {}
    for r in placement:
        by_bucket.setdefault(r["__bucket"], set()).add(r["pid"])
    assert len(by_bucket) == n
    pids = set()
    for b, ps in by_bucket.items():
        assert len(ps) == 1, f"bucket {b} split across partitions {ps}"
        pids |= ps
    assert len(pids) == n, "two buckets collided onto one write task"


def test_balanced_pkeys_search_is_capped(monkeypatch):
    """A hash that never reaches some residues ends the preimage search
    after 64·n probes; those residues map to themselves, so placement stays
    a pure function of __bucket (only balance is lost)."""
    import go_data_publisher_spark.lake.table as table_mod

    probes = []

    def stub_hash(j, seed=42):
        probes.append(j)
        return 2 * j  # even residues only

    monkeypatch.setattr(table_mod, "_mmh3_hash_int", stub_hash)
    monkeypatch.setattr(table_mod, "_PKEY_CACHE", {})
    got = table_mod._balanced_pkeys(8)
    assert len(probes) == 64 * 8
    assert got == [0, 1, 1, 3, 2, 5, 3, 7]


def test_fused_equals_two_phase(spark, tmpdir_path):
    """The fused single-exchange merge (the default for a raw batch) and the
    two-phase shape (last_wins, then merge(deduped=True)) commit identical
    final states — winners are the same max_by over (order, op-rank)
    within the same key groups."""
    from go_data_publisher_spark.operators.dedup import last_wins
    from go_data_publisher_spark.operators.routing import split_valid
    from go_data_publisher_spark.sources.changelog import generate_changelog
    from go_data_publisher_spark.streaming.apply import ChangeApplier

    log = generate_changelog(spark, 20_000, n_convs=120, seed=7)
    valid, _ = split_valid(log)
    fused = TranscriptTable(spark, f"{tmpdir_path}/fused", n_buckets=8)
    ChangeApplier(fused).apply_batch(log, epoch_id=0)
    two = TranscriptTable(spark, f"{tmpdir_path}/two", n_buckets=8)
    two.merge(last_wins(valid), epoch_id=0, deduped=True)
    a, b = two.snapshot(), fused.snapshot()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == b.count() > 0


def test_fused_write_plan_single_exchange(spark, tmpdir_path, monkeypatch):
    """Pin the fused merge's core claim: dedup + bucket placement share ONE
    exchange.  Captures the REAL DataFrame merge() hands to the parquet
    writer (no replica drift) by intercepting DataFrameWriter.parquet."""
    import pyspark.sql.readwriter as rw
    from go_data_publisher_spark.sources.changelog import generate_changelog

    captured = []
    real_parquet = rw.DataFrameWriter.parquet

    def spy(self, path, **kw):
        captured.append(self._df)
        return real_parquet(self, path, **kw)

    monkeypatch.setenv("SPARK_GRAFT_MERGE_FUSED", "1")
    monkeypatch.setattr(rw.DataFrameWriter, "parquet", spy)
    tbl = TranscriptTable(spark, tmpdir_path, n_buckets=8)
    log = generate_changelog(spark, 5_000, n_convs=60, seed=3) \
        .where("conv_id is not null and turn_idx is not null")
    tbl.merge(log.drop("schema_version"), epoch_id=0)

    assert captured, "merge wrote nothing"
    import re

    plan = captured[-1]._sc._jvm.PythonSQLUtils.explainString(
        captured[-1]._jdf.queryExecution(), "formatted")
    # count operator DETAIL entries ("(n) Exchange"), not raw substring hits
    # (formatted output names each node twice: once in the tree, once in the
    # numbered details)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, f"fused write planned {n_exchanges} exchanges:\n{plan}"
    assert "max_by" in plan, "fused dedup aggregate missing from the write plan"


def test_merge_layout_one_file_per_bucket(spark, tmpdir_path):
    """End to end: a merge commit still writes exactly one delta file per
    touched bucket with the balanced placement on."""
    tbl = TranscriptTable(spark, tmpdir_path, n_buckets=8)
    events = spark.createDataFrame(
        [(f"c{i}", i % 3, i, "I", f"t{i}") for i in range(200)],
        "conv_id string, turn_idx int, lsn long, op string, text string",
    )
    tbl.merge(events, epoch_id=0)
    m = tbl.manifest()
    per_bucket = {}
    for f in m["files"]:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert per_bucket, "no files committed"
    assert all(c == 1 for c in per_bucket.values()), per_bucket

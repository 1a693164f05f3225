"""Generator property tests — each property mirrors a reference behavior the
engine must survive (FIXTURES.md §2)."""

from pyspark.sql import functions as F

from go_data_publisher_spark.sources.changelog import generate_changelog

N = 4000


def _log(spark):
    return generate_changelog(spark, N, n_convs=100, seed=11).persist()


def test_deterministic(spark):
    a = generate_changelog(spark, 1000, seed=3).orderBy("lsn", "op").collect()
    b = generate_changelog(spark, 1000, seed=3, n_partitions=3).orderBy("lsn", "op").collect()
    assert a == b


def test_has_duplicates_with_same_lsn(spark):
    log = _log(spark)
    dups = log.groupBy("lsn").count().where("count > 1")
    assert dups.count() > 0
    # duplicated deliveries are verbatim copies (true redelivery)
    exact = log.groupBy(*log.columns).count().where("count > 1").count()
    assert exact == dups.count()


def test_lsn_gaps_exist(spark):
    log = _log(spark)
    n_distinct, mx, mn = log.agg(
        F.countDistinct("lsn"), F.max("lsn"), F.min("lsn")
    ).first()
    assert mx - mn + 1 > n_distinct  # holes in sequence space


def test_hot_key_skew(spark):
    log = _log(spark)
    top = (
        log.where(F.col("conv_id").isNotNull())
        .groupBy("conv_id").count().orderBy(F.desc("count")).first()
    )
    avg = log.count() / 100
    assert top["count"] > 10 * avg  # one conv carries way above uniform share


def test_invalid_rows_present(spark):
    log = _log(spark)
    assert log.where(F.col("conv_id").isNull() | F.col("turn_idx").isNull()).count() > 0


def test_ops_mix_and_multiple_updates_per_key(spark):
    log = _log(spark)
    ops = {r["op"] for r in log.select("op").distinct().collect()}
    assert ops == {"I", "U", "D"}
    multi = (
        log.where(F.col("conv_id").isNotNull())
        .groupBy("conv_id", "turn_idx")
        .agg(F.countDistinct("lsn").alias("n"))
        .where("n >= 3")
    )
    assert multi.count() > 0


def test_schema_versions(spark):
    log = _log(spark)
    v1 = log.where("schema_version = 1")
    v2 = log.where("schema_version = 2")
    assert v1.count() > 0 and v2.count() > 0
    assert v1.where(F.col("tool").isNotNull()).count() == 0
    assert v2.where(F.col("tool").isNotNull()).count() > 0
    # v2 arrives strictly after v1 in LSN order
    assert (
        v1.agg(F.max("lsn")).first()[0] < v2.agg(F.min("lsn")).first()[0]
    )

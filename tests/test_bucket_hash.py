"""The driver-side XXH64 mirror that ``TranscriptTable.bucket_of`` uses,
pinned against Spark's ``xxhash64`` (the hash ``bucket_sql`` buckets rows
with)."""

import random

import pytest
from pyspark.sql import types as T

from go_data_publisher_spark.lake.table import TranscriptTable, _xxh64


def _signed(h: int) -> int:
    return h - (1 << 64) if h >> 63 else h


def _random_strings(n: int, seed: int = 11) -> list[str]:
    rng = random.Random(seed)
    alphabets = ["abcdefghijklmnopqrstuvwxyz0123456789-_",
                 "äöüßéèñçåø", "日本語の文字列", "😀🚀", "\x00\t \n"]
    out = ["", "a", "7", "conv-0001"]
    while len(out) < n:
        alpha = "".join(rng.sample(alphabets, rng.randint(1, len(alphabets))))
        out.append("".join(rng.choice(alpha) for _ in range(rng.randint(0, 90))))
    return out


def test_xxh64_matches_spark_on_strings(spark):
    strings = _random_strings(1_200)
    # every UTF-8 length 0..90 is covered: the tail, 8-byte and 32-byte
    # stripe paths and their boundaries
    assert {len(s.encode()) for s in strings} >= set(range(91))
    rows = (spark.createDataFrame([(s,) for s in strings], "s string")
            .selectExpr("s", "xxhash64(s) AS h").collect())
    for r in rows:
        assert _signed(_xxh64(r.s.encode("utf-8"))) == r.h, r.s


@pytest.mark.parametrize("ddl,width,bound", [("int", 4, 1 << 31),
                                             ("long", 8, 1 << 63)])
def test_xxh64_matches_spark_on_ints_and_longs(spark, ddl, width, bound):
    rng = random.Random(width)
    values = [0, 1, -1, bound - 1, -bound, 42]
    values += [rng.randrange(-bound, bound) for _ in range(600)]
    values += [rng.randrange(-1000, 1000) for _ in range(100)]
    rows = (spark.createDataFrame([(v,) for v in values], f"x {ddl}")
            .selectExpr("x", "xxhash64(x) AS h").collect())
    for r in rows:
        got = _xxh64(r.x.to_bytes(width, "little", signed=True))
        assert _signed(got) == r.h, r.x


@pytest.mark.parametrize("ddl,dt,keys", [
    ("string", T.StringType(), ["", "c1", "ü日😀", "x" * 40]),
    ("short", T.ShortType(), [0, -7, 300, -32768]),
    ("int", T.IntegerType(), [0, 5, -5, 2**31 - 1]),
    ("long", T.LongType(), [0, -3, 2**40, -(2**63)]),
])
def test_bucket_of_matches_the_write_transform(spark, tmpdir_path, ddl, dt, keys):
    schema = T.StructType([T.StructField("k", dt, False),
                           T.StructField("lsn", T.LongType(), False)])
    tbl = TranscriptTable(spark, tmpdir_path, n_buckets=13, schema=schema,
                          key=("k",))
    want = (spark.createDataFrame([(k,) for k in keys], f"k {ddl}")
            .selectExpr("k", "CAST(pmod(xxhash64(k), 13) AS INT) AS b").collect())
    assert [tbl.bucket_of(k) for k in keys] == [r.b for r in want]


def test_bucket_of_rejects_other_key_types(spark, tmpdir_path):
    schema = T.StructType([T.StructField("k", T.DoubleType(), False),
                           T.StructField("lsn", T.LongType(), False)])
    tbl = TranscriptTable(spark, tmpdir_path, n_buckets=4, schema=schema,
                          key=("k",))
    with pytest.raises(TypeError, match="key type"):
        tbl.bucket_of(1.5)

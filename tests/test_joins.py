"""Join operators: the as-of join and the interval stab count."""

from pyspark.sql import functions as F


def test_asof_join_matches_naive(spark):
    from go_data_publisher_spark.operators.joins import asof_join
    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [("u1", 10, "a"), ("u1", 20, "b"), ("u2", 15, "c")],
        "k string, ts long, attr string",
    )
    facts = spark.createDataFrame(
        [("u1", 5, 100), ("u1", 10, 101), ("u1", 19, 102), ("u1", 25, 103),
         ("u2", 14, 104), ("u2", 15, 105), ("u3", 50, 106)],
        "k string, ts long, fact_id int",
    )
    got = {r.fact_id: r.attr
           for r in asof_join(facts, dim, "k", "ts", ["attr"]).collect()}
    # backward inclusive: fact at dim ts sees that dim
    assert got == {100: None, 101: "a", 102: "a", 103: "b",
                   104: None, 105: "c", 106: None}

    strict = {r.fact_id: r.attr
              for r in asof_join(facts, dim, "k", "ts", ["attr"],
                                 strict=True).collect()}
    # strict: fact at exactly dim ts does NOT see it
    assert strict == {100: None, 101: None, 102: "a", 103: "b",
                      104: None, 105: None, 106: None}


def test_asof_join_struct_consistency(spark):
    """All dim attributes must come from the SAME as-of row, even when some
    attributes are null in later rows."""
    from go_data_publisher_spark.operators.joins import asof_join

    dim = spark.createDataFrame(
        [("u", 1, "x1", "y1"), ("u", 2, None, "y2")],
        "k string, ts long, a string, b string",
    )
    facts = spark.createDataFrame([("u", 3, 1)], "k string, ts long, fid int")
    r = asof_join(facts, dim, "k", "ts", ["a", "b"]).collect()[0]
    # the as-of row is ts=2 → (None, y2); a per-column fill would leak x1
    assert (r.a, r.b) == (None, "y2")


def test_asof_join_null_keys_never_match(spark):
    """SQL semantics: NULL keys never equal — a null-keyed fact must not be
    enriched by a null-keyed dim row (partitionBy groups nulls together)."""
    from go_data_publisher_spark.operators.joins import asof_join

    dim = spark.createDataFrame([("u1", 10, "a"), (None, 5, "x")],
                                "k string, ts long, attr string")
    facts = spark.createDataFrame([(None, 20, 1), ("u1", 20, 2)],
                                  "k string, ts long, fid int")
    got = {r.fid: r.attr for r in asof_join(facts, dim, "k", "ts", ["attr"]).collect()}
    assert got == {1: None, 2: "a"}


def test_asof_join_ignores_null_ts_dim_rows(spark):
    # a dim row with NULL ts can never satisfy dim.ts <= fact.ts; it used to
    # sort NULLS FIRST and become the as-of match for every early fact
    from go_data_publisher_spark.operators.joins import asof_join

    facts = spark.createDataFrame([("k", 5, 1)], "k string, ts long, fid int")
    dim = spark.createDataFrame(
        [("k", None, "bad"), ("k", 10, "late")], "k string, ts long, attr string"
    )
    got = asof_join(facts, dim, "k", "ts", ["attr"]).collect()
    assert len(got) == 1 and got[0].attr is None


def test_interval_stab_count_matches_bruteforce(spark):
    """The sweep's per-event containment counts equal the enumerated join's,
    including events outside every interval (count 0), adjacent intervals,
    and exact lo/hi boundary hits."""
    from go_data_publisher_spark.operators.sequencing import interval_stab_count

    ev = spark.createDataFrame(
        [(i,) for i in [0, 1, 5, 10, 11, 15, 20, 99, None]], "lsn long")
    iv = spark.createDataFrame(
        [(1, 10), (5, 15), (10, 10), (16, 19), (30, 40), (7, 3), (None, 9)],
        "from_lsn long, to_lsn long")

    got = {r["lsn"]: r["n_containing"]
           for r in interval_stab_count(ev, iv).collect()}

    brute = ev.join(
        iv,
        (ev.lsn >= iv.from_lsn) & (ev.lsn <= iv.to_lsn), "left",
    ).groupBy("lsn").agg(
        F.sum(F.when(iv.from_lsn.isNotNull(), 1).otherwise(0)).alias("n")
    )
    want = {r["lsn"]: r["n"] for r in brute.collect()}
    assert got == want
    assert got[0] == 0 and got[99] == 0  # outside every interval
    assert got[10] == 3  # hi of [1,10], mid of [5,15], point [10,10]


def test_interval_stab_count_carries_event_columns(spark):
    from go_data_publisher_spark.operators.sequencing import interval_stab_count

    ev = spark.createDataFrame([(5, "a"), (12, "b")], "lsn long, tag string")
    iv = spark.createDataFrame([(1, 10)], "from_lsn long, to_lsn long")
    rows = sorted(map(tuple, interval_stab_count(ev, iv).collect()))
    assert rows == [(5, "a", 1), (12, "b", 0)]

"""Bucket placement of the merge and compaction writes.

The merge/compact write stages place rows with ``repartitionById(n,
"__bucket")``, which sends bucket b to partition b % n — one bucket per
writer task when n equals the bucket count, never the birthday-collision
spread of hashing ~n distinct ids into n partitions.  The merge fuses its
in-batch last-wins into that one exchange.  These tests pin:

1. the placement itself, live via spark_partition_id();
2. the fused merge's winners against the two-phase shape;
3. the write plan: one Exchange, a partition-id placement on __bucket,
   feeding one max_by aggregate grouped by (__bucket, *key);
4. the layout: one file per touched bucket, also when buckets outnumber
   the writer tasks.
"""
from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_data_publisher_spark.lake.table import TranscriptTable


def test_one_bucket_per_partition_live(spark):
    """Every bucket lands in partition bucket % n: at n == 32 buckets one
    bucket per partition, at n == 12 each partition holds its residues."""
    for n_buckets, n in ((32, 32), (32, 12)):
        placement = (
            spark.range(10_000)
            .select(F.pmod(F.col("id"), F.lit(n_buckets)).cast("int")
                    .alias("__bucket"))
            .repartitionById(n, "__bucket")
            .select("__bucket", F.spark_partition_id().alias("pid"))
            .distinct().collect()
        )
        by_bucket = {}
        for r in placement:
            by_bucket.setdefault(r["__bucket"], set()).add(r["pid"])
        assert by_bucket == {b: {b % n} for b in range(n_buckets)}, by_bucket


def test_fused_equals_two_phase(spark, tmpdir_path):
    """The fused single-exchange merge (the default for a raw batch) and the
    two-phase shape (last_wins, then a merge of the winners) commit identical
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
    two.merge(last_wins(valid), epoch_id=0)
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


def _write_plan_nodes(df):
    """(node name, description) of every operator of ``df``'s physical plan,
    as the write runs it; a cached input is a single leaf."""
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        out.append((node.nodeName(), node.simpleString(100)))
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


def test_write_plan_is_fused_for_raw_routed_and_guarded_batches(
        spark, tmpdir_path, monkeypatch):
    """merge() has one write plan: for a raw batch, for the routed
    applier's already-deduped halves and for an overlap-guarded table, the
    frame handed to the parquet writer holds the same fused last-wins
    aggregate, grouped by (__bucket, *key), over exactly one Exchange —
    the partition-id placement on __bucket.  The plan is taken while the write
    runs, so the routed winners show as the cached input they are."""
    import re

    import pyspark.sql.readwriter as rw

    from go_data_publisher_spark.sources.changelog import generate_changelog
    from go_data_publisher_spark.streaming.apply import ChangeApplier

    plans = []
    real_parquet = rw.DataFrameWriter.parquet

    def spy(self, path, **kw):
        plans.append(_write_plan_nodes(self._df))
        return real_parquet(self, path, **kw)

    def assert_fused(nodes, key):
        exchanges = [d for n, d in nodes if n == "Exchange"]
        assert len(exchanges) == 1, exchanges
        assert "direct_shuffle_partition_id(__bucket#" in exchanges[0], \
            exchanges[0]
        groupings = [re.sub(r"#\d+L?", "", m.group(1))
                     for _, d in nodes
                     if (m := re.search(r"key=\[(.*?)\], functions=\[max_by\(", d))]
        assert groupings == [", ".join(["__bucket", *key])], nodes

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", spy)
    log = generate_changelog(spark, 3_000, n_convs=40, seed=5)

    raw = TranscriptTable(spark, f"{tmpdir_path}/raw", n_buckets=8)
    ChangeApplier(raw).apply_batch(log, epoch_id=0)
    assert len(plans) == 1
    assert_fused(plans[0], raw.key)

    main = TranscriptTable(spark, f"{tmpdir_path}/main", n_buckets=8)
    eph = TranscriptTable(spark, f"{tmpdir_path}/eph", n_buckets=8)
    ChangeApplier(main, route_sql="role = 'tool'",
                  ephemeral_table=eph).apply_batch(log, epoch_id=0)
    assert len(plans) == 3
    for nodes in plans[1:]:
        assert any(n == "InMemoryTableScan" for n, _ in nodes), nodes
        assert_fused(nodes, main.key)

    guarded = TranscriptTable(
        spark, f"{tmpdir_path}/guarded", n_buckets=4,
        schema=T.StructType([T.StructField("epoch", T.StringType(), False),
                             T.StructField("from_lsn", T.IntegerType(), False),
                             T.StructField("to_lsn", T.LongType(), False)]),
        key=("epoch", "from_lsn"), order_col="to_lsn",
        overlap_guard=("from_lsn", "to_lsn"))
    guarded.merge(spark.createDataFrame(
        [("1", 0, 100, "I"), ("1", 0, 120, "U"), ("2", 0, 50, "I")],
        "epoch string, from_lsn int, to_lsn long, op string"), epoch_id=0)
    assert len(plans) == 4
    assert_fused(plans[3], guarded.key)


def test_merge_layout_one_file_per_bucket(spark, tmpdir_path):
    """End to end: a merge commit still writes exactly one delta file per
    touched bucket."""
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


def test_merge_and_compact_layout_several_buckets_per_task(
        spark, tmpdir_path, monkeypatch):
    """With more buckets than cores each writer task holds several buckets
    (32 buckets over local[8]: 8 tasks, 4 buckets each): the write still
    runs one task per core, and both the merge and the compaction still
    write exactly one file per bucket."""
    import re

    import pyspark.sql.readwriter as rw

    captured = []
    real_parquet = rw.DataFrameWriter.parquet

    def spy(self, path, **kw):
        captured.append(self._df)
        return real_parquet(self, path, **kw)

    def write_partitioning(df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        return re.findall(
            r"shufflepartitionidpassthrough\(direct_shuffle_partition_id"
            r"\((\w+)#\d+\), (\d+)\)", plan)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", spy)
    tbl = TranscriptTable(spark, tmpdir_path, n_buckets=32)
    assert tbl.write_tasks() == 8
    events = spark.createDataFrame(
        [(f"c{i}", i % 3, i, "I", f"t{i}") for i in range(400)],
        "conv_id string, turn_idx int, lsn long, op string, text string",
    )
    out = tbl.merge(events, epoch_id=0)
    assert write_partitioning(captured[-1]) == [("__bucket", "8")]

    files = tbl.manifest()["files"]
    per_bucket = {}
    for f in files:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert sorted(per_bucket) == out["touched_buckets"]
    assert len(per_bucket) > 8, "too few buckets touched to share tasks"
    assert all(c == 1 for c in per_bucket.values()), per_bucket

    before_rows = sorted(tbl.snapshot().collect())
    tbl.compact()
    assert write_partitioning(captured[-1]) == [("__bucket", "8")]
    files = tbl.manifest()["files"]
    assert {f["kind"] for f in files} == {"base"}
    assert sorted(f["bucket"] for f in files) == sorted(per_bucket)
    assert sorted(tbl.snapshot().collect()) == before_rows

"""Driver-side building of the headline queries.

The query operators describe their steps as SQL text (``sqltext``), so
building a query's plan costs a fixed, small number of py4j round trips
instead of one per Column node, and ``__spark_entry__._t`` infers each
fixture file's schema once.  The round-trip ceilings sit about a quarter
above the counts measured when they were set; a plan built from Column
trees again would exceed them several times over.
"""
from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import count_round_trips, jobs_launched

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as E  # noqa: E402
from perfbench import gen  # noqa: E402

# headline query -> round-trip ceiling for one build; the comment gives the
# count measured when the ceiling was set and, in brackets, the count when
# the operators built Column trees
CEILINGS = {
    "cdc_final_state": 85,           # 67 (369)
    "cdc_final_state_salted": 155,   # 124 (446)
    "latest_per_group": 60,          # 45 (135)
    "count_per_key": 85,             # 68 (62)
    "gap_detection": 40,             # 30 (243)
    "range_join": 170,               # 136 (381)
    "range_join_chunked": 215,       # 171 (1,097)
    "range_join_stab": 220,          # 176 (1,167)
    "set_difference": 95,            # 75 (186)
    "dedup_exact_docs": 75,          # 58 (135)
    "minhash_pairs_docs": 175,       # 139 (2,228)
    "emb_topk": 95,                  # 73 (615)
    "asof_enrich": 125,              # 99 (559)
    "windowed_counts": 330,          # 263 (257)
    "docs_curated": 185,             # 147 (634)
}


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("query_tables"))
    gen.query_tables(5, out, n_events=2_000, n_users=40, n_docs=80, n_vecs=40)
    return out


@pytest.mark.parametrize("name", list(CEILINGS))
def test_headline_build_round_trips(spark, tables, name):
    build = E.queries()[name]
    build(spark, tables)  # the first build infers the fixture schemas
    counts = []
    for _ in range(2):
        with count_round_trips() as c:
            build(spark, tables)
        counts.append(c["n"])
    assert counts[0] == counts[1], counts
    assert counts[0] <= CEILINGS[name], counts


def test_fixture_schema_is_inferred_once(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    sc = spark.sparkContext
    with jobs_launched(sc) as first:
        df = E._t(spark, str(tmp_path), "t")
    assert first, "reading parquet without a schema infers it with a job"
    assert df.columns == ["a"]
    with jobs_launched(sc) as again:
        df = E._t(spark, str(tmp_path), "t")
    assert again == []
    assert sorted(r.a for r in df.collect()) == [1, 2]

    # the same path rewritten with another schema is inferred afresh
    pq.write_table(pa.table({"a": pa.array(["x"]), "b": pa.array([1.5])}), path)
    with jobs_launched(sc) as rewritten:
        df = E._t(spark, str(tmp_path), "t")
    assert rewritten
    assert df.dtypes == [("a", "string"), ("b", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]

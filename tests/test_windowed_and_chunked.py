"""Count-shaped range joins + event-time windowed aggregation.

- range_count_chunked and interval_contain_count_sorted must agree with a
  pair-enumerating broadcast join on every edge regime.
- windowed_event_counts (batch form) must agree with a hand aggregation;
  the streaming form (watermark drops late data across a checkpoint restart)
  is covered in test_windowed_stream.py.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from go_data_publisher_spark.streaming.windows import windowed_event_counts


def test_windowed_counts_batch(spark):
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        (base + dt.timedelta(minutes=m), lsn, k)
        for lsn, (m, k) in enumerate(
            [(0, "a"), (1, "a"), (2, "b"), (61, "a"), (62, "a"), (125, "b")]
        )
    ]
    df = spark.createDataFrame(rows, "ts timestamp, lsn long, grp string")
    out = windowed_event_counts(
        df, ts_col="ts", window_duration="1 hour", keys=("grp",)
    )
    got = {
        (r.window_start, r.grp): (r.n_events, r.min_lsn, r.max_lsn)
        for r in out.collect()
    }
    h0, h1, h2 = base, base + dt.timedelta(hours=1), base + dt.timedelta(hours=2)
    assert got == {
        (h0, "a"): (2, 0, 1),
        (h0, "b"): (1, 2, 2),
        (h1, "a"): (2, 3, 4),
        (h2, "b"): (1, 5, 5),
    }
    # window bounds are the tumbling duration apart
    spans = out.select(
        (F.col("window_end").cast("long") - F.col("window_start").cast("long"))
        .alias("span")
    ).distinct().collect()
    assert [r.span for r in spans] == [3600]


# ---------------------------------------------------------------------------
# r7 count-shaped twins: range_count_chunked + interval_contain_count_sorted
# must agree with the pair-enumerating reference on every edge regime
# ---------------------------------------------------------------------------

def _count_reference(events, intervals, lsn_col="lsn"):
    """Ground truth: enumerate pairs with the broadcast join, count per
    DISTINCT event value (with row multiplicity), include zero-count events."""
    ev_vals = events.where(F.col(lsn_col).isNotNull()).groupBy(lsn_col).agg(
        F.count(F.lit(1)).alias("n_events"))
    joined = ev_vals.join(
        F.broadcast(intervals),
        (F.col(lsn_col) >= F.col("from_lsn")) & (F.col(lsn_col) <= F.col("to_lsn")),
        "left",
    )
    return {
        (r[0]): (r[1], r[2])
        for r in joined.groupBy(lsn_col, "n_events").agg(
            F.sum(F.when(F.col("from_lsn").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n")).collect()
    }


def _edge_fixture(spark):
    # duplicates, negatives, nulls, empty/inverted intervals, boundary hits
    events = spark.createDataFrame(
        [(-1030,), (-1,), (0,), (0,), (3,), (1023,), (1024,), (5000,), (None,)],
        "lsn long")
    intervals = spark.createDataFrame(
        [(-2000, -1024), (-10, 2), (0, 1024), (1024, 1030),
         (7, 3),            # inverted: contains nothing
         (None, 50), (50, None),  # null bounds: contain nothing
         (3, 3)],           # degenerate single point
        "from_lsn long, to_lsn long")
    return events, intervals


def test_range_count_chunked_matches_pair_enumeration(spark):
    from go_data_publisher_spark.operators.sequencing import range_count_chunked

    events, intervals = _edge_fixture(spark)
    want = _count_reference(events, intervals)
    for chunk in (1024, 1000):  # power-of-two (shiftright) and general path
        got = {r["lsn"]: (r["n_events"], r["n_containing"])
               for r in range_count_chunked(events, intervals, chunk=chunk).collect()}
        assert got == want, f"chunk={chunk}: {got} != {want}"


def test_contain_count_sorted_matches_pair_enumeration(spark):
    from go_data_publisher_spark.operators.sequencing import (
        interval_contain_count_sorted,
    )

    events, intervals = _edge_fixture(spark)
    want = _count_reference(events, intervals)
    out = interval_contain_count_sorted(events, intervals).collect()
    # per-ROW form: duplicate event values appear once per row with the
    # per-value count; null positions carry 0
    per_val = {}
    for r in out:
        per_val.setdefault(r["lsn"], []).append(r["n_containing"])
    for lsn, counts in per_val.items():
        if lsn is None:
            assert counts == [0]
            continue
        n_events, n_iv = want[lsn]
        assert len(counts) == n_events and set(counts) == {n_iv}, (lsn, counts, want[lsn])

"""Sequencing / range / watermark operators — SURVEY.md §2.4 (Q1-Q9).

The reference navigates an append-only log by a persisted cursor plus a list
of processed [from,to] intervals per epoch; these are the DataFrame forms of
that vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sqltext import ident, type_sql


def _well_formed(lo_col: str, hi_col: str) -> str:
    """Intervals with both bounds and lo <= hi: a malformed interval
    contains nothing."""
    lo, hi = ident(lo_col), ident(hi_col)
    return f"{lo} IS NOT NULL AND {hi} IS NOT NULL AND {lo} <= {hi}"


def next_range(df: DataFrame, lsn_col: str, cursor: int, head: int | None = None) -> DataFrame:
    """Q1+Q2: the unprocessed slice (cursor, head] of the log.

    Reference: calculateTickRange skips gaps and clamps to the source
    watermark (transactions-producer/domain/processor.go:194-210,
    tick-data-publisher/sync/tick_data_processor.go:99).  The between-filter
    pushes down to the parquet/lake scan (min/max row-group pruning), so at
    100 TB this reads only the tail files.
    """
    out = df.where(F.col(lsn_col) > cursor)
    if head is not None:
        out = out.where(F.col(lsn_col) <= head)
    return out


def unprocessed_suffix(df: DataFrame, epoch_col: str, cursor_epoch: int) -> DataFrame:
    """Q5/F6: only groups strictly after the cursor (closed epochs only)."""
    return df.where(F.col(epoch_col) > cursor_epoch)


def interval_contain_count_sorted(events: DataFrame, intervals: DataFrame,
                                  lsn_col: str = "lsn",
                                  lo_col: str = "from_lsn",
                                  hi_col: str = "to_lsn") -> DataFrame:
    """Q3's per-event containment COUNT for the BROADCAST regime — sorted
    boundary arrays + vectorized binary search, zero pair enumeration.

    A broadcast range join (events BETWEEN a broadcast interval side) is a
    nested loop over every (event, interval) pair — O(events × intervals)
    comparisons even when the caller only wants the count (bench r6: ~145M
    pair evaluations at sf0.1).  The count needs none of those pairs: with
    interval lower bounds and upper bounds each in a sorted array,

        n_containing(e) = #{lo <= e} − #{hi < e}

    which is two binary searches per event — O(events · log intervals).
    The interval side is materialized on the driver exactly like
    ``F.broadcast(intervals)`` would be (same memory class, same
    applicability condition: the intervals fit one machine), sorted once
    with numpy, and shipped to executors in the UDF closure; events flow
    through one Arrow-vectorized ``searchsorted`` per batch (guide §4.2 —
    whole batches to native code).  Beyond broadcast scale use
    `range_count_chunked` (shuffled, no driver residency) or
    `interval_stab_count` (distributed sweep).

    Malformed intervals (null bounds, lo > hi) contain nothing and are
    dropped before sorting — the subtraction identity requires lo <= hi.
    NULL event positions satisfy no BETWEEN predicate and get count 0.
    Returns the event rows plus ``n_containing`` (0 when uncontained, like
    `interval_stab_count` — filter > 0 for inner-join semantics).

    Snapshot semantics caveat: the interval side is collected EAGERLY at
    call time (one Spark job during composition) and frozen into the UDF
    closure — re-executing the returned DataFrame after the intervals
    source changed keeps the OLD boundaries, where a re-executed broadcast
    join would re-read.  Compose-and-run pipelines (the contract queries,
    the bench) rebuild the frame per run; long-lived handles over mutable
    sources should use `range_count_chunked` or `interval_stab_count`.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rows = (
        intervals.where(_well_formed(lo_col, hi_col))
        .selectExpr(f"CAST({ident(lo_col)} AS BIGINT)", f"CAST({ident(hi_col)} AS BIGINT)")
        .collect()
    )
    los = np.sort(np.fromiter((r[0] for r in rows), dtype=np.int64, count=len(rows)))
    his = np.sort(np.fromiter((r[1] for r in rows), dtype=np.int64, count=len(rows)))

    @pandas_udf("long")
    def _n_containing(e):
        mask = e.notna().to_numpy()
        x = e[mask].to_numpy(dtype=np.int64)
        out = np.zeros(len(e), dtype=np.int64)
        out[mask] = (np.searchsorted(los, x, side="right")
                     - np.searchsorted(his, x, side="left"))
        return pd.Series(out)

    # asNondeterministic (guide §4.4): a caller filtering on the returned
    # column (`where n_containing > 0`) otherwise gets the pushed-down
    # filter AND the projection each evaluating the UDF — two
    # ArrowEvalPython nodes and double the Arrow round trips (observed in
    # the r7 before/after plans).  The function IS deterministic; the flag
    # only stops the optimizer duplicating it.
    _n_containing = _n_containing.asNondeterministic()

    return events.withColumn(
        "n_containing", _n_containing(F.col(lsn_col).cast("long")))


def range_count_chunked(events: DataFrame, intervals: DataFrame,
                        lsn_col: str = "lsn", lo_col: str = "from_lsn",
                        hi_col: str = "to_lsn", chunk: int = 1 << 16) -> DataFrame:
    """Q3's per-event containment COUNT as a chunked shuffled equi-join (no
    broadcast, no driver residency) with the O(pairs) term removed for the
    count aggregate.

    A range join planned as an equi-join on chunk id (each interval exploded
    to the chunks it overlaps, then the exact containment filter) + groupBy
    enumerates every matching pair, which on dense-overlap data (intervals
    spanning most of the log) approaches events × intervals no matter how
    the join is planned — the superlinear sf1 finding of r6.  For the COUNT,
    pairs with intervals that FULLY cover an event's chunk are redundant:
    every event in chunk c is contained, so one count per (chunk,
    full-cover) suffices.  Decomposition:

      1. explode intervals to overlapped chunk ids;
      2. intervals fully covering a chunk (lo <= c·chunk and
         hi >= (c+1)·chunk − 1) reduce to one ``n_full`` count per chunk —
         O(intervals · span/chunk) rows, no event involvement;
      3. only BOUNDARY overlaps (≤ 2 chunks per interval) equi-join events
         on chunk id with the exact containment filter — O(boundary pairs),
         bounded by 2 · intervals · events-per-chunk;
      4. per event value: n_containing = n_full(chunk) + n_boundary(event).

    Events are pre-grouped by position (``n_events`` per distinct value), so
    callers needing join-multiplicity semantics multiply by ``n_events``.
    Returns one row per distinct non-null event position:
    (lsn_col, n_events, n_containing), n_containing possibly 0.
    """
    chunk = int(chunk)
    if chunk & (chunk - 1) == 0:
        # power-of-two chunk: arithmetic right shift is an EXACT 64-bit
        # floor division — the double-precision floor(col/chunk) mis-chunks
        # positions above 2^53, and unlike a pair-enumerating chunked join
        # (whose exact BETWEEN filter merely drops a mis-chunked pair) the
        # full-cover counts here have no per-event re-check, so a
        # mis-chunked event would OVERCOUNT (r7 review finding)
        shift = chunk.bit_length() - 1

        def _chunk_of(col: str) -> str:
            return f"CAST(shiftright(CAST({col} AS BIGINT), {shift}) AS BIGINT)"
    else:
        # non-power-of-two chunks use the double-precision floor: exact for
        # |position| < 2^53 (every reference LSN space)
        def _chunk_of(col: str) -> str:
            return f"CAST(floor({col} / {chunk}) AS BIGINT)"

    lsn = ident(lsn_col)
    ev_vals = (
        events.where(f"{lsn} IS NOT NULL")
        .groupBy(F.expr(f"CAST({lsn} AS BIGINT) AS {lsn}"))
        .agg(F.expr("count(1) AS n_events"))
        .selectExpr("*", f"{_chunk_of(lsn)} AS __c")
    )
    ivc = (
        intervals.where(_well_formed(lo_col, hi_col))
        .selectExpr(f"CAST({ident(lo_col)} AS BIGINT) AS __lo",
                    f"CAST({ident(hi_col)} AS BIGINT) AS __hi")
        .selectExpr("*", f"explode(sequence({_chunk_of('__lo')}, "
                         f"{_chunk_of('__hi')})) AS __c")
    )
    full = f"__lo <= __c * {chunk} AND __hi >= (__c + 1) * {chunk} - 1"
    full_counts = (ivc.where(full).groupBy("__c")
                   .agg(F.expr("count(1) AS __n_full")))
    partial = ivc.where(f"NOT ({full})").selectExpr("__c AS __pc", "__lo", "__hi")
    boundary_counts = (
        ev_vals.join(partial,
                     F.expr(f"__c = __pc AND {lsn} >= __lo AND {lsn} <= __hi"))
        .groupBy(lsn_col)
        .agg(F.expr("count(1) AS __n_boundary"))
    )
    return (
        ev_vals.join(full_counts, on="__c", how="left")
        .join(boundary_counts, on=lsn_col, how="left")
        .selectExpr(
            lsn, "n_events",
            "CAST(coalesce(__n_full, 0) + coalesce(__n_boundary, 0) AS BIGINT)"
            " AS n_containing")
    )


def interval_stab_count(events: DataFrame, intervals: DataFrame,
                        lsn_col: str = "lsn", lo_col: str = "from_lsn",
                        hi_col: str = "to_lsn", n_parts: int = 256) -> DataFrame:
    """Q3 for the dense-overlap regime: per-event COUNT of containing
    intervals WITHOUT enumerating (event, interval) pairs.

    Any pair-enumerating range join — a broadcast nested loop or an
    equi-join on chunk id — costs O(matching pairs).  When intervals are
    long relative to the sequence space (every interval overlaps most
    events, e.g. per-user lifetime ranges), pairs approach events ×
    intervals and the join is quadratic NO MATTER how it is planned;
    bench.py's sf1 gate measured exactly that (r6).  For count-style
    aggregates the pairs are never needed: sweep the boundary step function
    instead.

    Shape — one range shuffle over events + 2·intervals rows, O(n_parts)
    serial stitch, zero pair enumeration:
      1. each interval becomes two boundary rows: (lo, +1) and (hi+1, −1);
         events ride along with delta 0, boundaries sorting BEFORE events
         at equal position (an interval starting at p contains an event at
         p; one ending at p−1 does not);
      2. range-bucket all rows into ``n_parts`` contiguous slices of the
         sequence space (min/max from a 1-row broadcast aggregate) and
         running-sum the deltas within each slice — fully parallel;
      3. per-slice delta totals (≤ n_parts rows) prefix-sum on the driver
         side of a broadcast — each slice's offset — and every event's
         count is its slice-local running sum plus the slice offset.

    Returns the event rows (original columns) plus ``n_containing``;
    events contained by no interval carry 0 (filter > 0 for inner-join
    semantics).  Output is identical to the aggregate over either join
    twin; only the cost model differs.
    """
    lo, hi = ident(lo_col), ident(hi_col)
    ev_type = T.StructType([T.StructField(c, events.schema[c].dataType, True)
                            for c in events.columns])
    bnd = intervals.where(_well_formed(lo_col, hi_col)).selectExpr(
        f"explode(array(struct(CAST({lo} AS BIGINT) AS __pos, 1 AS __delta), "
        f"struct(CAST({hi} AS BIGINT) + 1 AS __pos, -1 AS __delta))) AS __b"
    ).selectExpr(
        "__b.__pos AS __pos", "__b.__delta AS __delta", "0 AS __tag",
        f"CAST(NULL AS {type_sql(ev_type)}) AS __ev",
    )
    ev = events.selectExpr(
        f"CAST({ident(lsn_col)} AS BIGINT) AS __pos", "0 AS __delta", "1 AS __tag",
        "struct(" + ", ".join(ident(c) for c in events.columns) + ") AS __ev",
    )
    rows = bnd.unionByName(ev)
    bounds = rows.agg(F.expr("min(__pos) AS __mn"), F.expr("max(__pos) AS __mx"))
    width = (f"greatest(CAST(1 AS BIGINT), "
             f"CAST(ceil((__mx - __mn + 1) / {int(n_parts)}) AS BIGINT))")
    parted = rows.crossJoin(F.broadcast(bounds)).selectExpr(
        "__pos", "__delta", "__tag", "__ev",
        f"CAST(floor((__pos - __mn) / {width}) AS BIGINT) AS __part")
    local = parted.selectExpr(
        "*", "sum(__delta) OVER (PARTITION BY __part ORDER BY __pos ASC, __tag ASC "
             "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __local")
    # per-slice totals: ≤ n_parts rows — the single-partition window here is
    # O(n_parts), not O(rows) (same stitch as verify_monotonic).  Aggregated
    # from `local` (not `parted`) so the offsets subtree shares the
    # running-sum branch's exchange (ReusedExchange) instead of re-scanning
    # events + intervals a second time.
    offsets = local.groupBy("__part").agg(F.expr("sum(__delta) AS __psum")).selectExpr(
        "__part", "coalesce(sum(__psum) OVER (ORDER BY __part "
                  "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __offset")
    # left + coalesce: an event with a NULL position (null lsn) sits in the
    # null slice, matches no interval by SQL semantics, and must surface
    # with n_containing = 0 — a null join key never matches, so an inner
    # join would silently drop the row instead
    return (
        local.join(F.broadcast(offsets), "__part", "left")
        .where("__tag = 1")
        .selectExpr(
            *[f"__ev.{ident(c)} AS {ident(c)}" for c in events.columns],
            "CAST(__local + coalesce(__offset, 0) AS BIGINT) AS n_containing")
    )


def verify_monotonic(intervals: DataFrame, seq_col: str, attr_cols=("epoch", "from_lsn"),
                     strict: bool = True, n_parts: int = 256) -> DataFrame:
    """Q6: count rows where the attribute tuple regresses in ``seq_col``
    order (must be 0).  ``strict=True`` requires strictly ascending tuples
    (violation when cur <= prev); ``strict=False`` allows ties (violation
    only when cur < prev).

    Reference: tick-intervals-publisher asserts intervals ascending by
    (epoch, from) (processing/tick_interval_processor.go:167-179).  A
    DataFrame has no inherent order, so the position in the original list is
    an explicit sequence column.

    Scale shape — NO global window (a `Window.orderBy(seq)` with no
    partition funnels the whole table through one task):
      1. range-bucket rows into ``n_parts`` contiguous seq slices
         (min/max from a 1-row broadcast aggregate);
      2. count violations *within* each slice with a window partitioned by
         slice — fully parallel;
      3. stitch slice boundaries with a per-slice summary (first/last tuple
         via min_by/max_by — one row per slice) and a window over those
         ≤ n_parts rows.  The serial stage is O(n_parts), independent of
         table size — the boundary stitch of a parallel prefix scan.
    Degenerate inputs (all rows share one seq value) collapse to one slice;
    sequence columns are unique in every reference analogue.
    """
    cur = F.struct(*[F.col(c) for c in attr_cols])

    def viol(cur_c, prev_c):
        cmp = (cur_c <= prev_c) if strict else (cur_c < prev_c)
        return prev_c.isNotNull() & cmp

    bounds = intervals.agg(F.min(seq_col).alias("__mn"), F.max(seq_col).alias("__mx"))
    width = F.greatest(
        F.lit(1).cast("long"),
        F.ceil((F.col("__mx") - F.col("__mn") + 1) / F.lit(n_parts)).cast("long"),
    )
    df = (
        intervals.crossJoin(F.broadcast(bounds))
        .withColumn("__part", F.floor((F.col(seq_col) - F.col("__mn")) / width).cast("long"))
    )
    w_in = Window.partitionBy("__part").orderBy(F.col(seq_col))
    enriched = df.select(
        "__part",
        F.col(seq_col).alias("__seq"),
        cur.alias("__cur"),
        F.lag(cur).over(w_in).alias("__prev"),
    )
    per_part = enriched.groupBy("__part").agg(
        F.sum(F.when(viol(F.col("__cur"), F.col("__prev")), 1).otherwise(0)).alias("__n_inner"),
        F.min_by("__cur", "__seq").alias("__first"),
        F.max_by("__cur", "__seq").alias("__last"),
    )
    # boundary stitch: ≤ n_parts rows — the single-partition window here is
    # O(n_parts), not O(rows)
    w_parts = Window.orderBy("__part")
    stitched = per_part.select(
        "__n_inner",
        F.when(
            viol(F.col("__first"), F.lag("__last").over(w_parts)), 1
        ).otherwise(0).alias("__n_boundary"),
    )
    return stitched.agg(
        F.coalesce(F.sum(F.col("__n_inner") + F.col("__n_boundary")), F.lit(0))
        .cast("long").alias("n_violations")
    )


def detect_gaps(df: DataFrame, key_cols, lsn_col: str, min_gap: int = 1) -> DataFrame:
    """Q7: holes in the sequence space — [prev+1, cur-1] per gap.

    Reference: calculateSkippedTicks (status-service/rpc/status_service.go:
    218-231).  Partitioned window → scales with the number of keys.
    """
    keys = [ident(c) for c in key_cols]
    lsn = ident(lsn_col)
    return (
        df.selectExpr(*keys, lsn, f"lag({lsn}) OVER (PARTITION BY {', '.join(keys)} "
                                  f"ORDER BY {lsn}) AS __prev")
        .where(f"__prev IS NOT NULL AND {lsn} - __prev > {int(min_gap)}")
        .selectExpr(*keys, "__prev + 1 AS gap_from", f"{lsn} - 1 AS gap_to")
    )


def group_intervals(df: DataFrame, group_cols, lsn_col: str) -> DataFrame:
    """Q9-ish: fold rows into per-group [min,max] interval summaries."""
    lsn = ident(lsn_col)
    return df.groupBy(*group_cols).agg(
        F.expr(f"min({lsn}) AS from_lsn"),
        F.expr(f"max({lsn}) AS to_lsn"),
        F.expr("count(1) AS n_rows"),
    )


def trim_to_cursor(intervals: DataFrame, cursor: int, lo_col="from_lsn", hi_col="to_lsn") -> DataFrame:
    """Q8: union'd intervals truncated at the live cursor.

    Reference: GetTickIntervals merges stored + live intervals and clamps the
    last one (status-service/rpc/status_service.go:68-116).
    """
    return (
        intervals.where(F.col(lo_col) <= cursor)
        .withColumn(hi_col, F.least(F.col(hi_col), F.lit(cursor)))
    )

"""Verification operators — SURVEY.md §2.6 (V1-V3; the V5 per-key count
comparison is a groupBy inlined in its query): the status-service analogue
that re-reads both sides and asserts the replicated state equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sqltext import ident


def set_difference(a: DataFrame, b: DataFrame, on) -> DataFrame:
    """V1: symmetric set difference over key columns.

    Reference: archiver-vs-ES tx-hash set diff (status-service/util/set.go:
    21-37).  One full-outer join of the two distinct key sets with presence
    markers; keys present on exactly one side survive.  (r7 optimization —
    guide §2.4: the previous two-anti-join form instantiated EACH side's
    distinct subtree twice — 4 scans, 4 distinct aggregates, 2 joins — for
    the identical output; this form scans and distincts each side once.)
    """
    on = list(on)
    cols = [ident(c) for c in on]
    da = a.selectExpr(*cols).distinct().selectExpr("*", "1 AS __l")
    db = b.selectExpr(*cols).distinct().selectExpr("*", "1 AS __r")
    return (
        da.join(db, on=on, how="full_outer")
        .where("__l IS NULL OR __r IS NULL")
        .selectExpr(*cols, "CASE WHEN __r IS NULL THEN 'only_left' "
                           "ELSE 'only_right' END AS side")
    )


def rows_mismatching(a: DataFrame, b: DataFrame, key, compare_cols) -> DataFrame:
    """V2/V3: field-by-field equality on the key-joined pair; returns rows
    where any compared column differs (null-safe equality).

    Reference: matchFullTickData / minimal variant
    (status-service/sync/tick_processor.go:287-310).
    """
    key = list(key)
    bj = b.select(*key, *[F.col(c).alias(f"__b_{c}") for c in compare_cols])
    joined = a.select(*key, *compare_cols).join(bj, on=key, how="full_outer")
    neq = F.lit(False)
    for c in compare_cols:
        neq = neq | ~F.col(c).eqNullSafe(F.col(f"__b_{c}"))
    return joined.where(neq)


def assert_equal_state(a: DataFrame, b: DataFrame, key, compare_cols) -> dict:
    """Full replay-equality check: key sets equal AND all compared columns
    equal.  Returns a stats dict; raises AssertionError on mismatch."""
    diff_keys = set_difference(a, b, key).count()
    diff_rows = rows_mismatching(a, b, key, compare_cols).count()
    stats = {"key_set_diff": diff_keys, "row_mismatches": diff_rows,
             "rows_left": a.count(), "rows_right": b.count()}
    if diff_keys or diff_rows:
        raise AssertionError(f"state mismatch: {stats}")
    return stats

"""Join operators (SURVEY.md §2.7 — the reference has no general join
operator; this is the one our engine adds): the as-of (temporal) join.

Key skew in ordinary equi-joins is left to AQE's skew-join (enabled in
session.py); the hot-conversation skew of the CDC dedup itself is handled
by the two-phase salted reduction `dedup.last_wins_salted`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def asof_join(
    facts: DataFrame,
    dim: DataFrame,
    key_cols,
    ts_col: str,
    dim_cols,
    strict: bool = False,
) -> DataFrame:
    """As-of (temporal) join: each fact row gets the dim row with the
    greatest ``dim.ts_col`` <= ``fact.ts_col`` per key (the enrichment join
    streams/CDC pipelines need; Spark has no native ASOF JOIN).

    Physical shape — union-tag + one partitioned window, NOT a range join:
    dim and fact rows are unioned with a tag, sorted per key by
    (ts, tag) so a dim row at time t precedes facts at the same t (``strict``
    flips the tiebreak to dim-after-fact, i.e. a strict ``<``), and the dim
    attributes are carried forward with ``last(ignorenulls)`` over the
    preceding-rows frame.  Dim attributes ride in ONE struct so every output
    column comes from the SAME dim row (per-column fills could mix rows when
    some dim attributes are null).  One shuffle on the key, scales with key
    cardinality; facts with no preceding dim row get nulls (left semantics).
    """
    from pyspark.sql import Window

    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    dim_cols = [dim_cols] if isinstance(dim_cols, str) else list(dim_cols)
    fact_cols = facts.columns

    # SQL join semantics: a NULL key never matches — but partitionBy groups
    # nulls together, so null-keyed dim rows must not enter the window (a
    # null-keyed fact then sits in a dim-less partition and gets nulls).
    # Likewise a NULL dim timestamp can never satisfy dim.ts <= fact.ts, yet
    # ASC ordering puts nulls FIRST, where last(ignorenulls) would carry the
    # row into every early fact — drop those too.
    for kc in key_cols:
        dim = dim.where(F.col(kc).isNotNull())
    dim = dim.where(F.col(ts_col).isNotNull())

    d = dim.select(
        *key_cols,
        F.col(ts_col),
        F.struct(*[F.col(c) for c in dim_cols]).alias("__dim"),
        F.lit(0 if not strict else 1).alias("__tag"),
        *[F.lit(None).cast(facts.schema[c].dataType).alias(f"__f_{c}")
          for c in fact_cols if c not in key_cols and c != ts_col],
    )
    f = facts.select(
        *key_cols,
        F.col(ts_col),
        F.lit(None).cast(d.schema["__dim"].dataType).alias("__dim"),
        F.lit(1 if not strict else 0).alias("__tag"),
        *[F.col(c).alias(f"__f_{c}")
          for c in fact_cols if c not in key_cols and c != ts_col],
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col).asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fact_tag = 1 if not strict else 0
    filled = (
        d.unionByName(f)
        .withColumn("__dim_asof", F.last("__dim", ignorenulls=True).over(w))
        .where(F.col("__tag") == fact_tag)
    )
    out_cols = [F.col(c) for c in key_cols] + [F.col(ts_col)]
    out_cols += [F.col(f"__f_{c}").alias(c)
                 for c in fact_cols if c not in key_cols and c != ts_col]
    out_cols += [F.col("__dim_asof")[c].alias(c) for c in dim_cols]
    return filled.select(*out_cols)

"""Join operators (SURVEY.md §2.7 — the reference has no general join
operator; this is the one our engine adds): the as-of (temporal) join.

Key skew in ordinary equi-joins is left to AQE's skew-join (enabled in
session.py); the hot-conversation skew of the CDC dedup itself is handled
by the two-phase salted reduction `dedup.last_wins_salted`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..sqltext import ident, type_sql


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
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    dim_cols = [dim_cols] if isinstance(dim_cols, str) else list(dim_cols)
    rest = [c for c in facts.columns if c not in key_cols and c != ts_col]
    keys = [ident(c) for c in key_cols]
    ts = ident(ts_col)

    # SQL join semantics: a NULL key never matches — but partitionBy groups
    # nulls together, so null-keyed dim rows must not enter the window (a
    # null-keyed fact then sits in a dim-less partition and gets nulls).
    # Likewise a NULL dim timestamp can never satisfy dim.ts <= fact.ts, yet
    # ASC ordering puts nulls FIRST, where last(ignorenulls) would carry the
    # row into every early fact — drop those too.
    dim = dim.where(" AND ".join(f"{c} IS NOT NULL" for c in (*keys, ts)))
    dim_type = T.StructType([T.StructField(c, dim.schema[c].dataType, True)
                             for c in dim_cols])
    fact_types = {f.name: f.dataType for f in facts.schema.fields}
    dim_tag, fact_tag = (1, 0) if strict else (0, 1)

    d = dim.selectExpr(
        *keys, ts,
        "struct(" + ", ".join(ident(c) for c in dim_cols) + ") AS __dim",
        f"{dim_tag} AS __tag",
        *[f"CAST(NULL AS {type_sql(fact_types[c])}) AS {ident('__f_' + c)}"
          for c in rest],
    )
    f = facts.selectExpr(
        *keys, ts,
        f"CAST(NULL AS {type_sql(dim_type)}) AS __dim",
        f"{fact_tag} AS __tag",
        *[f"{ident(c)} AS {ident('__f_' + c)}" for c in rest],
    )
    return (
        d.unionByName(f)
        .selectExpr("*", f"last(__dim, true) OVER (PARTITION BY {', '.join(keys)} "
                         f"ORDER BY {ts} ASC, __tag ASC ROWS BETWEEN UNBOUNDED "
                         f"PRECEDING AND CURRENT ROW) AS __dim_asof")
        .where(f"__tag = {fact_tag}")
        .selectExpr(
            *keys, ts,
            *[f"{ident('__f_' + c)} AS {ident(c)}" for c in rest],
            *[f"__dim_asof.{ident(c)} AS {ident(c)}" for c in dim_cols],
        )
    )

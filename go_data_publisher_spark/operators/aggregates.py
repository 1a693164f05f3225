"""Aggregation operators — SURVEY.md §2.5 (A2, A3; the A1 per-key count and
the A4 min/max gauge are one-line aggregates inlined in their queries).

Both are hash aggregates with map-side partial aggregation (skew-tolerant by
construction); `latest_per_group` deliberately uses max_by rather than a
window so a hot group never funnels through one reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sqltext import ident


def latest_per_group(df: DataFrame, group_cols, order_col: str, payload_cols=None) -> DataFrame:
    """A2: top-1 per group by order_col (latest computors per epoch —
    computors-consumer/elastic/client.go:87-91, `size:1 sort desc`)."""
    payload_cols = payload_cols or [c for c in df.columns if c not in group_cols]
    payload = ", ".join(ident(c) for c in payload_cols)
    win = F.expr(f"max_by(struct({payload}), {ident(order_col)}) AS __win")
    return (df.groupBy(*group_cols).agg(win)
            .selectExpr(*[ident(c) for c in group_cols], "__win.*"))


def last_per_epoch(df: DataFrame, epoch_col: str, lsn_col: str) -> DataFrame:
    """A3: map of epoch → max lsn (rpc/status_service.go:210-216)."""
    return df.groupBy(epoch_col).agg(F.max(lsn_col).alias("last_lsn"))

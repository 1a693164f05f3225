"""Aggregation operators — SURVEY.md §2.5 (A1-A4).

All are hash aggregates with map-side partial aggregation (skew-tolerant by
construction); `latest_per_group` deliberately uses max_by rather than a
window so a hot group never funnels through one reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def count_per_key(df: DataFrame, key_cols) -> DataFrame:
    """A1: count of rows per key (the verifier's per-tick log count)."""
    return df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))


def latest_per_group(df: DataFrame, group_cols, order_col: str, payload_cols=None) -> DataFrame:
    """A2: top-1 per group by order_col (latest computors per epoch —
    computors-consumer/elastic/client.go:87-91, `size:1 sort desc`)."""
    payload_cols = payload_cols or [c for c in df.columns if c not in group_cols]
    win = F.max_by(F.struct(*payload_cols), F.col(order_col)).alias("__win")
    return df.groupBy(*group_cols).agg(win).select(*group_cols, "__win.*")


def last_per_epoch(df: DataFrame, epoch_col: str, lsn_col: str) -> DataFrame:
    """A3: map of epoch → max lsn (rpc/status_service.go:210-216)."""
    return df.groupBy(epoch_col).agg(F.max(lsn_col).alias("last_lsn"))


def batch_max_lsn(df: DataFrame, lsn_col: str = "lsn"):
    """A4: max-lsn gauge over a batch (scalar)."""
    row = df.agg(F.max(lsn_col).alias("mx"), F.min(lsn_col).alias("mn")).first()
    return row["mn"], row["mx"]

"""SCD type-2 materialization: change stream → per-key version history.

The reference replicates only the *latest* state per key (ES replace-by-id);
an analytics consumer of the same change stream usually also wants the full
slowly-changing-dimension history — every version of every key with its
validity window in LSN space.  One partitioned window (shuffle on the key,
scales with key cardinality, no global ordering), all built-in expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(
    changelog: DataFrame,
    key=("conv_id", "turn_idx"),
    order_col: str = "lsn",
    attr_cols=("text",),
) -> DataFrame:
    """One row per key *version*: attributes + [valid_from, valid_to) in
    ``order_col`` space.

    valid_to = the next event's order value for the same key (any op — an
    update supersedes, a delete closes); the open current version has
    valid_to null.  Delete events close the preceding interval but emit no
    version row themselves.  Exactly-once inputs assumed (run the last-wins
    dedup first under at-least-once delivery).
    """
    key = [key] if isinstance(key, str) else list(key)
    attr_cols = [attr_cols] if isinstance(attr_cols, str) else list(attr_cols)
    w = Window.partitionBy(*key).orderBy(F.col(order_col))
    return (
        changelog.withColumn("__valid_to", F.lead(order_col).over(w))
        .where(F.col("op") != "D")
        .select(
            *key,
            *attr_cols,
            F.col(order_col).alias("valid_from"),
            F.col("__valid_to").alias("valid_to"),
        )
    )

"""Filters / routing / validity guards — SURVEY.md §2.2 (F1-F8).

All of these are plain Catalyst expressions, so predicate pushdown, column
pruning and whole-stage codegen apply for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sqltext import ident, string_literal

VALID_OPS = ("I", "U", "D")


def validity_sql(key_cols=("conv_id", "turn_idx"), op_col: str = "op") -> str:
    """F4: a row is valid iff all key fields present and op recognized
    (SQL text, for ``where``/``F.expr``).

    Reference: consumers fail batches with missing key fields
    (tick-data-consumer/consume/tick_processor.go:80-82).
    """
    ops = ", ".join(string_literal(o) for o in VALID_OPS)
    return " AND ".join([f"{ident(op_col)} IN ({ops})",
                         *[f"{ident(c)} IS NOT NULL" for c in key_cols]])


def split_valid(df: DataFrame, key_cols=("conv_id", "turn_idx"), op_col="op"):
    """Split a batch into (valid, quarantined).

    Unlike the reference (which aborts the whole batch), we quarantine bad
    rows and continue — the V4 mismatch policy with `continue` semantics
    (status-service/sync/tick_processor.go:238-249) — recording counts in the
    lineage manifest.
    """
    p = validity_sql(key_cols, op_col)
    return df.where(p), df.where(f"(NOT ({p})) OR (({p}) IS NULL)")


def drop_empty(df: DataFrame, epoch_col="epoch", tick_col="lsn") -> DataFrame:
    """F1: drop empty/sentinel rows before publish (epoch 0/65535, tick 0)."""
    return df.where(
        ~F.col(epoch_col).isin(0, 65535) & (F.col(tick_col) != 0)
    )


def patch_corrupt_range(df: DataFrame, epoch_col="epoch", lsn_col="lsn",
                        lo: int = 22175000, hi: int = 22187500,
                        bad_epoch: int = 65535, null_cols=()) -> DataFrame:
    """F2: hard-coded data-quality rewrite — null-out payload of a known-bad
    range (status-service/sync/tick_processor.go:210-214)."""
    bad = (F.col(epoch_col) == bad_epoch) & F.col(lsn_col).between(lo, hi)
    out = df
    for c in null_cols:
        out = out.withColumn(c, F.when(bad, F.lit(None)).otherwise(F.col(c)))
    return out


def route_ephemeral(df: DataFrame, pred: Column, route_col: str = "sink") -> DataFrame:
    """F3: route rows to one of two sinks by predicate (ephemeral vs permanent
    transactions, transactions-consumer/consume/transaction_consumer.go:118-123).

    Expressed as a partition/route column so one pass feeds both MERGE
    targets — no double scan.
    """
    return df.withColumn(route_col, F.when(pred, F.lit("ephemeral")).otherwise(F.lit("permanent")))


def scope_to_epoch(df: DataFrame, epoch_col: str, current_epoch: int) -> DataFrame:
    """F5: keep only the current epoch's rows (removePreviousEpochs)."""
    return df.where(F.col(epoch_col) == current_epoch)


def closed_epochs_only(df: DataFrame, epoch_col: str, latest_epoch: int) -> DataFrame:
    """F6: publish only finalized groups (epoch < latest)."""
    return df.where(F.col(epoch_col) < latest_epoch)

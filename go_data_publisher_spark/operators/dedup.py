"""Dedup / upsert-conflict operators — SURVEY.md §2.3 (D1-D5).

The heart of the CDC semantics: at-least-once delivery becomes
exactly-once-in-effect because (a) within a batch, only the winning version
per key survives (last-wins by LSN — the reference's in-batch keyed map,
tick-intervals-consumer/consume/intervals_processor.go:103-149), and (b) the
sink applies winners under a deterministic key (doc-id upsert,
transactions-consumer/consume/transaction_consumer.go:118).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sqltext import ident


# Deterministic winner under equal LSN: deletes beat updates beat inserts
# (re-applying a replayed batch must be a no-op, so ties cannot depend on
# arrival order).
OP_RANK_SQL = "CASE WHEN `op` = 'D' THEN 3 WHEN `op` = 'U' THEN 2 ELSE 1 END"


def op_rank():
    """The op-rank tie-breaker as a Column (see ``OP_RANK_SQL``)."""
    return F.expr(OP_RANK_SQL)


def winner_sql(columns, order) -> str:
    """``max_by(struct(columns), struct(order, op-rank)) AS __win`` — the
    last-wins winner of a key group as one aggregate expression; expand it
    with ``select("__win.*")``."""
    payload = ", ".join(ident(c) for c in columns)
    order_key = ", ".join([*(ident(c) for c in order),
                           f"{OP_RANK_SQL} AS __op_rank"])
    return f"max_by(struct({payload}), struct({order_key})) AS __win"


def last_wins(df: DataFrame, key=("conv_id", "turn_idx"), order=("lsn",)) -> DataFrame:
    """One row per key: the version with the highest (lsn, op_rank).

    Implemented as `max_by(struct(payload), struct(order))` — a hash
    aggregate with **map-side partial aggregation**, so a hot key is reduced
    locally on every input partition before one tiny shuffled row per
    (key, partition) meets in the final agg.  This is the skew-robust plan:
    no single reducer ever sees a hot conversation's full event list.
    (Contrast with a row_number() window, which shuffles every duplicate to
    one partition — see `last_wins_window` below, kept for comparison.)

    The merge's default path does NOT run this two-phase shape: with no
    pre-deduped input, ``TranscriptTable.merge`` fuses the same max_by into
    its bucket exchange (one exchange, aggregate after it).  This function
    runs for the salted and routed applier paths, the overlap-guarded merge
    and the snapshot fold.
    """
    return (
        df.groupBy(*key)
        .agg(F.expr(winner_sql(df.columns, order)))
        .select("__win.*")
    )


def last_wins_salted(
    df: DataFrame, key=("conv_id", "turn_idx"), order=("lsn",), n_salts: int = 8
) -> DataFrame:
    """Explicit two-phase salted reduction (north_rule's salted repartition).

    Phase 1 repartitions on (key, salt) — a hot key's duplicates spread over
    ``n_salts`` reducers, each keeping one winner; phase 2 reduces the ≤
    n_salts partial winners per key to the final winner.  Semantics identical
    to `last_wins`; use when the partial-agg path is defeated (e.g. payloads
    too wide for map-side hash aggregation to hold).
    """
    columns = df.columns
    # Salt mixes the SOURCE PARTITION ID with the order columns (r7, from the
    # r6 advisor): exact at-least-once redeliveries share their order values,
    # so an order-only hash sent every duplicate of a hot row to ONE reducer —
    # defeating the spread in precisely the duplicate-heavy case this twin
    # exists for.  spark_partition_id varies across the source partitions the
    # duplicates arrive in, and is deterministic under task retry (a re-run
    # map task keeps its partition id — unlike rand(), SPARK-38388), so the
    # repartition stays retry-consistent.  The final winner is independent of
    # salt assignment (phase 2 re-reduces), so results are unchanged.
    salt_keys = ", ".join(["spark_partition_id()", *(ident(c) for c in order)])
    salted = df.selectExpr(
        "*", f"pmod(xxhash64({salt_keys}), {int(n_salts)}) AS __salt")
    partial = (
        salted.repartition(*key, "__salt")
        .groupBy(*key, "__salt")
        .agg(F.expr(winner_sql(columns, order)))
        .select(*key, "__win")
    )
    return last_wins(partial.select("__win.*"), key=key, order=order)


def last_wins_window(df: DataFrame, key=("conv_id", "turn_idx"), order=("lsn",)) -> DataFrame:
    """row_number() formulation (D4's literal shape). Skew-prone; test oracle only."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key).orderBy(
        *[F.col(c).desc() for c in order], op_rank().desc()
    )
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def content_hash_changed(batch: DataFrame, target: DataFrame, key, hash_cols) -> DataFrame:
    """D2: publish only rows whose content checksum differs from the target's.

    Reference: K12 checksum of (epoch, identities, signature), publish iff
    changed (computors-publisher/sync/processor.go:120-177).  Spark shape:
    checksum column + left-anti join on (key, checksum).
    """
    def with_sum(df):
        # concat_ws silently SKIPS nulls, so (x, NULL) and (NULL, x) would
        # collide and a real content change would be classified "unchanged".
        # Encode each column null-distinguishably: NULL -> "\x00", value ->
        # "\x01" + value (the prefix keeps a literal "\x00" value distinct).
        encoded = [
            F.when(F.col(c).isNull(), F.lit("\x00"))
            .otherwise(F.concat(F.lit("\x01"), F.col(c).cast("string")))
            for c in hash_cols
        ]
        return df.withColumn("__checksum", F.sha2(F.concat_ws("\x1f", *encoded), 256))

    b, t = with_sum(batch), with_sum(target.select(*key, *hash_cols))
    return b.join(t.select(*key, "__checksum"), on=[*key, "__checksum"], how="left_anti") \
            .drop("__checksum")


def drop_already_present(batch: DataFrame, target: DataFrame, on) -> DataFrame:
    """D3: read-before-write dedup — drop batch rows already in the target.

    Reference: query ES for the latest row per epoch and skip same-signature
    messages (computors-consumer/consume/processor.go:89-106).
    """
    return batch.join(target.select(*on).distinct(), on=list(on), how="left_anti")

"""Deterministic, distributed synthetic CDC change-log generator.

Produces the binlog/WAL-shaped stream of FIXTURES.md §2: I/U/D events over
transcript turns keyed by (conv_id, turn_idx), globally ordered by LSN, with

- whole-event duplicates (at-least-once redelivery; the reference replays
  Kafka batches on crash before offset commit,
  transactions-consumer/consume/transaction_consumer.go:150),
- multiple updates per key where only the highest LSN survives,
- hot-key skew (~1% of conv_ids carrying ~50% of events — exercises salting),
- invalid events with null key fields (quarantine path; reference
  tick-data-consumer/consume/tick_processor.go:80-82),
- gaps in LSN space (the reference's tick intervals have holes,
  status-service/rpc/status_service.go:218-231),
- a schema-v1 → v2 transition: the `tool` column exists only for v2 events
  (reference analogue: dual archiverv1/v2 wire schemas,
  status-service/main.go:157-163).

Everything is generated on executors from ``spark.range`` with pure column
expressions seeded by xxhash64 — no Python in the hot path, no driver-side
loops, fully deterministic for a given (n_events, seed) regardless of
partitioning, and therefore scalable to arbitrarily many rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import CHANGE_EVENT_SCHEMA

ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "python", "browser", "editor", "calculator")
_WORDS = (
    "merge", "stream", "batch", "offset", "cursor", "replay", "commit",
    "window", "shuffle", "anchor", "vector", "tökén",  # non-ASCII on purpose
    "plan", "spill",
)


def _h(seed: int, *cols: Column | str) -> Column:
    """Deterministic 64-bit hash stream; one independent stream per salt."""
    return F.xxhash64(F.lit(seed), *[F.col(c) if isinstance(c, str) else c for c in cols])


def _u(seed: int, *cols) -> Column:
    """Uniform [0,1) double derived from the hash stream."""
    return (F.pmod(_h(seed, *cols), F.lit(1_000_000)).cast("double")) / 1_000_000.0


def generate_changelog(
    spark: SparkSession,
    n_events: int,
    n_convs: int = 200,
    max_turns: int = 40,
    seed: int = 42,
    hot_frac: float = 0.01,
    hot_share: float = 0.5,
    dup_rate: float = 0.05,
    invalid_rate: float = 0.005,
    schema_v2_from: float = 0.6,
    n_partitions: int | None = None,
) -> DataFrame:
    """Return the change log as a DataFrame in CHANGE_EVENT_SCHEMA order.

    LSNs are unique per logical event and have gaps (every 97th slot is
    skipped); duplicated deliveries reuse the SAME lsn (true redelivery).
    """
    base = spark.range(0, n_events, numPartitions=n_partitions)

    # LSN: monotone in id with holes in the sequence space.
    lsn_expr = F.col("id") + (F.col("id") / 97).cast("long") * 3 + 1
    lsn = lsn_expr.alias("lsn")

    # Hot-key skew: hot_share of events land on the hot_frac head of conv ids.
    n_hot = max(1, int(n_convs * hot_frac))
    is_hot = _u(seed + 1, "id") < hot_share
    conv_num = F.when(is_hot, F.pmod(_h(seed + 2, "id"), F.lit(n_hot))).otherwise(
        n_hot + F.pmod(_h(seed + 3, "id"), F.lit(max(1, n_convs - n_hot)))
    )
    conv_id = F.concat(F.lit("conv-"), F.lpad(conv_num.cast("string"), 6, "0"))

    turn_idx = F.pmod(_h(seed + 4, "id"), F.lit(max_turns)).cast("int")

    # op mix: 70% I, 25% U, 5% D
    op_u = _u(seed + 5, "id")
    op = F.when(op_u < 0.70, "I").when(op_u < 0.95, "U").otherwise("D")

    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]), F.pmod(_h(seed + 6, "id"), F.lit(len(ROLES))).cast("int") + 1
    )

    # Text: deterministic function of (conv, turn, lsn) so replay equality is
    # checkable per-turn; variable length via repeated word picks.
    word = F.element_at(
        F.array(*[F.lit(w) for w in _WORDS]), F.pmod(_h(seed + 7, "id"), F.lit(len(_WORDS))).cast("int") + 1
    )
    text = F.concat_ws(
        " ",
        F.lit("turn"),
        conv_id,
        turn_idx.cast("string"),
        F.lit("lsn"),
        lsn_expr.cast("string"),
        F.repeat(F.concat(word, F.lit(" ")), (F.pmod(_h(seed + 8, "id"), F.lit(12)) + 1).cast("int")),
    )

    schema_version = F.when(F.col("id") >= int(n_events * schema_v2_from), 2).otherwise(1)
    tool = F.when(
        (schema_version == 2) & (role == "tool"),
        F.element_at(
            F.array(*[F.lit(t) for t in TOOLS]), F.pmod(_h(seed + 9, "id"), F.lit(len(TOOLS))).cast("int") + 1
        ),
    )

    ts = F.timestamp_seconds(F.lit(1_700_000_000) + lsn_expr)

    # Invalid rows: null out a key field (→ quarantine path).
    inv_u = _u(seed + 10, "id")
    conv_id = F.when(inv_u < invalid_rate / 2, F.lit(None).cast("string")).otherwise(conv_id)
    turn_idx = F.when((inv_u >= invalid_rate / 2) & (inv_u < invalid_rate), F.lit(None).cast("int")).otherwise(
        turn_idx
    )

    events = base.select(
        lsn,
        op.alias("op"),
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
        schema_version.alias("schema_version"),
    )

    # At-least-once duplicates: re-deliver a deterministic sample verbatim.
    dups = events.where(_u(seed + 11, "lsn") < dup_rate)
    return events.unionAll(dups).select([f.name for f in CHANGE_EVENT_SCHEMA.fields])


def write_changelog_stream_dir(
    df: DataFrame, path: str, n_chunks: int = 10, order_col: str = "lsn"
) -> list[tuple[int, int]]:
    """Materialize the change log as ``n_chunks`` parquet files under ``path``,
    chunked by contiguous LSN ranges (the microbatch slices a binlog tail
    produces).  Row order *within* a chunk is arbitrary — consumers must not
    rely on it (the reference's in-batch out-of-order case, D4).

    Returns the [(lsn_lo, lsn_hi)] chunk bounds.  Used as the Structured
    Streaming file source in tests and the bench.
    """
    import math

    lo, hi = df.agg(F.min(order_col), F.max(order_col)).first()
    span = math.ceil((hi - lo + 1) / n_chunks)
    bounds = []
    for i in range(n_chunks):
        a, b = lo + i * span, min(hi, lo + (i + 1) * span - 1)
        if a > hi:
            break
        chunk = df.where(F.col(order_col).between(a, b))
        # one file per chunk => deterministic maxFilesPerTrigger batching
        chunk.coalesce(1).write.mode("overwrite").parquet(f"{path}/chunk={i:05d}")
        bounds.append((a, b))
    return bounds

"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
through the engine's own operator modules (go_data_publisher_spark.*), over
the driver-provided tables (events / documents / embeddings — mapping per
FIXTURES.md §4: user_id ↔ conv-key, event_id ↔ LSN, event_type ↔ op).
``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL; column names and
types are aligned pair-by-pair (ints cast to BIGINT, doubles rounded).

Every entry in ``queries()`` has a DuckDB oracle in ``oracle_sql()`` —
including the LSH/MinHash/SimHash families, whose hash functions were
re-derived over md5 so DuckDB reproduces the bucketing itself
(``md5_number_lower``).  Every entry passes rows + schema + value-hash
against its oracle (46/46 in the round-5 driver record; round 6 adds the
salted/stab scale twins and the point lookup, all oracled the same way —
there are no rows-only entries).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_data_publisher_spark.operators import aggregates as A
from go_data_publisher_spark.operators import dedup as D
from go_data_publisher_spark.operators import routing as R
from go_data_publisher_spark.operators import sequencing as Q
from go_data_publisher_spark.operators import similarity as S
from go_data_publisher_spark.operators import textdedup as TD
from go_data_publisher_spark.operators import verify as V
from go_data_publisher_spark.functions import text as TX


# path -> (file stamps, the schema Spark inferred from those files).  The
# queries run on several threads at once; no lock is needed, because a race
# at worst infers a schema twice, and an entry's stamps are always taken
# before its schema was inferred, so a file rewritten in between leaves
# stamps that no later read matches.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _file_stamps(path: str) -> tuple | None:
    """(relative name, size, mtime_ns) of every file under ``path``, or None
    when ``path`` is not on the local filesystem."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    stamps = []
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            stamps.append((os.path.relpath(os.path.join(d, f), path),
                           st.st_size, st.st_mtime_ns))
    return tuple(sorted(stamps))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A fixture table.  Spark infers a parquet schema with a one-task job
    per read; the schema it inferred is kept per path and reused while no
    file under the path changes size or mtime, so later reads start no
    job."""
    path = f"{sf_dir}/{name}.parquet"
    stamps = _file_stamps(path)
    known = _SCHEMAS.get(path)
    if stamps is not None and known is not None and known[0] == stamps:
        return spark.read.schema(known[1]).parquet(path)
    df = spark.read.parquet(path)
    if stamps is not None:
        _SCHEMAS[path] = (stamps, df.schema)
    return df


def _as_changelog(events: DataFrame) -> DataFrame:
    """Map the driver's events table onto the CDC envelope (FIXTURES.md §4):
    lsn=event_id, conv key=user_id, turn_idx=event_id%16,
    op: signup→I, error→D, else U; text=props."""
    return events.selectExpr(
        "event_id AS lsn",
        "CASE WHEN event_type = 'signup' THEN 'I' "
        "WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op",
        "user_id AS conv_id",
        "CAST(pmod(event_id, 16) AS BIGINT) AS turn_idx",
        "props AS text",
        "value",
    )


_CHANGELOG_SQL = """
  SELECT event_id AS lsn,
         CASE WHEN event_type = 'signup' THEN 'I'
              WHEN event_type = 'error'  THEN 'D'
              ELSE 'U' END AS op,
         user_id AS conv_id,
         event_id % 16 AS turn_idx,
         props AS text,
         value
  FROM events
"""


# ---------------------------------------------------------------------------
# CDC core (D1/D4): final state after full replay — the flagship
# ---------------------------------------------------------------------------

def q_cdc_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _as_changelog(_t(spark, sf_dir, "events"))
    winners = D.last_wins(log, key=("conv_id", "turn_idx"), order=("lsn",))
    return winners.where("op != 'D'").selectExpr(
        "conv_id", "turn_idx", "lsn AS last_lsn", "text",
        "round(value, 2) AS last_value")


def q_cdc_final_state_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of ``cdc_final_state``: the explicit two-phase salted
    reduction (north_rule's salted repartition on the conv key — hot
    conversations spread over n_salts reducers before the final per-key
    reduce).  Semantics identical to the max_by path, so it shares the
    oracle; benched beside it so the shape you'd run under defeated
    map-side aggregation has a tracked number (r5 verdict #4)."""
    log = _as_changelog(_t(spark, sf_dir, "events"))
    winners = D.last_wins_salted(log, key=("conv_id", "turn_idx"),
                                 order=("lsn",), n_salts=8)
    return winners.where("op != 'D'").selectExpr(
        "conv_id", "turn_idx", "lsn AS last_lsn", "text",
        "round(value, 2) AS last_value")


SQL_CDC_FINAL_STATE = f"""
  WITH log AS ({_CHANGELOG_SQL}),
  ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx
        ORDER BY lsn DESC, CASE op WHEN 'D' THEN 3 WHEN 'U' THEN 2 ELSE 1 END DESC
    ) AS rn
    FROM log
  )
  SELECT conv_id, turn_idx, lsn AS last_lsn, text, round(value, 2) AS last_value
  FROM ranked WHERE rn = 1 AND op <> 'D'
"""


# ---------------------------------------------------------------------------
# dedup / aggregation family
# ---------------------------------------------------------------------------

def q_latest_per_group(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return A.latest_per_group(
        ev, ["user_id"], "event_id", payload_cols=["event_id", "event_type"]
    ).selectExpr("user_id", "event_id AS last_event_id", "event_type AS last_type")


SQL_LATEST_PER_GROUP = """
  SELECT user_id, event_id AS last_event_id, event_type AS last_type
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
        FROM events) WHERE rn = 1
"""


def q_count_per_key(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


SQL_COUNT_PER_KEY = """
  SELECT user_id, count(*) AS n_rows, round(sum(value), 2) AS sum_value
  FROM events GROUP BY user_id
"""


def q_last_per_epoch(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "epoch", F.floor(F.col("event_id") / 1000)
    )
    return A.last_per_epoch(ev, "epoch", "event_id").select(
        "epoch", F.col("last_lsn").alias("last_event_id")
    )


SQL_LAST_PER_EPOCH = """
  SELECT event_id // 1000 AS epoch, max(event_id) AS last_event_id
  FROM events GROUP BY 1
"""


def q_content_hash(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    h = F.sha2(F.concat_ws("|", F.col("event_type"), F.col("props")), 256)
    return ev.groupBy("user_id").agg(F.countDistinct(h).alias("n_distinct_checksums"))


SQL_CONTENT_HASH = """
  SELECT user_id,
         count(DISTINCT sha256(event_type || '|' || props)) AS n_distinct_checksums
  FROM events GROUP BY user_id
"""


def q_read_before_write(spark, sf_dir):
    # cut early in the id space so a meaningful set of (user, type) pairs is
    # genuinely unseen at read time — at the old cut of 8000 every pair
    # already existed and the entry passed vacuously on zero rows
    ev = _t(spark, sf_dir, "events")
    batch = ev.where("event_id > 300")
    target = ev.where("event_id <= 300")
    return D.drop_already_present(batch, target, on=["user_id", "event_type"]).select(
        "event_id", "user_id", "event_type"
    )


SQL_READ_BEFORE_WRITE = """
  SELECT b.event_id, b.user_id, b.event_type
  FROM events b
  WHERE b.event_id > 300
    AND NOT EXISTS (SELECT 1 FROM events t
                    WHERE t.event_id <= 300
                      AND t.user_id = b.user_id AND t.event_type = b.event_type)
"""


# ---------------------------------------------------------------------------
# sequencing family (Q1/Q3/Q5/Q6/Q7/Q8/Q9)
# ---------------------------------------------------------------------------

def q_next_range(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return Q.next_range(ev, "event_id", cursor=2000, head=7000).select(
        "event_id", "user_id", "event_type"
    )


SQL_NEXT_RANGE = """
  SELECT event_id, user_id, event_type FROM events
  WHERE event_id > 2000 AND event_id <= 7000
"""


def q_unprocessed_suffix(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn("epoch", F.floor(F.col("event_id") / 1000))
    return Q.unprocessed_suffix(ev, "epoch", 5).groupBy("epoch").agg(
        F.count(F.lit(1)).alias("n_events")
    )


SQL_UNPROCESSED_SUFFIX = """
  SELECT event_id // 1000 AS epoch, count(*) AS n_events
  FROM events WHERE event_id // 1000 > 5 GROUP BY 1
"""


def q_gap_detection(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return Q.detect_gaps(ev, ["user_id"], "event_id", min_gap=500)


SQL_GAP_DETECTION = """
  SELECT user_id, prev + 1 AS gap_from, event_id - 1 AS gap_to
  FROM (SELECT user_id, event_id,
               lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        FROM events)
  WHERE prev IS NOT NULL AND event_id - prev > 500
"""


def q_range_join(spark, sf_dir):
    """Q3's containment count in the BROADCAST regime (intervals fit one
    machine — the reference's epoch dimension).  r7 optimization: the
    broadcast nested-loop join enumerated ~events × intervals pairs (~145M
    at sf0.1, 3.2s) only to count them per event; the count is two binary
    searches against sorted boundary arrays
    (operators/sequencing.py:interval_contain_count_sorted — same driver
    residency class as the F.broadcast(intervals) it replaces, guide §4.2
    vectorized-native + §2.4 shuffle removal).  Output identical (oracle
    SQL unchanged, hash-verified): per event, the number of containing
    intervals — event_id is the unique LSN, the same uniqueness the stab
    twin's per-row form already relies on."""
    ev = _t(spark, sf_dir, "events")
    intervals = Q.group_intervals(ev, ["user_id"], "event_id").selectExpr(
        "user_id AS iv_user", "from_lsn", "to_lsn")
    counted = Q.interval_contain_count_sorted(
        ev.select("event_id"), intervals, lsn_col="event_id"
    )
    return counted.where("n_containing > 0").select("event_id", "n_containing")


SQL_RANGE_JOIN = """
  WITH iv AS (SELECT user_id, min(event_id) lo, max(event_id) hi
              FROM events GROUP BY user_id)
  SELECT e.event_id, count(*) AS n_containing
  FROM events e JOIN iv ON e.event_id BETWEEN iv.lo AND iv.hi
  GROUP BY e.event_id
"""


def q_range_join_chunked(spark, sf_dir):
    """Q3 at web scale: the same range-containment aggregate as
    `range_join`, planned as a chunked shuffled equi-join instead of a
    broadcast (operators/sequencing.py:range_count_chunked) — the shape
    that survives an intervals side too large to broadcast.

    Cost note (measured by the sf1 gate, r6): this benchmark's per-user
    intervals span ~97% of the log, so the matching-pair count is ~events
    × intervals and every pair-ENUMERATING plan is O(pairs) by data shape.
    r7 optimization: for the COUNT those pairs are redundant wherever an
    interval fully covers an event's chunk — the full-cover/boundary
    decomposition (operators/sequencing.py:range_count_chunked) keeps this
    entry's identity (chunked shuffled equi-join, no broadcast, no driver
    residency) while only boundary chunks (≤ 2 per interval) still
    equi-join events, removing the superlinear term the sf1 gate flagged
    (r6: 46.7s at 10×).  Output identical (oracle SQL unchanged,
    hash-verified); ``n_events`` restores join multiplicity exactly."""
    ev = _t(spark, sf_dir, "events")
    intervals = Q.group_intervals(ev, ["user_id"], "event_id").selectExpr(
        "user_id AS iv_user", "from_lsn", "to_lsn")
    counted = Q.range_count_chunked(
        ev.select("event_id"), intervals, lsn_col="event_id", chunk=1024
    )
    return counted.where("n_containing > 0").selectExpr(
        "event_id", "CAST(n_events * n_containing AS BIGINT) AS n_containing")


SQL_RANGE_JOIN_CHUNKED = SQL_RANGE_JOIN


def q_range_join_stab(spark, sf_dir):
    """Q3's count aggregate via the interval-stabbing sweep
    (operators/sequencing.py:interval_stab_count): identical output to
    `range_join`/`range_join_chunked`, ZERO pair enumeration.  This is the
    100 TB shape for the dense-overlap regime the bench's sf1 gate flagged
    in round 6: this benchmark's per-user intervals span ~97% of the log,
    so BOTH join twins enumerate ~events × intervals pairs (that cost is
    the data shape, not the plan), while the sweep is O((events +
    intervals) log) with an O(n_parts) stitch."""
    ev = _t(spark, sf_dir, "events")
    intervals = Q.group_intervals(ev, ["user_id"], "event_id").selectExpr(
        "user_id AS iv_user", "from_lsn", "to_lsn")
    counted = Q.interval_stab_count(
        ev.select("event_id"), intervals, lsn_col="event_id"
    )
    return counted.where("n_containing > 0").select("event_id", "n_containing")


SQL_RANGE_JOIN_STAB = SQL_RANGE_JOIN


def q_scd2_history(spark, sf_dir):
    """SCD type-2 materialization of the change stream: every key version
    with its [valid_from, valid_to) LSN window; deletes close intervals
    without emitting rows (operators/scd.py:scd2_history — one partitioned
    window, scales with key cardinality)."""
    from go_data_publisher_spark.operators.scd import scd2_history

    ch = _as_changelog(_t(spark, sf_dir, "events"))
    return scd2_history(ch, key=("conv_id", "turn_idx"),
                        order_col="lsn", attr_cols=("text",))


SQL_SCD2_HISTORY = f"""
  WITH ch AS ({_CHANGELOG_SQL}),
  v AS (
    SELECT conv_id, turn_idx, text, op, lsn,
           lead(lsn) OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn) AS nxt
    FROM ch
  )
  SELECT conv_id, turn_idx, text, lsn AS valid_from, nxt AS valid_to
  FROM v WHERE op <> 'D'
"""


def q_asof_enrich(spark, sf_dir):
    """Temporal enrichment: each event gets the latest signup event at or
    before its timestamp for the same user (operators/joins.py:asof_join —
    union-tag + one partitioned window, no range join; Spark lacks a native
    ASOF JOIN, DuckDB's native ASOF LEFT JOIN is the oracle)."""
    from go_data_publisher_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    dim = ev.where("event_type = 'signup'").selectExpr(
        "user_id", "ts", "event_id AS signup_event_id")
    facts = ev.select("user_id", "ts", "event_id")
    out = asof_join(facts, dim, ["user_id"], "ts", ["signup_event_id"])
    return out.select("event_id", "user_id", "signup_event_id")


SQL_ASOF_ENRICH = """
  SELECT e.event_id, e.user_id, d.event_id AS signup_event_id
  FROM events e
  ASOF LEFT JOIN (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup'
  ) d ON e.user_id = d.user_id AND e.ts >= d.ts
"""


def q_windowed_counts(spark, sf_dir):
    """Event-time tumbling-window throughput counters
    (streaming/windows.py:windowed_event_counts, batch form — streaming form
    with watermark late-drop is pytest-covered in test_windowed_stream.py).
    Window bounds are emitted as epoch seconds so the comparison is
    timezone-free."""
    from go_data_publisher_spark.streaming.windows import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    out = windowed_event_counts(
        ev, ts_col="ts", window_duration="6 hours",
        keys=("event_type",), lsn_col="event_id",
    )
    # tz-free epoch seconds: NTZ minus the NTZ epoch literal (the parquet ts
    # is TIMESTAMP_NTZ; a session-timezone-dependent cast would break parity
    # with DuckDB's naive epoch())
    def _sec(c):
        return F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
            f"CAST({c} AS TIMESTAMP_NTZ))"
        )

    return out.select(
        _sec("window_start").alias("window_start_s"),
        _sec("window_end").alias("window_end_s"),
        "event_type",
        "n_events",
        F.col("min_lsn").alias("min_event_id"),
        F.col("max_lsn").alias("max_event_id"),
    )


SQL_WINDOWED_COUNTS = """
  SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS window_start_s,
         CAST(floor(epoch(ts) / 21600) * 21600 + 21600 AS BIGINT) AS window_end_s,
         event_type,
         count(*) AS n_events,
         min(event_id) AS min_event_id,
         max(event_id) AS max_event_id
  FROM events
  GROUP BY 1, 2, 3
"""


def _ntz_sec(c):
    """tz-free epoch seconds of an NTZ timestamp column (see
    q_windowed_counts for why a session-timezone cast would break parity
    with DuckDB's naive epoch())."""
    return F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        f"CAST({c} AS TIMESTAMP_NTZ))"
    )


def q_sliding_counts(spark, sf_dir):
    """Sliding event-time windows (6h window, 3h hop — each event lands in
    exactly 2 overlapping windows), batch form of
    streaming/windows.py:sliding_event_counts."""
    from go_data_publisher_spark.streaming.windows import sliding_event_counts

    ev = _t(spark, sf_dir, "events")
    out = sliding_event_counts(
        ev, ts_col="ts", window_duration="6 hours", slide_duration="3 hours",
        keys=("event_type",), lsn_col="event_id",
    )
    return out.select(
        _ntz_sec("window_start").alias("window_start_s"),
        _ntz_sec("window_end").alias("window_end_s"),
        "event_type",
        "n_events",
        F.col("min_lsn").alias("min_event_id"),
        F.col("max_lsn").alias("max_event_id"),
    )


SQL_SLIDING_COUNTS = """
  SELECT CAST((floor(epoch(ts) / 10800) - i.i) * 10800 AS BIGINT) AS window_start_s,
         CAST((floor(epoch(ts) / 10800) - i.i) * 10800 + 21600 AS BIGINT) AS window_end_s,
         event_type,
         count(*) AS n_events,
         min(event_id) AS min_event_id,
         max(event_id) AS max_event_id
  FROM events CROSS JOIN (VALUES (0), (1)) AS i(i)
  GROUP BY 1, 2, 3
"""


def q_session_counts(spark, sf_dir):
    """Session windows per user (activity bursts closed by 24h of silence),
    batch form of streaming/windows.py:session_event_counts; DuckDB twin is
    the classic gaps-and-islands formulation."""
    from go_data_publisher_spark.streaming.windows import session_event_counts

    ev = _t(spark, sf_dir, "events")
    out = session_event_counts(
        ev, ts_col="ts", gap_duration="24 hours",
        keys=("user_id",), lsn_col="event_id",
    )
    return out.select(
        _ntz_sec("session_start").alias("session_start_s"),
        _ntz_sec("session_end").alias("session_end_s"),
        "user_id",
        "n_events",
        F.col("min_lsn").alias("min_event_id"),
        F.col("max_lsn").alias("max_event_id"),
    )


SQL_SESSION_COUNTS = """
  WITH ordered AS (
    SELECT user_id, ts, event_id,
           CASE WHEN epoch(ts) - epoch(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)) > 86400
                THEN 1 ELSE 0 END AS new_sess
    FROM events
  ),
  sess AS (
    SELECT *, SUM(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS sid
    FROM ordered
  )
  SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
         CAST(floor(epoch(max(ts))) + 86400 AS BIGINT) AS session_end_s,
         user_id,
         count(*) AS n_events,
         min(event_id) AS min_event_id,
         max(event_id) AS max_event_id
  FROM sess GROUP BY user_id, sid
"""


def q_monotonicity(spark, sf_dir):
    """Q6 at scale: range-partitioned violation count + O(n_parts) boundary
    stitch — no global-window single-reducer pass (see
    operators/sequencing.py:verify_monotonic)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    return Q.verify_monotonic(ev, "event_id", attr_cols=("ts",), strict=False)


SQL_MONOTONICITY = """
  SELECT CAST(coalesce(sum(CASE WHEN prev IS NOT NULL AND ts < prev THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_violations
  FROM (SELECT ts, lag(ts) OVER (ORDER BY event_id) AS prev FROM events)
"""


def q_interval_trim(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn("epoch", F.floor(F.col("event_id") / 1000))
    iv = Q.group_intervals(ev, ["user_id", "epoch"], "event_id").drop("n_rows")
    return Q.trim_to_cursor(iv, cursor=8000)


SQL_INTERVAL_TRIM = """
  SELECT user_id, event_id // 1000 AS epoch,
         min(event_id) AS from_lsn,
         least(max(event_id), 8000) AS to_lsn
  FROM events GROUP BY 1, 2
  HAVING min(event_id) <= 8000
"""


# ---------------------------------------------------------------------------
# routing / filtering family (F1/F3)
# ---------------------------------------------------------------------------

def q_route_filter(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    kept = ev.where(F.col("event_type") != "error")  # F1: drop "empty" rows
    routed = R.route_ephemeral(
        kept, F.col("event_type").isin("view", "click") & (F.col("value") < 5)
    )
    return routed.select("event_id", "sink")


SQL_ROUTE_FILTER = """
  SELECT event_id,
         CASE WHEN event_type IN ('view','click') AND value < 5
              THEN 'ephemeral' ELSE 'permanent' END AS sink
  FROM events WHERE event_type <> 'error'
"""


def q_route_patch(spark, sf_dir):
    """F2: the hard-coded corrupt-range rewrite (null-out payload of a
    known-bad (epoch, lsn) window, status-service/sync/tick_processor.go:
    210-214), applied to the events fixture — epoch 7's 7200..7400 window
    loses its props payload (~200 affected rows; every row returned)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "epoch", F.floor(F.col("event_id") / 1000)
    )
    patched = R.patch_corrupt_range(
        ev, epoch_col="epoch", lsn_col="event_id",
        lo=7200, hi=7400, bad_epoch=7, null_cols=("props",),
    )
    return patched.select("event_id", "props")


SQL_ROUTE_PATCH = """
  SELECT event_id,
         CASE WHEN event_id // 1000 = 7 AND event_id BETWEEN 7200 AND 7400
              THEN NULL ELSE props END AS props
  FROM events
"""


def q_mismatch_policy(spark, sf_dir):
    """V4: the mismatch policy's continue-mode accounting — deterministically
    corrupt a slice of the changelog (unknown op every 101st lsn, null key
    every 97th), route it through the engine's split_valid guard, and report
    per-epoch valid/quarantined counts (the numbers the lineage manifest and
    the persisted skipped-key set record;
    status-service/sync/tick_processor.go:238-249)."""
    log = _as_changelog(_t(spark, sf_dir, "events"))
    corrupted = log.withColumn(
        "op", F.when(F.col("lsn") % 101 == 0, F.lit("X")).otherwise(F.col("op"))
    ).withColumn(
        "conv_id",
        F.when(F.col("lsn") % 97 == 0, F.lit(None)).otherwise(F.col("conv_id")),
    )
    valid, quarantined = R.split_valid(corrupted)
    tagged = valid.select("lsn", F.lit(1).alias("__v")).unionByName(
        quarantined.select("lsn", F.lit(0).alias("__v"))
    )
    return (
        tagged.groupBy(F.floor(F.col("lsn") / 1000).cast("long").alias("epoch"))
        .agg(
            F.sum("__v").cast("long").alias("n_valid"),
            F.sum(1 - F.col("__v")).cast("long").alias("n_quarantined"),
        )
    )


SQL_MISMATCH_POLICY = f"""
  WITH log AS ({_CHANGELOG_SQL}),
  corrupted AS (
    SELECT lsn,
           CASE WHEN lsn % 101 = 0 THEN 'X' ELSE op END AS op,
           CASE WHEN lsn % 97 = 0 THEN NULL ELSE conv_id END AS conv_id,
           turn_idx
    FROM log
  )
  SELECT lsn // 1000 AS epoch,
         CAST(SUM(CASE WHEN op IN ('I','U','D') AND conv_id IS NOT NULL
                        AND turn_idx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_valid,
         CAST(SUM(CASE WHEN op IN ('I','U','D') AND conv_id IS NOT NULL
                        AND turn_idx IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_quarantined
  FROM corrupted GROUP BY 1
"""


def q_batch_stats(spark, sf_dir):
    """A5: batch/throughput counters ridden on the scan as an Observation
    (zero extra jobs — the reference's prometheus bulk-indexer stats,
    transactions-consumer/extern/elastic_client.go:64-79), surfaced as a
    1-row frame so the DuckDB twin can hash-check the observed values."""
    import uuid

    from pyspark.sql import Observation

    obs = Observation(f"batch_stats_{uuid.uuid4().hex[:8]}")
    ev = _t(spark, sf_dir, "events").observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.min("event_id").alias("lsn_min"),
        F.max("event_id").alias("lsn_max"),
    )
    ev.write.format("noop").mode("overwrite").save()  # the batch pass
    m = obs.get
    return spark.createDataFrame(
        [(int(m["rows"]), int(m["lsn_min"]), int(m["lsn_max"]))],
        "n_rows long, lsn_min long, lsn_max long",
    )


SQL_BATCH_STATS = """
  SELECT count(*) AS n_rows, min(event_id) AS lsn_min, max(event_id) AS lsn_max
  FROM events
"""


# ---------------------------------------------------------------------------
# verification family (V1/V5)
# ---------------------------------------------------------------------------

def q_set_difference(spark, sf_dir):
    # rare-event user sets (low-value errors vs low-value purchases) genuinely
    # differ on the fixtures; every plain event_type covers ALL users, so the
    # old purchase-vs-signup comparison passed vacuously on zero rows
    ev = _t(spark, sf_dir, "events")
    a = ev.where("event_type = 'error' AND value < 0.5").select("user_id")
    b = ev.where("event_type = 'purchase' AND value < 0.5").select("user_id")
    return V.set_difference(a, b, ["user_id"])


SQL_SET_DIFFERENCE = """
  WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value < 0.5),
       b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value < 0.5)
  SELECT user_id, 'only_left' AS side FROM a WHERE user_id NOT IN (SELECT user_id FROM b)
  UNION ALL
  SELECT user_id, 'only_right' AS side FROM b WHERE user_id NOT IN (SELECT user_id FROM a)
"""


def q_count_equality(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).cast("long").alias("n_clicks"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).cast("long").alias("n_views"),
    )
    return per_user.where(F.col("n_clicks") != F.col("n_views"))


SQL_COUNT_EQUALITY = """
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views
  FROM events GROUP BY user_id
  HAVING sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      <> sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
"""


# ---------------------------------------------------------------------------
# documents: dedup + text analysis
# ---------------------------------------------------------------------------

def q_dedup_exact_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return TD.exact_duplicates(docs).select("content_hash", "canonical_id", "n_docs")


SQL_DEDUP_EXACT_DOCS = """
  SELECT sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
         min(doc_id) AS canonical_id, count(*) AS n_docs
  FROM documents GROUP BY 1
"""


def q_dedup_clusters_docs(spark, sf_dir):
    """Transitive near-dup clustering: pairs → connected components →
    (doc_id, cluster_id = min id in component), via distributed iterative
    min-label propagation with pointer jumping
    (operators/textdedup.py:dedup_clusters).  The edge rule here (consecutive
    doc_id within the same lang) is chosen to be SQL-expressible so the
    component result gets a full DuckDB oracle (gaps-and-islands form); the
    production edge source is any pair generator (minhash/simhash/embedding).
    """
    docs = _t(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("__la"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("__lb"))
    pairs = a.join(
        b, (F.col("id_b") == F.col("id_a") + 1) & (F.col("__la") == F.col("__lb"))
    ).select("id_a", "id_b")
    out = TD.dedup_clusters(pairs, nodes=docs.select(F.col("doc_id").alias("id")))
    return out.select(F.col("id").alias("doc_id"), "cluster_id")


SQL_DEDUP_CLUSTERS = """
  WITH runs AS (
    SELECT doc_id, lang,
           doc_id - ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS grp
    FROM documents
  )
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY lang, grp) AS cluster_id
  FROM runs
"""


def q_docs_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    n_tokens = TX.whitespace_token_count(F.col("text")).cast("long")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_real"),
        n_tokens.alias("n_tokens"),
        F.round(F.length("text") / n_tokens, 4).alias("avg_token_len"),
    )


SQL_DOCS_TOKEN_STATS = """
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars_real,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         round(length(text) / len(regexp_split_to_array(trim(text), '\\s+')), 4) AS avg_token_len
  FROM documents
"""


def q_docs_sample(spark, sf_dir):
    """Reproducible corpus subsetting (operators/sampling.py): md5-threshold
    sample — layout-independent, shuffle-free, composable; the portable-hash
    predicate lets the DuckDB oracle run the very same filter."""
    from go_data_publisher_spark.operators.sampling import deterministic_sample

    docs = _t(spark, sf_dir, "documents")
    return deterministic_sample(docs, 0.25, "doc_id").select(
        "doc_id", "lang", "n_chars"
    )


SQL_DOCS_SAMPLE = """
  SELECT doc_id, lang, n_chars
  FROM documents
  WHERE substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '__NULL_KEY__')), 1, 8)
        < '40000000'
"""


def q_docs_quota(spark, sf_dir):
    """Mixture balancing: at most 20 docs per lang, winners picked in md5
    hash order (operators/sampling.py:quota_per_group)."""
    from go_data_publisher_spark.operators.sampling import quota_per_group

    docs = _t(spark, sf_dir, "documents")
    return quota_per_group(docs, ["lang"], quota=20, key_col="doc_id").select(
        "doc_id", "lang"
    )


SQL_DOCS_QUOTA = """
  SELECT doc_id, lang
  FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (
             PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))
           ) AS rn
    FROM documents
  )
  WHERE rn <= 20
"""


def q_docs_curated(spark, sf_dir):
    """End-to-end corpus curation pipeline: deterministic 50% sample →
    quality floor (≥ 20 whitespace tokens) → per-lang mixture cap of 30
    docs in portable-hash order.  Every stage is the engine operator, every
    stage has an exact DuckDB twin, so the full composition is
    hash-verified."""
    from go_data_publisher_spark.operators.sampling import (
        deterministic_sample,
        quota_per_group,
    )

    docs = _t(spark, sf_dir, "documents")
    sampled = deterministic_sample(docs, 0.5, "doc_id")
    # compute the token count ONCE and carry it as a long (r7): the quality
    # floor and the output column previously each re-ran split(trim(text))
    # — a ~n_tokens string-array allocation per row per evaluation — on
    # opposite sides of the quota machinery, beyond codegen subexpression
    # elimination's single-projection reach
    with_nt = sampled.withColumn(
        "__nt", TX.whitespace_token_count(F.col("text")).cast("long"))
    filtered = with_nt.where("__nt >= 20")
    return quota_per_group(filtered, ["lang"], quota=30, key_col="doc_id").selectExpr(
        "doc_id", "lang", "__nt AS n_tokens")


SQL_DOCS_CURATED = """
  SELECT doc_id, lang,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM (
    SELECT doc_id, lang, text,
           ROW_NUMBER() OVER (
             PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))
           ) AS rn
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
      AND len(regexp_split_to_array(trim(text), '\\s+')) >= 20
  )
  WHERE rn <= 30
"""


def q_docs_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.substring(F.md5(F.lower(F.col("text"))), 1, 16).alias("fp16")
    )


SQL_DOCS_FINGERPRINT = """
  SELECT doc_id, substr(md5(lower(text)), 1, 16) AS fp16 FROM documents
"""


def q_docs_transcode(spark, sf_dir):
    """F8 parity: hex → bytes → base64 transcode, all JVM built-ins
    (reference: transactions-producer/external/archiver/client.go:56-85)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.base64(F.unhex(F.md5(F.lower(F.col("text"))))).alias("b64"),
    )


SQL_DOCS_TRANSCODE = """
  SELECT doc_id, to_base64(unhex(md5(lower(text)))) AS b64 FROM documents
"""


def q_batch_bounds(spark, sf_dir):
    """A4 parity: min/max gauge over a batch slice."""
    ev = _t(spark, sf_dir, "events")
    return Q.next_range(ev, "event_id", cursor=4000, head=9000).agg(
        F.min("event_id").alias("lsn_min"),
        F.max("event_id").alias("lsn_max"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_BATCH_BOUNDS = """
  SELECT min(event_id) AS lsn_min, max(event_id) AS lsn_max, count(*) AS n_rows
  FROM events WHERE event_id > 4000 AND event_id <= 9000
"""


def q_docs_lang_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


SQL_DOCS_LANG_STATS = """
  SELECT lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
  FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------

def _query_vec(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.where("vec_id = 0").first()["embedding"]


def q_emb_cosine_scores(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    return emb.selectExpr(
        "vec_id", f"round({S.cosine_to_query('embedding', q)}, 3) + 0.0D AS cosine_r3")


SQL_EMB_COSINE_SCORES = """
  SELECT e.vec_id,
         round(list_dot_product(e.embedding, q.embedding) /
               (sqrt(list_dot_product(e.embedding, e.embedding)) *
                sqrt(list_dot_product(q.embedding, q.embedding))), 3) + 0.0 AS cosine_r3
  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
"""


def q_emb_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    top = S.brute_force_topk(emb, q, k=10)
    return top.selectExpr("vec_id", "round(cosine, 3) + 0.0D AS cosine_r3")


SQL_EMB_TOPK = """
  SELECT vec_id, round(cosine, 3) + 0.0 AS cosine_r3
  FROM (
    SELECT e.vec_id,
           list_dot_product(e.embedding, q.embedding) /
           (sqrt(list_dot_product(e.embedding, e.embedding)) *
            sqrt(list_dot_product(q.embedding, q.embedding))) AS cosine
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  ) ORDER BY cosine DESC, vec_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# approximate / engine-internal entries — all fully oracled: each SQL twin
# below reproduces the same md5-derived hash family in DuckDB, so the driver
# hash-checks these like any exact query (see CORRECTNESS_r05: 46/46 green)
# ---------------------------------------------------------------------------

def q_minhash_pairs_docs(spark, sf_dir):
    """MinHash-LSH candidates verified by EXACT shingle Jaccard ≥ 0.4 —
    oracled (new in r5) against a DuckDB brute-force all-pairs twin.

    Oracle validity: the verify stage makes precision exact, so the entry
    is green iff LSH recall is complete on the fixture.  At (r=2, b=8) the
    per-pair miss probability is (1-s²)^8 ≤ (1-0.81)^8 ≈ 1.7e-6 at the
    fixtures' measured similarity floor (s_min = 0.9 at sf0.01, 0.889 at
    sf0.001), and the pair set was verified IDENTICAL to brute force at
    both sf (25/25 and 28/28).  Banded LSH recall is not provable at the
    0.4 threshold in general — r4's (r=4, b=4) measurably missed the one
    0.9-jaccard pair — so the oracle doubles as the recall regression pin.
    """
    # the sf fixtures are one parquet split; spread the shingle/signature
    # compute before the operator (a real corpus arrives in many splits).
    # Width follows the session's core count — a literal would over-partition
    # tiny corpora and under-partition a real cluster.
    width = spark.sparkContext.defaultParallelism
    docs = _t(spark, sf_dir, "documents").repartition(width)
    pairs = TD.minhash_lsh_pairs(docs, n_hashes=16, n_bands=8,
                                 verify_threshold=0.4)
    return pairs.selectExpr("id_a", "id_b", "round(jaccard, 3) + 0.0D AS jaccard_r3")


# brute-force twin of the minhash entry: same normalization (lower, collapse
# whitespace, trim, NULL ≡ '' — matching the operator's coalesce), same
# word-3-shingle set (one truncated shingle for docs shorter than 3 words —
# sequence(0, greatest(n-3, 0)) semantics), exact set Jaccard.  DuckDB list
# slices are 1-based inclusive, so w[i : i+2] is the 3-word window starting
# at i.  Parity caveat (latent, fixtures are pure ASCII): Spark lower() is
# Java full case mapping, DuckDB's is utf8proc simple mapping — exotic case
# points (e.g. U+0130) would normalize differently in the two engines.
SQL_MINHASH_PAIRS = r"""
  WITH n AS (
    SELECT doc_id,
           regexp_split_to_array(
             trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')),
             ' ') AS w
    FROM documents
  ), s AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i : i+2], ' ')
                          for i in range(1, greatest(len(w)-2, 1) + 1)]) AS sh
    FROM n
  )
  SELECT id_a, id_b, round(j, 3) + 0.0 AS jaccard_r3
  FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))) AS j
    FROM s a JOIN s b ON a.doc_id < b.doc_id
  ) WHERE j >= 0.4
"""


def q_simhash_pairs_docs(spark, sf_dir):
    """SimHash near-dup pairs — ORACLED (new in r5, upgraded from
    rows-only) against a DuckDB brute-force all-pairs twin.

    The result is EXACT, not approximate: with n_bands = max_hamming + 1
    (= 7 here) the pigeonhole guarantee makes banding recall exactly 1 over
    the hamming ≤ 6 radius (operators/textdedup.py:simhash_near_duplicates
    raises on any config that voids it, and
    test_simhash_banding_is_radius_complete pins it against brute-force
    hamming), and the exact-hamming verify makes precision 1 — so the
    output is precisely {(a,b): hamming(simhash64(a), simhash64(b)) ≤ 6}
    and a brute-force twin is a true oracle, not a recall estimate.

    What made the oracle possible: hash_family='md5lo' swaps the shingle
    hash from Spark's xxhash64 (seed-42 XXH64 over Spark's value encoding —
    not evaluable in DuckDB) to the lower 64 bits of md5 (last 8 digest
    bytes little-endian), which Spark computes JVM-side
    (functions/text.py:md5lo64) and DuckDB natively as
    md5_number_lower() — same bits, so signatures, hamming distances, and
    the pair set all match.  The xxhash64 family remains the hot-path
    default and keeps its brute-force pytest pin."""
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    return TD.simhash_near_duplicates(docs, max_hamming=6,
                                      hash_family="md5lo")


# Brute-force twin of the simhash entry.  Same normalization (lower,
# collapse whitespace, trim), same word-3-shingle multiset — one truncated
# shingle for docs shorter than 3 words, sequence(0, greatest(n-3, 0))
# semantics, duplicates KEPT (the vote weighs each occurrence) — same
# md5-lower-64 shingle hash, same strict-majority vote (bit set iff
# 2·ones > n_shingles, ties → 0), then exact all-pairs hamming ≤ 6.
# NULL text ≡ '' (verified against Spark: split(normalize(NULL)) still
# yields one '' shingle through concat_ws, so the NULL signature equals
# the empty-string signature — hence coalesce, NOT a signature-0 branch).
# Parity caveat (latent, fixtures are pure ASCII): Spark lower() uses
# Java full case mapping, DuckDB utf8proc simple mapping — exotic case
# points (e.g. U+0130) would normalize differently in the two engines.
SQL_SIMHASH_PAIRS = r"""
  WITH n AS (
    SELECT doc_id,
           string_split(
             trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')),
             ' ') AS w
    FROM documents
  ), sh AS (
    SELECT doc_id, md5_number_lower(array_to_string(w[i : i+2], ' ')) AS h
    FROM n, UNNEST(range(1, greatest(len(w)-2, 1) + 1)) AS t(i)
  ), bits AS (
    SELECT doc_id, b.bit,
           CASE WHEN 2 * sum(((h >> b.bit) & 1)::BIGINT)::BIGINT > count(*)
                THEN 1 ELSE 0 END AS set_bit
    FROM sh, (SELECT unnest(range(64)) AS bit) b
    GROUP BY doc_id, b.bit
  ), fp AS (
    SELECT doc_id, sum(set_bit::UBIGINT * (1::UBIGINT << bit))::UBIGINT AS f
    FROM bits GROUP BY doc_id
  )
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.f, b.f))::INTEGER AS hamming
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.f, b.f)) <= 6
"""


def q_docs_lang_id_udf(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_id(F.col("text")).alias("lang_guess"))


SQL_DOCS_LANG_ID = r"""
  WITH s AS (
    SELECT doc_id, ' ' || lower(text) || ' ' AS t,
           regexp_matches(text, '[\x{4E00}-\x{9FFF}]') AS has_cjk
    FROM documents
  ), c AS (
    SELECT doc_id, has_cjk,
      len(regexp_extract_all(t,'\sthe\s'))+len(regexp_extract_all(t,'\sand\s'))+len(regexp_extract_all(t,'\sof\s'))+len(regexp_extract_all(t,'\sis\s'))+len(regexp_extract_all(t,'\sto\s')) AS en,
      len(regexp_extract_all(t,'\sder\s'))+len(regexp_extract_all(t,'\sdie\s'))+len(regexp_extract_all(t,'\sund\s'))+len(regexp_extract_all(t,'\sist\s'))+len(regexp_extract_all(t,'\sdas\s')) AS de,
      len(regexp_extract_all(t,'\sle\s'))+len(regexp_extract_all(t,'\sla\s'))+len(regexp_extract_all(t,'\sles\s'))+len(regexp_extract_all(t,'\sest\s'))+len(regexp_extract_all(t,'\sune\s')) AS fr,
      len(regexp_extract_all(t,'\sel\s'))+len(regexp_extract_all(t,'\slos\s'))+len(regexp_extract_all(t,'\sque\s'))+len(regexp_extract_all(t,'\suna\s'))+len(regexp_extract_all(t,'\ses\s')) AS es
    FROM s
  )
  SELECT doc_id,
         CASE WHEN has_cjk THEN 'zh'
              WHEN greatest(en,de,fr,es) = 0 THEN 'und'
              WHEN en >= de AND en >= fr AND en >= es THEN 'en'
              WHEN de >= fr AND de >= es THEN 'de'
              WHEN fr >= es THEN 'fr'
              ELSE 'es' END AS lang_guess
  FROM c
"""


def q_docs_quality_udf(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        (F.round(TX.quality_score(F.col("text")), 4) + 0.0).alias("quality"),
    )


SQL_DOCS_QUALITY = r"""
  WITH f AS (
    SELECT doc_id,
           length(text) AS n_chars,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           len(regexp_extract_all(text, '[^\w\s]')) AS n_punct
    FROM documents
  )
  SELECT doc_id,
         round((
           (CASE WHEN n_chars >= 20 AND n_chars <= 20000 THEN 1.0 ELSE 0.3 END) +
           (CASE WHEN n_chars / greatest(n_tokens, 1) >= 3
                  AND n_chars / greatest(n_tokens, 1) <= 12 THEN 1.0 ELSE 0.5 END) +
           (CASE WHEN n_punct / greatest(n_chars, 1) <= 0.2 THEN 1.0 ELSE 0.4 END)
         ) / 3.0, 4) + 0.0 AS quality
  FROM f
"""


def q_emb_near_dup(spark, sf_dir):
    """Banded RHP LSH near-dup with exact cosine verify.  Oracle = brute-force
    all-pairs SQL: the verify stage makes precision exact, and at this
    threshold/band setting recall is complete on the test corpora (pinned by
    the pytest brute-force-equality oracle in test_textdedup_similarity)."""
    # threshold 0.45 sits just under the fixtures' max pairwise cosine
    # (0.479 at sf0.001, 0.513 at sf0.01), so the entry returns real pairs —
    # at the old 0.9 no pair existed and the hash match was vacuous.  32
    # bands of 4 planes give per-pair miss ≈ (1-0.65^4)^32 ≈ 2e-3 at the
    # threshold angle; recall on the fixed-seed fixtures is exact (verified
    # against the all-pairs oracle at both sf).
    emb = _t(spark, sf_dir, "embeddings")
    pairs = TD.embedding_near_duplicates(emb, threshold=0.45, n_planes=4, n_bands=32)
    return pairs.select("id_a", "id_b", (F.round("cosine", 3) + 0.0).alias("cosine_r3"))


SQL_EMB_NEAR_DUP = """
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.embedding, b.embedding) /
               (sqrt(list_dot_product(a.embedding, a.embedding)) *
                sqrt(list_dot_product(b.embedding, b.embedding))), 3) + 0.0 AS cosine_r3
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.embedding, b.embedding) /
        (sqrt(list_dot_product(a.embedding, a.embedding)) *
         sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.45
"""


def q_emb_ann_lsh(spark, sf_dir):
    """ANN top-k via RHP-LSH buckets — ORACLED (upgraded from rows-only in
    r5, completing the set: every `queries()` entry now has a DuckDB twin).

    The result is approximate vs brute force BY DESIGN (the exactness
    baseline is the oracled `emb_topk`), but it is a DETERMINISTIC function
    of (corpus, query, planes, probes) — so the right oracle is not the
    exact top-k (that would demand recall 1 and make the entry a disguised
    brute force) but the SAME algorithm in SQL: derive the 6 hyperplanes,
    bucket every vector by the sign pattern of its projections, probe the
    query's bucket plus all 6 one-bit-flip neighbors (multiprobe_hamming=1),
    exact-cosine-rank the candidates, take 10.  The twin reproduces buckets,
    probe set, and ranking bit-for-bit, pinning the whole LSH pipeline —
    plane derivation included — not just the final cosine math.

    What made it oracle-able: hash_family='md5lo' derives plane components
    from md5 over 'rhp_{seed}_{plane}_{dim}' (functions/text.py:md5lo64 ==
    DuckDB md5_number_lower), masked to the low 32 bits so Spark's signed
    long and DuckDB's UBIGINT agree before the mod.  The xxhash64 family
    stays the hot-path default (native JVM hash, no per-dim md5) and keeps
    its pytest pin (test_ann_topk_finds_near_neighbors)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    top = S.ann_topk_lsh(emb, q, k=10, n_planes=6, multiprobe_hamming=1,
                         hash_family="md5lo")
    return top.select("vec_id", (F.round("cosine", 3) + 0.0).alias("cosine_r3"))


# SQL twin of the LSH ANN entry: same md5-derived planes ('rhp_7_{p}_{d}' →
# md5 lower-64 → low 32 bits → mod 2e6 → [-1,1)), same sign-bit buckets,
# same 1-bit multiprobe expansion, same exact-cosine rank of the candidate
# set.  FP caveat: DuckDB's grouped sum() does not pin the fold order the
# way Spark's F.aggregate does, so a projection landing within ~1e-15 of
# zero could in principle bucket differently — irrelevant on the fixed-seed
# fixtures (min |projection| ≫ that) and on any real corpus (measure-zero).
SQL_EMB_ANN_LSH = """
  WITH dim AS (
    SELECT len(embedding) AS nd FROM embeddings WHERE vec_id = 0
  ), planes AS (
    SELECT p, d,
           ((md5_number_lower('rhp_7_' || p || '_' || d) & 4294967295)
             % 2000000) / 1000000.0 - 1.0 AS w
    FROM (SELECT unnest(range(6)) AS p),
         (SELECT unnest(range((SELECT nd FROM dim))) AS d)
  ), proj AS (
    SELECT e.vec_id, pl.p, sum(e.embedding[pl.d + 1] * pl.w) AS s
    FROM embeddings e, planes pl
    GROUP BY e.vec_id, pl.p
  ), buckets AS (
    SELECT vec_id,
           sum(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS b
    FROM proj GROUP BY vec_id
  ), probes AS (
    SELECT (SELECT b FROM buckets WHERE vec_id = 0) AS pb
    UNION ALL
    SELECT xor((SELECT b FROM buckets WHERE vec_id = 0), (1::BIGINT << p))
    FROM (SELECT unnest(range(6)) AS p)
  )
  SELECT vec_id, round(cosine, 3) + 0.0 AS cosine_r3
  FROM (
    SELECT e.vec_id,
           list_dot_product(e.embedding, q.embedding) /
           (sqrt(list_dot_product(e.embedding, e.embedding)) *
            sqrt(list_dot_product(q.embedding, q.embedding))) AS cosine
    FROM embeddings e
    JOIN buckets bu ON e.vec_id = bu.vec_id,
         (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE bu.b IN (SELECT pb FROM probes)
  ) ORDER BY cosine DESC, vec_id LIMIT 10
"""


# the replay entries and their SQL twins share these: the twins' LSN-prefix
# arithmetic is f-stringed from the same constants the Python side chunks
# with, so neither can drift alone
_REPLAY_CHUNKS = 4          # chunks per replay (versions 1.._REPLAY_CHUNKS)
_TT_PREFIX = 2              # time-travel prefix: state as of chunk _TT_PREFIX-1

_REPLAY_CACHE: dict = {}
_REPLAY_CACHE_MAX = 4       # (session, sf_dir) pairs a process realistically
                            # cycles through; beyond that evict oldest so a
                            # long-lived driver can't pin sessions/tmp tables
_REPLAY_TMPDIRS: list = []  # every mkdtemp root this module created (cached
                            # or not), in creation order — reaped at process
                            # exit, and trimmed to the newest
                            # _REPLAY_ROOT_KEEP along the way so a driver
                            # cycling many keys can't exhaust /tmp
_REPLAY_ROOT_KEEP = 8       # > _REPLAY_CACHE_MAX, so a root still referenced
                            # by the cache is never trimmed; roots older than
                            # the last 8 creations have been evicted for ≥4
                            # cache turnovers — no live handle plausibly
                            # remains


def _reap_replay_tmpdirs() -> None:
    import shutil

    while _REPLAY_TMPDIRS:
        shutil.rmtree(_REPLAY_TMPDIRS.pop(), ignore_errors=True)


import atexit as _atexit  # noqa: E402

_atexit.register(_reap_replay_tmpdirs)


def _replayed_table(spark, sf_dir, n_chunks=_REPLAY_CHUNKS, mutate=None):
    """events → changelog → chunked batch replay through a fresh bucketed
    MERGE table.  Returns the table (versions 1..n_chunks committed; version
    0 is the empty create) — shared by the final-state, time-travel, and
    schema-evolution entries so all exercise the identical write path.
    ``mutate(batch, chunk_idx)`` lets a caller reshape individual chunks
    (the evolution entry widens the late ones).

    The unmutated replay is memoized per (session, sf_dir, n_chunks):
    committed versions are immutable, so the final-state and time-travel
    entries can read different versions of ONE table instead of each
    re-running the 4-batch pipeline in the driver's correctness pass."""
    import tempfile

    from go_data_publisher_spark.lake.table import TranscriptTable
    from go_data_publisher_spark.streaming.apply import ChangeApplier

    cache_key = (spark, sf_dir, n_chunks)
    if mutate is None and cache_key in _REPLAY_CACHE:
        return _REPLAY_CACHE[cache_key][0]

    log = _as_changelog(_t(spark, sf_dir, "events")).select(
        "lsn", "op", F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"), "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(1).alias("schema_version"),
    )
    root = tempfile.mkdtemp(prefix="cdc_entry_")
    _REPLAY_TMPDIRS.append(root)
    live = {r for (_t, r) in _REPLAY_CACHE.values()}
    while len(_REPLAY_TMPDIRS) > _REPLAY_ROOT_KEEP:
        # bounded keep-last-N: old roots are many creations past their
        # eviction (see _REPLAY_ROOT_KEEP) — reclaim them now so a driver
        # cycling many (session, sf_dir, n_chunks) keys can't fill /tmp,
        # while freshly evicted roots stay alive for any held DataFrame.
        # A root the cache still references is NEVER trimmed: mutated
        # (uncached) replays also append here, so age order alone does not
        # guarantee the oldest root left the cache.
        oldest = next((r for r in _REPLAY_TMPDIRS if r not in live), None)
        if oldest is None:
            break
        import shutil

        _REPLAY_TMPDIRS.remove(oldest)
        shutil.rmtree(oldest, ignore_errors=True)
    tbl = TranscriptTable(spark, f"{root}/tbl", n_buckets=8)
    app = ChangeApplier(tbl)
    lo, hi = log.agg(F.min("lsn"), F.max("lsn")).first()
    span = (hi - lo) // n_chunks + 1
    for i in range(n_chunks):
        batch = log.where(F.col("lsn").between(lo + i * span, min(hi, lo + (i + 1) * span - 1)))
        if mutate is not None:
            batch = mutate(batch, i)
        app.apply_batch(batch, epoch_id=i)
    if mutate is None:
        while len(_REPLAY_CACHE) >= _REPLAY_CACHE_MAX:
            # evict the cache ENTRY but leave its files for the atexit reap
            # (_REPLAY_TMPDIRS still tracks the root): a caller may hold a
            # lazy DataFrame over the evicted table — deleting the parquet
            # under it would fail that DataFrame's later materialization
            _REPLAY_CACHE.pop(next(iter(_REPLAY_CACHE)))
        _REPLAY_CACHE[cache_key] = (tbl, root)
    return tbl


def q_cdc_engine_replay(spark, sf_dir):
    """The full engine end-to-end: events→changelog, chunked batch replay
    through the bucketed MERGE table, return the final snapshot."""
    tbl = _replayed_table(spark, sf_dir)
    return tbl.snapshot().select("conv_id", "turn_idx", "text", F.col("lsn").alias("last_lsn"))


def q_cdc_time_travel(spark, sf_dir):
    """Time travel through the driver gate (new in r5): after the FULL
    4-chunk replay, read the committed state as of chunk 1's commit,
    resolved from the retained manifest log (per-commit file-list deltas +
    checkpoints), not by re-running the pipeline.  The oracle replays only
    the first two chunks' LSN range, so the entry is green iff a past
    version is byte-equal to the prefix replay — i.e. commits are truly
    immutable snapshots and later merges never perturb retained history.
    The version is looked up by epoch watermark, not hardcoded, so metadata
    commits (an evolve, a compaction) interleaving with the chunk commits
    can't silently shift which state is read.  Mirrors reference consumers
    re-reading an archived epoch (SURVEY §2 S1/S4)."""
    tbl = _replayed_table(spark, sf_dir)
    ver = max((h["version"] for h in tbl.history()
               if h["epoch_hwm"] == _TT_PREFIX - 1), default=None)
    if ver is None:
        raise ValueError(
            f"time travel: no commit with epoch_hwm == {_TT_PREFIX - 1} in "
            f"the replay history (chunk {_TT_PREFIX - 1} never landed — "
            f"history epochs: {[h['epoch_hwm'] for h in tbl.history()]})")
    return tbl.snapshot(version=ver).select(
        "conv_id", "turn_idx", "text", F.col("lsn").alias("last_lsn"))


SQL_CDC_ENGINE_REPLAY = f"""
  WITH log AS ({_CHANGELOG_SQL}),
  ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx
        ORDER BY lsn DESC, CASE op WHEN 'D' THEN 3 WHEN 'U' THEN 2 ELSE 1 END DESC
    ) AS rn
    FROM log
  )
  SELECT CAST(conv_id AS VARCHAR) AS conv_id, CAST(turn_idx AS INT) AS turn_idx,
         text, lsn AS last_lsn
  FROM ranked WHERE rn = 1 AND op <> 'D'
"""


def q_cdc_point_lookup(spark, sf_dir):
    """S2/S3 point lookup served from the replayed CDC table: every
    committed turn of ONE conversation via ``TranscriptTable.lookup`` — the
    key hashes to a single bucket, so the read touches one bucket's files
    with the key equality pushed into the pruned scan (lake/table.py:lookup;
    plan pinned in tests/test_plan_shapes.py).  Reference semantics: the
    per-tick transactions scan (transactions-producer/external/archiver/
    client.go:33-45) and the one-row TickData read (tick-data-publisher/
    archiver/client.go:57-77), served from committed state like the
    status-service read-back."""
    tbl = _replayed_table(spark, sf_dir)
    return tbl.lookup("7").select(
        "conv_id", "turn_idx", "text", F.col("lsn").alias("last_lsn"))


SQL_CDC_POINT_LOOKUP = f"""
  SELECT * FROM ({SQL_CDC_ENGINE_REPLAY}) WHERE conv_id = '7'
"""


def q_cdc_schema_evolution(spark, sf_dir):
    """Live schema evolution through the driver gate (new in r5): chunks 0-1
    arrive with the base 8-column schema, chunks 2-3 add a ``lang`` column —
    ChangeApplier diffs the batch schema and widens the
    table mid-replay (lake/table.py:evolve_schema, the reference's
    archiverv1→v2 analogue).  The final snapshot reads old file groups cast
    up to the current schema, so a key's ``lang`` is populated iff its
    LAST-WINS write came from an evolved chunk, NULL otherwise — exactly
    what the oracle predicts from the winning LSN alone.  This pins the
    whole evolution surface: the widen diff, per-file-group schema_ids in
    the manifest, and the scan-time upcast.  (The evolution trigger is the
    batch SCHEMA gaining the column — ChangeApplier diffs it after dropping
    the op/schema_version envelope fields, so no version stamp is bumped
    here.)"""
    def widen(batch, i):
        if i < _TT_PREFIX:
            return batch
        return batch.withColumn(
            "lang", F.concat(F.lit("l"), (F.col("lsn") % 5).cast("string")))

    tbl = _replayed_table(spark, sf_dir, mutate=widen)
    return tbl.snapshot().select(
        "conv_id", "turn_idx", "text", "lang", F.col("lsn").alias("last_lsn"))


# twin of the evolution entry: same last-wins replay, with lang populated
# iff the winning write's lsn falls in the evolved chunks (>= _TT_PREFIX,
# i.e. lsn >= lo + prefix*span) — old-schema winners surface lang as NULL
# via the scan-time upcast.  Chunk arithmetic f-stringed from the shared
# _REPLAY_CHUNKS/_TT_PREFIX constants.
SQL_CDC_SCHEMA_EVOLUTION = f"""
  WITH log AS ({_CHANGELOG_SQL}),
  bound AS (
    SELECT min(lsn) + {_TT_PREFIX} * ((max(lsn) - min(lsn)) // {_REPLAY_CHUNKS} + 1) AS cut FROM log
  ),
  ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx
        ORDER BY lsn DESC, CASE op WHEN 'D' THEN 3 WHEN 'U' THEN 2 ELSE 1 END DESC
    ) AS rn
    FROM log
  )
  SELECT CAST(conv_id AS VARCHAR) AS conv_id, CAST(turn_idx AS INT) AS turn_idx,
         text,
         CASE WHEN lsn >= (SELECT cut FROM bound)
              THEN 'l' || CAST(lsn % 5 AS VARCHAR) END AS lang,
         lsn AS last_lsn
  FROM ranked WHERE rn = 1 AND op <> 'D'
"""


def q_cdc_changefeed(spark, sf_dir):
    """CDC-out change data feed through the driver gate (new in r5): after
    the full replay, read ``changes(from_version=_TT_PREFIX)`` — the raw
    change rows (upserts AND delete tombstones, each stamped with its
    committing version) of every commit after the prefix, served as a
    pruned scan of exactly the window's delta files with zero snapshot
    diffing (lake/table.py:changes — the feed ChangefeedTailer and
    WirePublisher tail).  The oracle recomputes what each commit's delta
    files must contain from the changelog alone: per-key in-batch last-wins
    winners of each late chunk, op preserved, commit_version = chunk + 1.
    Green iff the persisted feed is byte-equal to that prediction — the
    CDF's completeness (no dropped tombstones, no leaked losers, correct
    version stamps) in one value-hash check."""
    tbl = _replayed_table(spark, sf_dir)
    return tbl.changes(_TT_PREFIX).select(
        "conv_id", "turn_idx", "text", "op",
        F.col("lsn").alias("last_lsn"), "commit_version")


# twin of the changefeed entry: chunk i covers LSNs [lo + i*span,
# lo + (i+1)*span - 1] (span = (hi-lo) // _REPLAY_CHUNKS + 1, so
# i = (lsn-lo) // span is always in 0.._REPLAY_CHUNKS-1) and commits
# version i+1; the window (_TT_PREFIX, current] holds each late chunk's
# per-key last-wins winners INCLUDING delete tombstones.
SQL_CDC_CHANGEFEED = f"""
  WITH log AS ({_CHANGELOG_SQL}),
  b AS (
    SELECT min(lsn) AS lo,
           (max(lsn) - min(lsn)) // {_REPLAY_CHUNKS} + 1 AS span
    FROM log
  ),
  tagged AS (
    SELECT l.*, (l.lsn - b.lo) // b.span + 1 AS commit_version
    FROM log l, b
  ),
  ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx, commit_version
        ORDER BY lsn DESC, CASE op WHEN 'D' THEN 3 WHEN 'U' THEN 2 ELSE 1 END DESC
    ) AS rn
    FROM tagged WHERE commit_version > {_TT_PREFIX}
  )
  SELECT CAST(conv_id AS VARCHAR) AS conv_id, CAST(turn_idx AS INT) AS turn_idx,
         text, op, lsn AS last_lsn, CAST(commit_version AS BIGINT) AS commit_version
  FROM ranked WHERE rn = 1
"""


# twin of the time-travel entry: last-wins replay of ONLY the first
# _TT_PREFIX chunks' LSN range — chunk i covers [lo + i*span,
# lo + (i+1)*span - 1] with span = (hi - lo) // _REPLAY_CHUNKS + 1, so the
# prefix holds exactly lsn < lo + _TT_PREFIX*span.  Arithmetic f-stringed
# from the same constants the Python side chunks with.
SQL_CDC_TIME_TRAVEL = f"""
  WITH log AS ({_CHANGELOG_SQL}),
  bound AS (
    SELECT min(lsn) + {_TT_PREFIX} * ((max(lsn) - min(lsn)) // {_REPLAY_CHUNKS} + 1) AS cut FROM log
  ),
  ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx
        ORDER BY lsn DESC, CASE op WHEN 'D' THEN 3 WHEN 'U' THEN 2 ELSE 1 END DESC
    ) AS rn
    FROM log WHERE lsn < (SELECT cut FROM bound)
  )
  SELECT CAST(conv_id AS VARCHAR) AS conv_id, CAST(turn_idx AS INT) AS turn_idx,
         text, lsn AS last_lsn
  FROM ranked WHERE rn = 1 AND op <> 'D'
"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC final state over sf0.001 (driver checks rows > 0)."""
    return q_cdc_final_state(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_final_state": q_cdc_final_state,
        "cdc_final_state_salted": q_cdc_final_state_salted,
        "cdc_engine_replay": q_cdc_engine_replay,
        "cdc_point_lookup": q_cdc_point_lookup,
        "cdc_time_travel": q_cdc_time_travel,
        "cdc_schema_evolution": q_cdc_schema_evolution,
        "cdc_changefeed": q_cdc_changefeed,
        "latest_per_group": q_latest_per_group,
        "count_per_key": q_count_per_key,
        "last_per_epoch": q_last_per_epoch,
        "content_hash": q_content_hash,
        "read_before_write": q_read_before_write,
        "next_range": q_next_range,
        "unprocessed_suffix": q_unprocessed_suffix,
        "gap_detection": q_gap_detection,
        "range_join": q_range_join,
        "range_join_chunked": q_range_join_chunked,
        "range_join_stab": q_range_join_stab,
        "asof_enrich": q_asof_enrich,
        "scd2_history": q_scd2_history,
        "windowed_counts": q_windowed_counts,
        "sliding_counts": q_sliding_counts,
        "session_counts": q_session_counts,
        "monotonicity": q_monotonicity,
        "interval_trim": q_interval_trim,
        "route_filter": q_route_filter,
        "route_patch": q_route_patch,
        "mismatch_policy": q_mismatch_policy,
        "batch_stats": q_batch_stats,
        "set_difference": q_set_difference,
        "count_equality": q_count_equality,
        "dedup_exact_docs": q_dedup_exact_docs,
        "dedup_clusters_docs": q_dedup_clusters_docs,
        "docs_token_stats": q_docs_token_stats,
        "docs_sample": q_docs_sample,
        "docs_quota": q_docs_quota,
        "docs_curated": q_docs_curated,
        "docs_fingerprint": q_docs_fingerprint,
        "docs_transcode": q_docs_transcode,
        "batch_bounds": q_batch_bounds,
        "docs_lang_stats": q_docs_lang_stats,
        "emb_cosine_scores": q_emb_cosine_scores,
        "emb_topk": q_emb_topk,
        "docs_lang_id_udf": q_docs_lang_id_udf,
        "docs_quality_udf": q_docs_quality_udf,
        "emb_near_dup": q_emb_near_dup,
        "minhash_pairs_docs": q_minhash_pairs_docs,
        "simhash_pairs_docs": q_simhash_pairs_docs,
        # oracled since r5: DuckDB twin reproduces the same md5-plane LSH
        # (buckets, multiprobe, rank); 3-path parity also pinned in pytest
        "emb_ann_lsh": q_emb_ann_lsh,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "cdc_final_state": SQL_CDC_FINAL_STATE,
        "cdc_final_state_salted": SQL_CDC_FINAL_STATE,
        "cdc_engine_replay": SQL_CDC_ENGINE_REPLAY,
        "cdc_point_lookup": SQL_CDC_POINT_LOOKUP,
        "cdc_time_travel": SQL_CDC_TIME_TRAVEL,
        "cdc_schema_evolution": SQL_CDC_SCHEMA_EVOLUTION,
        "cdc_changefeed": SQL_CDC_CHANGEFEED,
        "latest_per_group": SQL_LATEST_PER_GROUP,
        "count_per_key": SQL_COUNT_PER_KEY,
        "last_per_epoch": SQL_LAST_PER_EPOCH,
        "content_hash": SQL_CONTENT_HASH,
        "read_before_write": SQL_READ_BEFORE_WRITE,
        "next_range": SQL_NEXT_RANGE,
        "unprocessed_suffix": SQL_UNPROCESSED_SUFFIX,
        "gap_detection": SQL_GAP_DETECTION,
        "range_join": SQL_RANGE_JOIN,
        "range_join_chunked": SQL_RANGE_JOIN_CHUNKED,
        "range_join_stab": SQL_RANGE_JOIN_STAB,
        "asof_enrich": SQL_ASOF_ENRICH,
        "scd2_history": SQL_SCD2_HISTORY,
        "windowed_counts": SQL_WINDOWED_COUNTS,
        "sliding_counts": SQL_SLIDING_COUNTS,
        "session_counts": SQL_SESSION_COUNTS,
        "monotonicity": SQL_MONOTONICITY,
        "interval_trim": SQL_INTERVAL_TRIM,
        "route_filter": SQL_ROUTE_FILTER,
        "route_patch": SQL_ROUTE_PATCH,
        "mismatch_policy": SQL_MISMATCH_POLICY,
        "batch_stats": SQL_BATCH_STATS,
        "set_difference": SQL_SET_DIFFERENCE,
        "count_equality": SQL_COUNT_EQUALITY,
        "dedup_exact_docs": SQL_DEDUP_EXACT_DOCS,
        "dedup_clusters_docs": SQL_DEDUP_CLUSTERS,
        "docs_token_stats": SQL_DOCS_TOKEN_STATS,
        "docs_sample": SQL_DOCS_SAMPLE,
        "docs_quota": SQL_DOCS_QUOTA,
        "docs_curated": SQL_DOCS_CURATED,
        "docs_fingerprint": SQL_DOCS_FINGERPRINT,
        "docs_transcode": SQL_DOCS_TRANSCODE,
        "batch_bounds": SQL_BATCH_BOUNDS,
        "docs_lang_stats": SQL_DOCS_LANG_STATS,
        "emb_cosine_scores": SQL_EMB_COSINE_SCORES,
        "emb_topk": SQL_EMB_TOPK,
        "docs_lang_id_udf": SQL_DOCS_LANG_ID,
        "docs_quality_udf": SQL_DOCS_QUALITY,
        "emb_near_dup": SQL_EMB_NEAR_DUP,
        "minhash_pairs_docs": SQL_MINHASH_PAIRS,
        "simhash_pairs_docs": SQL_SIMHASH_PAIRS,
        "emb_ann_lsh": SQL_EMB_ANN_LSH,
    }

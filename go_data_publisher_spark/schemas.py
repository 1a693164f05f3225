"""Declared schemas for the change-event envelope and the transcript target.

The reference declares its wire schemas as Go structs with JSON tags and pins
them with golden marshalling tests (transactions-consumer/consume/
marshalling_test.go:12-37); we declare StructTypes and pin them the same way
(tests/test_schemas.py).  Target-table mapping per BASELINE.json input_hint:
(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp), PK (conv_id, turn_idx); the change envelope adds (op, lsn,
schema_version).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- change event -------------------------------------------------------------

CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),  # added by schema v2
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("schema_version", T.IntegerType(), False),
    ]
)

# --- transcript target table --------------------------------------------------

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("lsn", T.LongType(), False),  # last LSN applied to this row
    ]
)

TRANSCRIPT_KEY = ("conv_id", "turn_idx")

# --- lineage manifest row (FIXTURES.md §3; reference: pebble cursor store +
#     prometheus bulk stats, status-service/db/store.go:22-27) -----------------

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("epoch_id", T.LongType(), False),
        T.StructField("partition_id", T.IntegerType(), False),  # target bucket
        T.StructField("lsn_from", T.LongType(), True),
        T.StructField("lsn_to", T.LongType(), True),
        T.StructField("rows_upserted", T.LongType(), False),
        T.StructField("rows_deleted", T.LongType(), False),
        T.StructField("rows_quarantined", T.LongType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)

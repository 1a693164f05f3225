"""Envelope codecs: the JSON wire format and its little-endian uint32 key.

Reference analogue: Kafka JSON marshal/unmarshal (S5/S6,
transactions-producer/external/kafka/client.go:28-65).  All built-ins.
``to_wire_kafka`` is the producer; the consumer is
``streaming.pipeline.decode_kafka_records``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def le_uint32_key(col: Column) -> Column:
    """4-byte little-endian uint32 key bytes — bit-exact parity with the
    reference producer's Kafka record key
    (transactions-producer/external/kafka/client.go:73-79:
    binary.LittleEndian.PutUint32(key, tx.TickNumber)).

    Built-ins only: value → 8-hex-digit big-endian string → byte-swapped to
    LE digit pairs → unhex to binary.
    """
    hx = F.lpad(F.hex(col.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))), 8, "0")
    le = F.concat(
        F.substring(hx, 7, 2), F.substring(hx, 5, 2),
        F.substring(hx, 3, 2), F.substring(hx, 1, 2),
    )
    return F.unhex(le)


def le_uint32_value(col: Column) -> Column:
    """Inverse of `le_uint32_key`: 4 LE bytes → long (consumer side)."""
    hx = F.hex(col)
    be = F.concat(
        F.substring(hx, 7, 2), F.substring(hx, 5, 2),
        F.substring(hx, 3, 2), F.substring(hx, 1, 2),
    )
    return F.conv(be, 16, 10).cast("long")


def to_wire_kafka(df: DataFrame, key_num_col: str) -> DataFrame:
    """Rows → Kafka-shaped (key binary LE-uint32, value JSON string) records,
    matching the reference producer's record layout exactly."""
    return df.select(
        le_uint32_key(F.col(key_num_col)).alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )


"""Vectorized text functions + codecs."""

import struct

from pyspark.sql import functions as F

from go_data_publisher_spark.functions import text as TX
from go_data_publisher_spark.functions.codecs import to_wire_kafka
from go_data_publisher_spark.sources.changelog import generate_changelog
from go_data_publisher_spark.streaming.pipeline import decode_kafka_records


def _docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog, and then it rests."),
        (1, "Der Hund ist gut und die Katze ist auch gut, das stimmt."),
        (2, "le chat est sur la table et les livres sont dans une boite"),
        (3, "el perro y los gatos que viven en una casa, es bonito"),
        (4, "这是一个中文句子 没有空格"),
        (5, ""),
        (6, "x"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_counts(spark):
    df = _docs(spark).select(
        "doc_id", TX.whitespace_token_count(F.col("text")).alias("ws"))
    got = {r["doc_id"]: r["ws"] for r in df.collect()}
    assert got[0] == 13  # punctuation stays attached to its word
    assert got[6] == 1


def test_normalize(spark):
    df = spark.createDataFrame([("  A   B\tC  ",)], "t string")
    assert df.select(TX.normalize_text(F.col("t")).alias("n")).first()["n"] == "a b c"


def test_quality(spark):
    df = _docs(spark).select("doc_id", TX.quality_score(F.col("text")).alias("q"))
    got = {r["doc_id"]: r["q"] for r in df.collect()}
    assert got[0] > got[5]  # real sentence beats empty


def test_lang_id(spark):
    df = _docs(spark).select("doc_id", TX.lang_id(F.col("text")).alias("lang"))
    got = {r["doc_id"]: r["lang"] for r in df.collect()}
    assert got[0] == "en" and got[1] == "de" and got[2] == "fr" and got[3] == "es"
    assert got[4] == "zh"
    assert got[5] == "und"


def test_simhash_similar_texts_close(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    c = "completely unrelated words about spark shuffle partitions and manifests"
    df = spark.createDataFrame([(0, a), (1, b), (2, c)], "id long, text string")
    sigs = {r["id"]: r["s"] for r in df.select("id", TX.simhash64(F.col("text")).alias("s")).collect()}
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")
    assert ham(sigs[0], sigs[1]) < ham(sigs[0], sigs[2])
    assert ham(sigs[0], sigs[1]) <= 16


def _from_wire(wire, schema=None):
    return decode_kafka_records(wire, schema).drop("__key_tick")


def test_wire_roundtrip(spark):
    log = generate_changelog(spark, 200, seed=19)
    back = _from_wire(to_wire_kafka(log, "lsn"))
    a = sorted(log.collect(), key=lambda r: (r["lsn"], str(r["conv_id"]), r["op"]))
    b = sorted(back.collect(), key=lambda r: (r["lsn"], str(r["conv_id"]), r["op"]))
    assert a == b


def test_le_uint32_key_golden_bytes(spark):
    """Bit-exact parity with the reference Kafka producer key
    (transactions-producer/external/kafka/client.go:73-79):
    binary.LittleEndian.PutUint32 — golden bytes from struct.pack('<I')."""
    from go_data_publisher_spark.functions.codecs import (
        le_uint32_key,
        le_uint32_value,
        to_wire_kafka,
    )
    from pyspark.sql import functions as F

    ticks = [0, 1, 255, 256, 12345, 65536, 2**31 - 1, 2**32 - 1]
    df = spark.createDataFrame([(t,) for t in ticks], "tick long")
    got = {r["tick"]: bytes(r["key"]) for r in
           df.select("tick", le_uint32_key(F.col("tick")).alias("key")).collect()}
    for t in ticks:
        assert got[t] == struct.pack("<I", t), f"tick {t}: {got[t].hex()}"
    # round trip decode (consumer side)
    back = df.select("tick", le_uint32_value(le_uint32_key(F.col("tick"))).alias("d"))
    assert all(r["tick"] == r["d"] for r in back.collect())
    # full Kafka record shape: (key binary, value json)
    rec = to_wire_kafka(df, "tick").first()
    assert isinstance(rec["key"], (bytes, bytearray)) and '"tick"' in rec["value"]


def test_simhash_vectorized_matches_expression_form(spark):
    """The numpy single-pass vote must be bit-identical to the pure-Catalyst
    64-aggregate reference implementation."""
    from go_data_publisher_spark.functions.text import simhash64, simhash64_expr
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    both = docs.select(
        simhash64(F.col("text")).alias("fast"),
        simhash64_expr(F.col("text")).alias("ref"),
    )
    assert both.where("fast <> ref").count() == 0


def test_wire_roundtrip_non_ascii_and_multiline(spark):
    """JSON escaping parity with the reference consumer's unmarshal tests
    (transactions-consumer/consume/marshalling_test.go:12-37): non-ASCII,
    emoji, multiline, quotes/backslashes, and control characters must
    survive to_wire_kafka -> decode_kafka_records byte-exactly, and the
    decode must accept Go-marshaller-style \\uXXXX-escaped input
    (encoding/json HTML-escapes <, >, & as \\u003c \\u003e \\u0026)."""
    nasty = [
        "héllo wörld — ünïcode",
        "日本語のテキストと絵文字 🎉🚀",
        "line one\nline two\r\nline three\ttabbed",
        'quotes "inside" and \\backslashes\\ and /slashes/',
        "html <tag> & ampersand",
        "nul-adjacent \x01\x02 control chars",
        "ℤ𝔼𝕊𝕋 surrogate-pair math 𝒜𝓑𝖈",
    ]
    rows = [(i, "I", f"c{i}", 0, "user", t, None, None, 1) for i, t in enumerate(nasty)]
    schema = ("lsn long, op string, conv_id string, turn_idx int, role string, "
              "text string, tool string, ts timestamp, schema_version int")
    df = spark.createDataFrame(rows, schema)
    back = _from_wire(to_wire_kafka(df, "lsn"), df.schema)
    got = {r["lsn"]: r["text"] for r in back.collect()}
    for i, t in enumerate(nasty):
        assert got[i] == t, f"row {i} mangled: {got[i]!r}"

    # Go-marshaller-shaped input: HTML-escaped and \uXXXX unicode escapes
    go_value = ('{"lsn": 42, "op": "I", "conv_id": "c42", "turn_idx": 0, '
                '"role": "user", "text": "a \\u003ctag\\u003e \\u0026 '
                '\\u65e5\\u672c\\u8a9e \\nnewline", "schema_version": 1}')
    wire = spark.createDataFrame([(struct.pack("<I", 42), go_value)],
                                 "key binary, value string")
    decoded = _from_wire(wire, df.schema).first()
    assert decoded["text"] == "a <tag> & 日本語 \nnewline"
    assert decoded["lsn"] == 42


def test_md5lo64_matches_duckdb_md5_number_lower(spark):
    """md5lo64 (Catalyst conv/shiftleft over the md5 hex) must be
    bit-identical — as a signed-long reinterpretation — to DuckDB's
    md5_number_lower(), i.e. the last 8 md5 digest bytes little-endian.
    That equality is what lets the simhash contract entry carry a full
    DuckDB value-hash oracle.  Covers empty string, single char, spaces,
    and multibyte UTF-8 (both engines hash the UTF-8 bytes)."""
    import hashlib

    import duckdb

    samples = ["", "x", "hello world", "the quick brown fox",
               "zwei  würste", "这是一个中文句子", "a b c d e f g"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r["s"]: r["h"] for r in
           df.select("s", TX.md5lo64(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for s in samples:
        want_u = int.from_bytes(hashlib.md5(s.encode()).digest()[8:], "little")
        want_signed = want_u - (1 << 64) if want_u >= (1 << 63) else want_u
        assert got[s] == want_signed, s
        duck_u = con.execute("select md5_number_lower(?)", [s]).fetchone()[0]
        assert duck_u == want_u, s


def test_simhash_md5lo_family_matches_python_reference(spark):
    """simhash64(hash_family='md5lo') must equal a from-scratch Python
    reference (hashlib md5, same normalize/shingle/vote semantics) — the
    same fingerprint SQL_SIMHASH_PAIRS rebuilds in DuckDB."""
    import hashlib
    import re

    def ref_sig(text):
        if text is None:
            return 0
        w = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        m = max(len(w) - 3, 0) + 1
        hs = [int.from_bytes(
                  hashlib.md5(" ".join(w[i:i + 3]).encode()).digest()[8:],
                  "little")
              for i in range(m)]
        fp = 0
        for b in range(64):
            if 2 * sum((h >> b) & 1 for h in hs) > len(hs):
                fp |= 1 << b
        return fp - (1 << 64) if fp >= (1 << 63) else fp

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(40)
    rows = docs.select(
        "doc_id", "text",
        TX.simhash64(F.col("text"), hash_family="md5lo").alias("sig"),
    ).collect()
    assert rows
    for r in rows:
        assert r["sig"] == ref_sig(r["text"]), r["doc_id"]


def test_simhash_null_text_equals_empty_text(spark):
    """Spark's shingle pipeline gives NULL text one '' shingle (concat_ws
    over a NULL slice), so its signature must equal the empty-string and
    whitespace-only signatures — the invariant the simhash SQL twin's
    coalesce(text, '') relies on."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")], "doc_id long, text string")
    sigs = [r["s"] for r in df.orderBy("doc_id").select(
        TX.simhash64(F.col("text"), hash_family="md5lo").alias("s")).collect()]
    assert sigs[0] == sigs[1] == sigs[2]

    # and the DuckDB twin computes the same signature for ''
    import duckdb
    import hashlib
    h = int.from_bytes(hashlib.md5(b"").digest()[8:], "little")
    want = h - (1 << 64) if h >= (1 << 63) else h
    assert sigs[0] == want  # one ''-shingle → sig = bits of md5lo('')

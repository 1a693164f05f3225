"""Seeded inputs.  The engine only ever sees what these functions write.

``changelog`` builds a binlog-shaped change log with the properties the CDC
path depends on: hot keys (1% of conversations carry half the events),
at-least-once redeliveries (same LSN, same row), multiple updates per key,
deletes, rows with a null key field (quarantined), LSN gaps, and a schema
v1 -> v2 switch (v1 rows have no ``tool``; files holding only v1 rows do not
carry the column at all).

``query_tables`` builds the ``events`` / ``documents`` / ``embeddings``
tables the headline queries of ``__spark_entry__`` read, with the columns
and value ranges of the fixture tables described in TESTDATA.md.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "python", "browser", "editor", "calculator"])
WORDS = np.array(["merge", "stream", "batch", "offset", "cursor", "replay",
                  "commit", "window", "shuffle", "anchor", "vector", "tökén",
                  "plan", "spill"])
TS0 = 1_700_000_000
HOT_FRAC = 0.01       # share of conversations that are hot
HOT_SHARE = 0.5       # share of events that go to a hot conversation
DUP_RATE = 0.05       # redelivered events (same LSN, same row)
INVALID_RATE = 0.005  # events with a null key field
MAX_TURNS = 40


def changelog(seed: int, n_events: int, n_convs: int, lsn0: int = 1,
              v2_from: float = 0.6) -> pa.Table:
    """``n_events`` logical events (plus ~``DUP_RATE`` redeliveries), sorted
    by LSN, in the column order of ``schemas.CHANGE_EVENT_SCHEMA``."""
    rng = np.random.default_rng(seed)
    i = np.arange(n_events, dtype=np.int64)
    lsn = lsn0 + i + (i // 97) * 3
    n_hot = max(1, int(n_convs * HOT_FRAC))
    hot = rng.random(n_events) < HOT_SHARE
    conv = np.where(hot, rng.integers(0, n_hot, n_events),
                    rng.integers(n_hot, n_convs, n_events))
    turn = rng.integers(0, MAX_TURNS, n_events).astype(np.int32)
    u = rng.random(n_events)
    op = np.where(u < 0.70, "I", np.where(u < 0.95, "U", "D"))
    role = ROLES[rng.integers(0, len(ROLES), n_events)]
    n_words = rng.integers(1, 13, n_events)
    word = WORDS[rng.integers(0, len(WORDS), n_events)]
    conv_id = np.array([f"conv-{c:06d}" for c in conv], dtype=object)
    text = [f"turn {c} {t} lsn {l} " + (w + " ") * k
            for c, t, l, w, k in zip(conv_id, turn, lsn, word, n_words)]
    version = np.where(i >= int(n_events * v2_from), 2, 1).astype(np.int32)
    tool = TOOLS[rng.integers(0, len(TOOLS), n_events)].astype(object)
    tool[(version == 1) | (role != "tool")] = None

    bad = rng.random(n_events)
    conv_id[bad < INVALID_RATE / 2] = None
    turn_valid = ~((bad >= INVALID_RATE / 2) & (bad < INVALID_RATE))

    table = pa.table({
        "lsn": pa.array(lsn, pa.int64()),
        "op": pa.array(op, pa.string()),
        "conv_id": pa.array(conv_id, pa.string()),
        "turn_idx": pa.array(turn, pa.int32(), mask=~turn_valid),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array((TS0 + lsn) * 1_000_000, pa.timestamp("us", tz="UTC")),
        "schema_version": pa.array(version, pa.int32()),
    })
    dups = np.flatnonzero(rng.random(n_events) < DUP_RATE)
    order = np.argsort(np.concatenate([i, dups]), kind="stable")
    return pa.concat_tables([table, table.take(dups)]).take(order)


def write_events(table: pa.Table, path: str, mtime: float | None = None) -> None:
    """One parquet file; v1-only slices are written without ``tool``."""
    if pc.max(table["schema_version"]).as_py() == 1:
        table = table.drop_columns(["tool"])
    pq.write_table(table, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def split_by_lsn(table: pa.Table, n_chunks: int) -> list[pa.Table]:
    """Contiguous LSN ranges of (nearly) equal width."""
    lsn = table["lsn"].to_numpy()
    edges = np.linspace(lsn.min(), lsn.max() + 1, n_chunks + 1)
    cuts = np.searchsorted(lsn, edges[1:-1], side="left")
    bounds = [0, *cuts.tolist(), len(lsn)]
    return [table.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]


# ---------------------------------------------------------------------------
# tables for the headline queries
# ---------------------------------------------------------------------------

DOC_WORDS = np.array(["batch", "part", "spark", "line", "column", "order",
                      "small", "sort", "fast", "value", "scan", "a", "hash",
                      "slow", "group", "agg", "filter", "query", "big", "key",
                      "window", "row", "table", "stream", "merge", "data",
                      "vector", "customer", "join", "the"])
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EMB_DIM = 64
# share of error and purchase events with a value below 0.5, the rare
# events set_difference compares (gamma(2, 50) alone puts ~5e-5 there)
LOW_VALUE_SHARE = 0.02


def query_tables(seed: int, out_dir: str, n_events: int, n_users: int,
                 n_docs: int, n_vecs: int) -> None:
    """Near-duplicate documents differ from a 40+ word parent in one word
    (shingle Jaccard >= 0.85) and other pairs share almost nothing, so the
    MinHash LSH query (r=2, b=8: miss chance <= 4e-5 per pair) finds every
    pair its brute-force oracle finds."""
    rng = np.random.default_rng(seed + 1_000_003)
    os.makedirs(out_dir, exist_ok=True)

    secs = np.sort(rng.random(n_events) * 30 * 86_400)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    event_type = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)]
    value = rng.gamma(2.0, 50.0, n_events)
    low = (np.isin(event_type, ["error", "purchase"])
           & (rng.random(n_events) < LOW_VALUE_SHARE))
    value[low] = rng.random(int(low.sum())) * 0.49
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts0 + (secs * 1e6).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(event_type),
        "value": pa.array(np.round(value, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    pq.write_table(events, f"{out_dir}/events.parquet")

    texts, long_docs = [], []
    for _ in range(n_docs):
        if texts and rng.random() < 0.04:
            texts.append(texts[rng.integers(0, len(texts))])  # exact copy
        elif long_docs and rng.random() < 0.08:
            # each parent at most once: two siblings share less (~0.75)
            words = texts[long_docs.pop(int(rng.integers(0, len(long_docs))))].split()
            words[rng.integers(0, len(words))] = str(rng.choice(DOC_WORDS))
            texts.append(" ".join(words))  # near duplicate
        else:
            n = int(rng.integers(8, 60))
            texts.append(" ".join(DOC_WORDS[rng.integers(0, len(DOC_WORDS), n)]))
            if n >= 40:
                long_docs.append(len(texts) - 1)
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(documents, f"{out_dir}/documents.parquet")

    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(embeddings, f"{out_dir}/embeddings.parquet")

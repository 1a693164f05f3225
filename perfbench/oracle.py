"""Independent reference results, computed with DuckDB from the seeded
inputs on disk.  Nothing here calls the engine."""

from __future__ import annotations

import math

import duckdb

# Columns compared between the engine's state and the oracle.  ``text``
# embeds the LSN, so equal rows mean the same winning event.
STATE_COLS = ("conv_id", "turn_idx", "lsn", "role", "text", "tool")

_LAST_WINS = """
  WITH valid AS (SELECT * FROM log
                 WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL {extra}),
  ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx
        ORDER BY lsn DESC, CASE op WHEN 'D' THEN 3 WHEN 'U' THEN 2 ELSE 1 END DESC
    ) AS rn
    FROM valid)
  SELECT {cols} FROM ranked WHERE rn = 1 AND op <> 'D'
"""


def load_log(files: list[str]) -> duckdb.DuckDBPyConnection:
    """A connection holding the change log in ``files`` as table ``log``."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE log AS SELECT * FROM read_parquet({list(files)!r}, "
                "union_by_name = true)")
    return con


def last_wins_sql(max_lsn: int | None = None, key: str | None = None) -> str:
    """Final state of table ``log`` (optionally only events up to
    ``max_lsn``, optionally one conversation)."""
    extra = ""
    if max_lsn is not None:
        extra += f" AND lsn <= {int(max_lsn)}"
    if key is not None:
        extra += " AND conv_id = '" + key.replace("'", "''") + "'"
    return _LAST_WINS.format(extra=extra, cols=", ".join(STATE_COLS))


def state_mismatches(con: duckdb.DuckDBPyConnection, actual_pdf,
                     max_lsn: int | None = None) -> int:
    """Rows in the engine's state that the oracle lacks, plus the reverse
    (multiset difference, both directions)."""
    con.register("actual", actual_pdf[list(STATE_COLS)])
    expected = last_wins_sql(max_lsn=max_lsn)
    n = con.execute(f"""
        SELECT (SELECT count(*) FROM (SELECT * FROM actual EXCEPT ALL ({expected})))
             + (SELECT count(*) FROM (({expected}) EXCEPT ALL SELECT * FROM actual))
    """).fetchone()[0]
    con.unregister("actual")
    return int(n)


def rows_at(con: duckdb.DuckDBPyConnection, key: str, max_lsn: int) -> set[tuple]:
    """The oracle rows of one conversation after all events up to ``max_lsn``,
    as (turn_idx, lsn, text) tuples."""
    sql = last_wins_sql(max_lsn=max_lsn, key=key)
    return {(r[1], r[2], r[4]) for r in con.execute(sql).fetchall()}


# ---------------------------------------------------------------------------
# query results: the order-insensitive comparison of tests/test_entry_contract.py
# ---------------------------------------------------------------------------

def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            return "0"
        return f"{v:.9g}"
    return str(v)


def canon(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def query_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def query_problem(con, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """Why the engine's result differs from the oracle's, or None.  An empty
    oracle result is a problem too: the check would pass on any empty plan."""
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    expected = res.fetchall()
    if not expected:
        return "the oracle result is empty, so the check would pass vacuously"
    if sorted(cols) != sorted(duck_cols) or canon(rows, cols) != canon(expected, duck_cols):
        return "differs from its oracle"
    return None

"""Deterministic sampling / mixture curation for training-data pipelines.

Curating a 100 TB corpus needs *reproducible* subsetting: the same row set
must come back on every run, on any cluster layout, after any repartition —
so `df.sample()` (seeded per-partition RNG, layout-dependent) is the wrong
tool.  Both operators key off a content hash of a stable id instead:

- `deterministic_sample`: keep a row iff the hex md5 of its id falls below
  the fraction threshold.  Pure map-side filter — no shuffle, pushes through
  any plan.  Same-salt samples NEST rather than multiply: the thresholds
  compose as min(), so a 10% sample of a 50% sample is exactly the 10%
  sample (a strict subset of the 50% — useful for consistent down-scaling).
  For independent samples that compose multiplicatively, use distinct salts.
- `quota_per_group`: at most N rows per group (per lang/source mixture
  caps), picked in hash order so the winners are stable.  Exact two-phase
  threshold selection: a coarse per-(group, hash-prefix) histogram decides
  whole buckets in or out, and only the single BOUNDARY bucket per group
  (expected group_size/16^prefix_len rows) is ranked with a window — so a
  billion-row over-represented group never becomes one task's full sort
  (mixture caps run over the most skewed axis by definition).

md5 (not xxhash64) so the very same predicate runs in any engine —
the DuckDB oracles in __spark_entry__.py execute it verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sqltext import ident, string_literal


# what a NULL sampling key hashes as (deterministic_sample only —
# quota_per_group keeps its documented nulls-first '' convention, which
# matches the window form's nulls-first ordering it replaced)
NULL_KEY_SENTINEL = "__NULL_KEY__"


def _hash_hex(col: str, salt: str = "") -> str:
    """Lowercase hex md5 of the stringified SQL expression ``col`` (+
    optional salt) — identical bytes in Spark and DuckDB, so lexicographic
    comparison is portable."""
    s = f"CAST({col} AS STRING)"
    return f"md5(concat({s}, {string_literal(salt)}))" if salt else f"md5({s})"


def deterministic_sample(df: DataFrame, fraction: float, key_col: str,
                         salt: str = "") -> DataFrame:
    """Stable ~``fraction`` sample keyed on ``key_col``.

    The first 8 hex chars of md5(key) are uniform over [0, 16^8); a row is
    kept iff they compare below floor(fraction·16^8) rendered as zero-padded
    hex.  ``salt`` decorrelates independent samples over the same keys.

    NULL keys hash a SENTINEL string (``__NULL_KEY__``) so they face the
    same threshold as every other key: all NULL-keyed rows share one hash,
    so per (fraction, salt) they are kept or dropped as a block — unbiased
    across salts, never silently dropped by a null predicate, and never the
    round-4 behavior of riding into EVERY sample regardless of fraction
    (a 1% sample that contains 100% of null-keyed rows is a rate bias).
    A genuine key equal to the sentinel string would collide with NULLs;
    sample on a surrogate column if that space is reachable.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    threshold_int = int(fraction * (1 << 32))
    if threshold_int >= (1 << 32):
        # fraction == 1.0 would render a 9-char threshold ("100000000") that
        # breaks the 8-char lexicographic comparison — keep-everything is free
        return df
    threshold = format(threshold_int, "08x")
    key = (f"coalesce(CAST({ident(key_col)} AS STRING), "
           f"{string_literal(NULL_KEY_SENTINEL)})")
    return df.where(f"substring({_hash_hex(key, salt)}, 1, 8) < '{threshold}'")


def _quota_split(df: DataFrame, group_cols: list, quota: int, key_col: str,
                 salt: str, prefix_len: int):
    """The exact quota selection, one branch (r7 — see quota_per_group).

    Phase 1 — histogram: count rows per (group, first ``prefix_len`` hex
    chars of the hash).  A map-side-partial hash aggregate producing at most
    n_groups·16^prefix_len rows; the running count of strictly-smaller
    prefix buckets (``__below``) is a window over those ≤16^prefix_len
    count rows per group — trivially small.

    Phase 2 — drop whole buckets already past the quota
    (``__below >= quota``), rank the survivors *within their (group,
    prefix) bucket* (never the whole group: the per-task working set is one
    bucket, expected group_size/16^prefix_len rows), and keep a row iff
    ``__below + rank <= quota``.  For a bucket wholly inside the quota
    (``__below + count <= quota``) every rank qualifies — identical to
    keeping the bucket outright; for the one straddling bucket the rank
    cuts exactly at the quota — identical to the previous dedicated
    boundary window.  One branch instead of a keep-all ∪ boundary union
    that re-derived the histogram/join subtree twice (guide §2.4).

    The join of rows to bucket counts keys on (group, prefix), so even its
    shuffle splits a skewed group 16^prefix_len ways.

    NULL handling matches the single-window form exactly: a NULL key hashes
    to the empty string (sorting FIRST, as the window's nulls-first ordering
    did), and NULL group values form their own capped group — the count join
    is null-safe, so neither is silently dropped.
    """
    groups = [ident(c) for c in group_cols]
    rows = (df.selectExpr("*", f"coalesce({_hash_hex(ident(key_col), salt)}, '') AS __qh")
              .selectExpr("*", f"substring(__qh, 1, {int(prefix_len)}) AS __qpfx"))
    counts = (
        rows.groupBy(*group_cols, "__qpfx").agg(F.expr("count(1) AS __c"))
        .selectExpr(
            "*", f"CAST(coalesce(sum(__c) OVER (PARTITION BY {', '.join(groups)} "
                 f"ORDER BY __qpfx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
                 f" 0) AS BIGINT) AS __below")
        .selectExpr(
            *[f"{g} AS {ident('__g_' + c)}" for g, c in zip(groups, group_cols)],
            "__qpfx AS __g_qpfx", "__c", "__below")
    )
    # never null (coalesced hash)
    cond = " AND ".join(["__qpfx = __g_qpfx"]
                        + [f"{g} <=> {ident('__g_' + c)}"
                           for g, c in zip(groups, group_cols)])
    joined = rows.join(counts, F.expr(cond), "inner") \
        .drop("__g_qpfx", *[f"__g_{c}" for c in group_cols])
    return (
        joined.where(f"__below < {int(quota)}")
        .selectExpr("*", f"row_number() OVER (PARTITION BY {', '.join(groups)}, "
                         f"__qpfx ORDER BY __qh) AS __rn")
        .where(f"__rn + __below <= {int(quota)}")
    )


def quota_per_group(df: DataFrame, group_cols, quota: int, key_col: str,
                    salt: str = "", prefix_len: int = 3) -> DataFrame:
    """At most ``quota`` rows per group, selected in md5(key) order.

    The mixture-balancing primitive: cap over-represented sources/languages
    while keeping the selection reproducible.  md5 per-key is collision-free
    for practical id spaces, so the ordering has no ties and the result is
    a deterministic set — identical to ranking the whole group, computed
    without ever sorting the whole group in one task (see `_quota_split`).

    ``prefix_len`` trades histogram width (16^prefix_len buckets per group)
    against boundary-bucket size; 3 → 4096 buckets, so even a billion-row
    group ranks only ~250k rows in its single boundary task.
    """
    if quota < 0:
        raise ValueError("quota must be >= 0")
    group_cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    out_cols = df.columns
    kept = _quota_split(df, group_cols, quota, key_col, salt, prefix_len)
    return kept.selectExpr(*[ident(c) for c in out_cols])

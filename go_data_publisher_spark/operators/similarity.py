"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline — one scan, JVM-side
  F.aggregate/zip_with arithmetic, TakeOrderedAndProject for the top-k.
- LSH-bucketed ANN: random-hyperplane buckets; probe only the query's bucket
  (and optionally neighboring buckets), then rank the candidates exactly.
- banded RHP codes: ``n_bands`` independent LSH codes per vector from one
  Arrow-batched numpy matmul, the candidate generator of the embedding
  near-dup join.

The cosine and bucket arithmetic stays in Catalyst expressions (whole-stage
codegen); only the banded codes run as a pandas UDF.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..sqltext import double_sql, ident


def dot_sql(a: str, b: str) -> str:
    """Dot product of two array SQL expressions."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def norm_sql(a: str) -> str:
    """Euclidean norm of an array SQL expression."""
    return f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + x * x))"


def cosine_sql(a: str, b: str) -> str:
    """Cosine similarity of two array SQL expressions.

    A zero-norm vector (missing/failed embedding) would make this 0/0 = NaN,
    and Spark orders NaN ABOVE every real number — it would occupy a top-k
    slot for every query and pass `>= threshold` near-dup filters.  Yield
    NULL instead: nulls sort last under desc and fail threshold comparisons.
    """
    denom = f"{norm_sql(a)} * {norm_sql(b)}"
    return f"CASE WHEN {denom} != 0.0D THEN {dot_sql(a, b)} / ({denom}) END"


def cosine_to_query(vec_col: str, query: Sequence[float]) -> str:
    """Cosine of the array column ``vec_col`` against a fixed query vector,
    as SQL text: the query is one array literal, so the expression crosses
    py4j once whatever the dimension."""
    q = "array(" + ", ".join(double_sql(x) for x in query) + ")"
    return cosine_sql(ident(vec_col), q)


def brute_force_topk(df: DataFrame, query: Sequence[float], k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: full scan + TakeOrderedAndProject (no shuffle of
    payloads — each task keeps its local top-k, driver merges k*tasks rows)."""
    return (
        df.selectExpr(ident(id_col), f"{cosine_to_query(vec_col, query)} AS cosine")
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# LSH
# ---------------------------------------------------------------------------

# plane-derivation hash families.  xxhash64 is the hot-path default (one
# native JVM call per (plane, dim)); md5lo derives the component from the
# lower 64 bits of md5 over a deterministic key string — the same bits DuckDB
# computes natively as md5_number_lower(), which makes an LSH contract entry
# SQL-oracle-able end-to-end (buckets, probes, and the top-k all reproduce).
_PLANE_FAMILIES = {"xxhash64", "md5lo"}


def _md5_plane_key(seed: int, plane: int, idx: Column) -> Column:
    """The md5lo family's key string 'rhp_{seed}_{plane}_{dim}' — must stay
    byte-identical to the SQL twin's concatenation."""
    return F.concat_ws("_", F.lit("rhp"), F.lit(seed), F.lit(plane),
                       idx.cast("string"))


def _mask32_scale(h: Column) -> Column:
    """Low-32-bit mask → mod → [-1, 1) scale shared by the scalar and array
    md5lo paths.  Masking BEFORE the mod keeps the value non-negative in
    both engines, so Spark's signed long and DuckDB's UBIGINT agree (a
    direct mod would differ whenever the signed reinterpretation goes
    negative, since 2^64 % 2e6 != 0)."""
    return _scale_to_unit(h.bitwiseAND(F.lit(0xFFFFFFFF)))


def _scale_to_unit(h: Column) -> Column:
    """Non-negative hash → pseudo-random component in [-1, 1)."""
    return (F.pmod(h, F.lit(2_000_000)).cast("double") / 1_000_000.0) - 1.0


def _plane_component(seed: int, plane: int, dim_idx,
                     hash_family: str = "xxhash64") -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, 1) for
    (plane, dim index) — the reference form of the plane derivation (the
    python-md5-spec pin in tests targets this).  ``dim_idx`` may be a Column
    (inside a higher-order function) or a Python int."""
    if hash_family not in _PLANE_FAMILIES:
        raise ValueError(f"unknown plane hash family {hash_family!r}")
    idx = dim_idx if isinstance(dim_idx, Column) else F.lit(dim_idx)
    if hash_family == "xxhash64":
        return _scale_to_unit(F.xxhash64(F.lit(seed), F.lit(plane), idx))
    from go_data_publisher_spark.functions.text import md5lo64
    return _mask32_scale(md5lo64(_md5_plane_key(seed, plane, idx)))


def rhp_bucket(vec: Column, n_planes: int, seed: int = 7,
               hash_family: str = "xxhash64") -> Column:
    """Random-hyperplane LSH bucket id: sign-bit pattern of <vec, plane_i>.

    Planes are derived from hash(seed, plane, dim_index) so every
    executor computes identical planes with no broadcast state.
    """
    if hash_family not in _PLANE_FAMILIES:
        raise ValueError(f"unknown plane hash family {hash_family!r}")

    # plane i's component array, positionally aligned with ``vec``
    def components(i: int) -> Column:
        idx = F.sequence(F.lit(0), F.size(vec) - 1)
        if hash_family == "md5lo":
            # two-level transform: materialize each key's md5 hex ONCE, then
            # fold the 8 byte extracts over the array element — Catalyst does
            # not CSE inside higher-order-function lambdas, so the one-level
            # form would evaluate the md5 8× per (plane, dim) (same fix as
            # functions/text.py:_shingle_hashes).  Values are identical to
            # _plane_component's scalar form — _mask32_scale is shared.
            from go_data_publisher_spark.functions.text import _md5lo64_from_hex
            hexes = F.transform(
                idx, lambda j: F.md5(_md5_plane_key(seed, i, j)))
            return F.transform(hexes, lambda h: _mask32_scale(_md5lo64_from_hex(h)))
        return F.transform(idx, lambda j: _plane_component(seed, i, j, hash_family))

    # dot product with plane i, expressed positionally over the array
    def dot_plane(i: int) -> Column:
        terms = F.zip_with(vec, components(i), lambda x, w: x * w)
        return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)

    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        bucket = bucket + F.when(dot_plane(i) > 0, F.lit(1 << i).cast("long")).otherwise(0)
    return bucket


import functools


@functools.lru_cache(maxsize=None)
def _rhp_band_codes_udf(n_bands: int, n_planes: int, seed: int):
    @pandas_udf("array<long>")
    def codes(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(v.to_numpy()).astype(np.float64)        # (n, dim)
        # deterministic Gaussian hyperplanes — same on every executor
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_bands * n_planes, m.shape[1]))
        signs = (m @ planes.T) > 0                            # (n, bands*planes)
        bits = signs.reshape(len(m), n_bands, n_planes).astype(np.int64)
        weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
        band_codes = (bits * weights).sum(axis=2)             # (n, n_bands)
        return pd.Series(list(band_codes))

    return codes


def rhp_band_codes(vec: Column, n_bands: int, n_planes: int, seed: int = 7) -> Column:
    """``n_bands`` independent random-hyperplane LSH codes of ``n_planes``
    sign bits each, as one array<long> column.

    One Arrow-batched numpy matmul per batch (BLAS) — the banded analogue of
    `rhp_bucket` for near-dup candidate generation, where a single wide code
    over-prunes (miss rate compounds per plane) and per-plane Catalyst
    aggregates cost O(n_bands·n_planes·dim) codegen per row.
    """
    return _rhp_band_codes_udf(n_bands, n_planes, seed)(vec)


def _query_bucket(spark, query: Sequence[float], n_planes: int, seed: int,
                  hash_family: str = "xxhash64") -> int:
    """Compute the query vector's bucket via a 1-row Spark job (keeps the
    plane derivation in one place — no Python reimplementation to drift)."""
    q = spark.createDataFrame([([float(x) for x in query],)], "vec array<double>")
    return q.select(
        rhp_bucket(F.col("vec"), n_planes, seed, hash_family).alias("b")
    ).first()["b"]


def _probe_buckets(qb: int, n_planes: int, multiprobe_hamming: int) -> list[int]:
    """Multiprobe expansion: the query bucket plus every bucket within
    ``multiprobe_hamming`` bit-flips.  Raises on radii this helper doesn't
    expand — silently probing fewer buckets than asked would degrade recall
    without an error."""
    if not 0 <= multiprobe_hamming <= 2:
        raise ValueError("multiprobe_hamming must be 0, 1, or 2")
    probes = [qb]
    if multiprobe_hamming >= 1:
        probes += [qb ^ (1 << i) for i in range(n_planes)]
    if multiprobe_hamming >= 2:
        probes += [
            qb ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return probes


def ann_topk_lsh(df: DataFrame, query: Sequence[float], k: int = 10, n_planes: int = 8,
                 seed: int = 7, id_col: str = "vec_id", vec_col: str = "embedding",
                 multiprobe_hamming: int = 1,
                 hash_family: str = "xxhash64") -> DataFrame:
    """ANN top-k via RHP-LSH bucket probing.

    Index-free and one-shot: the scan computes every corpus vector's bucket
    (``n_planes`` dot products per vector), keeps the vectors whose bucket
    is among the query's probes (see `_probe_buckets`), and ranks those
    exactly with `brute_force_topk`.  Every query pays a full pass over the
    corpus; nothing is stored between queries.
    """
    spark = df.sparkSession
    qb = _query_bucket(spark, query, n_planes, seed, hash_family)
    probes = _probe_buckets(qb, n_planes, multiprobe_hamming)
    cand = df.withColumn(
        "__bucket", rhp_bucket(F.col(vec_col), n_planes, seed, hash_family)
    ).where(F.col("__bucket").isin(probes))
    return brute_force_topk(cand, query, k=k, id_col=id_col, vec_col=vec_col)

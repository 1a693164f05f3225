"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline — one scan, JVM-side
  F.aggregate/zip_with arithmetic, TakeOrderedAndProject for the top-k.
- LSH-bucketed ANN: random-hyperplane buckets; probe only the query's bucket
  (and optionally neighboring buckets) — the scale path where a full scan of
  10^10 vectors is off the table.
- IVF-style variant: partition by a coarse quantizer (bucket of the
  dominant hyperplanes) and store bucket as a partition column so Spark
  prunes data files at scan time.

All arithmetic stays in Catalyst expressions (whole-stage codegen); a
numpy-vectorized pandas-UDF path is provided for wide batches where Arrow
transfer + BLAS beats per-element codegen.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: Column, b: Column) -> Column:
    # a zero-norm vector (missing/failed embedding) would make this 0/0 = NaN,
    # and Spark orders NaN ABOVE every real number — it would occupy a top-k
    # slot for every query and pass `>= threshold` near-dup filters.  Yield
    # NULL instead: nulls sort last under desc and fail threshold comparisons.
    denom = norm_expr(a) * norm_expr(b)
    return F.when(denom != F.lit(0.0), dot_expr(a, b) / denom)


def cosine_to_query(vec: Column, query: Sequence[float]) -> Column:
    q = F.array(*[F.lit(float(x)) for x in query])
    return cosine_expr(vec, q)


def brute_force_topk(df: DataFrame, query: Sequence[float], k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: full scan + TakeOrderedAndProject (no shuffle of
    payloads — each task keeps its local top-k, driver merges k*tasks rows)."""
    return (
        df.select(
            F.col(id_col),
            cosine_to_query(F.col(vec_col), query).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def make_cosine_topk_pandas(query: Sequence[float]):
    """numpy variant: row-wise dot products per Arrow batch.  Scored row by
    row, not with the BLAS ``m @ qv``, whose blocking depends on the batch
    size: there two identical vectors in batches of different sizes scored
    an ulp apart, so the id tie-break of the top-k never fired."""
    qv = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(qv)

    @pandas_udf("double")
    def cos(v: pd.Series) -> pd.Series:
        m = np.vstack(v.to_numpy())
        sims = (m * qv).sum(axis=1) / (np.linalg.norm(m, axis=1) * qn)
        return pd.Series(sims)

    return cos


def brute_force_topk_pandas(df: DataFrame, query, k=10, id_col="vec_id",
                            vec_col="embedding") -> DataFrame:
    cos = make_cosine_topk_pandas(query)
    return (
        df.select(F.col(id_col), cos(F.col(vec_col)).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# LSH / IVF
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
    """Multiprobe expansion shared by the LSH and IVF paths: the query bucket
    plus every bucket within ``multiprobe_hamming`` bit-flips.  Raises on
    radii this helper doesn't expand — silently degrading recall between two
    'equivalent' index paths is worse than an error."""
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


def bucketize(df: DataFrame, n_planes: int = 8, seed: int = 7,
              vec_col: str = "embedding", bucket_col: str = "bucket",
              hash_family: str = "xxhash64") -> DataFrame:
    """Precompute the RHP bucket column once.  Persist/cache the result (or
    write it with `write_ivf_index` for file-level pruning) and pass
    ``bucket_col`` to `ann_topk_lsh` so repeated queries pay a column filter,
    not a full re-hash of every corpus vector."""
    return df.withColumn(
        bucket_col, rhp_bucket(F.col(vec_col), n_planes, seed, hash_family))


def ann_topk_lsh(df: DataFrame, query: Sequence[float], k: int = 10, n_planes: int = 8,
                 seed: int = 7, id_col: str = "vec_id", vec_col: str = "embedding",
                 multiprobe_hamming: int = 1, bucket_col: str | None = None,
                 hash_family: str = "xxhash64") -> DataFrame:
    """ANN top-k via RHP-LSH bucket probing.

    Index-free ONE-SHOT form (``bucket_col=None``): recomputes every corpus
    vector's bucket in the scan — a full pass over the corpus, amortized
    over nothing.  Right for a single ad-hoc query; wrong for a query
    workload.  For repeated queries either:

    - pass a frame prepared by `bucketize` (+ ``bucket_col``): the probe is
      a filter on the stored column — no re-hash, and a cached/persisted
      frame serves every subsequent query, or
    - use `write_ivf_index` + `ann_topk_ivf`: same buckets as a partition
      column, so the probe prunes data FILES at scan time — the layout that
      still works when the corpus doesn't fit in cache (10^10 vectors).

    All three paths share the same plane derivation and probe expansion, so
    they return identical results for identical parameters.
    """
    spark = df.sparkSession
    qb = _query_bucket(spark, query, n_planes, seed, hash_family)
    probes = _probe_buckets(qb, n_planes, multiprobe_hamming)
    if bucket_col is not None:
        if bucket_col not in df.columns:
            raise ValueError(
                f"bucket_col {bucket_col!r} not in frame — prepare it with "
                f"bucketize(df, n_planes={n_planes}, seed={seed})"
            )
        cand = df.where(F.col(bucket_col).isin(probes))
    else:
        cand = df.withColumn(
            "__bucket", rhp_bucket(F.col(vec_col), n_planes, seed, hash_family)
        ).where(F.col("__bucket").isin(probes))
    return brute_force_topk(cand, query, k=k, id_col=id_col, vec_col=vec_col)


def write_ivf_index(df: DataFrame, path: str, n_planes: int = 8, seed: int = 7,
                    vec_col: str = "embedding",
                    hash_family: str = "xxhash64") -> None:
    """Materialize the corpus partitioned by LSH bucket — the IVF layout.
    Queries against this layout get partition pruning: only probed buckets'
    files are read."""
    (
        df.withColumn("bucket", rhp_bucket(F.col(vec_col), n_planes, seed, hash_family))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def ann_topk_ivf(spark, index_path: str, query: Sequence[float], k: int = 10,
                 n_planes: int = 8, seed: int = 7, id_col: str = "vec_id",
                 vec_col: str = "embedding", multiprobe_hamming: int = 1,
                 hash_family: str = "xxhash64") -> DataFrame:
    qb = _query_bucket(spark, query, n_planes, seed, hash_family)
    probes = _probe_buckets(qb, n_planes, multiprobe_hamming)
    df = spark.read.parquet(index_path).where(F.col("bucket").isin(probes))
    return brute_force_topk(df, query, k=k, id_col=id_col, vec_col=vec_col)

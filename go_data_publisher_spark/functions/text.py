"""Text analysis for the transcript/training-data pipeline.

All transforms are **vectorized** — either pure Catalyst column expressions
(JVM, whole-stage codegen) or Arrow-batched pandas UDFs operating on whole
Series (per BASELINE.json input_hint: "vectorized pandas/Arrow UDFs (no
per-row Python) throughout").  Nothing here iterates rows in Python.

Column-expression variants are preferred in hot paths; the pandas-UDF
variants exist where the logic doesn't decompose into built-ins (language ID
scoring across many languages at once, the SimHash per-bit vote).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------------
# Catalyst-expression transforms (zero Python)
# ---------------------------------------------------------------------------

def whitespace_token_count(text: Column) -> Column:
    return F.size(F.split(F.trim(text), r"\s+"))


def normalize_text(text: Column) -> Column:
    """Canonical form for dedup: lowercase, collapse whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def normalize_sql(text: str) -> str:
    """``normalize_text`` as SQL text over the SQL expression ``text``."""
    return f"trim(regexp_replace(lower({text}), '\\\\s+', ' '))"


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: document length, average token
    length and punctuation ratio, each scored against a plausible range."""
    n_chars = F.length(text)
    n_tokens = whitespace_token_count(text)
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    avg_token_len = n_chars / F.greatest(n_tokens, F.lit(1))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    length_ok = F.when((n_chars >= 20) & (n_chars <= 20000), 1.0).otherwise(0.3)
    shape_ok = F.when((avg_token_len >= 3) & (avg_token_len <= 12), 1.0).otherwise(0.5)
    punct_ok = F.when(punct_ratio <= 0.2, 1.0).otherwise(0.4)
    return ((length_ok + shape_ok + punct_ok) / 3.0).alias("quality")


# ---------------------------------------------------------------------------
# Arrow-vectorized pandas UDFs
# ---------------------------------------------------------------------------

# Tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic.  Deliberately small: this is the cheap pre-filter stage of a
# training pipeline, not a classifier.
_LANG_MARKERS = {
    "en": (" the ", " and ", " of ", " is ", " to "),
    "de": (" der ", " die ", " und ", " ist ", " das "),
    "fr": (" le ", " la ", " les ", " est ", " une "),
    "es": (" el ", " los ", " que ", " una ", " es "),
}


import functools


@functools.lru_cache(maxsize=None)
def _lang_id_udf():
    @pandas_udf("string")
    def _lang_id(text: pd.Series) -> pd.Series:
        return _lang_id_impl(text)

    return _lang_id


def lang_id(text: Column) -> Column:
    """Vectorized stopword-marker language ID with a CJK codepoint check.

    Whole-series string ops (pandas .str, C-accelerated) — no Python loop
    over rows.  (Lazily wrapped: pandas_udf registration needs a session.)
    """
    return _lang_id_udf()(text)


def _lang_id_impl(text: pd.Series) -> pd.Series:
    padded = " " + text.fillna("").str.lower() + " "
    scores = pd.DataFrame(
        {
            lang: sum(padded.str.count(m.replace(" ", r"\s")) for m in markers)
            for lang, markers in _LANG_MARKERS.items()
        }
    )
    best = scores.idxmax(axis=1).where(scores.max(axis=1) > 0, "und")
    # CJK detection: any codepoint in the unified-ideograph block
    has_cjk = text.fillna("").str.contains(r"[一-鿿]", regex=True)
    return best.mask(has_cjk, "zh")


def _md5lo64_from_hex(hx: Column) -> Column:
    """Fold an md5 hex column into its lower-64-bit signed long (last 8
    digest bytes, little-endian).  ``hx`` must already be an md5 hex
    string — keep the md5 call OUTSIDE so it is evaluated once, not once
    per byte extract (Catalyst does not CSE inside lambda bodies)."""
    val = None
    for j in range(8):
        byte = F.conv(F.substring(hx, 17 + 2 * j, 2), 16, 10).cast("long")
        part = F.shiftleft(byte, 8 * j)
        val = part if val is None else val.bitwiseOR(part)
    return val


def md5lo64(col: Column) -> Column:
    """Lower 64 bits of md5 as a signed long: the last 8 digest bytes read
    little-endian — bit-identical to DuckDB's ``md5_number_lower()``, which
    is what makes an md5-family SimHash SQL-oracle-able.  Pure Catalyst:
    md5 hex → 8 × (conv(hex pair) << 8j) OR-folded; byte 15 shifted into the
    sign bit wraps exactly like the uint64 → int64 reinterpretation."""
    return _md5lo64_from_hex(F.md5(col))


# hash families available to the simhash builders.  xxhash64 is the hot-path
# default (one native JVM call per shingle); md5lo trades ~8 byte-extracts
# per shingle for a hash DuckDB can reproduce (md5_number_lower), which turns
# the simhash contract entry from rows-only into a full value-hash oracle.
_SHINGLE_HASHERS = {"xxhash64", "md5lo"}


def _shingle_hashes(text: Column, shingle_size: int,
                    hash_family: str = "xxhash64") -> Column:
    """Word-shingle 64-bit-hash array (JVM-side — the hash family must be
    identical in both simhash implementations)."""
    if hash_family not in _SHINGLE_HASHERS:
        raise ValueError(f"unknown shingle hash family {hash_family!r}")
    words = F.split(normalize_text(text), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - shingle_size, F.lit(0)))
    shingles = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, shingle_size))
    )
    if hash_family == "xxhash64":
        return F.transform(shingles, lambda s: F.xxhash64(s))
    # two-level transform: materialize each shingle's md5 hex once, then
    # fold the 8 byte extracts over that array element — one md5 per
    # shingle instead of 8 (no CSE inside higher-order-function lambdas)
    hexes = F.transform(shingles, lambda s: F.md5(s))
    return F.transform(hexes, _md5lo64_from_hex)


@functools.lru_cache(maxsize=None)
def _simhash_vote_udf():
    @pandas_udf("long")
    def _vote(hashes: pd.Series) -> pd.Series:
        return _simhash_vote_impl(hashes)

    return _vote


def _simhash_vote_impl(hashes: pd.Series) -> pd.Series:
    """Single-pass per-bit majority vote over each row's shingle-hash array.

    numpy-vectorized across the whole Arrow batch: unpack all hashes to a
    (total_shingles, 64) bit matrix once, segment-sum per row with
    add.reduceat — O(shingles·64) bit ops total, vs the 64 separate
    Catalyst aggregate passes of the expression form.
    """
    n = len(hashes)
    if n == 0:
        return pd.Series([], dtype="int64")
    arrays = [np.asarray(a if a is not None else [], dtype=np.uint64) for a in hashes]
    lens = np.array([len(a) for a in arrays], dtype=np.int64)
    flat = np.concatenate(arrays) if lens.sum() else np.zeros(0, dtype=np.uint64)
    bits = ((flat[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
    ones = np.zeros((n, 64), dtype=np.int64)
    nonempty = lens > 0
    if nonempty.any():
        offsets = np.concatenate(([0], np.cumsum(lens)))[:-1][nonempty]
        ones[nonempty] = np.add.reduceat(bits, offsets, axis=0)
    # bit set iff strictly more ones than zeros: 2*ones > len
    set_bits = (2 * ones) > lens[:, None]
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
    sig = (set_bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
    return pd.Series(sig.view(np.int64) if sig.dtype == np.uint64 else sig).astype("int64")


def simhash64(text: Column, shingle_size: int = 3,
              hash_family: str = "xxhash64") -> Column:
    """SimHash over word shingles: shingle → 64-bit hash (JVM) → per-bit
    majority vote (Arrow-batched numpy, one pass) → 64-bit signature.

    Identical output to `simhash64_expr` (pinned by a parity test); the
    vectorized vote replaces 64 Catalyst aggregate passes over each row's
    shingle-hash array with one numpy segment-sum per batch.
    ``hash_family='md5lo'`` swaps the shingle hash for DuckDB's
    ``md5_number_lower`` so the signature is reproducible in SQL.
    """
    return _simhash_vote_udf()(_shingle_hashes(text, shingle_size, hash_family))


def simhash64_expr(text: Column, shingle_size: int = 3) -> Column:
    """SimHash vote as pure Catalyst expressions (zero Python) — the
    reference implementation for the parity test; the per-bit vote unrolls
    to 64 aggregate passes over the shingle-hash array, which is ~an order
    more work than the vectorized vote."""
    hashes = _shingle_hashes(text, shingle_size)
    # bit votes: for each bit b, sum(+1 if set else -1) over shingle hashes
    def _vote(mask):
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        )

    bits = []
    for b in range(64):
        bitmask = F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")
        bits.append(F.when(_vote(bitmask) > 0, bitmask).otherwise(F.lit(0).cast("long")))
    sig = bits[0]
    for c in bits[1:]:
        sig = sig.bitwiseOR(c)
    return sig

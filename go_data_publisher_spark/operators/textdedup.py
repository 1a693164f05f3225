"""Document deduplication for large-scale training-data pipelines.

Four families, each declarative DataFrame compositions designed for the
100 TB shape (shuffle on small keys, candidate generation before expensive
verification, no cross joins over the full corpus):

- exact:      hash-groupBy on normalized text (one shuffle of (hash, id)).
- minhash+lsh: shingle → k min-hashes → b bands → bucket-join candidates →
               exact-Jaccard verify on candidates only.
- simhash:    64-bit signature, near-dups = small hamming distance within
              LSH-style band buckets.
- embedding:  cosine near-dup via bucketed candidate join (random-hyperplane
              LSH) + exact verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_sql, simhash64
from ..sqltext import double_sql, ident


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                     normalize: bool = True) -> DataFrame:
    """Groups of byte-identical (optionally normalized) documents.

    Returns one row per content group: canonical_id = min id, n_dupes.
    The shuffle carries only (hash, id) — text never moves.
    """
    txt = normalize_sql(ident(text_col)) if normalize else ident(text_col)
    return (
        df.selectExpr(f"sha2({txt}, 256) AS content_hash", ident(id_col))
        .groupBy("content_hash")
        .agg(F.expr(f"min({ident(id_col)}) AS canonical_id"),
             F.expr("count(1) AS n_docs"))
    )


# ---------------------------------------------------------------------------
# shingles / jaccard
# ---------------------------------------------------------------------------
#
# Both sides of the LSH work on a document's normalized words, projected
# once per document as an array column before the per-shingle lambdas run:
# a lambda body is evaluated per element and Catalyst does not hoist the
# words expression out of it, so an inlined split(normalize(text)) ran the
# regex once per shingle.  NULL text is treated as empty text (one
# degenerate '' shingle) so the candidate and verify stages agree on it:
# un-coalesced, the signature path hashed NULL word arrays differently from
# '' ones while exact Jaccard saw both as {''} — two NULL docs paired but a
# NULL/'' pair was silently missed by LSH (and no SQL twin could match both).

def _words_sql(text_col: str) -> str:
    """The document's normalized words (NULL text as '')."""
    text = "coalesce(" + ident(text_col) + ", '')"
    return f"split({normalize_sql(text)}, ' ')"


def _shingles_sql(k: int) -> str:
    """Word k-shingles of the ``__w`` words column as an array of strings,
    distinct per doc (exact Jaccard is set arithmetic)."""
    return (f"array_distinct(transform(sequence(0, greatest(size(__w) - {k}, 0)), "
            f"i -> concat_ws(' ', slice(__w, i + 1, {k}))))")


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------

def _shingle_hashes_sql(k: int) -> str:
    """64-bit hashes of the word k-shingles of the ``__wh`` word-hash column
    (multiset — see the note below) — WITHOUT ever materializing shingle
    strings.

    Each word is hashed once (xxhash64 over its bytes, ``__wh``); a shingle
    hash is xxhash64 over the k fixed-width word hashes.  Versus building
    `concat_ws` shingle strings and re-hashing them per family, this scans
    each text byte exactly once and all downstream math is long-arithmetic
    (measured ~2× on the signature stage; the per-family re-hash saving in
    minhash_signatures stacks on top).

    NOT array_distinct'd (r7): the only consumer is minhash_signatures,
    whose per-family min is identical over a multiset and its set — the
    distinct pass was a pure per-doc hash-set allocation on the hot path.
    (The string-side verify keeps ITS array_distinct: exact Jaccard is set
    arithmetic and duplicates would change it.)  try_element_at is 1-based
    and yields null past the end (docs shorter than k words) — plain
    element_at THROWS under Spark 4's default ANSI mode; xxhash64 skips the
    nulls.
    """
    words = ", ".join(f"try_element_at(__wh, i + {j + 1})" for j in range(k))
    return (f"transform(sequence(0, greatest(size(__wh) - {k}, 0)), "
            f"i -> xxhash64({words}))")


def minhash_signatures(df: DataFrame, id_col="doc_id", text_col="text",
                       k: int = 3, n_hashes: int = 16) -> DataFrame:
    """k-shingle MinHash signatures.

    Hash family i is the two-column chain ``xxhash64(sh, i)`` under Spark's
    seed 42: the 8-byte shingle hash ``sh``, then the int ``i`` (not the
    shingle string — each text byte is scanned once total, and the
    per-family work is a fixed-width hash of one long and one int);
    signature[i] = min over the doc's shingles.  Shape: project each doc's
    word hashes once, explode its shingle hashes, then ``n_hashes`` min
    aggregations in one hash-aggregate — map-side partial mins, so hot
    documents never concentrate.

    r7 note (measured, rejected): a map-only form — one transform hashing
    each shingle into its 16 family values folded by aggregate/zip_with —
    removes this subtree's Exchange but runs ~10× SLOWER end-to-end:
    higher-order functions are evaluated interpreted (no whole-stage
    codegen), so 32M lambda invocations + a 16-long array allocation per
    shingle replace a codegen'd aggregate.  (A sibling-lambda variant
    ``array(array_min(transform(sh, h -> xxhash64(h, i))) for i)`` is
    outright WRONG on Spark 4.1 — the sibling lambdas resolve to one shared
    expression and every family returns the same value.)  An Arrow
    ``pandas_udf`` computing all 16 minima per document with a numpy mirror
    of the chain was bit-identical to this plan but slower:
    ``minhash_pairs_docs`` went from a 2.14 s to a 2.52 s median over 10
    interleaved runs (4-core host, ~300 documents).  The pairs plan builds
    this subtree 6 times, so the UDF adds 12 ``ArrowEvalPython`` nodes and
    removes no work.  The explode + groupBy aggregate stays.
    """
    mins = ", ".join(f"min(xxhash64(sh, {i}))" for i in range(n_hashes))
    return (
        df.selectExpr(f"{ident(id_col)} AS id",
                      f"transform({_words_sql(text_col)}, w -> xxhash64(w)) AS __wh")
        .selectExpr("id", f"explode({_shingle_hashes_sql(k)}) AS sh")
        .groupBy("id")
        .agg(F.expr(f"array({mins}) AS minhash"))
    )


def minhash_lsh_pairs(df: DataFrame, id_col="doc_id", text_col="text", k: int = 3,
                      n_hashes: int = 16, n_bands: int = 4,
                      verify_threshold: float | None = 0.5) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH.

    signature → b bands of r=n/b values → docs sharing a band hash become
    candidates (shuffle on band-bucket keys only) → optional exact-Jaccard
    verification of the candidates.  Every step is SQL text, so building
    the plan costs about a hundred py4j round trips whatever ``n_hashes``
    and ``n_bands`` are.
    """
    if n_bands <= 0 or n_bands > n_hashes:
        raise ValueError(f"n_bands must be in [1, n_hashes]; got {n_bands=} {n_hashes=}")
    if n_hashes % n_bands:
        # a remainder would silently discard trailing hash functions and
        # change the advertised (b, r) recall curve
        raise ValueError(f"n_hashes must divide evenly into bands; got {n_hashes=} {n_bands=}")
    rows_per_band = n_hashes // n_bands
    sigs = minhash_signatures(df, id_col, text_col, k, n_hashes)
    # band hash over the r fixed-width signature longs directly — no string
    # rendering
    band_hashes = ", ".join(
        "xxhash64(" + ", ".join(f"minhash[{b * rows_per_band + r}]"
                                for r in range(rows_per_band)) + ")"
        for b in range(n_bands))
    bands = sigs.selectExpr(
        "id", f"posexplode(array({band_hashes})) AS (band, band_hash)")
    # NOTE (measured, sf0.1): the self-join recomputes the signature subtree
    # once per branch, but cutting that with localCheckpoint(eager=False) on
    # the bands frame made the whole query 2-3× SLOWER — the checkpoint
    # boundary blocks AQE's runtime join planning and whole-stage pipelining,
    # which outweighs the duplicated (fully pipelined, map-only) signature
    # scan.  Leave the recompute to Catalyst.
    cand = (
        bands.alias("a").join(
            bands.alias("b"),
            F.expr("a.band = b.band AND a.band_hash = b.band_hash AND a.id < b.id"))
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )
    if verify_threshold is None:
        return cand
    # verify candidates with exact jaccard — shingle arrays are materialized
    # ONLY for docs that appear in a candidate pair (semi-join prune first)
    cand_ids = (
        cand.selectExpr("id_a AS cid")
        .unionByName(cand.selectExpr("id_b AS cid"))
        .distinct()
    )
    sh = (
        df.join(cand_ids, F.expr(f"{ident(id_col)} = cid"), "left_semi")
        .selectExpr(f"{ident(id_col)} AS id", f"{_words_sql(text_col)} AS __w")
        .selectExpr("id", f"{_shingles_sql(k)} AS sh")
    )
    return (
        cand.join(sh.selectExpr("id AS __ia", "sh AS sh_a"), F.expr("id_a = __ia"))
        .join(sh.selectExpr("id AS __ib", "sh AS sh_b"), F.expr("id_b = __ib"))
        .selectExpr("id_a", "id_b",
                    "size(array_intersect(sh_a, sh_b)) / size(array_union(sh_a, sh_b))"
                    " AS jaccard")
        .where(f"jaccard >= {double_sql(verify_threshold)}")
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def simhash_near_duplicates(df: DataFrame, id_col="doc_id", text_col="text",
                            max_hamming: int = 3, n_bands: int | None = None,
                            hash_family: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into ``n_bands``
    chunks — any pair within hamming distance < n_bands must share at least
    one band verbatim (pigeonhole) — then verify exact hamming ≤ max_hamming.

    Completeness: recall over the advertised radius requires
    ``n_bands > max_hamming`` (otherwise the differing bits can hit every
    band and the pair is silently missed).  ``n_bands`` therefore defaults
    to ``max_hamming + 1`` with near-equal widths summing to 64, and a
    smaller explicit value raises.

    ``hash_family`` selects the shingle hash (see
    ``functions.text._SHINGLE_HASHERS``): ``xxhash64`` is the hot-path
    default; ``md5lo`` is bit-reproducible in DuckDB
    (``md5_number_lower``), making the output SQL-oracle-able.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} <= max_hamming={max_hamming}: the pigeonhole "
            f"guarantee only covers hamming <= n_bands-1"
        )
    n_bands = min(n_bands, 64)
    base, rem = divmod(64, n_bands)
    widths = [base + 1] * rem + [base] * (n_bands - rem)
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    sigs = df.select(
        F.col(id_col).alias("id"),
        simhash64(F.col(text_col), hash_family=hash_family).alias("sig"))
    bands = sigs.select(
        "id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sig", offsets[b])
                    .bitwiseAND(F.lit((1 << widths[b]) - 1))
                    .cast("long")
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# near-dup clusters (pairs → connected components)
# ---------------------------------------------------------------------------

def dedup_clusters(pairs: DataFrame, nodes: DataFrame | None = None,
                   id_a: str = "id_a", id_b: str = "id_b",
                   max_iters: int = 30) -> DataFrame:
    """Connected components over a near-duplicate pair graph.

    The missing last stage of the dedup story: `minhash_lsh_pairs` /
    `simhash_near_duplicates` / `embedding_near_duplicates` emit *pairs*, but
    near-duplicates are transitive in practice (A~B, B~C ⇒ {A,B,C} is one
    content cluster), so survivor selection needs components, not edges.

    Iterative min-label propagation with pointer jumping, all distributed:
    each round every node takes the min label among itself and its
    neighbours (one shuffle join + partial-agg groupBy), then short-circuits
    to its label's label (one more join) — the pointer-jumping step makes
    convergence O(log diameter) rounds instead of O(diameter).  Each round
    ends in an eager localCheckpoint to truncate lineage (an unbounded
    iterative plan would otherwise grow the driver's plan tree per round).
    No collect of data-sized results; the convergence probe is a 1-row
    aggregate.

    ``nodes`` (one ``id`` column) adds isolated vertices (docs with no pair)
    as singleton clusters; defaults to the ids appearing in ``pairs``.
    Returns (id, cluster_id) where cluster_id = min id in the component.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    if nodes is None:
        nodes = edges.select(F.col("src").alias("id")).distinct()
    labels = nodes.select("id", F.col("id").alias("comp")).localCheckpoint(eager=True)

    for _ in range(max_iters):
        nbr = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("comp").alias("__nbr_comp"))
        )
        stepped = (
            labels.join(nbr, labels["id"] == nbr["src"], "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("__nbr_comp", "comp")).alias("comp"),
            )
        )
        ptr = stepped.select(F.col("id").alias("__pid"), F.col("comp").alias("__pcomp"))
        jumped = (
            stepped.join(ptr, stepped["comp"] == ptr["__pid"], "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("__pcomp", "comp")).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = (
            labels.select("id", F.col("comp").alias("__old"))
            .join(jumped, on="id")
            .where(F.col("__old") != F.col("comp"))
            .limit(1)
            .count()
        )
        labels = jumped
        if n_changed == 0:
            break
    return labels.select("id", F.col("comp").alias("cluster_id"))


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def embedding_near_duplicates(df: DataFrame, id_col="vec_id", vec_col="embedding",
                              threshold: float = 0.95, n_planes: int = 6,
                              n_bands: int = 8, seed: int = 7,
                              max_bucket_size: int | None = 10_000) -> DataFrame:
    """Cosine near-dup pairs via *banded* random-hyperplane LSH + exact verify.

    Shape (the same banding as `minhash_lsh_pairs`, which bounds join
    fan-out): each vector gets ``n_bands`` independent ``n_planes``-bit sign
    codes (one Arrow/numpy matmul — see similarity.rhp_band_codes); docs
    sharing any (band, code) become candidates; exact cosine verifies only
    candidates.  A single wide code is both lossy (miss rate compounds per
    plane) and quadratic in its bucket population — near-dup-dense corpora
    concentrate into few buckets.  Banding restores recall
    (miss ≈ (1-p^planes)^bands) and ``max_bucket_size`` caps the fan-out of
    degenerate buckets: buckets above the cap are skipped for pair
    generation (NOT silently — they are the all-identical pathology that
    exact dedup already removes upstream; the cap bounds worst-case work at
    O(bands · cap · n) instead of O(n²)).
    """
    from .similarity import cosine_sql, rhp_band_codes

    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    bands = v.select(
        "id", F.posexplode(rhp_band_codes(F.col("vec"), n_bands, n_planes, seed))
        .alias("band", "code")
    )
    if max_bucket_size is not None:
        ok = (
            bands.groupBy("band", "code")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") <= max_bucket_size)
            .select("band", "code")
        )
        bands = bands.join(ok, on=["band", "code"], how="left_semi")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = v.select(F.col("id").alias("id_a"), F.col("vec").alias("__va"))
    vb = v.select(F.col("id").alias("id_b"), F.col("vec").alias("__vb"))
    return (
        cand.join(va, on="id_a").join(vb, on="id_b")
        .select("id_a", "id_b",
                F.expr(f"{cosine_sql('__va', '__vb')} AS cosine"))
        .where(F.col("cosine") >= threshold)
    )

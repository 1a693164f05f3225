"""Dedup + similarity operators on small corpora with known structure."""

import pytest
from pyspark.sql import functions as F

from go_data_publisher_spark.operators import similarity as S
from go_data_publisher_spark.operators import textdedup as D


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog while spark shuffles data across many partitions"
    near = base.replace("lazy", "sleepy")
    rows = [
        (0, base),
        (1, base),                      # exact dup of 0
        (2, "The  QUICK brown fox jumps over the lazy dog while spark shuffles data across many partitions"),  # normalized dup of 0
        (3, near),                      # near dup of 0
        (4, "completely different text about merge manifests checkpoints lineage and exactly once commits"),
        (5, "another unrelated document mentioning embeddings vectors buckets and cosine similarity search"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").persist()


def test_exact_duplicates(spark, corpus):
    groups = D.exact_duplicates(corpus).collect()
    sizes = sorted(g["n_docs"] for g in groups)
    assert sizes == [1, 1, 1, 3]
    kept = D.drop_exact_duplicates(corpus)
    assert kept.count() == 4
    assert {r["doc_id"] for r in kept.collect()} == {0, 3, 4, 5}


def test_ngram_jaccard(spark, corpus):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(corpus, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 3) in pairs and 0.5 <= pairs[(0, 3)] < 1.0
    assert (0, 4) not in pairs


def test_minhash_lsh(spark, corpus):
    pairs = {(r["id_a"], r["id_b"]) for r in
             D.minhash_lsh_pairs(corpus, n_hashes=16, n_bands=8, verify_threshold=0.5).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert all(a not in (4, 5) and b not in (4, 5) for a, b in pairs)


def test_simhash_near_duplicates(spark, corpus):
    pairs = {(r["id_a"], r["id_b"]) for r in
             D.simhash_near_duplicates(corpus, max_hamming=10).collect()}
    assert (0, 1) in pairs
    assert (0, 4) not in pairs and (4, 5) not in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.standard_normal(16)
    rows = []
    for i in range(50):
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    # 100 = near-dup of 0; 101 = exact dup of 0
    v0 = np.array(rows[0][1])
    near = v0 + 0.01 * rng.standard_normal(16)
    rows.append((100, [float(x) for x in near / np.linalg.norm(near)]))
    rows.append((101, rows[0][1]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").persist()


def test_brute_force_topk_exact_and_pandas_agree(spark, vectors):
    q = vectors.where("vec_id = 0").first()["embedding"]
    a = S.brute_force_topk(vectors, q, k=3).collect()
    b = S.brute_force_topk_pandas(vectors, q, k=3).collect()
    assert [r["vec_id"] for r in a] == [r["vec_id"] for r in b]
    assert {r["vec_id"] for r in a} == {0, 101, 100}
    for x, y in zip(a, b):
        assert abs(x["cosine"] - y["cosine"]) < 1e-6


@pytest.mark.parametrize("n_parts", [2, 8, 16])
def test_pandas_topk_ties_exact_duplicates_across_partitions(spark, n_parts):
    """Exact duplicate vectors score identically whatever Arrow batch (here:
    partition) they land in, so the top-k tie-break orders them by id."""
    import numpy as np

    rng = np.random.default_rng(11)

    def unit():
        v = rng.standard_normal(16)
        return [float(x) for x in v / np.linalg.norm(v)]

    rows = [(i, unit()) for i in range(120)]
    dup = unit()
    dup_ids = [3, 17, 29, 44, 58, 71, 96, 113]
    for i in dup_ids:
        rows[i] = (i, dup)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
        .repartition(n_parts, "vec_id")
    # the query is one of the stored (float32) vectors, as in a self-search
    q = df.where(f"vec_id = {dup_ids[0]}").first()["embedding"]
    got = S.brute_force_topk_pandas(df, q, k=len(dup_ids)).collect()
    assert [r["vec_id"] for r in got] == dup_ids
    assert len({r["cosine"] for r in got}) == 1
    sql = S.brute_force_topk(df, q, k=len(dup_ids)).collect()
    assert [r["vec_id"] for r in sql] == dup_ids


def test_ann_topk_finds_near_neighbors(spark, vectors):
    q = vectors.where("vec_id = 0").first()["embedding"]
    got = S.ann_topk_lsh(vectors, q, k=3, n_planes=6, multiprobe_hamming=1).collect()
    ids = {r["vec_id"] for r in got}
    # identical + near-identical vectors hash to the query's bucket
    assert {0, 101}.issubset(ids)


def test_ivf_index_prunes_partitions(spark, vectors, tmpdir_path):
    S.write_ivf_index(vectors, f"{tmpdir_path}/ivf", n_planes=4)
    q = vectors.where("vec_id = 0").first()["embedding"]
    got = S.ann_topk_ivf(spark, f"{tmpdir_path}/ivf", q, k=3, n_planes=4).collect()
    assert {0, 101}.issubset({r["vec_id"] for r in got})
    # partition pruning: the probed-bucket filter appears as a partition filter
    df = spark.read.parquet(f"{tmpdir_path}/ivf").where(F.col("bucket") == 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_embedding_near_duplicates(spark, vectors):
    pairs = {(r["id_a"], r["id_b"]) for r in
             D.embedding_near_duplicates(vectors, threshold=0.98, n_planes=8).collect()}
    assert (0, 100) in pairs and (0, 101) in pairs


def test_simhash_banding_is_radius_complete(spark, corpus):
    """Recall over the advertised hamming radius: the banded candidate
    generation must find EVERY pair within max_hamming (pigeonhole needs
    n_bands > max_hamming).  Oracle: brute-force hamming over the collected
    signatures (6 docs)."""
    from go_data_publisher_spark.functions.text import simhash64

    sigs = {r["doc_id"]: r["sig"] for r in
            corpus.select("doc_id", simhash64(F.col("text")).alias("sig")).collect()}
    ids = sorted(sigs)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 10
    }
    got = {(r["id_a"], r["id_b"]) for r in
           D.simhash_near_duplicates(corpus, max_hamming=10).collect()}
    assert got == want
    # explicit n_bands below the completeness bound is rejected
    with pytest.raises(ValueError, match="pigeonhole"):
        D.simhash_near_duplicates(corpus, max_hamming=6, n_bands=4)


def test_embedding_near_dup_matches_brute_force(spark, vectors):
    """Banded RHP LSH + exact verify vs the all-pairs numpy oracle: exact
    precision (the verify stage) and full recall at this band/plane setting
    (miss probability ~(1-p^planes)^bands, negligible here)."""
    import numpy as np

    rows = vectors.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    ids = sorted(vecs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            va, vb = vecs[a], vecs[b]
            cos = va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
            if cos >= 0.9:
                want.add((a, b))
    got = {(r["id_a"], r["id_b"]) for r in
           D.embedding_near_duplicates(vectors, threshold=0.9, n_planes=4,
                                       n_bands=16).collect()}
    assert got == want and (0, 100) in got and (0, 101) in got


def test_embedding_near_dup_caps_degenerate_buckets(spark):
    """max_bucket_size bounds fan-out: 300 identical vectors would otherwise
    produce 300² candidate pairs from every band; with the cap they are
    skipped (exact dedup owns that pathology)."""
    rows = [(i, [1.0, 0.0, 0.5, -0.25]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = D.embedding_near_duplicates(df, threshold=0.99, max_bucket_size=50)
    assert got.count() == 0


def test_minhash_short_docs_do_not_crash(spark):
    """Docs shorter than k words must yield a (partial-window) signature,
    not an ANSI-mode array-index error (try_element_at regression guard)."""
    from go_data_publisher_spark.operators.textdedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "three word doc"),
         (4, "one"), (5, "")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs)
    assert sigs.count() == 5
    pairs = minhash_lsh_pairs(docs, verify_threshold=0.9).collect()
    assert any((p.id_a, p.id_b) == (1, 4) for p in pairs)  # identical 1-worders


def test_minhash_null_text_equals_empty_text(spark):
    """NULL text coalesces to '' in BOTH the signature and verify stages, so
    every NULL/empty doc pairs with every other at jaccard 1.0.  Before the
    coalesce the two stages disagreed: NULL word arrays hashed differently
    from '' ones, so (NULL, NULL) paired while (NULL, '') was silently
    missed by LSH — and no SQL oracle twin could match both behaviors."""
    from go_data_publisher_spark.operators.textdedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c d"), (4, "a b c d"), (5, "   ")],
        "doc_id long, text string",
    )
    pairs = sorted((p.id_a, p.id_b)
                   for p in minhash_lsh_pairs(docs, verify_threshold=0.4,
                                              n_hashes=16, n_bands=8).collect())
    # NULL, empty, and whitespace-only all normalize to the same degenerate
    # {''} shingle set; the real pair (3,4) rides alongside
    assert pairs == [(1, 2), (1, 5), (2, 5), (3, 4)]


def test_zero_vector_never_ranks(spark):
    # 0/0 cosine used to be NaN, which Spark orders ABOVE every real number —
    # a garbage vector occupied a top-k slot and passed >= thresholds
    rows = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.9, 0.1])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = S.brute_force_topk(df, [1.0, 0.0], k=2).collect()
    assert [r.vec_id for r in got] == [2, 3]
    pairs = D.embedding_near_duplicates(
        spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [0.0, 0.0])], "vec_id int, embedding array<double>"
        ),
        threshold=0.5,
    ).collect()
    assert pairs == []


def test_minhash_band_config_validated(spark, corpus):
    with pytest.raises(ValueError):
        D.minhash_lsh_pairs(corpus, n_hashes=16, n_bands=32)
    with pytest.raises(ValueError):
        D.minhash_lsh_pairs(corpus, n_hashes=16, n_bands=5)


def test_ivf_multiprobe_parity_with_lsh(spark, vectors, tmpdir_path):
    # the IVF path used to silently ignore multiprobe_hamming >= 2
    S.write_ivf_index(vectors, f"{tmpdir_path}/ivf2", n_planes=4)
    q = vectors.where("vec_id = 0").first()["embedding"]
    ivf = S.ann_topk_ivf(
        spark, f"{tmpdir_path}/ivf2", q, k=5, n_planes=4, multiprobe_hamming=2
    ).collect()
    lsh = S.ann_topk_lsh(vectors, q, k=5, n_planes=4, multiprobe_hamming=2).collect()
    assert [r.vec_id for r in ivf] == [r.vec_id for r in lsh]
    with pytest.raises(ValueError):
        S.ann_topk_lsh(vectors, q, k=5, n_planes=4, multiprobe_hamming=3)


def test_ann_three_path_parity_and_bucketed_fast_path(spark, vectors, tmpdir_path):
    """VERDICT r2 #6: one-shot LSH, precomputed-bucket frame, and IVF layout
    must return identical results for the same parameters — and the bucketed
    frame path must not re-hash the corpus (no plane derivation in its plan)."""
    q = vectors.where("vec_id = 0").first()["embedding"]
    one_shot = S.ann_topk_lsh(vectors, q, k=5, n_planes=4, multiprobe_hamming=1).collect()

    # materialize the prepared frame (the point of the fast path: hash once,
    # serve many queries) — an unmaterialized bucketize would just inline
    S.bucketize(vectors, n_planes=4).write.mode("overwrite") \
        .parquet(f"{tmpdir_path}/prepared")
    prepared = spark.read.parquet(f"{tmpdir_path}/prepared")
    bucketed = S.ann_topk_lsh(prepared, q, k=5, n_planes=4,
                              multiprobe_hamming=1, bucket_col="bucket")
    S.write_ivf_index(vectors, f"{tmpdir_path}/ivf3", n_planes=4)
    ivf = S.ann_topk_ivf(spark, f"{tmpdir_path}/ivf3", q, k=5, n_planes=4,
                         multiprobe_hamming=1).collect()

    assert [r.vec_id for r in one_shot] == [r.vec_id for r in bucketed.collect()] \
        == [r.vec_id for r in ivf]

    # fast path: the candidate filter uses the stored column — the plan has
    # no xxhash64 plane derivation (the one-shot plan does)
    bucketed_plan = bucketed._jdf.queryExecution().executedPlan().toString()
    one_shot_plan = S.ann_topk_lsh(
        vectors, q, k=5, n_planes=4, multiprobe_hamming=1
    )._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" not in bucketed_plan
    assert "xxhash64" in one_shot_plan

    import pytest
    with pytest.raises(ValueError, match="bucketize"):
        S.ann_topk_lsh(vectors, q, k=5, n_planes=4, bucket_col="missing")


def test_ann_md5lo_plane_family(spark, vectors, tmpdir_path):
    """The md5lo plane family (the SQL-oracle-able one): components must
    equal a from-scratch Python md5 reference, the three serving paths must
    agree under it, and an unknown family must raise (a typo silently
    falling back to xxhash64 would desync the entry from its DuckDB twin)."""
    import hashlib

    import pytest
    from pyspark.sql import functions as F

    # brute-force reference for the plane component, built from the md5 spec
    # (last 8 digest bytes little-endian == DuckDB md5_number_lower)
    def ref_component(seed, plane, d):
        key = f"rhp_{seed}_{plane}_{d}".encode()
        lo64 = int.from_bytes(hashlib.md5(key).digest()[8:], "little")
        return ((lo64 & 0xFFFFFFFF) % 2_000_000) / 1_000_000.0 - 1.0

    got = (
        spark.range(1)
        .select(*[
            S._plane_component(7, p, d, "md5lo").alias(f"c_{p}_{d}")
            for p in range(3) for d in range(4)
        ])
        .first()
    )
    for p in range(3):
        for d in range(4):
            assert got[f"c_{p}_{d}"] == pytest.approx(ref_component(7, p, d), abs=0), \
                f"plane component ({p},{d}) diverges from the md5 spec"

    # three-path parity holds under the md5lo family too
    q = vectors.where("vec_id = 0").first()["embedding"]
    one_shot = S.ann_topk_lsh(vectors, q, k=5, n_planes=4,
                              multiprobe_hamming=1, hash_family="md5lo").collect()
    S.bucketize(vectors, n_planes=4, hash_family="md5lo") \
        .write.mode("overwrite").parquet(f"{tmpdir_path}/prepared_md5")
    prepared = spark.read.parquet(f"{tmpdir_path}/prepared_md5")
    bucketed = S.ann_topk_lsh(prepared, q, k=5, n_planes=4, multiprobe_hamming=1,
                              bucket_col="bucket", hash_family="md5lo").collect()
    S.write_ivf_index(vectors, f"{tmpdir_path}/ivf_md5", n_planes=4,
                      hash_family="md5lo")
    ivf = S.ann_topk_ivf(spark, f"{tmpdir_path}/ivf_md5", q, k=5, n_planes=4,
                         multiprobe_hamming=1, hash_family="md5lo").collect()
    assert [r.vec_id for r in one_shot] == [r.vec_id for r in bucketed] \
        == [r.vec_id for r in ivf]

    with pytest.raises(ValueError, match="plane hash family"):
        S.ann_topk_lsh(vectors, q, k=5, n_planes=4, hash_family="sha1")

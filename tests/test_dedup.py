"""Dedup operators: exact, by-key (skew-safe), MinHash-LSH, SimHash, Jaccard."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """Plant exact duplicates (ids 10000+i copy of i) and near-duplicates
    (ids 20000+i: doc i with one word appended)."""
    base = docs.select("doc_id", "text").limit(50)
    exact = base.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    near = base.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )
    return docs.select("doc_id", "text").union(exact).union(near)


def test_dedup_exact(spark, docs_with_dups):
    from pii_filter_spark.operators.dedup import dedup_exact

    total = docs_with_dups.count()
    out = dedup_exact(docs_with_dups)
    assert out.count() == total - 50  # the 50 planted exact copies collapse
    # survivor is the min doc_id of each group
    assert out.where(F.col("doc_id") >= 10000).where(F.col("doc_id") < 20000).count() == 0


def test_dedup_by_key_skew_safe(spark):
    from pii_filter_spark.operators.dedup import dedup_by_key
    from pii_filter_spark.sources.synth import gen_pandas

    pdf = gen_pandas(300, seed=3)[["image_id", "phash"]]
    df = spark.createDataFrame(pdf)
    out = dedup_by_key(df, "phash", "image_id").toPandas()
    exp = pdf.groupby("phash")["image_id"].min()
    assert sorted(out.image_id) == sorted(exp.tolist())


def test_minhash_lsh_finds_planted_near_dups(spark, docs_with_dups):
    from pii_filter_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs_with_dups).toPandas()
    planted_exact = {(i, i + 10000) for i in range(50)}
    planted_near = {(i, i + 20000) for i in range(50)}
    got = {(int(a), int(b)) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert planted_exact <= got
    assert len(planted_near & got) >= 45  # near-dups: high recall expected
    # exact copies estimate jaccard ~1.0
    exact_rows = pairs[(pairs.id_a < 10000) & (pairs.id_b - pairs.id_a == 10000)]
    assert (exact_rows.est_jaccard >= 0.99).all()


def test_simhash_near_pairs(spark, docs_with_dups):
    from pii_filter_spark.operators.dedup import simhash_near_pairs

    pairs = simhash_near_pairs(docs_with_dups).toPandas()
    got = {(int(a), int(b)) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert {(i, i + 10000) for i in range(50)} <= got
    exact = pairs[(pairs.id_a < 10000) & (pairs.id_b - pairs.id_a == 10000)]
    assert (exact.hamming == 0).all()


def test_ngram_jaccard_verifier(spark, docs_with_dups):
    from pii_filter_spark.operators.dedup import ngram_jaccard_pairs

    cand = spark.createDataFrame(
        [(i, i + 10000) for i in range(10)] + [(0, 1)], ["id_a", "id_b"]
    )
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(cand, docs_with_dups).collect()
    }
    for i in range(10):
        assert out[(i, i + 10000)] == pytest.approx(1.0)
    assert out[(0, 1)] < 0.9


def test_char_shingles_match_naive_polynomial():
    """The vectorized sliding-window hash must equal per-window evaluation
    of the same polynomial (the determinism contract for resume/retry)."""
    import numpy as np
    from pii_filter_spark.operators.dedup import (
        _MAX_SHINGLE_HASH, _SHINGLE_BASE, _SHINGLE_K, _char_shingles,
    )

    for text in ["hello world example", "ação e reação já", "ab"]:
        k = _SHINGLE_K
        t = " ".join(text.lower().split())
        if len(t) < k:
            t = t.ljust(k, "_")
        naive = set()
        with np.errstate(over="ignore"):  # uint64 wraparound is the hash
            for i in range(len(t) - k + 1):
                h = np.uint64(0)
                for ch in t[i:i + k]:
                    h = h * _SHINGLE_BASE + np.uint64(ord(ch))
                naive.add(int(h & np.uint64(_MAX_SHINGLE_HASH)))
        got = _char_shingles(text)
        assert sorted(naive) == got.tolist()


def test_connected_components_chain_and_clusters(spark):
    """Min-label propagation must close transitive chains (a-b-c-d links
    one component even though a and d never share an edge)."""
    from pii_filter_spark.operators.components import (
        connected_components,
        dedup_clusters,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain -> component 1
         (10, 11), (11, 10),           # duplicate/reversed edges collapse
         (20, 21), (22, 21)],          # star -> component 20
        "id_a long, id_b long",
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21,
                                                 22, 99]], "doc_id long")
    out = {r.doc_id: (r.cluster_id, r.is_survivor)
           for r in dedup_clusters(docs, edges).collect()}
    assert out[99] == (99, True)       # singleton: its own survivor
    assert out[4] == (1, False)
    assert sum(1 for c, s in out.values() if s) == 4  # one survivor/cluster


def test_connected_components_long_chain(spark):
    """Adversarial path graph (round-3 VERDICT #5): a 10k-vertex chain has
    diameter 10k — min-label propagation could never close it in a sane
    iteration budget; alternating large-star/small-star must converge in
    O(log n) rounds under the default max_iter and label every vertex
    with the chain's minimum."""
    from pii_filter_spark.operators.components import connected_components

    n = 10_000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    # threshold=0 forces the DISTRIBUTED star loop — this test exists to
    # pin its chain behavior; the small-graph union-find path would
    # otherwise absorb a 10k-edge graph
    comp = connected_components(edges, small_graph_threshold=0)
    assert (
        comp.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("component").alias("c"),
            F.min("component").alias("m"),
        ).first()
        == (n, 1, 0)
    )


def test_connected_components_two_large_blocks(spark):
    """Two interleaved odd/even chains must NOT merge (no edge between
    parities), and each must root at its own minimum."""
    from pii_filter_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 2) for i in range(0, 2000)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert all(c == (i % 2) for i, c in comp.items())


def test_connected_components_raises_on_iteration_cap(spark):
    from pii_filter_spark.operators.components import connected_components

    # a 5-chain needs >1 iteration; cap at 1 must raise, not silently
    # return a half-contracted labeling
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1, small_graph_threshold=0)


def test_minhash_lsh_degenerate_bucket_guard(spark, monkeypatch):
    """10^12-scale hazard (round-2 VERDICT #1): boilerplate-identical docs
    collapse into ONE bucket per band; empty docs all hash to the
    all-zero signature. The guard must (a) filter degenerate signatures
    before banding and (b) reroute oversized buckets through the linear
    star expansion so no task goes quadratic — here 3000 identical docs
    with a cap of 100 must yield exactly n-1 star pairs, not n*(n-1)/2."""
    import pii_filter_spark.operators.dedup as D
    from pii_filter_spark.operators.dedup import minhash_lsh_pairs

    monkeypatch.setattr(D, "DEFAULT_MAX_BUCKET", 100)
    n = 3000
    same = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate disclaimer text repeated everywhere").alias(
            "text"
        ),
    )
    empty = spark.range(500).select(
        (F.col("id") + 100_000).alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("")).otherwise(F.lit("   ")).alias(
            "text"
        ),
    )
    pairs = minhash_lsh_pairs(same.unionByName(empty)).toPandas()
    assert len(pairs) == n - 1                      # star, not quadratic
    assert (pairs.id_a == 0).all()                  # min-id representative
    assert set(pairs.id_b) == set(range(1, n))      # every doc reachable
    assert (pairs.est_jaccard == 1.0).all()
    assert (pairs.id_b < 100_000).all()             # empty docs filtered


def test_simhash_degenerate_bucket_guard(spark, monkeypatch):
    import pii_filter_spark.operators.dedup as D
    from pii_filter_spark.operators.dedup import simhash_near_pairs

    monkeypatch.setattr(D, "DEFAULT_MAX_BUCKET", 100)
    n = 3000
    same = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical tokens in every single row of this table").alias("text"),
    )
    empty = spark.range(500).select(
        (F.col("id") + 100_000).alias("doc_id"), F.lit(" ").alias("text")
    )
    pairs = simhash_near_pairs(same.unionByName(empty)).toPandas()
    assert len(pairs) == n - 1
    assert (pairs.id_a == 0).all()
    assert set(pairs.id_b) == set(range(1, n))
    assert (pairs.hamming == 0).all()
    assert (pairs.id_b < 100_000).all()


def test_lsh_cap_no_effect_below_threshold(spark, docs_with_dups, monkeypatch):
    """With buckets under the cap the guarded expansion must be
    pair-for-pair identical to the quadratic one (cap = no-op)."""
    import pii_filter_spark.operators.dedup as D
    from pii_filter_spark.operators.dedup import minhash_lsh_pairs

    base = minhash_lsh_pairs(docs_with_dups).toPandas()
    monkeypatch.setattr(D, "DEFAULT_MAX_BUCKET", 10**9)
    huge_cap = minhash_lsh_pairs(docs_with_dups).toPandas()
    key = lambda df: sorted(zip(df.id_a, df.id_b, df.est_jaccard))
    assert key(base) == key(huge_cap)


def test_lsh_bucket_stats_accounting(spark, docs_with_dups):
    """Histogram must account for every (doc, band) membership exactly
    once: sum(bucket_size * n_buckets) == bands * n_docs (no degenerate
    docs in this corpus), and candidate_pairs follows m*(m-1)/2."""
    from pii_filter_spark.operators.dedup import BANDS, lsh_bucket_stats

    stats = lsh_bucket_stats(docs_with_dups).toPandas()
    n_docs = docs_with_dups.count()
    assert (stats.bucket_size * stats.n_buckets).sum() == BANDS * n_docs
    for _, r in stats.iterrows():
        assert r.candidate_pairs == r.n_buckets * (r.bucket_size * (r.bucket_size - 1) // 2)
    # the 50 planted exact copies guarantee multi-member buckets exist
    assert (stats.bucket_size >= 2).any()


def test_phash_near_pairs_finds_planted_flips(spark):
    """Image near-dup discovery: 2-bit-flipped phash copies must pair
    with their originals at hamming 2; unrelated random hashes don't."""
    from pii_filter_spark.operators.dedup import hamming_near_pairs
    from pii_filter_spark.sources.synth import gen_pandas

    pdf = gen_pandas(200, seed=7)[["image_id", "phash"]]
    base = spark.createDataFrame(pdf)
    flips = base.where(F.substring("image_id", 5, 8).cast("int") % 4 == 0).select(
        F.concat("image_id", F.lit("_re")).alias("image_id"),
        F.col("phash").bitwiseXOR(F.lit(3)).alias("phash"),
    )
    pairs = hamming_near_pairs(
        base.unionByName(flips), "phash", "image_id", max_hamming=3
    ).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    for i in range(0, 200, 4):
        assert (f"img_{i:08d}", f"img_{i:08d}_re") in got
    planted = pairs[pairs.id_b.str.endswith("_re")
                    & (pairs.id_b == pairs.id_a + "_re")]
    assert (planted.hamming == 2).all()


def test_vectorized_bucket_expansion_equals_native(spark):
    """Medium/large buckets route through the numpy expansion; the pair
    set and est values must be IDENTICAL to the native HOF expansion
    (same i<j set, same integer/num_hashes division)."""
    import pandas as pd
    import pii_filter_spark.operators.dedup as D
    from pii_filter_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "the same boilerplate text repeated in every family row")
            for i in range(80)]
    rows += [(1000 + i,
              f"unique document number {i} with distinct words and content")
             for i in range(40)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    vec = minhash_lsh_pairs(df).toPandas()
    old = D._VECTORIZE_FROM
    try:
        D._VECTORIZE_FROM = 10 ** 9  # force everything native
        nat = minhash_lsh_pairs(df).toPandas()
    finally:
        D._VECTORIZE_FROM = old
    key = lambda d: sorted(zip(d.id_a, d.id_b, d.est_jaccard))
    assert key(vec) == key(nat)
    assert len(vec) >= 80 * 79 / 2  # the identical family alone


def test_vectorized_hamming_buckets_equal_native(spark):
    """Hamming hybrid (simhash/phash): LUT-popcount numpy path must match
    the native bit_count expansion exactly, including string ids."""
    import pandas as pd
    import pii_filter_spark.operators.dedup as D
    from pii_filter_spark.operators.dedup import hamming_near_pairs

    rows = [(f"img_{i:04d}", 0x0123456789ABCDEF) for i in range(60)]
    rows += [(f"img_{1000+i:04d}", (0x0123456789ABCDEF ^ (1 << (i % 8))))
             for i in range(20)]          # 1-bit flips of the family hash
    rows += [(f"img_{2000+i:04d}", (i * 0x9E3779B97F4A7C15) % (1 << 63))
             for i in range(30)]          # unrelated hashes
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "phash"])
    )
    vec = hamming_near_pairs(df, "phash", "image_id", max_hamming=3).toPandas()
    old = D._VECTORIZE_FROM
    try:
        D._VECTORIZE_FROM = 10 ** 9
        nat = hamming_near_pairs(df, "phash", "image_id", max_hamming=3).toPandas()
    finally:
        D._VECTORIZE_FROM = old
    key = lambda d: sorted(zip(d.id_a, d.id_b, d.hamming))
    assert key(vec) == key(nat)
    assert len(vec) >= 60 * 59 / 2


def test_star_reroute_does_not_mask_pairs_found_in_normal_buckets(spark, monkeypatch):
    """Round-3 review regression: ids 90/91 are hamming-1 near-dups that
    share an OVERSIZED chunk-0 bucket (starred, only min-id pairs) AND a
    normal-sized chunk-1 bucket. The normal bucket must still emit the
    pair — a first-colliding-chunk emission guard silently dropped it."""
    import pii_filter_spark.operators.dedup as D
    from pii_filter_spark.operators.dedup import hamming_near_pairs

    monkeypatch.setattr(D, "DEFAULT_MAX_BUCKET", 4)
    base = 0x0123000000000000  # chunks 1-3 vary below; chunk 0 = 0x0123? no:
    # construct: all rows share chunk 3 (bits 48-63) -> oversized bucket;
    # rows 90,91 additionally share chunks 0-2 except one flipped bit.
    rows = []
    for i in range(6):
        rows.append((i, (0x4444 << 48) | (i * 0x1111_2222_3333) & 0xFFFFFFFFFFFF))
    # 90/91: share chunk 3 (oversized bucket) AND chunks 1,2; differ by 1 bit in chunk 0
    rows.append((90, (0x4444 << 48) | 0x0AAA_BBBB_C000))
    rows.append((91, (0x4444 << 48) | 0x0AAA_BBBB_C001))
    df = spark.createDataFrame(rows, "doc_id long, h long")
    pairs = hamming_near_pairs(df, "h", "doc_id", max_hamming=3).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (90, 91) in got, got


def test_dedup_clusters_best_survivor_is_argmax(spark):
    """Quality-aware survivor: highest score wins the cluster, min-id
    breaks ties, singletons survive themselves."""
    from pii_filter_spark.operators.components import dedup_clusters_best

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 4), (99, 1)],
        "doc_id long, score long",
    )
    out = {r.doc_id: (r.cluster_id, r.is_survivor)
           for r in dedup_clusters_best(docs, edges).collect()}
    assert out[2] == (1, True)     # score 9, min id among the 9s
    assert out[3] == (1, False)    # tie loses to smaller id
    assert out[1] == (1, False)
    assert out[10] == (10, True) and out[11] == (10, False)
    assert out[99] == (99, True)   # singleton


def test_connected_components_paths_agree(spark):
    """The driver union-find fast path and the distributed star loop
    must produce the identical min-id labeling on the same graph
    (random clusters + a chain + singleton-free edge list)."""
    import random

    from pii_filter_spark.operators.components import connected_components

    rng = random.Random(13)
    edges = [(i, i + 1) for i in range(50)]                  # chain
    edges += [(100 + rng.randrange(30), 100 + rng.randrange(30))
              for _ in range(60)]                            # blob
    edges += [(200, 201), (202, 201), (203, 200)]            # star
    df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    fast = sorted(map(tuple, connected_components(df).collect()))
    dist = sorted(map(tuple,
                      connected_components(df, small_graph_threshold=0)
                      .collect()))
    assert fast == dist


def test_connected_components_string_ids_driver_path(spark):
    """The vectorized driver path must preserve min-id semantics for
    STRING vertex ids too (np.unique sorts code points; UTF-8 byte
    order == code-point order, matching Spark's least/min)."""
    from pii_filter_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "y"), ("é", "z")],
        "id_a string, id_b string",
    )
    got = {r["id"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "x": "x", "y": "x", "z": "z", "é": "z"}

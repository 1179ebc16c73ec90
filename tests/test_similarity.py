"""ANN operators: brute-force cosine baseline + SRP-LSH scale path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pii_filter_spark.operators.similarity import DIM

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    return ids, mat


def _numpy_topk(ids, mat, query, k):
    q = np.asarray(query, dtype=np.float64)
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -sims))[:k]
    return [(int(ids[i]), float(sims[i])) for i in order]


def test_bruteforce_matches_numpy(spark, emb, emb_np):
    from pii_filter_spark.operators.similarity import cosine_topk_bruteforce

    ids, mat = emb_np
    query = mat[0].tolist()
    got = cosine_topk_bruteforce(emb, query).collect()
    exp = _numpy_topk(ids, mat, query, 10)
    assert [r["vec_id"] for r in got] == [e[0] for e in exp]
    for r, e in zip(got, exp):
        assert r["cos_sim"] == pytest.approx(e[1], abs=1e-9)
    # self-similarity tops the list
    assert got[0]["vec_id"] == int(ids[0])
    assert got[0]["cos_sim"] == pytest.approx(1.0, abs=1e-9)


def test_lsh_recall_vs_bruteforce(spark, emb, emb_np):
    from pii_filter_spark.operators.similarity import cosine_topk_lsh

    ids, mat = emb_np
    recalls = []
    for qi in (0, 7, 42):
        query = mat[qi].tolist()
        exact = {e[0] for e in _numpy_topk(ids, mat, query, 10)}
        approx = {
            r["vec_id"]
            for r in cosine_topk_lsh(emb, query).collect()
        }
        recalls.append(len(exact & approx) / 10)
    assert sum(recalls) / len(recalls) >= 0.5  # ANN: useful recall, not exact


def test_embedding_norms(spark, emb, emb_np):
    from pii_filter_spark.operators.similarity import embedding_norms

    ids, mat = emb_np
    got = {r["vec_id"]: r["l2_norm"] for r in embedding_norms(emb).collect()}
    exp = np.linalg.norm(mat, axis=1)
    for i, vid in enumerate(ids):
        assert got[int(vid)] == pytest.approx(float(exp[i]), rel=1e-9)


def test_cosine_near_pairs_exact_vs_lsh(spark):
    """LSH candidate path must reproduce the exact path's pairs (same
    threshold) with high recall on clustered inputs; both ordered-normalized."""
    import numpy as np
    from pii_filter_spark.operators.similarity import (
        cosine_near_pairs_exact,
        cosine_near_pairs_lsh,
    )

    rng = np.random.default_rng(5)
    base = rng.standard_normal((60, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i % 3 == 0:  # a near-dup at small angle
            w = v + rng.standard_normal(64) * 0.05
            rows.append((1000 + i, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_near_pairs_exact(df).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_near_pairs_lsh(df).collect()
    }
    assert len(exact) >= 15  # most planted dups survive the NEAR_COS threshold
    # LSH returns a subset of the exact pairs, with identical cosines
    assert set(approx) <= set(exact)
    for k, v in approx.items():
        assert abs(v - exact[k]) < 1e-9
    recall = len(approx) / len(exact)
    assert recall >= 0.9, (recall, len(exact), len(approx))


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF (deterministic k-means quantizer + nprobe probe) must recover
    most of the exact top-k while scanning only a cluster subset."""
    import numpy as np
    from pii_filter_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    query = [float(x) for x in emb.where("vec_id = 7").first()["embedding"]]
    cents = train_ivf_centroids(emb)
    assert cents.shape[1] == 64
    # determinism
    cents2 = train_ivf_centroids(emb)
    assert np.allclose(cents, cents2)

    exact = [r.vec_id for r in cosine_topk_bruteforce(emb, query).collect()]
    approx = [
        r.vec_id
        for r in cosine_topk_ivf(emb, query, cents).collect()
    ]
    assert approx[0] == 7  # the query vector itself
    overlap = len(set(exact) & set(approx)) / 10
    assert overlap >= 0.5, (exact, approx)


def test_cosine_near_pairs_exact_enforces_row_bound(spark):
    """The driver-collect baseline must refuse unbounded inputs loudly
    (VERDICT: nothing previously enforced the 'one side fits' precondition)."""
    from pii_filter_spark.operators.similarity import cosine_near_pairs_exact

    df = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=3) for _ in range(4)]).alias("embedding"),
    )
    with pytest.raises(ValueError, match="cosine_near_pairs_lsh"):
        cosine_near_pairs_exact(df, max_rows=10)
    # at/below the bound it still works: the rows are (r, r, r, r), so
    # every pair has cosine 1
    out = cosine_near_pairs_exact(df, max_rows=50)
    assert out.count() == 50 * 49 / 2


def test_lsh_drops_zero_norm_vectors(spark):
    from pii_filter_spark.operators.similarity import cosine_near_pairs_lsh

    rows = [(1, [1.0] * DIM), (2, [1.0] * DIM), (3, [0.0] * DIM)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = cosine_near_pairs_lsh(df).collect()
    ids = {r.id_a for r in got} | {r.id_b for r in got}
    assert 3 not in ids  # zero-norm: no direction, no NaN pairs
    assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}


def test_srp_lsh_degenerate_bucket_guard(spark, monkeypatch):
    """Identical embeddings all land in one SRP chunk bucket per chunk;
    the cap must reroute to the linear star expansion (n-1 pairs from
    the min-id representative) instead of an O(n^2) in-array blowup."""
    import pii_filter_spark.operators.dedup as D
    from pii_filter_spark.operators.similarity import cosine_near_pairs_lsh

    monkeypatch.setattr(D, "DEFAULT_MAX_BUCKET", 100)
    n = 2000
    same = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i + 1)) for i in range(DIM)]).alias("embedding"),
    )
    zeros = spark.range(100).select(
        (F.col("id") + 100_000).alias("vec_id"),
        F.array(*[F.lit(0.0)] * DIM).alias("embedding"),
    )
    pairs = cosine_near_pairs_lsh(same.unionByName(zeros)).toPandas()
    assert len(pairs) == n - 1
    assert (pairs.id_a == 0).all()
    assert set(pairs.id_b) == set(range(1, n))
    assert (pairs.cos_sim >= 0.999).all()
    assert (pairs.id_b < 100_000).all()   # zero-norm rows dropped


def test_vectorized_cosine_buckets_equal_native(spark):
    """SRP hybrid expansion: numpy left-to-right dot must reproduce the
    native HOF fold bit-for-bit (pair set and cos values identical)."""
    import pandas as pd
    import pii_filter_spark.operators.dedup as D
    from pii_filter_spark.operators.similarity import cosine_near_pairs_lsh

    rows = [(i, [float(j + 1) * 0.1 for j in range(DIM)]) for i in range(60)]
    rows += [(1000 + i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(DIM)])
             for i in range(30)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    vec = cosine_near_pairs_lsh(df).toPandas()
    old = D._VECTORIZE_FROM
    try:
        D._VECTORIZE_FROM = 10 ** 9
        nat = cosine_near_pairs_lsh(df).toPandas()
    finally:
        D._VECTORIZE_FROM = old
    key = lambda d: sorted(zip(d.id_a, d.id_b, d.cos_sim))  # exact doubles
    assert key(vec) == key(nat)
    assert len(vec) >= 60 * 59 / 2  # identical-vector family


def test_cosine_topk_batch_partition_invariant(spark, emb, emb_np):
    """Batch ANN must be independent of input partitioning (the local
    top-k accumulates per partition; component-order arithmetic keeps
    cosines identical for any split) and must agree with a numpy
    reference on ids and ranks."""
    import numpy as np
    from pii_filter_spark.operators.similarity import cosine_topk_batch

    ids, mat = emb_np
    queries = mat[:3].astype(np.float64)
    a = cosine_topk_batch(emb.repartition(7), queries).toPandas()
    b = cosine_topk_batch(emb.repartition(2), queries).toPandas()
    key = lambda d: sorted(
        zip(d["query_idx"], d["rank"], d["vec_id"], d["cos_sim"])
    )  # d.rank would be the DataFrame METHOD, not the column
    assert key(a) == key(b)
    # numpy reference (same component-order accumulation)
    acc = np.zeros((len(ids), 3))
    for c in range(mat.shape[1]):
        acc += mat[:, c].astype(np.float64)[:, None] * queries[None, :, c]
    vn = (mat.astype(np.float64) ** 2).sum(axis=1) ** 0.5
    qn = (queries ** 2).sum(axis=1) ** 0.5
    cos = acc / (vn[:, None] * qn[None, :])
    for qi in range(3):
        expect = sorted(zip(-cos[:, qi], ids))[:5]
        got = a[a.query_idx == qi].sort_values("rank")
        assert list(got.vec_id) == [int(i) for _, i in expect]

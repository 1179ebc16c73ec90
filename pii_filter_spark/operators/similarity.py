"""Approximate-nearest-neighbor search over an embedding column.

Two paths over `embeddings(vec_id, embedding array<float>, label)`:

  * brute-force cosine top-k — the exactness baseline. The dot product and
    norms are NATIVE higher-order-function expressions (zip_with +
    aggregate), so the scan stays in whole-stage codegen and the only
    Python anywhere is the driver literal for the query vector. Top-k is
    orderBy+limit, which Spark executes as per-partition TakeOrdered + a
    tiny final merge — no global sort shuffle.

  * LSH-bucketed (random hyperplane / SRP) — the scale path. A fixed-seed
    plane matrix (one numpy matmul per Arrow batch inside a pandas UDF)
    gives every row a signature; candidates are rows whose signature
    agrees with the query's on >= (TOPK_PLANES - MAX_FLIP) bits, checked with
    bit_count(xor) natively — a full-scan-but-cheap filter here; at real
    scale the signature becomes the table's partition/bucket key so the
    probe prunes partitions instead of scanning.

  * IVF (k-means coarse quantizer) — the other classic scale path:
    train_ivf_centroids (deterministic driver-side k-means on a bounded
    sample) + ivf_assign (cluster column; the table's partition key at
    production scale) + cosine_topk_ivf (probe NPROBE clusters with a
    native IN-list predicate → partition pruning, then exact cosine).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .dedup import _bucket_members, _bucket_pairs, _chunk_keys

DIM = 64  # embedding width
K_NEAREST = 10  # rows returned by the single-query top-k searches
TOPK_PLANES, MAX_FLIP = 16, 6  # cosine_topk_lsh: signature bits, bits that may differ
PAIR_PLANES, PAIR_CHUNKS = 64, 8  # cosine_near_pairs_lsh: 8 buckets of 8 bits
SRP_SEED = 31  # seed of the random hyperplanes
NEAR_COS = 0.85  # cosine at or above which two embeddings are near-duplicates
IVF_K, IVF_ITERS, NPROBE = 8, 8, 4  # IVF codebook size, k-means steps, probed clusters
BATCH_K = 5  # rows per query of cosine_topk_batch


def _dot_expr(vec_col, query: Sequence[float]):
    q = F.array(*[F.lit(float(x)) for x in query])
    return F.aggregate(
        F.zip_with(vec_col, q, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm_expr(vec_col):
    return F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk_bruteforce(df: DataFrame, query: Sequence[float]) -> DataFrame:
    """Exact cosine top-K_NEAREST, fully JVM-side."""
    qnorm = float(np.sqrt(np.dot(query, query)))
    vec = F.col("embedding")
    sim = _dot_expr(vec, query) / (_norm_expr(vec) * F.lit(qnorm))
    return (
        df.select(F.col("vec_id"), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(K_NEAREST)
    )


def srp_signature_udf(dim: int, planes: int):
    """Signed-random-projection signature as a long (bit i = sign of proj i)."""
    rng = np.random.default_rng(SRP_SEED)
    mat = rng.standard_normal((dim, planes))

    @F.pandas_udf(LongType())
    def _sig(vecs: pd.Series) -> pd.Series:
        out = np.zeros(len(vecs), dtype=np.int64)
        if len(vecs):
            arr = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            bits = (arr @ mat) > 0
            out = (bits.astype(np.int64) << np.arange(planes, dtype=np.int64)).sum(axis=1)
        return pd.Series(out, dtype="int64")

    return _sig


def srp_query_signature(query: Sequence[float]) -> int:
    rng = np.random.default_rng(SRP_SEED)
    mat = rng.standard_normal((len(query), TOPK_PLANES))
    bits = (np.asarray(query, dtype=np.float64) @ mat) > 0
    return int((bits.astype(np.int64) << np.arange(TOPK_PLANES, dtype=np.int64)).sum())


def cosine_topk_lsh(df: DataFrame, query: Sequence[float]) -> DataFrame:
    """Approximate top-K_NEAREST: SRP bucket filter, exact cosine on survivors."""
    sig_udf = srp_signature_udf(len(query), TOPK_PLANES)
    qsig = srp_query_signature(query)
    qnorm = float(np.sqrt(np.dot(query, query)))
    vec = F.col("embedding")
    candidates = df.withColumn("_sig", sig_udf(vec)).where(
        F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig))) <= MAX_FLIP
    )
    sim = _dot_expr(vec, query) / (_norm_expr(vec) * F.lit(qnorm))
    return (
        candidates.select(F.col("vec_id"), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(K_NEAREST)
    )


def embedding_norms(df: DataFrame) -> DataFrame:
    return df.select(F.col("vec_id"), _norm_expr(F.col("embedding")).alias("l2_norm"))


def cosine_near_pairs_exact(df: DataFrame, max_rows: int = 1_000_000) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (id_a < id_b, cos_sim >= NEAR_COS).

    Broadcast-matmul brute force: the (id, unit-vector) matrix is collected
    to the driver, broadcast to executors, and each Arrow batch does ONE
    numpy matmul against it — no crossJoin, no shuffle, vectorized end to
    end. This is the correctness baseline / small-side verifier: it is the
    right plan whenever one side fits in executor memory (here: the whole
    table, mirroring a dedup pass where the dictionary side is bounded).
    For tables where no side fits, use cosine_near_pairs_lsh. The
    bounded-side precondition is ENFORCED: more than `max_rows` rows
    raises instead of silently OOMing the driver at scale.
    """
    probe = df.select("vec_id").limit(max_rows + 1).count()
    if probe > max_rows:
        raise ValueError(
            f"cosine_near_pairs_exact: input exceeds max_rows={max_rows} "
            "(driver-collected broadcast baseline); use cosine_near_pairs_lsh "
            "for unbounded tables, or raise max_rows explicitly."
        )
    rows = df.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def _pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m, idv = b_mat.value, b_ids.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            q = q / np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ m.T
            qid = pdf["vec_id"].to_numpy(dtype=np.int64)
            # id_a < id_b keeps each unordered pair exactly once
            ri, ci = np.nonzero((sims >= NEAR_COS) & (qid[:, None] < idv[None, :]))
            yield pd.DataFrame(
                {
                    "id_a": qid[ri],
                    "id_b": idv[ci],
                    "cos_sim": sims[ri, ci],
                }
            )

    return df.select("vec_id", "embedding").mapInPandas(
        _pairs, schema="id_a long, id_b long, cos_sim double"
    )


def cosine_near_pairs_lsh(df: DataFrame) -> DataFrame:
    """Pairs (id_a < id_b, cos_sim >= NEAR_COS) of DIM-wide `embedding`s.

    Scale path: SRP-signature chunk bucketing (any pair of vectors at
    angle <= theta agrees on a whole chunk with high probability), bucket
    collect_list, in-bucket pair expansion with exact cosine verification —
    same no-self-join shape as minhash_lsh_pairs/simhash_near_pairs, so
    the signature UDF runs once and only verified pairs leave the task.
    Buckets above dedup.DEFAULT_MAX_BUCKET (identical/boilerplate
    embeddings piling into one SRP chunk value at 10^12-row scale) take
    the linear star reroute instead of the quadratic expansion.

    The norm is computed ONCE per row as a struct field (an O(d)
    aggregate); normalizing inside a transform lambda instead would
    re-evaluate it per element (O(d^2) per row — Catalyst does not hoist
    loop-invariant subexpressions out of HOF lambdas). Zero-norm vectors
    are dropped up front: they have no cosine direction and would
    otherwise emit NaN pairs silently."""
    # 64 planes / 8 chunks -> 8-bit (256-way) buckets: ~16x fewer candidate
    # cosines than 4-bit buckets at equal recall (~0.94 for cos>=0.87 pairs)
    sig_udf = srp_signature_udf(DIM, PAIR_PLANES)
    vec = F.col("embedding")
    sigs = df.where(_norm_expr(vec) > 0).select(
        F.col("vec_id"), vec, sig_udf(vec).alias("_sig")
    )
    members = _bucket_members(sigs, _cosine_member(), _chunk_keys("_sig", PAIR_CHUNKS))
    return cosine_pairs_from_buckets(members)


def _cosine_member():
    """The member struct cosine_pairs_from_buckets expects, of (vec_id,
    embedding) rows."""
    vec = F.col("embedding")
    return F.struct(
        F.col("vec_id").alias("id"),
        F.transform(vec, lambda x: x.cast("double")).alias("v"),
        _norm_expr(vec).alias("nrm"),
    )


def cosine_pairs_from_buckets(members: DataFrame) -> DataFrame:
    """Verified cosine pairs (id_a < id_b, cos_sim >= NEAR_COS) from
    pre-bucketed candidates: `members` has an `ms` column of
    array<struct<id, v:array<double>, nrm:double>> (any bucketing — SRP
    chunks, IVF clusters). Shared by cosine_near_pairs_lsh and semdedup.

    The numpy score accumulates LEFT-TO-RIGHT over components —
    bit-identical to the native HOF fold (numpy's pairwise-sum dot would
    round differently and could flip a threshold boundary)."""

    def _cos(x, y):
        return F.aggregate(
            F.zip_with(x["v"], y["v"], lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ) / (x["nrm"] * y["nrm"])

    def _cos_matrix(ms):
        vecs = np.array([x["v"] for x in ms], dtype=np.float64)
        nrm = np.fromiter((x["nrm"] for x in ms), dtype=np.float64,
                          count=len(ms))
        acc = np.zeros((len(ms), len(ms)), dtype=np.float64)
        for c in vecs.T:  # left-to-right like the fold
            acc += c[:, None] * c[None, :]
        return acc / (nrm[:, None] * nrm[None, :])

    return _bucket_pairs(
        members, "cos_sim", "double", _cos, _cos_matrix,
        lambda cos: cos >= NEAR_COS,
    )


def train_ivf_centroids(df: DataFrame) -> np.ndarray:
    """Deterministic k-means coarse quantizer (IVF training): IVF_K
    centroids after IVF_ITERS steps.

    Trains driver-side on a bounded sample of 2048 rows — the standard
    IVF recipe: the codebook is tiny (k × dim) and training needs one
    pass over a sample, not the table. numpy only, fixed iteration
    count, seeded init, and the sample is taken in `vec_id` order (plain
    limit() picks rows by partition layout), so the same data yields the
    same centroids on any cluster."""
    rows = df.select("vec_id", "embedding").orderBy("vec_id").limit(2048).collect()
    rows = [(r[1],) for r in rows]
    x = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    rng = np.random.default_rng(17)
    cent = x[rng.choice(len(x), size=min(IVF_K, len(x)), replace=False)]
    for _ in range(IVF_ITERS):
        assign = np.argmax(x @ cent.T, axis=1)  # cosine on unit vectors
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / (np.linalg.norm(m) or 1.0)
    return cent


def ivf_assign(df: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Adds `ivf_cluster`: nearest-centroid id of each row's `embedding`
    (one numpy matmul per Arrow batch). At production scale this column becomes the
    table's partition/bucket key so probes prune partitions."""
    b_cent = df.sparkSession.sparkContext.broadcast(centroids)

    @F.pandas_udf(LongType())
    def _assign(vecs: pd.Series) -> pd.Series:
        cent = b_cent.value
        if not len(vecs):
            return pd.Series([], dtype="int64")
        arr = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        arr = arr / np.linalg.norm(arr, axis=1, keepdims=True)
        return pd.Series(np.argmax(arr @ cent.T, axis=1).astype(np.int64))

    return df.withColumn("ivf_cluster", _assign(F.col("embedding")))


def cosine_topk_ivf(
    df: DataFrame,
    query: Sequence[float],
    centroids: np.ndarray,
) -> DataFrame:
    """IVF probe: exact cosine top-K_NEAREST over only the NPROBE clusters
    nearest to the query. The cluster filter is a native IN-list
    predicate — with the table partitioned by ivf_cluster it becomes
    partition pruning instead of a scan-and-filter."""
    q = np.asarray(query, dtype=np.float64)
    q = q / np.linalg.norm(q)
    probes = np.argsort(-(centroids @ q))[:NPROBE].tolist()
    qnorm = float(np.linalg.norm(query))
    assigned = ivf_assign(df, centroids)
    vec = F.col("embedding")
    sim = _dot_expr(vec, query) / (_norm_expr(vec) * F.lit(qnorm))
    return (
        assigned.where(F.col("ivf_cluster").isin(probes))
        .select(F.col("vec_id"), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(K_NEAREST)
    )


def cosine_topk_batch(df: DataFrame, queries: "np.ndarray") -> DataFrame:
    """Exact cosine top-BATCH_K for a BATCH of query vectors (Q x D numpy) —
    the realistic retrieval shape (one driver query per probe doesn't
    scale past a handful of lookups).

    Plan: the query matrix broadcasts; each PARTITION computes cosines
    for all queries in one numpy pass and keeps only its local top-k per
    query (the mapInPandas generator accumulates across the partition's
    Arrow batches and yields once), so at most partitions * Q * BATCH_K
    rows ever leave the scan; a tiny global window re-ranks them to the
    final top-BATCH_K. Cosines accumulate component-by-component (acc += v_k * q_k),
    NOT via BLAS matmul: BLAS blocking changes summation order with
    batch size, which would make results depend on partitioning — the
    explicit loop is deterministic for any split and is what the fixture
    oracle replicates. Ties break by id ascending.

    Output: (query_idx int, vec_id, cos_sim double, rank int)."""
    from pyspark.sql import Window

    q = np.asarray(queries, dtype=np.float64)
    qnorm = np.sqrt((q * q).sum(axis=1))
    spark = df.sparkSession
    b_q = spark.sparkContext.broadcast(q)
    b_qn = spark.sparkContext.broadcast(qnorm)
    id_type = dict(df.dtypes)["vec_id"]

    def _local_topk(batches):
        qm, qn = b_q.value, b_qn.value
        nq, dim = qm.shape
        best_sim = [[] for _ in range(nq)]
        best_id = [[] for _ in range(nq)]
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            ids = np.array(list(pdf["vec_id"]))
            acc = np.zeros((len(vecs), nq), dtype=np.float64)
            for c in range(dim):  # deterministic order, see docstring
                acc += vecs[:, c][:, None] * qm[None, :, c]
            vn = np.zeros(len(vecs), dtype=np.float64)
            for c in range(dim):
                vn += vecs[:, c] * vecs[:, c]
            cos = acc / (np.sqrt(vn)[:, None] * qn[None, :])
            for qi in range(nq):
                best_sim[qi].extend(cos[:, qi].tolist())
                best_id[qi].extend(ids.tolist())
                if len(best_sim[qi]) > 4 * BATCH_K:
                    order = sorted(
                        range(len(best_sim[qi])),
                        key=lambda i: (-best_sim[qi][i], best_id[qi][i]),
                    )[:BATCH_K]
                    best_sim[qi] = [best_sim[qi][i] for i in order]
                    best_id[qi] = [best_id[qi][i] for i in order]
        out_q, out_id, out_c = [], [], []
        for qi in range(nq):
            order = sorted(
                range(len(best_sim[qi])),
                key=lambda i: (-best_sim[qi][i], best_id[qi][i]),
            )[:BATCH_K]
            out_q.extend([qi] * len(order))
            out_id.extend(best_id[qi][i] for i in order)
            out_c.extend(best_sim[qi][i] for i in order)
        yield pd.DataFrame(
            {"query_idx": out_q, "vec_id": out_id, "cos_sim": out_c}
        )

    local = df.select("vec_id", "embedding").mapInPandas(
        _local_topk,
        schema=f"query_idx int, vec_id {id_type}, cos_sim double",
    )
    w = Window.partitionBy("query_idx").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BATCH_K)
        .select("query_idx", "vec_id", "cos_sim", "rank")
    )

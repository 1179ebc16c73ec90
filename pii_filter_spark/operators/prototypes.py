"""D4-style embedding prototypicality (Tirumala et al. 2023, "D4:
Improving LLM Pretraining via Document De-Duplication and
Diversification"): after SemDeDup removes near-duplicates, D4 also
drops the most PROTOTYPICAL points of each k-means cluster — documents
nearly identical to their cluster's center add little diversity.

Shape: the same bounded driver-side IVF codebook the ANN/semdedup
stages already use (similarity.train_ivf_centroids — deterministic,
id-ordered sample), then ONE Arrow pass computes per-row (cluster,
cosine-to-centroid). The cosine is quantized to integer micro-units
(round half-even at 1e6) so ranking and the oracle twin compare exact
integers — the one float product happens identically (numpy float64)
in the UDF and the fixture. Flagging the top fraction per cluster is
one row_number window over the cluster key.

Scale: the codebook is k x dim (broadcast); scoring shuffles nothing;
the flag window shuffles once on ivf_cluster — k-means clusters are
size-balanced by construction (vs. power-law dedup keys), and at
10^12 rows the same two-phase salt used elsewhere applies if a
codebook is trained badly enough to skew.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MICRO = 1_000_000
DROP_FRAC = 0.1  # most-prototypical share of each cluster that D4 drops


def prototypicality_scores(df: DataFrame, centroids: np.ndarray) -> DataFrame:
    """(vec_id, ivf_cluster, proto_micro): nearest-centroid id and the
    cosine to that centroid in integer micro-units. One Arrow pass."""
    b_cent = df.sparkSession.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64)
    )

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = b_cent.value
        for pdf in batches:
            if not len(pdf):
                continue
            # per-row gemv, NOT a batched gemm: BLAS reduction order for
            # an (n,d)@(d,k) product can depend on n, and Arrow batch
            # sizes depend on partitioning — a batched matmul would make
            # the micro-rounded score partition-variant at the last ulp.
            # The (d,)@(d,k) shape here is bit-identical to the oracle
            # twin's, row by row, whatever the batch layout.
            clusters = np.empty(len(pdf), dtype=np.int64)
            micros = np.empty(len(pdf), dtype=np.int64)
            for j, v in enumerate(pdf["embedding"]):
                a = np.asarray(v, dtype=np.float64)
                n = np.linalg.norm(a) or 1.0
                sims = (a / n) @ cent.T
                c = int(np.argmax(sims))
                clusters[j] = c
                micros[j] = int(np.rint(sims[c] * MICRO))
            yield pd.DataFrame(
                {
                    "id": pdf["vec_id"].values,
                    "ivf_cluster": clusters,
                    "proto_micro": micros,
                }
            )

    dtype = dict(df.dtypes)["vec_id"]
    out = df.select("vec_id", "embedding").mapInPandas(
        _score, schema=f"id {dtype}, ivf_cluster long, proto_micro long"
    )
    return out.withColumnRenamed("id", "vec_id")


def flag_prototypes(scores: DataFrame) -> DataFrame:
    """(vec_id, ivf_cluster, proto_micro, is_prototype): marks the
    ceil(DROP_FRAC * cluster_size) most-prototypical rows per cluster
    (ties by lowest id — fully deterministic). D4 DROPS these."""
    w = Window.partitionBy("ivf_cluster").orderBy(
        F.desc("proto_micro"), F.asc("vec_id")
    )
    wc = Window.partitionBy("ivf_cluster")
    return scores.select(
        "vec_id",
        "ivf_cluster",
        "proto_micro",
        (
            F.row_number().over(w)
            <= F.ceil(F.count(F.lit(1)).over(wc) * F.lit(DROP_FRAC))
        ).alias("is_prototype"),
    )


def prototypicality_rows(vecs: list, centroids: np.ndarray) -> list:
    """Pure twin of prototypicality_scores + flag_prototypes for the
    fixture oracle. vecs = [(id, vector), ...]."""
    import math

    cent = np.asarray(centroids, dtype=np.float64)
    scored = []
    for i, v in vecs:
        a = np.asarray(v, dtype=np.float64)
        n = np.linalg.norm(a) or 1.0
        sims = (a / n) @ cent.T
        c = int(np.argmax(sims))
        scored.append((i, c, int(np.rint(sims[c] * MICRO))))
    by_cluster: dict = {}
    for i, c, p in scored:
        by_cluster.setdefault(c, []).append((i, p))
    flags = {}
    for c, members in by_cluster.items():
        members.sort(key=lambda t: (-t[1], t[0]))
        cut = math.ceil(len(members) * DROP_FRAC)
        for rank, (i, _) in enumerate(members, start=1):
            flags[i] = rank <= cut
    return [(i, c, p, flags[i]) for i, c, p in scored]

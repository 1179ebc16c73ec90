"""SemDeDup — semantic deduplication over an embedding column.

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
through semantic deduplication"): cluster embeddings with k-means, then
within each cluster find pairs above a cosine threshold and keep ONE
representative per semantic-duplicate group. Near-duplicate *meanings*
(paraphrases, re-crops, template rewrites) survive MinHash/SimHash text
dedup; this is the curation stage that removes them. The reference
pipeline has no counterpart (per-row scrubber).

Composition of existing scale-proven pieces, no new primitives:
  * train_ivf_centroids / ivf_assign (similarity.py) — the k-means
    coarse quantizer; clusters ARE the candidate buckets, so candidate
    generation costs one groupBy on the cluster id (at production scale
    the table is partitioned by ivf_cluster — the groupBy is
    shuffle-free);
  * cosine_pairs_from_buckets (similarity.py) — hybrid native/numpy
    within-bucket pair expansion with the degenerate-bucket star
    reroute and exact left-to-right cosine verification;
  * connected_components (components.py) — duplicate groups from the
    verified pair list (edge list ≪ corpus);
  * survivor rule: the smallest id of each component is kept —
    deterministic and cluster-invariant (the paper keeps a
    centroid-distance-based choice; the tie-break is unspecified there,
    so this engine pins id order, documented).

Output: every input row with its cluster and keep/drop decision —
downstream curation filters on `keep`.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import connected_components
from .similarity import _cosine_member, cosine_pairs_from_buckets, ivf_assign

def semdedup(df: DataFrame, centroids: "np.ndarray") -> DataFrame:
    """(vec_id, ivf_cluster, keep) — keep=false for every non-smallest
    member of a semantic-duplicate component (pairs at cosine >=
    similarity.NEAR_COS)."""
    assigned = ivf_assign(df, centroids).select(
        F.col("vec_id"), F.col("embedding"), F.col("ivf_cluster")
    )
    members = (
        assigned.select(
            "ivf_cluster", _cosine_member().alias("m")
        )
        .where(F.col("m.nrm") > 0)
        .groupBy("ivf_cluster")
        .agg(F.collect_list("m").alias("ms"))
        .where(F.size("ms") > 1)
    )
    pairs = cosine_pairs_from_buckets(members)
    dropped = (
        connected_components(pairs)
        .where(F.col("id") != F.col("component"))
        .select(F.col("id").alias("vec_id"), F.lit(False).alias("_drop"))
    )
    # No broadcast hint: the dropped list is the duplicate mass, which
    # at web scale can be a large fraction of the corpus — AQE picks
    # broadcast when it is actually small.
    return (
        assigned.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "ivf_cluster",
            F.col("_drop").isNull().alias("keep"),
        )
    )

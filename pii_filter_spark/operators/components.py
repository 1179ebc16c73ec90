"""Connected components over near-duplicate candidate pairs.

Completes the dedup story: LSH produces PAIRS (minhash_lsh_pairs,
simhash_near_pairs, cosine_near_pairs_lsh); real dedup needs CLUSTERS —
transitive closure of the pair graph — and then one survivor per
cluster.

Algorithm: alternating large-star / small-star (Kiveris et al. 2014,
"Connected Components in MapReduce and Beyond", Algorithm 2), expressed
entirely in DataFrame joins/aggregations:

  * large-star(u): for every neighbor v > u, connect v to
    min(N(u) ∪ {u}) — strictly-larger neighbors re-point at u's best
    known root;
  * small-star(u): orient every edge large→small, connect u and all of
    its smaller neighbors to min(N≤(u) ∪ {u}).

Each operation is one groupBy-min + one join, both partitioned by
vertex id. The paper proves the edge set never grows beyond the input
and the alternation converges in O(log² n) rounds (O(log n) in
practice) to a forest of stars, where every vertex has exactly one edge
to its component's minimum id — INCLUDING chain-shaped components,
which the previous min-label-propagation implementation (O(diameter)
rounds) could not close within its iteration bound; see
tests/test_dedup.py::test_connected_components_long_chain.

Convergence is detected exactly (count equality + one-sided subtract —
set equality, not a hashed fingerprint), and hitting max_iter raises
rather than returning a partially contracted labeling. localCheckpoint
truncates the iteration lineage so plans stay constant-size (the
standard iterative-algorithm idiom; on a production cluster use
reliable checkpointing instead).

At 10^12-row scale the edge list is the small side (near-dup pairs ≪
corpus); every shuffle is keyed by vertex id, skewed star-centers are
exactly the rows the algorithm shrinks first, and the doc join in
dedup_clusters stays a plain key join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hook_compress(ea, eb, n_vertices: int):
    """Pure numpy min-id component labeling over index-encoded edges:
    hook-and-compress (Shiloach-Vishkin shape) — each round min-hooks
    both edge endpoints and pointer-jumps labels to full compression.
    Labels only ever copy existing values downward, so the fixpoint is
    exactly the min vertex index per component. O(E) numpy work per
    round, O(log n) rounds. Property-tested against a reference
    union-find (tests/test_components_property.py)."""
    import numpy as np

    lab = np.arange(n_vertices, dtype=np.int64)
    for _ in range(64):
        before = lab
        m = np.minimum(lab[ea], lab[eb])
        lab = lab.copy()
        np.minimum.at(lab, ea, m)
        np.minimum.at(lab, eb, m)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if np.array_equal(lab, before):
            return lab
    raise RuntimeError(  # pragma: no cover - <= log2(n) <= 64 rounds
        "driver component labeling did not converge")


def _driver_components(e: DataFrame) -> DataFrame:
    """Min-id component labeling of a BOUNDED canonical edge list,
    driver-side and fully vectorized: Arrow-fetch the edges, index the
    vertex set with np.unique (sorted, so index order == id order —
    UTF-8 byte order equals code-point order, so this holds for string
    ids exactly as Spark's `least` does), then _hook_compress on the
    index-encoded edges — same min-id contract as the distributed star
    loop."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    id_type = e.schema["a"].dataType
    pdf = e.toPandas()
    both = np.concatenate([pdf["a"].to_numpy(), pdf["b"].to_numpy()])
    uniq, inv = np.unique(both, return_inverse=True)
    n_edges = len(pdf)
    ea, eb = inv[:n_edges], inv[n_edges:]
    lab = _hook_compress(ea, eb, len(uniq))
    out = pd.DataFrame({"id": uniq, "component": uniq[lab]})
    schema = StructType(
        [StructField("id", id_type, False),
         StructField("component", id_type, False)]
    )
    return e.sparkSession.createDataFrame(out, schema)


def _canon(df: DataFrame) -> DataFrame:
    """Undirected edge set as distinct (a=min, b=max), self-loops dropped."""
    a = F.least("src", "dst")
    b = F.greatest("src", "dst")
    return (
        df.select(a.alias("a"), b.alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """(v, min(N(u) ∪ {u})) for every neighbor v > u, canonicalized."""
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
    return _canon(
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient large→small; connect u and each smaller neighbor to
    min(N≤(u) ∪ {u}) (= min smaller neighbor, since all v < u)."""
    d = e.select(F.col("b").alias("big"), F.col("a").alias("small"))
    mins = d.groupBy("big").agg(F.min("small").alias("m"))
    re_pointed = d.join(mins, "big").select(
        F.col("small").alias("src"), F.col("m").alias("dst")
    )
    star_root = mins.select(
        F.col("big").alias("src"), F.col("m").alias("dst")
    )
    return _canon(re_pointed.unionByName(star_root))


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    small_graph_threshold: int = 2_000_000,
) -> DataFrame:
    """(id, component) for every vertex of the (id_a, id_b) edge list;
    component = min vertex id of the connected component.

    Two physical strategies behind one contract:

      * edge count <= small_graph_threshold: Arrow-fetch the (bounded)
        edge list and label it on the driver with vectorized numpy
        hook-and-compress — near-dup pair graphs are edge-sparse by
        construction (LSH banding caps bucket fan-out), so after
        banding the graph routinely fits in tens of MBs even when the
        corpus is TBs, and the iterative job overhead (one Spark job +
        localCheckpoint PER star round) dwarfs the driver pass. The
        2M-edge default is ~32 MB of long pairs — broadcast-table
        territory, an explicit contract in the same bounded-driver-work
        pattern as IVF training and the DSIR ratio table, not a hope.
      * larger graphs: the alternating large-star/small-star loop below
        (O(log n) rounds, chain-safe) — the 10^12-scale path.

    Both produce the identical min-id labeling (the chain test runs the
    distributed path explicitly; a dedicated test pins path agreement
    and the gate queries exercise the small path against union-find
    twin oracles)."""
    e = _canon(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).localCheckpoint()
    n_edges = e.count()
    if n_edges <= small_graph_threshold:
        return _driver_components(e)
    vertices = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        # convergence = the exact star-forest invariant (not just
        # edge-set stability): every vertex b has exactly one edge, and
        # no root also appears as a leaf — which forces every root to be
        # its component's minimum (a smaller leaf would canonicalize the
        # edge the other way and violate disjointness). Both operations
        # preserve connectivity (Kiveris et al., Lemma 1/2), so a star
        # forest over the same vertex set IS the answer.
        n, distinct_b = e.agg(
            F.count(F.lit(1)), F.countDistinct("b")
        ).first()
        if n == distinct_b:
            root_is_leaf = (
                e.select("a")
                .join(e.select(F.col("b").alias("a")), "a", "semi")
                .limit(1)
                .count()
            )
            if root_is_leaf == 0:
                labels = e.select(
                    F.col("b").alias("id"), F.col("a").alias("component")
                )
                return vertices.join(labels, "id", "left").select(
                    "id",
                    F.coalesce("component", F.col("id")).alias("component"),
                )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} "
        "large-star/small-star rounds (theoretical bound is O(log^2 n); "
        "raise max_iter)"
    )


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Every doc with its duplicate-cluster id and survivor flag.

    Docs that appear in no pair form singleton clusters of themselves.
    The survivor is the min id per cluster (deterministic).
    """
    comp = connected_components(pairs)
    out = docs.select(id_col).join(
        comp.withColumnRenamed("id", id_col), id_col, "left"
    )
    cluster = F.coalesce("component", F.col(id_col))
    return out.select(
        id_col,
        cluster.alias("cluster_id"),
        (F.col(id_col) == cluster).alias("is_survivor"),
    )


def dedup_clusters_best(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Quality-aware survivor selection: per duplicate cluster keep the
    HIGHEST-`score` member (ties break to the min id, so the result
    is deterministic).

    Production near-dup dedup keeps the best copy, not an arbitrary one
    (e.g. RefinedWeb keeps the longest/cleanest duplicate) — min-id
    survivors throw away quality information the pipeline already
    computed.

    Scale shape: `comp` labels ONLY docs that appear in some pair
    (edge-sized, ≪ corpus), so winner selection never touches the full
    corpus. Singletons — `component IS NULL` after the labeling join —
    are survivors by definition and are emitted directly with zero
    further joins; the winners table (one row per multi-member cluster,
    ≪ edges) joins only against the edge-sized duplicate subset. The
    sole corpus-wide shuffle is the unavoidable id-keyed labeling join
    (same as dedup_clusters); both branches share its exchange, which
    AQE reuses.
    """
    comp = connected_components(pairs)
    labeled = docs.select("doc_id", "score").join(
        comp.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    )
    dup = labeled.where(F.col("component").isNotNull())
    # deterministic argmax: (score, -id) lexicographic via a struct —
    # max_by on the struct is a single map-side-combinable aggregate
    rank = F.struct(
        F.col("score").alias("s"), (-F.col("doc_id")).alias("neg_id")
    )
    winners = dup.groupBy("component").agg(
        F.max_by(F.col("doc_id"), rank).alias("_winner")
    )
    dup_out = dup.join(winners, "component").select(
        "doc_id",
        F.col("component").alias("cluster_id"),
        "score",
        (F.col("doc_id") == F.col("_winner")).alias("is_survivor"),
    )
    single_out = labeled.where(F.col("component").isNull()).select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        "score",
        F.lit(True).alias("is_survivor"),
    )
    return dup_out.unionByName(single_out)

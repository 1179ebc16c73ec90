"""Deduplication operators for large-scale training-data pipelines.

Five families, each picked for its shuffle shape at 10^11-row scale:

  * exact        — hash-groupBy on a normalized-text digest; min-id survivor
                   via two-phase aggregation (skew-safe, map-side combines).
  * by-key       — same survivor logic on an arbitrary key (e.g. phash);
                   the synthetic phash is deliberately hot-keyed, so the
                   min is computed per (key, salt) first, then per key —
                   no single reducer ever sees a whole hot key.
  * MinHash+LSH  — char-shingle minhash signatures (one pandas UDF),
                   banded into buckets; candidate pairs only ever form
                   WITHIN a bucket (groupBy band-hash, pair expansion
                   inside — _bucket_pairs, shared by every LSH operator),
                   so the quadratic blowup is bounded by bucket size, then
                   exact n-gram Jaccard verifies survivors.
  * SimHash      — 64-bit token-hash simhash (pandas UDF), banded into
                   4x16-bit chunks for candidate generation, hamming
                   verification on candidates.
  * n-gram Jaccard — the exact verifier, exposed standalone for
                   small/verification workloads.

Signature computation is numpy-vectorized inside Arrow batches; candidate
generation and survivor selection are pure DataFrame ops Catalyst can
reorder/push down.
"""

from __future__ import annotations

import hashlib
import re
from typing import List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

_MERSENNE = (1 << 61) - 1
_MAX_SHINGLE_HASH = (1 << 32) - 1


def _normalize_expr(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


# Degenerate-bucket guard shared by every LSH pair generator (minhash,
# 64-bit hamming, cosine). At 10^12 rows, boilerplate-identical or
# near-empty content collapses into a handful of buckets; without a cap a
# single task materializes an O(m^2) pair array. Buckets above this size
# take a linear star expansion instead (see _bucket_pairs). The cap is far
# above any bucket a genuine near-dup corpus produces (bucket = docs
# agreeing on a whole signature band), so results are unchanged except
# under adversarial pile-ups.
DEFAULT_MAX_BUCKET = 2048
# Buckets larger than this (and within the cap) go through the vectorized
# numpy expansion in _bucket_pairs.
_VECTORIZE_FROM = 32


def _band_keys():
    """Minhash band keys of the `sig` column: xxhash64 over each band's
    raw longs + the band index. (Casting the slice to a string before
    hashing cost ~1.6 s for 91k band keys in interpreted HOF eval; hashing
    the longs is ~30x cheaper and groups identically.)"""
    rows_per_band = NUM_HASHES // BANDS
    return F.transform(
        F.sequence(F.lit(0), F.lit(BANDS - 1)),
        lambda bnd: F.xxhash64(
            *[
                F.element_at("sig", bnd * rows_per_band + j + 1)
                for j in range(rows_per_band)
            ],
            bnd,
        ),
    )


def _chunk_keys(hash_col, chunks: int):
    """The 64 bits of a long split into `chunks` equal chunk values,
    lowest chunk first."""
    width = 64 // chunks
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftright(hash_col, width * i).bitwiseAND(F.lit(mask))
            for i in range(chunks)
        ]
    )


def _bucket_members(df: DataFrame, member, keys) -> DataFrame:
    """keys -> members: one row per (band, bucket) with more than one
    member, `ms` the collected `member` structs (one shuffle, map-side
    combined). Every row of `df` joins one bucket per entry of `keys`."""
    # the struct gets its own projection: next to a generator, a struct
    # holding a lambda (the cosine member) loses its field names
    banded = df.select(member.alias("m"), keys.alias("keys")).select(
        "m",
        # posexplode_outer, NOT posexplode: plain posexplode makes Catalyst
        # insert a size(keys)>0 pre-filter below the Generate, which drags
        # a signature UDF below the repartition exchange into each union
        # branch — the UDF then runs twice per row (the round-1
        # explode-over-UDF trap). keys always has a fixed number of
        # entries, so the outer variant is row-identical.
        F.posexplode_outer("keys").alias("band", "bucket"),
    )
    return (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("m").alias("ms"))
        .where(F.size("ms") > 1)
    )


def _bucket_pairs(
    members: DataFrame, score_col: str, score_type: str,
    native_score, numpy_score, keep,
) -> DataFrame:
    """Verified pairs from LSH buckets: the one bucket->pairs step behind
    every near-dup operator. Output (id_a < id_b, score_col), each pair
    once.

    `members` has an `ms` column: per bucket, an array of member structs
    with an `id` field. The caller supplies only its score, in two forms
    that must agree bit for bit: `native_score(x, y)` over two member
    Columns and `numpy_score(ms)`, the (m, m) score matrix of one
    bucket's members. `keep(score)` is the pair test, applied to a Column
    and to a numpy array alike.

    Routing, by bucket size (the module constants are read at call time):
      * up to _VECTORIZE_FROM members: native nested-transform expansion.
        Per-bucket Python overhead would dwarf a tiny bucket's handful of
        comparisons.
      * up to DEFAULT_MAX_BUCKET: one numpy score matrix per bucket in
        mapInPandas. Interpreted HOF eval costs ~1 us per comparison, and
        a family-heavy corpus concentrates most candidates in a few
        hundred medium/large buckets (sf1: 85% of 18.5M candidates live in
        buckets > 32).
      * above the cap: a STAR expansion, natively. The min-id member pairs
        against every other member, O(m) pairs. Every true duplicate stays
        reachable from the bucket representative, so connected components
        still merge the whole cluster; only pair exhaustiveness inside
        that pathological bucket is traded for bounded work. A pair that
        also collides in a normal-sized bucket is still found there. (A
        "first-colliding-band-only" emission guard was tried and
        REVERTED: it silently dropped pairs whose first collision landed
        in a starred bucket even when a later normal bucket held them.)
    A pair colliding in several buckets is emitted once per bucket, with
    the same score every time (it depends only on the two members); ONE
    dropDuplicates over the unioned branches keeps it once.
    """
    cap, vectorize_from = DEFAULT_MAX_BUCKET, _VECTORIZE_FROM
    size = F.size("ms")

    def _pair(x, y):
        lt = x["id"] < y["id"]
        return F.struct(
            F.when(lt, x["id"]).otherwise(y["id"]).alias("id_a"),
            F.when(lt, y["id"]).otherwise(x["id"]).alias("id_b"),
            native_score(x, y).alias(score_col),
        )

    def _expand(x, candidates):
        return F.filter(
            F.transform(candidates, lambda y: _pair(x, y)),
            lambda p: keep(p[score_col]),
        )

    # The sorted array and its head are staged as projections: referencing
    # array_sort(...) inside the HOF lambda would re-sort per element
    # (Catalyst does not hoist loop-invariant subexpressions out of
    # lambdas).
    big = size > cap
    staged = (
        members.where((size <= vectorize_from) | big)
        .withColumn("_srt", F.when(big, F.array_sort("ms")))
        .withColumn("_x0", F.element_at("_srt", 1))
    )
    quad = F.flatten(
        F.transform("ms", lambda x, i: _expand(x, F.slice("ms", i + 2, size)))
    )
    star = _expand(F.col("_x0"), F.slice("_srt", 2, F.size("_srt")))
    native = staged.select(
        F.explode(F.when(big, star).otherwise(quad)).alias("p")
    ).select("p.*")

    def _numpy_pairs(batches):
        for pdf in batches:
            out_a: List = []
            out_b: List = []
            out_s: List = []
            for ms in pdf["ms"]:
                ids = np.array([x["id"] for x in ms])  # int64 or unicode
                iu, ju = np.triu_indices(len(ms), 1)
                s = numpy_score(ms)[iu, ju]
                k = keep(s)
                ia, ib = ids[iu[k]], ids[ju[k]]
                lt = ia < ib  # np.where: np.minimum has no unicode loop
                out_a.extend(np.where(lt, ia, ib).tolist())
                out_b.extend(np.where(lt, ib, ia).tolist())
                out_s.extend(s[k].tolist())
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, score_col: out_s})

    id_type = members.schema["ms"].dataType.elementType["id"].dataType.simpleString()
    vectorized = members.where((size > vectorize_from) & (size <= cap)).mapInPandas(
        _numpy_pairs,
        schema=f"id_a {id_type}, id_b {id_type}, {score_col} {score_type}",
    )
    return native.unionByName(vectorized).dropDuplicates(["id_a", "id_b"])


# --------------------------------------------------------------------------
# exact + by-key
# --------------------------------------------------------------------------

def dedup_exact(df: DataFrame) -> DataFrame:
    """Keep the min-`doc_id` row per normalized-`text` digest."""
    keyed = df.withColumn("_dk", F.md5(_normalize_expr(F.col("text"))))
    return dedup_by_key(keyed, "_dk", "doc_id", salt_buckets=8).drop("_dk")


def dedup_by_key(
    df: DataFrame, key: str, id_col: str, salt_buckets: int = 16
) -> DataFrame:
    """Skew-safe min-id survivor per key: two-phase min + semi-join back.

    Phase 1 groups on (key, salt(id)) so a hot key spreads over
    salt_buckets reducers; phase 2 reduces salt partials (tiny). The
    survivor set joins back as a semi-join on (key, id) — at scale this is
    a shuffle join on the same key the groupBy used, which AQE can reuse.
    """
    salted = df.withColumn(
        "_s", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
    )
    partial = salted.groupBy(key, "_s").agg(F.min(id_col).alias("_m"))
    winners = partial.groupBy(key).agg(F.min("_m").alias(id_col))
    return df.join(winners, on=[key, id_col], how="leftsemi")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

# the pair operators' banding: 16 bands of 4 hashes over 5-char shingles
NUM_HASHES, BANDS, _SHINGLE_K = 64, 16, 5
LSH_THRESHOLD = 0.5  # minimum signature agreement of a candidate pair


def _minhash_params(num_hashes: int):
    rng = np.random.default_rng(7)
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    return a, b


_SHINGLE_BASE = np.uint64(1000003)
_SHINGLE_POWERS = _SHINGLE_BASE ** np.arange(_SHINGLE_K - 1, -1, -1, dtype=np.uint64)


def _char_shingles(text: str) -> np.ndarray:
    """Distinct _SHINGLE_K-char shingle hashes, numpy-vectorized.

    Polynomial rolling hash over unicode codepoints (uint64 wraparound,
    masked to 32 bits) — NOT builtin hash(): Python string hashing is
    salted per process (PYTHONHASHSEED), which would make signatures
    non-deterministic across executors/retries and break resume + test
    reproducibility. The whole window set hashes in one
    sliding_window_view matmul instead of a per-shingle crc32 loop
    (round-1 VERDICT follow-up); tests pin equivalence against the
    naive per-window evaluation of the same polynomial.
    """
    t = " ".join(text.lower().split())
    if len(t) < _SHINGLE_K:
        t = t.ljust(_SHINGLE_K, "_")
    cps = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(cps, _SHINGLE_K)
    h = (win * _SHINGLE_POWERS).sum(axis=1) & np.uint64(_MAX_SHINGLE_HASH)
    return np.unique(h).astype(np.int64)


def minhash_sig(text, a: np.ndarray, b: np.ndarray, num_hashes: int) -> List[int]:
    """Pure per-row signature — shared by the Spark UDF and the fixture
    oracle generator so both produce bit-identical values."""
    if not isinstance(text, str) or not text.strip():
        return [0] * num_hashes
    sh = _char_shingles(text)
    # (H, S) permutation hashes -> row-wise min
    hv = (a[:, None] * sh[None, :] + b[:, None]) % _MERSENNE
    return hv.min(axis=1).tolist()


def minhash_signatures(df: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """(doc_id, sig array<long>) over `text`, 5-char shingles, seed 7 —
    one vectorized pandas UDF, O(shingles x H) numpy."""
    a, b = _minhash_params(num_hashes)

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        return pd.Series([minhash_sig(t, a, b, num_hashes) for t in texts])

    return df.select("doc_id", _sig(F.col("text")).alias("sig"))


def minhash_lsh_pairs(df: DataFrame) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b, est_jaccard >=
    LSH_THRESHOLD) among the `text`s of a (doc_id, text) frame.

    Plan shape: sig UDF (evaluated ONCE) → degenerate-signature filter →
    explode bands → groupBy (band, bucket) collect_list (one shuffle,
    map-side combined) → in-bucket pair expansion (_bucket_pairs: no
    self-join, so the signature UDF isn't re-evaluated per join side),
    with the signature-agreement estimate computed in the expansion —
    pairs below threshold die before the one dropDuplicates shuffle, and
    no signature array ever leaves its bucket task. No all-pairs join
    ever materializes; a pathological bucket (boilerplate-identical docs)
    is capped by DEFAULT_MAX_BUCKET with a linear star reroute.
    Empty/whitespace docs hash to the all-zero signature — no shingle
    content, so "similarity" among them is meaningless; they are filtered
    before banding (handle exact empties via dedup_exact) instead of
    piling 10^9 rows into one bucket per band.
    """
    # Degenerate filter on the INPUT text, not on the signature column: a
    # filter referencing the UDF output gets pushed below the repartition
    # exchange into each union branch while the original eval stays above
    # it — the UDF runs twice per row (three ArrowEvalPython nodes in the
    # plan). trim(text) != '' is the exact condition minhash_sig zeroes
    # on (space-trim; rarer all-zero sigs, e.g. newline-only docs, pass
    # through identically in Spark and oracle and are bucket-capped).
    df = df.where(F.trim(F.col("text")) != "")
    sigs = minhash_signatures(df)
    # the band keys are not carried in the member struct: only the
    # banding needs them, and they'd add 128 B/member to the shuffle
    members = _bucket_members(
        sigs,
        F.struct(F.col("doc_id").alias("id"), F.col("sig")),
        _band_keys(),
    )

    def _est(x, y):
        return (
            F.size(
                F.filter(
                    F.zip_with(x["sig"], y["sig"], lambda a, b: (a == b).cast("int")),
                    lambda v: v == 1,
                )
            ).cast("double")
            / F.lit(NUM_HASHES)
        )

    def _est_matrix(ms):
        # integer equality count / num_hashes in float64: bit-identical
        # to the native cast(int)/lit division
        sig = np.array([x["sig"] for x in ms], dtype=np.int64)
        eq = np.zeros((len(ms), len(ms)), dtype=np.int32)
        for c in sig.T:
            eq += c[:, None] == c[None, :]
        return eq / float(NUM_HASHES)

    return _bucket_pairs(
        members, "est_jaccard", "double", _est, _est_matrix,
        lambda est: est >= LSH_THRESHOLD,
    )


def lsh_bucket_stats(df: DataFrame) -> DataFrame:
    """Bucket-size distribution of the 64-hash minhash banding of `text`
    — the diagnostic a corpus operator runs BEFORE a 100-TB dedup pass to
    check the bucket cap and predict candidate-pair volume. One row per
    bucket-size value: (bucket_size, n_buckets, candidate_pairs), where
    candidate_pairs = n_buckets * size*(size-1)/2. Total candidate volume
    is sum(candidate_pairs); any size near DEFAULT_MAX_BUCKET signals
    boilerplate families that will take the star reroute."""
    df = df.where(F.trim(F.col("text")) != "")  # see minhash_lsh_pairs
    sigs = minhash_signatures(df)
    banded = sigs.select(
        # outer: see _bucket_members
        F.posexplode_outer(_band_keys())
        .alias("band", "bucket")
    )
    sizes = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return (
        sizes.groupBy("bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .select(
            "bucket_size",
            "n_buckets",
            (
                F.col("n_buckets")
                * (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2)
            ).cast("long").alias("candidate_pairs"),
        )
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"\w+", re.UNICODE)


def simhash64(text) -> int:
    """Pure per-row 64-bit token-hash simhash (signed) — shared by the
    Spark UDF and the fixture oracle generator."""
    if not isinstance(text, str) or not text.strip():
        return 0
    hs = np.fromiter(
        (
            int.from_bytes(
                hashlib.blake2b(tok.encode("utf-8"), digest_size=8).digest(),
                "little",
            )
            for tok in _TOKEN_RE.findall(text.lower())
        ),
        dtype=np.uint64,
    )
    if hs.size == 0:
        return 0
    bits = (hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1
    vote = (2 * bits.astype(np.int64) - 1).sum(axis=0)
    val = 0
    for i in range(64):
        if vote[i] > 0:
            val |= 1 << i
    return val - (1 << 64) if val >= (1 << 63) else val


def simhash_column(df: DataFrame) -> DataFrame:
    """(doc_id, simhash long): 64-bit token-hash simhash of `text`, numpy
    bit-count."""

    @F.pandas_udf(LongType())
    def _sim(texts: pd.Series) -> pd.Series:
        return pd.Series([simhash64(t) for t in texts], dtype="int64")

    return df.select("doc_id", _sim(F.col("text")).alias("simhash"))


def hamming_near_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs among 64-bit hashes by hamming distance.

    Bands the 64 bits into `chunks` equal chunks — any pair within
    hamming <= chunks-1 must agree on >=1 whole chunk (pigeonhole), so
    recall is exact up to chunks-1 and probabilistic above; bucket by
    chunk value, in-bucket pair expansion (_bucket_pairs: hash column
    evaluated once, no self-join, one dropDuplicates over the pairs of
    all chunks), exact verify via bit_count(xor). Works for any 64-bit
    locality hash: text simhash (simhash_near_pairs), image perceptual
    hash (phash, pixel pHash), audio fingerprints and video middle-frame
    pHash all share this one operator. Oversized buckets take the linear
    star reroute.

    chunks is the recall/coarseness dial: 4 (16-bit chunks, default) has
    2^16 buckets per band — right for corpus scale; 8 (8-bit chunks)
    widens exact recall to hamming<=7 but leaves only 256 buckets per
    band, so use it only when rows-per-band/256 stays under
    DEFAULT_MAX_BUCKET (pHash drift from lossy re-encodes is wider than
    simhash drift from small edits — see q_pixel_phash_pairs)."""
    if 64 % chunks != 0:
        raise ValueError("chunks must divide 64")
    members = _bucket_members(
        df,
        F.struct(F.col(id_col).alias("id"), F.col(hash_col).alias("sh")),
        _chunk_keys(hash_col, chunks),
    )

    def _hamming_matrix(ms):
        # xor + 16-bit-LUT popcount: integer math, trivially exact
        sh = np.fromiter(
            (x["sh"] for x in ms), dtype=np.int64, count=len(ms)
        ).view(np.uint64)
        x = sh[:, None] ^ sh[None, :]
        ham = np.zeros(x.shape, dtype=np.int32)
        for shift in (0, 16, 32, 48):
            ham += _POPCOUNT16[
                ((x >> np.uint64(shift)) & np.uint64(0xFFFF)).astype(np.int64)
            ]
        return ham

    return _bucket_pairs(
        members, "hamming", "int",
        lambda x, y: F.bit_count(x["sh"].bitwiseXOR(y["sh"])),
        _hamming_matrix,
        lambda ham: ham <= max_hamming,
    )


_POPCOUNT16 = np.array(
    [bin(i).count("1") for i in range(1 << 16)], dtype=np.int32
)


def simhash_near_pairs(df: DataFrame) -> DataFrame:
    """Near-dup pairs of (doc_id, text) docs by simhash within hamming 6 —
    simhash_column ∘ hamming_near_pairs. Empty/whitespace docs are
    filtered on the INPUT text (not on simhash != 0: a filter referencing the UDF output gets pushed below
    the exchange and double-evaluates the UDF — see minhash_lsh_pairs);
    token-less non-empty docs (sh == 0) pass through identically in both
    engines and are bucket-capped."""
    df = df.where(F.trim(F.col("text")) != "")
    sims = simhash_column(df)
    return hamming_near_pairs(sims, "simhash", "doc_id", 6)


# --------------------------------------------------------------------------
# exact n-gram Jaccard (verifier / small-scale)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(pairs_df: DataFrame, docs_df: DataFrame) -> DataFrame:
    """Exact word-trigram Jaccard for given (id_a, id_b) candidate pairs
    of (doc_id, text) docs.

    Plan shape: join FIRST, gram-expand after — grams exist only for
    rows that participate in a candidate pair (the verifier's whole
    point is that candidates ≪ corpus). The token split is staged as
    its own projection: referenced more than once by non-cheap
    consumers, so CollapseProject keeps it materialized instead of
    re-running normalize+split per sequence element inside the HOF
    lambda (the first version did exactly that — measured 5.2 s for 500
    pairs at sf0.1, now ~1 s)."""
    toks = F.split(_normalize_expr(F.col("text")), " ")
    a = docs_df.select(F.col("doc_id").alias("id_a"), toks.alias("_ta"))
    b = docs_df.select(F.col("doc_id").alias("id_b"), toks.alias("_tb"))

    def grams(tcol):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(tcol) - 3, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(tcol, i + 1, 3)),
            )
        )

    return (
        pairs_df.join(a, "id_a").join(b, "id_b")
        .withColumn("g_a", grams(F.col("_ta")))
        .withColumn("g_b", grams(F.col("_tb")))
        .withColumn("inter", F.size(F.array_intersect("g_a", "g_b")))
        .withColumn("uni", F.size(F.array_union("g_a", "g_b")))
        .withColumn(
            "jaccard",
            F.when(F.col("uni") > 0, F.col("inter").cast("double") / F.col("uni"))
            .otherwise(F.lit(0.0)),
        )
        .select("id_a", "id_b", "jaccard")
    )

"""LAION-style embedding linear probes: aesthetic score + NSFW keep/drop.

LAION-5B (Schuhmann et al. 2022, §3.2/§4) gates image-text pairs with
two tiny heads applied to the frozen CLIP image embedding: an
*aesthetic predictor* (LAION-Aesthetics — a small regression head whose
0-10 score picks the curated training subsets, e.g. `aesthetic >= 4.5`)
and an *NSFW classifier* (keep when `p_nsfw` is below a threshold).
Both are the canonical "linear probe over a frozen embedding" pattern:
the model is a handful of dense weights, the work is one gemv per row.
The reference repo (a request-proxy PII scrubber,
/root/reference/src/core/pii_detector.py) has no image-side stage at
all; this operator supplies the LAION-shaped one for the north rule's
image+caption curation tier.

Stand-in weights (same policy as the CLIP encoders in
operators/alignment.py): `stub_head(name, dim)` derives a deterministic
unit vector from md5 — the *released* head weights (LAION-Aesthetics
v1's linear layer, CLIP-based-NSFW-Detector's final layer) replace
`default_heads` as (k, dim) float rows. Thresholds below are
calibrated to the STUB score distribution (cosine of a random unit head
against 64-dim embeddings concentrates near 0, so the mapped aesthetic
concentrates near 5.0 and the mapped NSFW probability near 0.5);
LAION's published thresholds (4.5 aesthetic, ~0.1 NSFW) apply only with
the real heads. Do not read stub keep-rates as LAION semantics.

Determinism contract (fixture oracle recomputes every row through
`probe_rows`, the pure twin): scores are computed per row as a
(d,)@(d,k) gemv in numpy float64 — never a batched (n,d)@(d,k) gemm,
whose BLAS reduction order can vary with the Arrow batch size and make
the last ulp partition-variant — then mapped and rounded half-even to
integer micro-units. Identical expressions in the UDF and the twin.

Scale shape (100 TB): the head matrix is k x dim floats riding a
broadcast; scoring is ONE mapInPandas pass off the scan (embeddings
never shuffle); the keep rule is a codegen'd integer comparison. Plan:
Scan -> ArrowEval(mapInPandas) -> Project/Filter. Zero shuffles, linear
in rows, no skew surface (no keys at all).
"""

from __future__ import annotations

import hashlib
from typing import Dict, Iterator, List, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000

# Stub-calibrated keep thresholds (see module doc): aesthetic >= 5.0 of
# 10, p_nsfw < 0.5. With the md5 stand-in heads each gate passes ~half
# the synthetic embeddings, so keep/drop is exercised on both sides.
AES_KEEP_MICRO = 5 * MICRO  # aesthetic score >= 5.0 (LAION real-head: 4.5)
NSFW_MAX_MICRO = MICRO // 2  # p_nsfw < 0.5 (LAION real-head: ~0.1)


def stub_head(name: str, dim: int) -> np.ndarray:
    """Deterministic md5-derived unit vector — the stand-in for a
    released probe head (pure function of (name, dim))."""
    vals = []
    for j in range(dim):
        h = hashlib.md5(f"{name}:{j}".encode("utf-8")).hexdigest()
        u = int(h[:16], 16) / float(1 << 64)  # [0, 1)
        vals.append(2.0 * u - 1.0)
    v = np.asarray(vals, dtype=np.float64)
    return v / np.linalg.norm(v)


def default_heads(dim: int) -> Dict[str, np.ndarray]:
    return {"aesthetic": stub_head("aesthetic", dim),
            "nsfw": stub_head("nsfw", dim)}


def _map_scores(sims: np.ndarray) -> Tuple[int, int]:
    """(aes_micro, nsfw_micro) from the two raw cosines in [-1, 1]:
    aesthetic maps to [0, 10] (LAION-Aesthetics scale), NSFW to a
    [0, 1] probability. Shared verbatim by the UDF and the twin."""
    aes = (float(sims[0]) + 1.0) * 5.0
    nsfw = (float(sims[1]) + 1.0) / 2.0
    return int(np.rint(aes * MICRO)), int(np.rint(nsfw * MICRO))


def probe_scores(df: DataFrame) -> DataFrame:
    """(vec_id, aes_micro, nsfw_micro, keep) from `embedding` — one Arrow
    pass, no shuffle.

    keep = aes_micro >= AES_KEEP_MICRO AND nsfw_micro < NSFW_MAX_MICRO,
    evaluated as a codegen'd projection over the UDF output.
    """
    heads = default_heads(len(df.select("embedding").first()[0]))
    mat = np.stack(
        [np.asarray(heads[n], dtype=np.float64) for n in ("aesthetic", "nsfw")]
    )
    b_heads = df.sparkSession.sparkContext.broadcast(mat)

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hm = b_heads.value
        for pdf in batches:
            if not len(pdf):
                continue
            aes = np.empty(len(pdf), dtype=np.int64)
            nsf = np.empty(len(pdf), dtype=np.int64)
            for j, v in enumerate(pdf["embedding"]):
                a = np.asarray(v, dtype=np.float64)
                n = np.linalg.norm(a) or 1.0
                # per-row gemv, not a batched gemm (see module doc)
                sims = (a / n) @ hm.T
                aes[j], nsf[j] = _map_scores(sims)
            yield pd.DataFrame(
                {"id": pdf["vec_id"].values, "aes_micro": aes, "nsfw_micro": nsf}
            )

    dtype = dict(df.dtypes)["vec_id"]
    out = df.select("vec_id", "embedding").mapInPandas(
        _score, schema=f"id {dtype}, aes_micro long, nsfw_micro long"
    )
    return out.select(
        F.col("id").alias("vec_id"),
        "aes_micro",
        "nsfw_micro",
        (
            (F.col("aes_micro") >= F.lit(AES_KEEP_MICRO))
            & (F.col("nsfw_micro") < F.lit(NSFW_MAX_MICRO))
        ).alias("keep"),
    )


def probe_rows(vecs: List[Tuple[int, Sequence[float]]]) -> List[tuple]:
    """Pure twin of probe_scores for the fixture oracle.
    vecs = [(id, vector), ...]."""
    heads = default_heads(len(vecs[0][1]))
    hm = np.stack(
        [np.asarray(heads[n], dtype=np.float64) for n in ("aesthetic", "nsfw")]
    )
    rows = []
    for i, v in vecs:
        a = np.asarray(v, dtype=np.float64)
        n = np.linalg.norm(a) or 1.0
        sims = (a / n) @ hm.T
        aes, nsf = _map_scores(sims)
        rows.append(
            (i, aes, nsf, aes >= AES_KEEP_MICRO and nsf < NSFW_MAX_MICRO)
        )
    return rows

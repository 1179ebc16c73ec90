"""Learned quality classifier (fastText-style) + Pareto keep sampling.

The reference pipeline has no learned quality stage — it is a per-row
scrubber (/root/reference/src/core/pii_detector.py) — but the north
rule's curation tier does: the GPT-3 recipe (Brown et al. 2020,
Appendix A) trains a linear classifier over hashed n-gram features to
score documents against a quality target and keeps a document when
`pareto_sample(alpha) > 1 - score`, which retains mostly-high-quality
documents while keeping a long tail of low-scoring ones for diversity.
The classifier form is fastText supervised (Joulin et al. 2016): bag of
hashed unigram+bigram features, mean-pooled, linear + sigmoid.

Supervision here is distillation of the engine's own Gopher/C4
heuristic stage (core/quality.drop_reasons == [] -> label 1): fully
deterministic, no external data, and the learned scorer generalizes the
hard rules into a smooth score — exactly how production classifiers are
bootstrapped before human-labeled targets exist.

Determinism contract (the DuckDB fixture oracle retrains and rescores
through these SAME pure functions, so every float must be reproducible
bit-for-bit on any host):
  * features hash with blake2b (not the salted builtin hash());
  * training is full-batch gradient descent from a zeros init, fixed
    epoch count, samples iterated in ascending id order, gradients
    accumulated in that order, weights updated in sorted-index order —
    pure Python floats, no BLAS, no RNG;
  * scoring folds features in sorted-index order;
  * the Pareto draw is a deterministic md5-uniform of the document id
    (the same engine-portable md5 recipe as operators/sketch.py), so
    keep decisions are cluster-invariant and resumable.

Scale shape (100 TB): training is driver-side on a bounded id-ordered
sample — the standard recipe (same as train_ivf_centroids): the model
is `dim` floats (64 KiB at 2^13), one pass over a sample, never the
table. Scoring is ONE Arrow-batched pandas UDF pass with the weight
vector riding the task closure — no shuffle, no join, linear in rows;
the plan is scan -> ArrowEvalPython -> project, the same fused shape as
the flagship scrub stage.
"""

from __future__ import annotations

import hashlib
import math
import re
from functools import lru_cache
from typing import Dict, List, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..core.quality import TARGET_LANG, drop_reasons

DIM = 1 << 13  # 8192 hashed feature buckets (64 KiB of float64 weights)
PARETO_ALPHA = 9.0  # GPT-3's alpha (Brown et al. 2020, Appendix A)
EPOCHS = 30  # full-batch gradient steps
TRAIN_SAMPLE = 512  # docs in the bounded training sample

_TOKEN_RE = re.compile(r"\w+", re.UNICODE)


@lru_cache(maxsize=1 << 20)
def _hash_index(token: str) -> int:
    # Memoized: token frequencies are Zipf-distributed, so the cache
    # absorbs almost every blake2b call on a scoring pass. Pure
    # function of the token — values (and therefore every score
    # and the oracle twin's retraining) are bit-identical.
    h = hashlib.blake2b(token.encode("utf-8"), digest_size=8).digest()
    return int.from_bytes(h, "little") % DIM


def hashed_features(text: str) -> Dict[int, float]:
    """Mean-pooled bag of unigrams + bigrams hashed into DIM buckets
    (fastText form)."""
    toks = _TOKEN_RE.findall((text or "").lower())
    counts: Dict[int, float] = {}
    for t in toks:
        i = _hash_index(t)
        counts[i] = counts.get(i, 0) + 1
    for a, b in zip(toks, toks[1:]):
        i = _hash_index(a + " " + b)
        counts[i] = counts.get(i, 0) + 1
    total = float(len(toks) + max(len(toks) - 1, 0))
    if total == 0.0:
        return {}
    return {i: c / total for i, c in counts.items()}


def _sigmoid(z: float) -> float:
    if z >= 0:
        return 1.0 / (1.0 + math.exp(-z))
    e = math.exp(z)
    return e / (1.0 + e)


def score_features(
    feats: Dict[int, float], w: Sequence[float], b: float
) -> float:
    """Sorted-index left-to-right fold — the reproducibility contract."""
    acc = b
    for i in sorted(feats):
        acc += w[i] * feats[i]
    return _sigmoid(acc)


def score_text(text: str, w: Sequence[float], b: float) -> float:
    return score_features(hashed_features(text), w, b)


def pareto_uniform(doc_id) -> float:
    """Engine-portable md5-uniform in [0, 1) of the stringified id."""
    h = hashlib.md5(str(doc_id).encode("utf-8")).hexdigest()
    return int(h[:16], 16) / float(1 << 64)


def pareto_keep(prob: float, doc_id) -> bool:
    """GPT-3 rule: keep iff pareto(PARETO_ALPHA) draw > 1 - score, with the
    draw derived deterministically from the id (inverse-CDF transform
    of the md5-uniform)."""
    u = pareto_uniform(doc_id)
    draw = math.pow(1.0 - u, -1.0 / PARETO_ALPHA) - 1.0
    return draw > 1.0 - prob


def distill_label(text: str) -> int:
    """1 = every SURFACE heuristic passes. The langid and perplexity
    rules are deliberately neutralized (injected as passing): they are
    their own learned stages in this pipeline (core/langid,
    core/perplexity), and on a corpus they dominate they would collapse
    distillation to a constant label. What the classifier distills is
    the Gopher/C4 surface rule set — length, symbol/alpha ratios,
    boilerplate lines, stopword density — which IS learnable from
    hashed n-grams."""
    return 1 if not drop_reasons(text, lang=TARGET_LANG, ppl=0.0) else 0


def train_quality_classifier(samples: List[Tuple[str, int]]) -> Tuple[List[float], float]:
    """Full-batch logistic regression, deterministic (see module doc).

    `samples` must already be in a canonical order (ascending id) —
    gradient accumulation follows list order. Samples are class-balance
    weighted (each class contributes half the total loss mass), so an
    imbalanced distillation target — e.g. a corpus where one surface
    rule fires on 20% of docs — does not collapse to the majority
    constant.
    """
    featurized = [(hashed_features(t), float(y)) for t, y in samples]
    n = float(len(featurized)) or 1.0
    n_pos = float(sum(1.0 for _, y in featurized if y == 1.0))
    n_neg = n - n_pos
    w_pos = n / (2.0 * n_pos) if n_pos else 0.0
    w_neg = n / (2.0 * n_neg) if n_neg else 0.0
    w = [0.0] * DIM
    b = 0.0
    for _ in range(EPOCHS):
        grad: Dict[int, float] = {}
        gb = 0.0
        for feats, y in featurized:
            sw = w_pos if y == 1.0 else w_neg
            err = (score_features(feats, w, b) - y) * sw
            gb += err
            for i in sorted(feats):
                grad[i] = grad.get(i, 0.0) + err * feats[i]
        # learning rate 4.0, L2 weight 1e-4
        for i in sorted(grad):
            w[i] -= 4.0 * (grad[i] / n + 1e-4 * w[i])
        b -= 4.0 * (gb / n)
    return w, b


def training_sample(df: DataFrame) -> List[Tuple[str, int]]:
    """Bounded driver-side sample of TRAIN_SAMPLE docs in ascending id
    order (cluster-invariant, like train_ivf_centroids) with distilled
    labels."""
    rows = df.select("doc_id", "text").orderBy("doc_id").limit(TRAIN_SAMPLE).collect()
    return [(r[1], distill_label(r[1])) for r in rows]


def quality_classifier_stage(df: DataFrame, w: Sequence[float], b: float) -> DataFrame:
    """(doc_id, q_prob, keep_clf, keep_pareto) over `text` — one Arrow
    pass, no shuffle."""
    w_list, b_f = list(w), float(b)

    @pandas_udf("struct<q_prob:double,keep_clf:boolean,keep_pareto:boolean>")
    def _clf(ids: pd.Series, texts: pd.Series) -> pd.DataFrame:
        probs, keeps, paretos = [], [], []
        for i, t in zip(ids, texts):
            p = score_text(t, w_list, b_f)
            probs.append(p)
            keeps.append(p >= 0.5)
            paretos.append(pareto_keep(p, i))
        return pd.DataFrame(
            {"q_prob": probs, "keep_clf": keeps, "keep_pareto": paretos}
        )

    out = df.withColumn("_q", _clf(F.col("doc_id"), F.col("text")))
    return out.select(
        "doc_id",
        F.col("_q.q_prob").alias("q_prob"),
        F.col("_q.keep_clf").alias("keep_clf"),
        F.col("_q.keep_pareto").alias("keep_pareto"),
    )

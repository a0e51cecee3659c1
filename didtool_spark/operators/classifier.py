"""Fasttext-style linear quality classifier over hashed n-gram
features — the CCNet / LLaMA-data "quality filter" pattern: a tiny
labeled set trains a logistic regression on hashed unigram+bigram
counts, then the fitted weights score the whole corpus as one
broadcast-join + aggregate pass (pure JVM expressions, no Python in
the row path).

Design rule (README): fit = distributed aggregation -> small driver
state; transform = JVM column expressions. Quality-filter TRAINING
sets are small labeled samples — the distributed aggregation reduces
them to sparse (doc, bucket, count) rows, a capped collect brings
those to the driver, and the logistic regression runs as
deterministic full-batch numpy gradient descent (bit-reproducible, so
the driver-gate oracle can replay the fitted weights as SQL
literals). SCORING is the web-scale pass: explode gram buckets ->
broadcast the bounded (bucket, weight) table -> one (doc, double)
shuffle with map-side combine. Text never moves.

For labeled sets above the collect cap (``_DRIVER_DOCS`` documents),
``fit_quality_classifier`` runs the SAME full-batch gradient descent
with per-iteration Spark aggregation: each step broadcasts the current
weights (n_buckets rows), computes per-doc probabilities and
residuals, and reduces the gradient back to n_buckets rows — the
driver only ever holds the weight vector. Parity with the driver path
is unit-tested (same math, float-sum order differs).

Feature hashing is shared with DSIR (dsir._bucket_expr): xxhash64 by
default (JVM codegen, no digest per gram); ``hash_fn="md5_60"`` swaps
in the portable 60-bit md5 prefix so a SQL engine can replay scoring
exactly (gate/oracle use). The fitted model records its hash_fn and
scoring reuses it, so fit/score can never silently disagree.

reference parity: didtool has no corpus quality model; this is the
training-data-pipeline charter (SURVEY.md §2.10), composing with
quality_gopher (rules) and lm_perplexity (LM score) as the third
standard quality signal.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.utils import persisted
from .decontam import _norm_tokens
from .dsir import _gram_buckets

__all__ = [
    "QualityClassifier",
    "doc_bucket_counts",
    "fit_quality_classifier",
    "score_quality",
]

# labeled sets up to this many documents are collected for the numpy fit
_DRIVER_DOCS = 200_000


class QualityClassifier(NamedTuple):
    weights: np.ndarray  # (n_buckets,) float64
    bias: float
    n_buckets: int
    hash_fn: str = "xxhash64"


def doc_bucket_counts(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 512,
    label_col: str | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Sparse hashed-n-gram features: one (id[, label], bucket, cnt)
    row per distinct bucket a document's unigram/bigram occurrences
    hash into. One explode + one partially-aggregated groupBy — the
    shuffled unit is (id, bucket, long)."""
    cols = [id_col] + ([label_col] if label_col else [])
    toks = df.select(*cols, _norm_tokens(F.col(col)).alias("__toks"))
    ex = toks.select(
        *cols,
        F.explode(_gram_buckets(F.col("__toks"), n_buckets, hash_fn)).alias("b"),
    )
    return ex.groupBy(*cols, "b").agg(F.count(F.lit(1)).alias("cnt"))


def _lr_fit_numpy(
    rows: list[tuple[int, int, int]],
    labels: dict[int, int],
    n_buckets: int,
    n_iter: int,
    lr: float,
    l2: float,
) -> tuple[np.ndarray, float]:
    """Deterministic full-batch logistic regression on sparse
    (doc, bucket, cnt) rows with per-doc tf normalization
    (x_db = cnt_db / n_grams_d). Canonical (doc, bucket) ordering makes
    the float reduction order — and therefore the fitted weights —
    bit-reproducible, which the oracle's literal-replay depends on."""
    rows = sorted(rows)
    doc_ids = sorted(labels)
    idx = {d: i for i, d in enumerate(doc_ids)}
    n = len(doc_ids)
    di = np.array([idx[r[0]] for r in rows], dtype=np.int64)
    bi = np.array([r[1] for r in rows], dtype=np.int64)
    cnt = np.array([r[2] for r in rows], dtype=np.float64)
    tot = np.zeros(n)
    np.add.at(tot, di, cnt)
    x = cnt / tot[di]
    y = np.array([labels[d] for d in doc_ids], dtype=np.float64)
    w = np.zeros(n_buckets)
    b = 0.0
    for _ in range(n_iter):
        z = np.zeros(n)
        np.add.at(z, di, x * w[bi])
        p = 1.0 / (1.0 + np.exp(-(z + b)))
        resid = p - y
        g = np.zeros(n_buckets)
        np.add.at(g, bi, resid[di] * x)
        w -= lr * (g / n + l2 * w)
        b -= lr * float(resid.mean())
    return w, b


def fit_quality_classifier(
    labeled: DataFrame,
    col: str = "text",
    label_col: str = "label",
    id_col: str = "doc_id",
    n_buckets: int = 512,
    n_iter: int = 300,
    lr: float = 5.0,
    l2: float = 1e-4,
    hash_fn: str = "xxhash64",
) -> QualityClassifier:
    """Fit the hashed-n-gram logistic regression: distributed feature
    aggregation, then deterministic full-batch GD. Labeled sets of at
    most ``_DRIVER_DOCS`` documents are collected and fitted in numpy;
    larger ones run the identical GD with per-iteration Spark
    aggregation (the driver only holds the weight vector)."""
    feats = doc_bucket_counts(labeled, col, id_col, n_buckets, label_col, hash_fn)
    n_docs = labeled.select(id_col).distinct().count()
    if n_docs > _DRIVER_DOCS:
        return _fit_distributed(
            feats, id_col, label_col, n_buckets, n_iter, lr, l2, hash_fn
        )
    collected = feats.collect()
    rows = [(r[id_col], r["b"], r["cnt"]) for r in collected]
    labels = {r[id_col]: int(r[label_col]) for r in collected}
    w, b = _lr_fit_numpy(rows, labels, n_buckets, n_iter, lr, l2)
    return QualityClassifier(w, b, n_buckets, hash_fn)


def _fit_distributed(
    feats: DataFrame,
    id_col: str,
    label_col: str,
    n_buckets: int,
    n_iter: int,
    lr: float,
    l2: float,
    hash_fn: str = "xxhash64",
) -> QualityClassifier:
    """Full-batch GD where each step is two partially-aggregated Spark
    passes over the cached sparse feature table: (1) per-doc logit via
    broadcast-joined weights, (2) per-bucket gradient via the residuals
    joined back. Only (n_buckets) rows ever reach the driver."""
    sess = feats.sparkSession
    w = np.zeros(n_buckets)
    b = 0.0
    with persisted() as keep:
        feats = keep(feats.withColumn(
            "x", F.col("cnt") / F.sum("cnt").over(Window.partitionBy(id_col))
        ))
        n = feats.select(id_col).distinct().count()  # also fills the cache
        for _ in range(n_iter):
            wtab = sess.createDataFrame(
                [(i, float(v)) for i, v in enumerate(w)], "b long, w double"
            )
            per_doc = (
                feats.join(F.broadcast(wtab), "b", "left")
                .groupBy(id_col, label_col)
                .agg(F.sum(F.col("x") * F.coalesce("w", F.lit(0.0))).alias("z"))
                .select(
                    id_col,
                    (
                        1.0 / (1.0 + F.exp(-(F.col("z") + F.lit(b))))
                        - F.col(label_col)
                    ).alias("resid"),
                )
            )
            # read twice (gradient join, residual sum); freed each round
            with persisted() as keep_round:
                per_doc = keep_round(per_doc)
                grad = (
                    feats.join(per_doc, id_col)
                    .groupBy("b")
                    .agg(F.sum(F.col("x") * F.col("resid")).alias("g"))
                    .collect()
                )
                r_sum = per_doc.agg(F.sum("resid")).collect()[0][0] or 0.0
            g = np.zeros(n_buckets)
            for row in grad:
                g[row["b"]] = row["g"]
            w -= lr * (g / n + l2 * w)
            b -= lr * r_sum / n
    return QualityClassifier(w, b, n_buckets, hash_fn)


def score_quality(
    df: DataFrame,
    model: QualityClassifier,
    col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Distributed scoring pass: (id, quality_prob, quality_label).
    Explode gram buckets -> broadcast the bounded weight table ->
    per-doc sum (map-side combine) -> sigmoid. No Python in the row
    path; at 10^12 docs this is one scan + one (id, double) shuffle."""
    sess = df.sparkSession
    wtab = sess.createDataFrame(
        [(i, float(v)) for i, v in enumerate(model.weights)], "b long, w double"
    )
    counts = doc_bucket_counts(df, col, id_col, model.n_buckets, hash_fn=model.hash_fn)
    per_doc = (
        counts.join(F.broadcast(wtab), "b", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("cnt") * F.coalesce("w", F.lit(0.0))).alias("__dot"),
            F.sum("cnt").alias("__n"),
        )
    )
    raw = F.col("__dot") / F.col("__n") + F.lit(float(model.bias))
    prob = 1.0 / (1.0 + F.exp(-raw))
    return per_doc.select(
        F.col(id_col),
        F.round(prob, 6).alias("quality_prob"),
        (prob >= threshold).cast("int").alias("quality_label"),
    )

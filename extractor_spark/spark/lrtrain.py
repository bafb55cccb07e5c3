"""Logistic-regression TRAINING for quality classifiers (hashed
bag-of-ngrams features — the trainable half of the fastText-style filter
whose inference shape is the ``fasttext_quality_score`` query).

Public algorithm: full-batch gradient descent on L2-regularized logistic
loss (standard texts).  Weak labels for the demo come from the corpus
itself (lang == 'en' — the CCNet/LLaMA-filter setup where a seed corpus
plays "positive"); swapping in curated labels is a one-column change.

Scale shape (what survives 100 TB):
- Training input is BOUNDED (round 5): a deterministic seeded sample of
  ``train_cap`` docs (hash-ordered top-k on doc_id only, broadcast-joined
  back — no full-corpus sort, no text through the shuffle).  Production
  quality classifiers (fastText/CCNet) fit on a bounded labeled sample
  and only SCORE the corpus; 20 full-corpus passes to fit a
  4,097-parameter model is the wrong plan at scale.  The full corpus is
  touched exactly once, by the scoring pass with the broadcast model.
- Spark extracts the sample's features ONCE — explode unigram+bigram
  grams, JVM Murmur3 bucket into D buckets, groupBy (doc_id, bucket) with
  map-side combine, L2-normalized per doc (provable-step conditioning,
  see doc_features) — and the driver collects them; the GD epochs run in
  numpy on the driver (train_quality_lr_local).
- Nothing broadcast grows with the corpus: weights are D rows.

Gates (tests/test_lr_train.py): numpy same-iterate twin (identical
features, epochs, lr — weights within 1e-6, probabilities within ±1
milli), strictly-decreasing training loss, en-vs-non-en separation,
broadcast + no-corpus-collect plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_D_DEFAULT = 4096


def word_grams(w: Column) -> Column:
    """The words of the array ``w`` followed by its space-joined bigrams:
    the gram stream of the hashed bag-of-ngrams models (``doc_features``,
    ``dsir_importance``, ``fasttext_quality_score``)."""
    # both slices are exactly size-1 long: zip_with otherwise null-pads the
    # shorter side and concat_ws would leak the doc's last word in again as
    # a duplicate unigram
    n = F.greatest(F.size(w) - 1, F.lit(0))
    return F.concat(
        w,
        F.zip_with(
            F.slice(w, 1, n), F.slice(w, 2, n), lambda a, b: F.concat_ws(" ", a, b)
        ),
    )


def doc_features(docs: DataFrame, D: int = _D_DEFAULT) -> DataFrame:
    """(doc_id, label, bucket, x) hashed-ngram features, L2-normalized
    per doc.  Same gram/bucket construction as fasttext_quality_score
    (``word_grams``, JVM Murmur3 via F.hash)."""
    toks = docs.select(
        "doc_id",
        (F.col("lang") == "en").cast("double").alias("label"),
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "").alias(
            "w"
        ),
    ).filter(F.size("w") > 0)
    grams = toks.select(
        "doc_id", "label", F.explode(word_grams(F.col("w"))).alias("feat")
    )
    counts = grams.groupBy(
        "doc_id", "label", F.pmod(F.hash("feat"), F.lit(D)).cast("int").alias("bucket")
    ).agg(F.count("*").cast("double").alias("cnt"))
    # L2-normalize each doc's feature vector: every row of the design
    # matrix then has unit norm, so trace(X'X) = n and (with the all-ones
    # bias column, trace 2n) the logloss gradient is (1/2)-Lipschitz —
    # the default step lr=2 is the provable 1/L monotone-descent step,
    # no line search and no divergence at any corpus size.
    # Whole-partition window, NOT a counts-join-totals self-join: the
    # self-join consumed the un-materialized `counts` twice (2 parquet
    # scans, 0 ReusedExchange — the gram explode ran twice per consumer);
    # the window computes the norm in the same pass over the already
    # aggregated (doc_id, bucket) rows.
    from pyspark.sql import Window

    nrm = F.sqrt(
        F.sum(F.col("cnt") * F.col("cnt")).over(Window.partitionBy("doc_id"))
    )
    return counts.select(
        "doc_id", "label", "bucket", (F.col("cnt") / nrm).alias("x")
    )


_TRAIN_CAP_DEFAULT = 10_000


def training_sample(docs: DataFrame, cap: int, seed: int = 42) -> DataFrame:
    """Deterministic seeded sample of ≤``cap`` docs: order by
    xxhash64(doc_id, seed) (value hash — stable across partitioning and
    cluster size), take the top ``cap`` ids only (no text ever enters the
    sort), broadcast-join back.  doc_id tie-break makes the cut exact."""
    ids = (
        docs.select("doc_id")
        .orderBy(F.xxhash64(F.col("doc_id"), F.lit(seed)), F.col("doc_id"))
        .limit(cap)
    )
    return docs.join(F.broadcast(ids), "doc_id")


def train_quality_lr_local(
    docs: DataFrame,
    D: int = _D_DEFAULT,
    epochs: int = 20,
    lr: float = 2.0,
    l2: float = 1e-5,
    train_cap: int = _TRAIN_CAP_DEFAULT,
    seed: int = 42,
):
    """Driver-local trainer: Spark extracts the SAMPLE's features (one
    bounded pass — ≤ train_cap docs, corpus-size-independent), the GD
    epochs run in numpy on the driver.  This is the production shape for
    a 4,097-parameter model (fastText/CCNet fit on a bounded sample on
    one node); a Spark job per epoch (~40 AQE-decomposed actions for 20
    epochs) would be pure overhead at this size.

    Returns (weights ndarray[D], bias, losses per epoch, n_train_docs).
    Driver traffic is the sample's sparse features (≤ cap × ~hundreds of
    rows via Arrow), bounded and corpus-size-independent like the IVF
    Lloyd sample and the PCA moment collect."""
    import numpy as np

    pdf = (
        doc_features(training_sample(docs, train_cap, seed), D)
        .toPandas()
        .sort_values(["doc_id", "bucket"], kind="mergesort")
    )
    ids = pdf["doc_id"].unique()
    n = len(ids)
    row_of = {i: r for r, i in enumerate(ids)}
    X = np.zeros((n, D))
    X[pdf["doc_id"].map(row_of).to_numpy(), pdf["bucket"].to_numpy()] = pdf[
        "x"
    ].to_numpy()
    y = pdf.groupby("doc_id", sort=False)["label"].first()
    y = y.loc[ids].to_numpy()

    w = np.zeros(D)
    b = 0.0
    losses: list[float] = []
    for _ in range(epochs):
        m = X @ w + b
        p = 1.0 / (1.0 + np.exp(-m))
        ll = np.log1p(np.exp(-np.abs(m))) + np.maximum(m, 0.0) - y * m
        losses.append(float(ll.mean()) + 0.5 * l2 * float(w @ w))
        r = p - y
        w = w * (1.0 - lr * l2) - lr * (X.T @ r) / n
        b -= lr * float(r.sum()) / n
    return w, b, losses, n


def lr_quality_scores_df(
    docs: DataFrame,
    D: int = _D_DEFAULT,
    epochs: int = 20,
    train_cap: int = _TRAIN_CAP_DEFAULT,
) -> DataFrame:
    """Train on a bounded seeded sample (``train_quality_lr_local``), then
    score EVERY doc with the broadcast model: (doc_id, label, prob_milli,
    keep).  Scoring is one streaming pass over the full corpus (features
    re-derived inline — single consumer, nothing corpus-sized persisted
    or collected)."""
    spark = docs.sparkSession
    w, b, _losses, _n = train_quality_lr_local(
        docs, D=D, epochs=epochs, train_cap=train_cap
    )
    wdf = F.broadcast(
        spark.createDataFrame(
            [(i, float(w[i])) for i in range(D)], "bucket int, wt double"
        )
    )
    return (
        doc_features(docs, D)
        .join(wdf, "bucket")
        .groupBy("doc_id", "label")
        .agg((F.sum(F.col("x") * F.col("wt")) + F.lit(b)).alias("m"))
        .select(
            "doc_id",
            F.col("label").cast("bigint").alias("label"),
            F.rint(F.lit(1000.0) / (F.lit(1.0) + F.exp(-F.col("m"))))
            .cast("bigint")
            .alias("prob_milli"),
            (F.col("m") > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )

"""LR-training gates (spark/lrtrain.py).

Twin protocol (same as ccnet/bpe): the FEATURE TABLE is collected from
Spark's own extraction (isolating the training math from Java-vs-Python
tokenization), then full-batch GD is re-run in numpy with identical
epochs/lr/l2 and compared — weights to 1e-6, per-doc probabilities to
±1 milli (float-sum order is the only permitted divergence).
"""

import numpy as np
import pytest

SF_DIR = "/root/testdata/sf0.001"
D = 4096
EPOCHS = 20
LR = 2.0
L2 = 1e-5


@pytest.fixture(scope="module")
def spark():
    from extractor_spark.spark.session import get_spark

    yield get_spark("lr-train-tests", cpus=8)


def _collect_features(spark, only_ids=None):
    from extractor_spark.spark.lrtrain import doc_features
    from extractor_spark.spark.queries import _views

    _views(spark, SF_DIR)
    rows = doc_features(spark.table("documents"), D).collect()
    docs = {}
    for r in rows:
        if only_ids is not None and r["doc_id"] not in only_ids:
            continue
        docs.setdefault(r["doc_id"], (r["label"], {}))[1][r["bucket"]] = r["x"]
    return docs


def _numpy_twin(docs, epochs=EPOCHS):
    ids = sorted(docs)
    n = len(ids)
    y = np.array([docs[i][0] for i in ids])
    X = np.zeros((n, D))
    for row, i in enumerate(ids):
        for b, x in docs[i][1].items():
            X[row, b] = x
    # x values are already L2-normalized by Spark's doc_features
    w = np.zeros(D)
    b0 = 0.0
    losses = []
    for _ in range(epochs):
        m = X @ w + b0
        p = 1.0 / (1.0 + np.exp(-m))
        ll = np.log1p(np.exp(-np.abs(m))) + np.maximum(m, 0.0) - y * m
        losses.append(float(ll.mean()) + 0.5 * L2 * float(w @ w))
        r = p - y
        g = X.T @ r
        w = w * (1.0 - LR * L2) - LR * g / n
        b0 -= LR * float(r.sum()) / n
    m = X @ w + b0
    probs = {i: 1.0 / (1.0 + np.exp(-mm)) for i, mm in zip(ids, m)}
    return w, b0, losses, probs


def test_training_matches_numpy_twin(spark):
    from extractor_spark.spark.lrtrain import train_quality_lr_local
    from extractor_spark.spark.queries import _views

    _views(spark, SF_DIR)
    w, b, losses, n = train_quality_lr_local(
        spark.table("documents"), D=D, epochs=EPOCHS, lr=LR, l2=L2
    )
    docs = _collect_features(spark)
    assert n == len(docs)  # the corpus is below the sample cap
    tw, tb, tlosses, _tprobs = _numpy_twin(docs)
    assert np.max(np.abs(np.asarray(w) - tw)) < 1e-6
    assert abs(b - tb) < 1e-6
    assert np.allclose(losses, tlosses, atol=1e-9)
    # training must actually learn: strictly decreasing full-batch loss
    assert all(a > b2 for a, b2 in zip(losses, losses[1:])), losses


def test_scores_query_separates_classes_and_matches_twin(spark):
    from extractor_spark.spark import caches
    from extractor_spark.spark.queries import QUERIES, release_query_caches

    fn, oracle = QUERIES["lr_quality_scores"]
    assert oracle is None
    out = fn(spark, SF_DIR).toPandas()
    release_query_caches()
    assert len(out) > 0 and out["doc_id"].is_unique

    _tw, _tb, _tl, tprobs = _numpy_twin(_collect_features(spark))
    for row in out.itertuples():
        assert abs(row.prob_milli - round(tprobs[row.doc_id] * 1000)) <= 1, row
    # the weak-label signal must be learned (directionally)
    en = out[out["label"] == 1]["prob_milli"].mean()
    non = out[out["label"] == 0]["prob_milli"].mean()
    assert en > non + 4, (en, non)  # directional: 1/L full-batch GD moves slowly at demo scale
    # keep decision consistent with the probability
    assert ((out["prob_milli"] > 500) == out["keep"]).mean() > 0.99


def test_training_sample_cap_determinism_and_twin(spark):
    """Round-5 bound (VERDICT r4 #2): training input is a deterministic
    seeded sample.  Pins (a) the cap, (b) determinism across invocations,
    (c) seed sensitivity, (d) numpy same-iterate parity ON THE SAMPLE,
    (e) scoring still covers the FULL corpus."""
    from extractor_spark.spark import caches
    from extractor_spark.spark.lrtrain import (
        lr_quality_scores_df,
        train_quality_lr_local,
        training_sample,
    )
    from extractor_spark.spark.queries import _views

    _views(spark, SF_DIR)
    docs = spark.table("documents")
    s1 = sorted(r["doc_id"] for r in training_sample(docs, 100).select("doc_id").collect())
    s2 = sorted(r["doc_id"] for r in training_sample(docs, 100).select("doc_id").collect())
    assert len(s1) == 100 and s1 == s2
    s3 = sorted(
        r["doc_id"]
        for r in training_sample(docs, 100, seed=7).select("doc_id").collect()
    )
    assert s3 != s1  # the hash seed actually selects a different subset

    w, b, losses, n = train_quality_lr_local(
        docs, D=D, epochs=5, lr=LR, l2=L2, train_cap=100
    )
    # sampled ids minus empty-text docs (doc_features drops them)
    sample = _collect_features(spark, only_ids=set(s1))
    assert n == len(sample) >= 95
    tw, tb, tlosses, _ = _numpy_twin(sample, epochs=5)
    assert np.max(np.abs(np.asarray(w) - tw)) < 1e-6
    assert abs(b - tb) < 1e-6
    assert np.allclose(losses, tlosses, atol=1e-9)

    scored = lr_quality_scores_df(docs, D=D, epochs=2, train_cap=100)
    n_scored = scored.count()
    caches.retire_all()
    n_docs_nonempty = len(_collect_features(spark))
    assert n_scored == n_docs_nonempty  # full corpus scored, not just the sample


def test_no_corpus_collect_and_broadcast_model(spark):
    """Driver traffic is the bounded sample's features — pin the scoring
    plan: weights broadcast, no corpus-sized exchange on the model side."""
    from extractor_spark.spark.queries import QUERIES, release_query_caches

    fn, _ = QUERIES["lr_quality_scores"]
    df = fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    release_query_caches()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan

"""Retrieval-operator gates beyond the DuckDB twin equality
(test_queries_oracle folds bm25_search + embedding_decontaminate into the
exact rows+columns+values gate):

- BM25: hand-computed scores on an engineered 4-doc corpus pin the formula
  constants (k1=1.2, b=0.75, Lucene non-negative idf) independently of the
  twin — a shared formula mistake in both SQL dialects would pass the twin
  gate but fail here.
- embedding_decontaminate: planted vectors (an exact benchmark copy, a
  near-copy above threshold, an orthogonal vector) pin flag soundness and
  nearest-benchmark attribution, including the lowest-bench-id tie-break.
"""

from __future__ import annotations

import math

import pytest

from extractor_spark.spark.queries import (
    _BITEXT_K,
    _BITEXT_THRESHOLD,
    _BM25_BATCH_SPARK,
    _EMB_DECON_THRESHOLD,
    QUERIES,
    TWIN_SQL,
    bitext_margin_mine_frame,
    embedding_decontaminate_frame,
    release_query_caches,
)

pytestmark = pytest.mark.spark


# ---------------------------------------------------------------------------
# BM25 formula pin
# ---------------------------------------------------------------------------

_DOCS = [
    # doc 0 is the query doc (0 % 50 == 0, >= 7 tokens): query terms are
    # tokens 5..7 = apple banana cherry
    (0, "w1 w2 w3 w4 apple banana cherry"),
    (1, "apple apple banana x y z q r"),
    (2, "cherry v w"),
    (3, "nothing matches here at all"),
]


def _bm25(tf: float, df: float, dl: float, n_docs: float, avgdl: float) -> float:
    idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))


def test_bm25_hand_corpus(spark):
    spark.createDataFrame(_DOCS, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    rows = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in spark.sql(_BM25_BATCH_SPARK).collect()
    }
    n, avgdl = 4.0, (7 + 8 + 3 + 5) / 4.0
    want = {
        # doc 0: tf 1 for each of the 3 terms, dl 7; df(apple)=df(banana)=2
        # (docs 0,1), df(cherry)=2 (docs 0,2)
        (0, 0): sum(_bm25(1, 2, 7, n, avgdl) for _ in range(3)),
        (0, 1): _bm25(2, 2, 8, n, avgdl) + _bm25(1, 2, 8, n, avgdl),
        (0, 2): _bm25(1, 2, 3, n, avgdl),
    }
    assert set(rows) == set(want)
    for key, score in want.items():
        assert abs(rows[key] - score) < 1e-4, key


def _twin(name: str) -> str:
    """DuckDB dialect of a query: the oracle slot for driver-window entries,
    TWIN_SQL for rows-only ones (the r5-s5 rotation moved three between)."""
    return TWIN_SQL.get(name) or QUERIES[name][1]


def test_bm25_twin_dialects_stay_aligned():
    # the two dialects must keep identical constants; a drive-by edit to one
    # side shows up as a constant-set mismatch here before the twin gate runs
    duck = _twin("bm25_search")
    for magic in ("2.2", "1.2", "0.25", "0.75", "0.5", "ln(", "rn <= 10"):
        assert magic in _BM25_BATCH_SPARK and magic in duck, magic


# ---------------------------------------------------------------------------
# embedding decontamination planted gates
# ---------------------------------------------------------------------------


def test_embedding_decon_planted(spark):
    dim = 8

    def vec(*pairs):
        v = [0.0] * dim
        for i, x in pairs:
            v[i] = x
        return v

    bench = spark.createDataFrame(
        [(10, vec((0, 1.0))), (20, vec((1, 1.0)))],
        "vec_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (1, vec((0, 2.0))),            # exact direction copy of bench 10
            (2, vec((0, 1.0), (1, 1.0))),  # cos ~0.7071 to BOTH → tie → bench 10
            (3, vec((2, 1.0))),            # orthogonal to both → not flagged
            (4, vec((1, 1.0), (2, 3.0))),  # cos ~0.316 to bench 20 → below 0.42
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["bench_id"], r["max_cos"])
        for r in embedding_decontaminate_frame(
            corpus, bench, _EMB_DECON_THRESHOLD
        ).collect()
    }
    assert got == {1: (10, 1.0), 2: (10, 0.7071)}


# ---------------------------------------------------------------------------
# bitext margin mining planted gates
# ---------------------------------------------------------------------------


def _numpy_bitext(a: dict, b: dict, k: int, thr: float):
    """Independent numpy replica of the margin criterion (rounded 4dp like
    both SQL dialects; top-k and argmax tie-break on the partner id)."""
    import numpy as np

    def cos(x, y):
        x, y = np.asarray(x, float), np.asarray(y, float)
        return round(float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y))), 4)

    c = {(s, d): cos(a[s], b[d]) for s in a for d in b}
    deg_a = {
        s: float(np.mean(sorted((c[(s, d)] for d in b), reverse=True)[:k]))
        for s in a
    }
    deg_b = {
        d: float(np.mean(sorted((c[(s, d)] for s in a), reverse=True)[:k]))
        for d in b
    }
    mined = {}
    for s in a:
        best = min(b, key=lambda d: (-round(c[(s, d)] / ((deg_a[s] + deg_b[d]) / 2), 4), d))
        m = round(c[(s, best)] / ((deg_a[s] + deg_b[best]) / 2), 4)
        if m >= thr:
            mined[s] = (best, c[(s, best)], m)
    return mined


def test_bitext_margin_hub_cancellation(spark):
    # dst 11 pairs ONLY with src 1; dst 10 is a HUB equally close to srcs
    # 2..6.  Both pairings have the SAME cosine — the margin criterion must
    # rank the exclusive pair above the hub pairs (hubness cancellation).
    a = {
        1: [1.0, 0.0, 0.0, 0.0],
        2: [0.0, 1.0, 0.1, 0.0],
        3: [0.0, 1.0, -0.1, 0.0],
        4: [0.0, 1.0, 0.0, 0.1],
        5: [0.0, 1.0, 0.0, -0.1],
        6: [0.0, 0.9, 0.05, 0.05],
    }
    b = {
        10: [0.0, 1.0, 0.0, 0.0],   # hub: ~0.995 cosine to srcs 2..6
        11: [1.0, 0.1, 0.0, 0.0],   # exclusive partner of src 1
        12: [0.0, 0.0, 0.0, 1.0],   # distractor
    }
    rows = [(i, v, 0) for i, v in a.items()] + [(i, v, 1) for i, v in b.items()]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {
        r["src"]: (r["dst"], r["cos_sim"], r["margin"])
        for r in bitext_margin_mine_frame(emb).collect()
    }
    release_query_caches()
    want = _numpy_bitext(a, b, _BITEXT_K, _BITEXT_THRESHOLD)
    assert set(got) == set(want)
    for s, (dst, c, m) in want.items():
        gd, gc, gm = got[s]
        assert gd == dst and abs(gc - c) < 1.5e-4 and abs(gm - m) < 1.5e-4, s
    # the hubness-cancellation property: src 1's exclusive pair out-margins
    # every hub pairing despite near-equal cosines
    assert got[1][0] == 11
    hub_margins = [m for s, (d, _, m) in got.items() if d == 10]
    assert all(got[1][2] > hm for hm in hub_margins)


def test_bitext_scored_arrow_matches_sql(spark):
    """The numpy mapInPandas scorer (r6 optimization) must be BIT-identical
    to the Catalyst HOF spec `_BITEXT_SCORED_SPARK`: same fold order over
    dims, exact float32->float64 widening, round(.,4) applied by Spark SQL
    in both paths.  Exact tuple equality — no tolerance."""
    import random

    from extractor_spark.spark.queries import (
        _BITEXT_SCORED_SPARK,
        _bitext_scored_frame,
    )

    rng = random.Random(60601)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], i % 2)
        for i in range(90)
    ]
    # float32 storage (the parquet schema) exercises the widening path
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    emb.createOrReplaceTempView("bitext_emb")
    want = spark.sql(
        _BITEXT_SCORED_SPARK.replace("FROM embeddings", "FROM bitext_emb")
    ).collect()
    got = _bitext_scored_frame(emb).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == 45 * 45


def test_semdedup_pairs_arrow_matches_sql(spark):
    """The numpy in-cell verify (r6) must admit EXACTLY the spec SQL's
    pairs — same candidate joins, bit-identical cosine fold (see
    test_bitext_scored_arrow_matches_sql for the FP argument)."""
    from extractor_spark.spark.ivf import assign_cells
    from extractor_spark.spark.queries import (
        _SEMDEDUP_PAIRS,
        _SEMDEDUP_THRESHOLD,
        _ivf_centroids,
        _semdedup_pairs_frame,
        _views,
    )

    from extractor_spark.spark import caches

    _views(spark, "/root/testdata/sf0.01")
    cells, h = caches.local_checkpoint(
        assign_cells(spark.table("embeddings"), _ivf_centroids(spark))
    )
    cells.createOrReplaceTempView("ivf_cells")
    caches.register(h)
    want = sorted(
        tuple(r)
        for r in spark.sql(
            _SEMDEDUP_PAIRS.format(threshold=_SEMDEDUP_THRESHOLD)
        ).collect()
    )
    got = sorted(
        tuple(r)
        for r in _semdedup_pairs_frame(spark, _SEMDEDUP_THRESHOLD).collect()
    )
    release_query_caches()
    assert got == want and len(want) > 0


def test_region_sample_cap_and_coverage(spark):
    """Per-region cap holds, and no region present in the corpus is left
    without representatives (coverage preservation — the point of
    cluster-balanced selection)."""
    from collections import Counter

    from extractor_spark.spark.queries import _REGION_SAMPLE_CAP

    rows = QUERIES["region_balanced_sample"][0](
        spark, "/root/testdata/sf0.01"
    ).collect()
    per_region = Counter(r["region"] for r in rows)
    assert per_region and all(n <= _REGION_SAMPLE_CAP for n in per_region.values())
    corpus_regions = {
        r["region"]
        for r in spark.sql(
            """SELECT (CASE WHEN element_at(embedding, 1) > 0 THEN 1 ELSE 0 END)
                    + (CASE WHEN element_at(embedding, 2) > 0 THEN 2 ELSE 0 END)
                    + (CASE WHEN element_at(embedding, 3) > 0 THEN 4 ELSE 0 END)
                    + (CASE WHEN element_at(embedding, 4) > 0 THEN 8 ELSE 0 END)
                      AS region FROM embeddings"""
        ).collect()
    }
    assert set(per_region) == corpus_regions
    # dialect constants stay in sync
    from extractor_spark.spark.queries import _REGION_SAMPLE_SPARK

    for sql in (_REGION_SAMPLE_SPARK, TWIN_SQL["region_balanced_sample"]):
        assert f"rn <= {_REGION_SAMPLE_CAP}" in sql
        assert "2654435761" in sql


# ---------------------------------------------------------------------------
# containment pairs: the subset-dup that Jaccard misses
# ---------------------------------------------------------------------------


def test_containment_catches_subset_dup_jaccard_misses(spark):
    from extractor_spark.spark.queries import _CONTAINMENT_SPARK, _JACCARD_SPARK

    base = " ".join(f"a{i}" for i in range(12))           # 10 trigram shingles
    extra = " ".join(f"b{i}" for i in range(90))
    docs = [
        (1, base),                   # short article
        (2, base + " " + extra),     # long page quoting it whole
        (3, " ".join(f"c{i}" for i in range(40))),  # unrelated
    ]
    spark.createDataFrame(docs, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    cont = {
        (r["d1"], r["d2"]): (r["c1_milli"], r["c2_milli"])
        for r in spark.sql(_CONTAINMENT_SPARK).collect()
    }
    jac = {(r["d1"], r["d2"]) for r in spark.sql(_JACCARD_SPARK).collect()}
    # every shingle of doc 1 appears in doc 2 → full directed containment...
    assert cont[(1, 2)][0] == 1000
    assert (3 not in {d for p in cont for d in p})
    # ...but Jaccard ≈ 10/102 — invisible to the symmetric measure
    assert (1, 2) not in jac


def test_registry_positions_and_threshold_sync():
    names = list(QUERIES)
    # r5-s5 rotation: these three are driver-window oracled entries now
    for q in ("bm25_search", "embedding_decontaminate", "ngram_containment_pairs"):
        assert QUERIES[q][1] is not None
        assert names.index(q) < 50
    for q in ("hostgraph_hits", "bitext_margin_mine", "region_balanced_sample"):
        assert QUERIES[q][1] is None
        assert names.index(q) >= 50
    # the DuckDB dialects hard-code the thresholds: keep the constants in sync
    assert f">= {_EMB_DECON_THRESHOLD}" in _twin("embedding_decontaminate")
    assert f">= {_BITEXT_THRESHOLD}" in _twin("bitext_margin_mine")


def test_rank_eval_decomposed_equals_fused(spark):
    """The registry's persisted-intermediate form of retrieval_rank_eval ≡
    the fused single-statement SQL (which the DuckDB twin mirrors), and the
    decomposition actually collapses the inline-CTE scan explosion."""
    from extractor_spark.spark.queries import (
        _RANK_EVAL_SPARK,
        _views,
        release_query_caches,
    )

    sf = "/root/testdata/sf0.001"
    _views(spark, sf)
    fused = sorted(tuple(r) for r in spark.sql(_RANK_EVAL_SPARK).collect())
    df = QUERIES["retrieval_rank_eval"][0](spark, sf)
    got = sorted(tuple(r) for r in df.collect())
    plan = df._jdf.queryExecution().executedPlan().toString()
    release_query_caches()
    assert got == fused and got
    # fused form plan-audited at 17 parquet scans / 0 reuse; the decomposed
    # plan must consume the persisted q and post tables.  (Raw FileScan
    # string counts are meaningless here — the plan string re-prints the
    # full lineage inside every InMemoryRelation, the documented
    # plan-STRING double-count caveat — so pin the InMemoryTableScan reads.)
    assert plan.count("InMemoryTableScan") >= 2, plan.count("InMemoryTableScan")

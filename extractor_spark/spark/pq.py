"""Product quantization (PQ) + asymmetric-distance search — the IVF-PQ
memory-scale ANN path (Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011 — public method, no reference analog:
the reference has no vector-search surface).

At 100 TB the embedding table itself is the memory bottleneck: a 64-dim
float64 vector is 512 bytes, its PQ code at m=8 subspaces × k=16 centroids
is 8 small ints — a ~64× compression that lets executors keep the whole
corpus's codes hot while raw vectors stay on disk.  Search is asymmetric
distance computation (ADC): one m×k lookup table per query, computed once
driver-side; scoring a candidate costs m table lookups and touches no
corpus floats.

Decomposition (same discipline as :mod:`ivf`):

- :func:`train_pq` — per-subspace Lloyd k-means on a SEEDED, BOUNDED
  sample (xxhash64-ordered ``limit``, same bounded-collect rule as the
  Bloom build and ``lrtrain.training_sample``); the model is k×d floats.
- :func:`encode` — ONE map-only Arrow pass over the corpus (vectorized
  per-subspace GEMM per batch), codebooks ride in the task closure.
  Zero shuffles; embarrassingly parallel at any scale.
- :func:`adc_topk` — JVM-side scan: the query's LUT is baked in as an
  array literal and the score is one ``F.aggregate`` over the code array,
  so the hot loop is whole-stage-codegen'd with **no Python in the scan**;
  ``orderBy().limit()`` lowers to TakeOrdered (per-partition heaps + a
  k-row driver merge), never a global sort.

Vectors are L2-normalized before chunking, so ADC-L2 order equals cosine
order (on the unit sphere ‖q−x‖² = 2 − 2·cos(q,x)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PQ_M = 8  # subspaces
# centroids per subspace: production PQ uses 256 (8-bit codes); 64 keeps
# codebook training sane on the 500-vector test corpus while staying a
# power of two (6-bit codes). Codes are ints either way.
PQ_K = 64


def train_pq(
    emb: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = 10,
    seed: int = 0x9A2025,
    sample_cap: int = 16384,
):
    """Per-subspace Lloyd k-means over a seeded bounded sample of
    ``emb.embedding``; returns the (m, k, d/m) numpy codebook tensor.

    The sample is ``sample_cap`` rows chosen by xxhash64(vec_id) order —
    deterministic, unbiased, and a bounded driver collect (16384 × 64
    float64 = 8 MB) no matter the corpus size."""
    import numpy as np

    rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
        .limit(sample_cap)
        .collect()
    )
    if not rows:
        raise ValueError("no training vectors: embeddings input is empty")
    x = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.default_rng(seed)
    codebooks = np.empty((m, k, dsub))
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        # k-means++-lite init: distinct seeded picks
        init = rng.choice(len(sub), size=min(k, len(sub)), replace=False)
        cents = sub[init].copy()
        if len(cents) < k:  # degenerate tiny corpus: pad with jitter
            pad = cents[rng.integers(0, len(cents), k - len(cents))]
            cents = np.vstack([cents, pad + rng.normal(0, 1e-3, pad.shape)])
        for _ in range(iters):
            # same ||s-c||² = ||c||² - 2 s·c argmin trick as encode(): the
            # broadcast-subtraction form allocates a (n, k, dsub) temporary
            # (~67 MB/iter here) and dominated train time ~10:1
            d2 = (cents**2).sum(axis=1)[None, :] - 2.0 * (sub @ cents.T)
            assign = d2.argmin(axis=1)
            counts = np.bincount(assign, minlength=k)
            sums = np.zeros((k, dsub))
            np.add.at(sums, assign, sub)
            nz = counts > 0
            cents[nz] = sums[nz] / counts[nz, None]
        codebooks[j] = cents
    return codebooks


def encode(emb: DataFrame, codebooks) -> DataFrame:
    """Map-only Arrow pass: (vec_id, embedding) → (vec_id, code) where
    ``code`` is the m-element array of per-subspace centroid ids."""
    cb = codebooks

    def assign(batches, cb=cb):
        import numpy as np
        import pandas as pd

        m, k, dsub = cb.shape
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                sub = x[:, j * dsub : (j + 1) * dsub]
                # ||s-c||² = ||s||² - 2 s·c + ||c||²; ||s||² constant per row
                d2 = (cb[j] ** 2).sum(axis=1)[None, :] - 2.0 * (sub @ cb[j].T)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "code": list(codes)}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id bigint, code array<int>"
    )


def adc_lut(codebooks, query_vec):
    """The query's flattened m×k ADC table: lut[j*k + i] = ‖q_j − cb[j,i]‖²."""
    import numpy as np

    m, k, dsub = codebooks.shape
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn == 0.0:
        raise ValueError("zero-norm query vector: cosine order is undefined")
    q = q / qn
    lut = np.empty(m * k)
    for j in range(m):
        lut[j * k : (j + 1) * k] = (
            (codebooks[j] - q[j * dsub : (j + 1) * dsub][None, :]) ** 2
        ).sum(axis=1)
    return lut


def adc_topk(
    codes: DataFrame,
    codebooks,
    query_vec,
    topk: int = 10,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Top-k by ADC distance over the PQ codes — JVM-only scan (the LUT is
    an array literal, the score one F.aggregate over the code array),
    TakeOrdered limit.  Returns (vec_id, adc_dist) ascending."""
    m, k, _ = codebooks.shape
    lut = adc_lut(codebooks, query_vec)
    lut_lit = F.array(*[F.lit(float(v)) for v in lut])
    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(int(m) - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(lut_lit, (j * k + F.element_at(F.col("code"), j + 1) + 1)),
    )
    out = codes
    if exclude_vec_id is not None:
        out = out.where(F.col("vec_id") != exclude_vec_id)
    return (
        out.select("vec_id", F.round(score, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(topk)
    )


def pq_search(
    emb: DataFrame,
    codes: DataFrame,
    codebooks,
    query_vec,
    topk: int = 10,
    shortlist: int | None = None,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """ADC shortlist + exact rerank — the production IVF-PQ "refine"
    stage: the JVM code scan narrows the corpus to ``shortlist`` (default
    8×topk) candidates without touching a single corpus float; only those
    rows' raw vectors are read back (broadcast join on the ≤shortlist
    candidate ids, so the big side never shuffles) for exact cosine.
    Final recall@topk equals the shortlist's containment recall — the
    lossy quantization only has to get the candidate SET right, never the
    order.  Returns (vec_id, cos_sim) descending."""
    import numpy as np

    shortlist = shortlist if shortlist is not None else 8 * topk
    cand = adc_topk(
        codes, codebooks, query_vec, topk=shortlist, exclude_vec_id=exclude_vec_id
    )
    q = np.asarray(query_vec, dtype=np.float64)
    q_norm = float(np.linalg.norm(q))
    q_lit = F.array(*[F.lit(float(v)) for v in q.tolist()])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), q_lit, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm_e = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    cos = F.round(dot / (norm_e * F.lit(q_norm)), 4).cast("double")
    return (
        emb.join(F.broadcast(cand.select("vec_id")), "vec_id")
        .select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(topk)
    )

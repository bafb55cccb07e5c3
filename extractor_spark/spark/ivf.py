"""IVF ANN index with cell-partitioned storage — the 100 TB serving shape.

``queries.ivf_topk`` demonstrates the IVF *algorithm* end-to-end in one
session (train → assign → probe).  This module is the production
decomposition the query's docstring prescribes:

- :func:`train_centroids` — distributed Lloyd k-means on a seeded sample;
  assignment is one numpy GEMM per Arrow batch, each iteration shuffles
  only per-cell partial sums (k rows per batch), driver state is the k×d
  centroid matrix.
- :func:`build_index` — assign every vector to its nearest centroid and
  write the corpus PARTITIONED BY cell (plus the centroid matrix as a
  small JSON sidecar).  One pass over the data, one directory per cell.
- :func:`search` — load the sidecar, pick the query's ``nprobe`` nearest
  cells, and scan ONLY those partitions (Spark prunes the rest at planning
  time — the test pins ``inputFiles()`` to the probed directories).  Exact
  cosine inside the probed cells, top-k out.

A query therefore touches ~nprobe/k of the stored bytes, independent of
corpus size; re-building is the only full pass.  Trade-offs (documented,
standard IVF): recall is bounded by cell locality, and a skewed corpus can
produce fat cells — re-train with larger k or split hot cells.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CENTROIDS_FILE = "_ivf_centroids.json"


def nearest_cells(embeddings, centroids):
    """Decode a batch's embedding column into the float64 matrix ``x`` and
    return ``(x, cell)``: each row's nearest of the L2-normalized k×d
    ``centroids`` by cosine, one numpy GEMM for the batch."""
    import numpy as np

    x = np.array([np.asarray(v, dtype=np.float64) for v in embeddings])
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    return x, (xn @ centroids.T).argmax(axis=1)


def assign_cells(emb: DataFrame, centroids) -> DataFrame:
    """(vec_id, cell) for every row of ``emb`` (columns vec_id, embedding):
    nearest-centroid assignment per Arrow batch (``nearest_cells``)."""

    def assign(batches, c=centroids):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cell = nearest_cells(pdf["embedding"], c)[1].astype("int32")
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cell": cell})

    return emb.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id bigint, cell int"
    )


def train_centroids(
    emb: DataFrame,
    k: int = 16,
    iters: int = 5,
    seed: int = 0x1FF2024,
    train_fraction: float = 0.7,
):
    """Distributed Lloyd k-means over ``emb`` (column ``embedding``);
    returns the L2-normalized k×d numpy centroid matrix."""
    import numpy as np

    train = emb.select("embedding").sample(fraction=train_fraction, seed=seed).persist()
    try:
        head = train.first()
        if head is None:
            raise ValueError(
                "no training vectors: embeddings input is empty (or the "
                f"seeded sample at fraction={train_fraction} drew zero rows)"
            )
        dim = len(head["embedding"])
        rng = np.random.default_rng(seed)
        centroids = rng.standard_normal((k, dim))
        centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)

        schema = "cell int, cnt long, vsum array<double>"
        for _ in range(iters):
            c = centroids

            def partial_sums(batches, c=c):
                import numpy as np
                import pandas as pd

                for pdf in batches:
                    if not len(pdf):
                        continue
                    x, cell = nearest_cells(pdf["embedding"], c)
                    rows = []
                    for g in np.unique(cell):
                        grp = x[cell == g]
                        rows.append((int(g), len(grp), grp.sum(axis=0).tolist()))
                    yield pd.DataFrame(rows, columns=["cell", "cnt", "vsum"])

            parts = train.mapInPandas(partial_sums, schema=schema).collect()
            sums = np.zeros_like(centroids)
            counts = np.zeros(k)
            for r in parts:
                sums[r["cell"]] += np.asarray(r["vsum"])
                counts[r["cell"]] += r["cnt"]
            nonempty = counts > 0
            centroids[nonempty] = sums[nonempty] / counts[nonempty, None]
            centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    finally:
        train.unpersist()
    return centroids


def build_index(
    spark: SparkSession,
    emb: DataFrame,
    out_path: str,
    k: int = 16,
    iters: int = 5,
    seed: int = 0x1FF2024,
    train_fraction: float = 0.7,
) -> dict:
    """Train, assign, and write ``emb`` (columns vec_id, embedding) to
    ``out_path`` partitioned by cell; returns {'cells': n, 'rows': n}."""
    centroids = train_centroids(emb, k, iters, seed, train_fraction)
    c = centroids

    def assign(batches, c=c):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.copy()
            pdf["cell"] = nearest_cells(pdf["embedding"], c)[1].astype("int32")
            yield pdf

    from pyspark.sql import types as T

    emb_t = emb.select("vec_id", "embedding")
    # fresh StructType — StructType.add would mutate emb_t's schema object
    out_schema = T.StructType(
        list(emb_t.schema.fields) + [T.StructField("cell", T.IntegerType())]
    )
    assigned = emb_t.mapInPandas(assign, schema=out_schema)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(out_path)

    with open(os.path.join(out_path, CENTROIDS_FILE), "w") as f:
        json.dump({"k": k, "centroids": centroids.tolist()}, f)
    # one read-back scan for both stats (not one per stat)
    stats = (
        spark.read.parquet(out_path)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("cell").alias("cells"),
        )
        .first()
    )
    return {"cells": stats["cells"], "rows": stats["rows"]}


def load_centroids(index_path: str):
    import numpy as np

    with open(os.path.join(index_path, CENTROIDS_FILE)) as f:
        payload = json.load(f)
    return np.asarray(payload["centroids"], dtype=np.float64)


def search(
    spark: SparkSession,
    index_path: str,
    query_vec,
    nprobe: int = 8,
    topk: int = 10,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Top-k cosine neighbours of ``query_vec`` scanning only the nprobe
    nearest cells' partitions.  Returns (vec_id, cos_sim) ordered."""
    import numpy as np

    centroids = load_centroids(index_path)
    q = np.asarray(query_vec, dtype=np.float64)
    q_norm = float(np.linalg.norm(q))
    if q_norm == 0.0:
        raise ValueError(
            "zero-norm query vector: cosine similarity is undefined "
            "(probe selection and scores would be NaN)"
        )
    qn = q / q_norm
    probes = [int(p) for p in np.argsort(-(centroids @ qn))[:nprobe]]

    idx = spark.read.parquet(index_path).where(F.col("cell").isin(probes))
    if exclude_vec_id is not None:
        idx = idx.where(F.col("vec_id") != exclude_vec_id)
    q_lit = F.array(*[F.lit(float(v)) for v in q.tolist()])
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"), q_lit, lambda x, y: x.cast("double") * y
        ),
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
        idx.select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(topk)
    )

"""Distributed connected components: min-label propagation (Pregel-lite)
and alternating large/small-star (the petabyte-scale variant).

``min_label_components`` is shared by queries.dedup_clusters (doc_id keys)
and curate's near-dup clustering (url keys): each iteration is one shuffle
(edges ⋈ labels → groupBy min), state is localCheckpoint'ed so the plan
stays flat, convergence is detected with a changed-count action.
Iterations ∝ component diameter — near-dup clusters are band-induced
quasi-cliques, so 2-4 rounds in practice.

``star_components`` implements alternating large-star/small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
public algorithm): rounds ∝ log(diameter) instead of diameter, so a
100-hop chain of near-dups converges in ~7 rounds where label propagation
needs 100.  Each star op is groupBy-min + join-back (never a per-node
collect_set, so a celebrity node with 10M neighbors costs a broadcastable
2-column aggregate, not a 10M-element array in one task).  Same signature
and same output contract as min_label_components; equality is pinned by
tests on chain/clique/random graphs and by the shared DuckDB
recursive-CTE oracle (dedup_clusters_star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import caches
from .tuning import checkpoint_loop, loop_partitions, scoped_loop_conf


def min_label_components(nodes: DataFrame, pairs: DataFrame, key: str) -> DataFrame:
    """``nodes``: one row per vertex with column ``key``; ``pairs``: one row
    per undirected edge with columns (src, dst) of the same type as ``key``
    (min() must order it).  Returns (``key``, cluster_id) where cluster_id
    is the minimum key reachable from the vertex (isolated vertices keep
    their own key)."""
    sc = nodes.sparkSession.sparkContext
    # r6: loop shuffle width follows the edge count (tuning.py).  The raw
    # union is persisted first so the sizing count pays the same two
    # upstream scans the old persist already paid; the loop then runs off
    # the co-partitioned cache exactly as before.
    raw = pairs.select("src", "dst").unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    raw.persist()
    n_parts = loop_partitions(sc, raw.count())
    # NOTE: codegen stays ON here (unlike the webgraph loops, which pass
    # codegen=False): the loop width follows the EDGE count but each round
    # projects the NODE-sized label frame (94k rows at curate bench scale
    # behind a 1-partition edge table), where interpreted evaluation
    # measured ~+0.7 s on the curate components stage — and at 2-4 rounds
    # the per-round Janino saving is small anyway (r6 session 2).
    with scoped_loop_conf(nodes.sparkSession, n_parts):
        out = _min_label_loop(nodes, raw, key, n_parts)
    raw.unpersist()
    return out


def _min_label_loop(nodes, raw, key, n_parts) -> DataFrame:
    # r6: eager localCheckpoint, not persist — the pair frame's LOGICAL
    # plan (band joins, verify chains) would otherwise be re-walked by
    # every round's analysis/optimization (the cache only short-circuits
    # execution; see webgraph._power_iteration).  raw is persisted and
    # already materialized by the caller's sizing count, so the
    # checkpoint job only pays the repartition.
    edges, edge_handle = caches.local_checkpoint(
        raw.repartition(n_parts, "src"), eager=True
    )
    labels, handle = caches.local_checkpoint(
        nodes.select(F.col(key), F.col(key).alias("label")), eager=False
    )

    def step(labels):
        labels = labels.drop("_changed")
        nbr = (
            edges.join(labels, edges.src == labels[key])
            .select(F.col("dst").alias("_nkey"), "label")
            .groupBy("_nkey")
            .agg(F.min("label").alias("nbr_label"))
        )
        return labels.join(nbr, labels[key] == nbr._nkey, "left").select(
            labels[key],
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            (F.col("nbr_label") < F.col("label")).alias("_changed"),
        )

    # one job per round: the changed-count (it reads every partition) is
    # the lazy checkpoint's materializing job
    labels, handle = checkpoint_loop(
        labels, handle, step, lambda new: new.filter(F.col("_changed")).count() == 0
    )
    edge_handle.unpersist()
    # the final checkpoint backs the (lazy) result — consumers release it
    # via queries.release_query_caches() after collecting
    caches.register(handle)
    return labels.drop("_changed").withColumnRenamed("label", "cluster_id")


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) undirected → for each node u, attach every STRICTLY LARGER
    neighbor v to m = min(N(u) ∪ {u}).  Output is directed child→parent."""
    b = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = b.groupBy("src").agg(F.min("dst").alias("_nbr_min"))
    m = F.least(F.col("_nbr_min"), F.col("src")).alias("_m")
    return (
        b.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), m.alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge toward its larger endpoint, then for each node u
    attach u and all its smaller neighbors to m = min(S(u) ∪ {u})."""
    d = edges.where(F.col("src") != F.col("dst")).select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = d.groupBy("src").agg(F.min("dst").alias("_m"))
    children = d.join(mins, "src").select(F.col("dst").alias("src"), "_m")
    selfs = mins.select(F.col("src"), "_m")
    return (
        children.unionAll(selfs)
        .where(F.col("src") != F.col("_m"))
        .select("src", F.col("_m").alias("dst"))
        .distinct()
    )


def star_components(nodes: DataFrame, pairs: DataFrame, key: str) -> DataFrame:
    """Alternating large-star/small-star connected components — same
    contract as :func:`min_label_components` (returns (key, cluster_id),
    isolated vertices keep their own key) but converges in O(log diameter)
    rounds.  Convergence = the directed edge set is a fixpoint, detected by
    (count, hash-sum) signature equality — both sides are distinct sets, so
    a 64-bit xxhash sum collision is the only false positive (~2⁻⁶⁴)."""
    spark = nodes.sparkSession
    sc = spark.sparkContext

    def signature(e: DataFrame) -> tuple:
        # bit_xor is order-independent and overflow-free (sum of 64-bit
        # hashes trips ANSI-mode long overflow)
        row = e.select(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    edges, handle = caches.local_checkpoint(
        pairs.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(sc.defaultParallelism, "src"),
        eager=False,
    )
    sig = signature(edges)

    def converged(new) -> bool:
        # the signature aggregate is the round's one job
        nonlocal sig
        prev, sig = sig, signature(new)
        return sig == prev

    # r6: the initial signature's count sizes the loop's shuffle width for
    # free (tuning.py) — star rounds only ever shrink the edge set.
    with scoped_loop_conf(spark, loop_partitions(sc, sig[0])):
        edges, handle = checkpoint_loop(
            edges, handle, lambda e: _small_star(_large_star(e)), converged
        )
    # fixpoint edges form stars child→(component min); centers and isolated
    # vertices label themselves.
    stars = edges.groupBy("src").agg(F.min("dst").alias("_cluster"))
    n = nodes.select(F.col(key))
    labels = n.join(stars, n[key] == stars.src, "left").select(
        n[key], F.coalesce(F.col("_cluster"), n[key]).alias("cluster_id")
    )
    caches.register(handle)
    return labels

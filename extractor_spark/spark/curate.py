"""Training-data curation: the composite job a 100 TB text pipeline runs
AFTER extraction — URL blocklist, exact dedup, MinHash-LSH near-dup
clustering with canonical selection, quality filtering, benchmark
decontamination, leakage-safe split assignment, JSONL export.

Every stage is the scale-audited primitive from queries.py applied to the
extract pipeline's output table (url-keyed instead of doc_id-keyed):

1. exact dedup       — md5 fingerprint, keep min-url per group (map-side
                       hash agg; one shuffle on the fingerprint)
2. near-dup clusters — banded MinHash (64 perms × 16 bands) candidate
                       pairs → exact-Jaccard verify (only candidates, never
                       all pairs) → connected components via min-label
                       propagation → keep the longest text per cluster
3. quality filter    — token-count floor + duplicate-line ceiling
                       (Gopher-style repetition signal)
4. export            — one JSON object per line (url, text, markdown)

Returns per-stage counts so the curation funnel is auditable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import caches
from .graph import min_label_components

# The array form of MinHash-LSH near-dup detection, shared by curate and
# the incremental dedup (incdedup.py); the exploded form, which wins at
# query scale, is queries.py's _MINHASH_CANDIDATES.  Built from DataFrame
# expressions, never temp views: curate leaves no view behind over the
# checkpoints it releases, and inside a foreachBatch handler the batch
# frame belongs to the microbatch's CLONED session, where a view on it is
# invisible to the outer session's sql() (which then silently resolves a
# stale same-named view from an earlier batch).


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(url, hs): each doc's xxhash64'd 3-word shingle SET as one array row,
    never a (url, shingle) explode.  Jaccard over hashed shingles equals
    Jaccard over strings up to collisions (~|S|²/2⁶⁴ per pair), and a set
    is a ~1.6 KB array instead of ~200 string rows: the exploded-form
    verify built a |cand| × |shingles/doc| intermediate (≈10⁹ rows at 100k
    docs) and OOM'd the box.  Docs under 3 tokens have no set."""
    return (
        docs.select("url", F.split(F.trim("text"), r"\s+").alias("w"))
        .where(F.size("w") >= 3)
        .selectExpr(
            "url",
            "array_distinct(transform(sequence(0, size(w) - 3),"
            " i -> xxhash64(concat_ws(' ', w[i], w[i+1], w[i+2])))) AS hs",
        )
    )


def minhash_bands(sh: DataFrame) -> DataFrame:
    """(url, band_idx, band_hash): a 64-seed MinHash signature as one array
    expression (no 64-way explode, no (url, seed) shuffle), 16 bands of 4."""
    return (
        sh.selectExpr(
            "url",
            "transform(sequence(0, 63),"
            " seed -> array_min(transform(hs, h -> xxhash64(h, seed)))) AS sig",
        )
        .selectExpr("url", "sig", "explode(sequence(0, 15)) AS band_idx")
        .selectExpr(
            "url",
            "band_idx",
            "xxhash64(sig[band_idx * 4], sig[band_idx * 4 + 1],"
            " sig[band_idx * 4 + 2], sig[band_idx * 4 + 3]) AS band_hash",
        )
    )


def jaccard_at_least(hs_a: Column | str, hs_b: Column | str, threshold: float) -> Column:
    """Exact Jaccard of two shingle sets ≥ ``threshold``."""
    n_common = F.size(F.array_intersect(hs_a, hs_b)).cast("double")
    n_total = (F.size(hs_a) + F.size(hs_b)).cast("double")
    return n_common / (n_total - n_common) >= threshold


def _verified_pairs(sh: DataFrame, bands: DataFrame, threshold: float) -> DataFrame:
    """Banded candidates as a STAR per bucket (each member links to the
    bucket's min url), exact-Jaccard verified: (u1, u2).

    Star-per-bucket keeps candidate volume LINEAR in bucket size: an
    all-pairs bucket join is quadratic per bucket, and on template-heavy
    web corpora one hot band bucket (measured: 2,319 docs in the 100k-page
    bench corpus) concentrates C(2319,2) ≈ 2.7M pairs × two 1.6 KB hash
    arrays into one unsplittable join task (the skew only exists in the
    join OUTPUT, so AQE's skew join cannot help).  For clustering, x—y in
    one bucket connect iff both (hub,x) and (hub,y) verify, rather than
    iff (x,y) does.  True near-dup families (what hot buckets are made of)
    verify through their hubs; borderline pairs may fragment across
    clusters, the standard production trade (a genuine cluster needs all
    16 bands' star edges to fail before it splits).

    The hub is attached with ONE window pass (min(url) OVER the bucket),
    not a groupBy + join-back (r6: 5.1 -> 3.7 s at 100k docs), and the
    candidate DISTINCT stays BEFORE the verify (deferring it: 3.7 -> 11.7 s)."""
    hub = F.min("url").over(Window.partitionBy("band_idx", "band_hash"))
    cand = (
        bands.select("url", hub.alias("hub"))
        .where(F.col("url") != F.col("hub"))
        .select(F.col("hub").alias("u1"), F.col("url").alias("u2"))
        .distinct()
    )
    return (
        cand.join(sh.alias("s1"), F.col("s1.url") == F.col("u1"))
        .join(sh.alias("s2"), F.col("s2.url") == F.col("u2"))
        .where(jaccard_at_least("s1.hs", "s2.hs", threshold))
        .select("u1", "u2")
    )


def assign_packs(
    spark: SparkSession,
    docs: DataFrame,
    order_col: str,
    budget: int,
    n_parts: int = 16,
    *,
    n_tokens_given: bool = False,
) -> tuple[DataFrame, caches.JvmRddHandle]:
    """Concat-then-chunk pack ids over `order_col` order via the two-level
    distributed prefix sum (per-partition cumsum + broadcast offsets —
    never a single-partition global window; same decomposition as the
    oracle-checked `sequence_packing` query in queries.py).  Adds
    `n_tokens` and `pack_id` columns.  Returns ``(packed, handle)``: the
    packed frame is lazy over a checkpoint whose blocks ``handle``
    releases once the caller is done with it.

    With ``n_tokens_given`` the caller has pre-computed `n_tokens` (with
    this exact expression) and may pass a frame WITHOUT the text payload:
    repartitionByRange samples its input with a separate job and the
    checkpoint stores every column, so a narrow frame skips a full text
    pass + text-sized block storage (r6 — the sequence_packing query
    passes (doc_id, n_tokens) only)."""
    if n_tokens_given:
        base = docs
    else:
        base = docs.withColumn(
            "n_tokens", F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")
        )
    parts, handle = caches.local_checkpoint(  # the totals collect materializes it
        base.repartitionByRange(n_parts, order_col).withColumn(
            "_pid", F.spark_partition_id()
        ),
        eager=False,
    )
    totals = parts.groupBy("_pid").agg(F.sum("n_tokens").alias("t")).collect()
    by_pid = {r["_pid"]: r["t"] for r in totals}
    offsets, acc = [], 0
    for pid in sorted(by_pid):
        offsets.append((pid, acc))
        acc += by_pid[pid]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _offset bigint")
    w = Window.partitionBy("_pid").orderBy(order_col)
    packed = (
        parts.withColumn("_cs", F.sum("n_tokens").over(w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn(
            "pack_id",
            F.floor((F.col("_offset") + F.col("_cs") - F.col("n_tokens")) / F.lit(budget)).cast("bigint"),
        )
        .drop("_pid", "_cs", "_offset")
    )
    return packed, handle


def curate(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    min_tokens: int = 10,
    max_dup_permille: int = 300,
    jaccard_threshold: float = 0.8,
    pack_budget: int | None = None,
    blocklist_domains: str | None = None,
    blocklist_urls: str | None = None,
    decon_benchmarks: str | None = None,
    split: bool = False,
    shuffle_seed: int | None = None,
    stage_times: dict | None = None,
) -> dict:
    """Run the curation funnel over an extract-pipeline output table;
    returns per-stage counts.

    Optional stages (each a scale-audited primitive from this repo):

    - ``blocklist_domains`` / ``blocklist_urls``: UT1-format rule files
      (spark/blocklist.py loaders); pages matching any rule are dropped
      FIRST — cheapest filter before any hashing.
    - ``decon_benchmarks``: text file(s), one benchmark document per
      line; any doc sharing an 8-token word-gram with a benchmark is
      dropped (GPT-3 appendix-C whole-doc variant) after the quality
      filter — the expensive gram join runs on the smallest surviving
      set.  Grams are xxhash64'd (collision odds ~|grams|²/2⁶⁴ —
      negligible; the oracled exact-string form is ngram_decontaminate).
    - ``split``: adds a leakage-safe train/valid/test column keyed on
      the SAME near-dup cluster ids stage 2 already computed (zero extra
      shuffles) — so the assignment is closed over near-dup clusters by
      construction even if dedup is later relaxed to keep k per cluster.
    - ``shuffle_seed``: packs are composed over a seeded deterministic
      global shuffle order (xxhash64(url, seed)) instead of url order —
      the standard pre-training document shuffle, so a pack mixes hosts
      and sources rather than concatenating one site's pages.  Only
      meaningful with ``pack_budget``.
    - ``stage_times``: optional dict that receives per-stage wall seconds
      (measurement aid — does not change execution).
    """
    import time as _time

    _t0 = _time.time()

    def _mark(label: str) -> None:
        nonlocal _t0
        now = _time.time()
        if stage_times is not None:
            stage_times[label] = round(now - _t0, 3)
        _t0 = now

    docs = (
        spark.read.parquet(input_path)
        .select("url", "markdown", "text")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
    )
    stats = {"input_docs": docs.count()}
    _mark("input")
    ckpt_handles: list = []
    try:
        # Caches registered by stages 0-2 (the blocklist projection, the
        # components' label checkpoint) have no dependents once the
        # near-dup docs are materialized; the scope releases them there
        # and leaves unrelated queries' caches alone.
        with caches.scope():
            # 0. URL blocklist (UT1 rules): drop matched pages before any hashing
            if blocklist_domains or blocklist_urls:
                from .blocklist import apply_blocklist, load_ut1_domains, load_ut1_urls

                dom = (
                    load_ut1_domains(spark, blocklist_domains)
                    if blocklist_domains
                    else spark.createDataFrame([], "domain string, category string")
                )
                pre = (
                    load_ut1_urls(spark, blocklist_urls)
                    if blocklist_urls
                    else spark.createDataFrame(
                        [], "rule_host string, path_prefix string, category string"
                    )
                )
                docs = apply_blocklist(docs, dom, pre)
                stats["after_blocklist"] = docs.count()
                _mark("blocklist")

            # 1. exact dedup (keep min url per fingerprint).  r6: decide on LIGHT
            # (url, md5) rows and attach once — same winner set as the payload
            # window (identical window spec), one url-keyed join instead of
            # shuffling text+markdown through the fingerprint window (AQE
            # broadcasts the winner set at bench scale).
            w = Window.partitionBy("_fp").orderBy("url")
            keep = (
                docs.select("url", F.md5("text").alias("_fp"))
                .withColumn("_rk", F.row_number().over(w))
                .filter("_rk = 1")
                .select("url")
            )
            # lazy: the stage count below is the materializing job (one pass, not
            # checkpoint + count); reused by pairs + components + filter
            docs, h = caches.local_checkpoint(docs.join(keep, "url"), eager=False)
            ckpt_handles.append(h)
            stats["after_exact_dedup"] = docs.count()
            _mark("exact_dedup")

            # 2. near-dup clusters → canonical per cluster (longest text, then url)
            # materialize the shingle sets and band table once each (both are
            # consumed 2-3 times downstream; without the checkpoint Spark would
            # recompute the 64-hash signature projection per consumer)
            sh, h = caches.local_checkpoint(shingle_sets(docs))
            ckpt_handles.append(h)
            _mark("shingle_sets")
            bands, h = caches.local_checkpoint(minhash_bands(sh))
            ckpt_handles.append(h)
            _mark("bands")
            # materialize the verified pairs before the CC loop: the verify join is
            # the funnel's most expensive plan, and leaving it lazy re-plans it
            # inside the first label-propagation round's edges materialization —
            # measured 3-5x timing instability at 100k docs (AQE re-plans under a
            # different runtime-stats context); checkpointed it is a stable ~9 s
            # stage and the CC rounds join a small materialized edge table.
            pairs, h = caches.local_checkpoint(_verified_pairs(sh, bands, jaccard_threshold))
            ckpt_handles.append(h)
            _mark("verified_pairs")
            # url strings — min() orders lexicographically; near-dup clusters
            # are quasi-cliques, so min-label converges in 2-4 rounds
            labels = min_label_components(
                docs, pairs.selectExpr("u1 AS src", "u2 AS dst"), "url"
            )
            # r6 canonical pick: decide on LIGHT rows, attach once (guide §8).
            # The old form joined the full (url, markdown, text) payload to the
            # labels and ran the cluster window over it — two payload shuffles for
            # a decision that only needs (url, cluster_id, length(text)).  Here the
            # window runs over the light frame; the surviving (url[, cluster_id])
            # set joins back to the payload once (AQE broadcasts it at bench scale;
            # at corpus scale it degrades to the same single url-keyed shuffle the
            # old join already paid).  Winner set is identical: same window, same
            # ordering keys.
            wc = Window.partitionBy("cluster_id").orderBy(
                F.col("_n").desc(), F.col("url").asc()
            )
            kept = (
                docs.select("url", F.length("text").alias("_n"))
                .join(labels, "url")
                .withColumn("_rk", F.row_number().over(wc))
                .filter("_rk = 1")
                .select("url", *(["cluster_id"] if split else []))
            )
            # consumed by two counts AND the export write; the stage count below
            # is the materializing job
            docs, h = caches.local_checkpoint(docs.join(kept, "url"), eager=False)
            ckpt_handles.append(h)
            stats["after_neardup_dedup"] = docs.count()
            _mark("components_canonical")

        # 3. quality filter: token floor + duplicate-line ceiling
        toks = F.size(F.split(F.trim("text"), r"\s+"))
        lines = F.filter(F.split("text", "\n"), lambda l: F.length(F.trim(l)) > 0)
        dup_permille = F.when(
            F.size(lines) > 0,
            F.round(
                1000.0
                * (F.size(lines) - F.size(F.array_distinct(lines)))
                / F.size(lines)
            ),
        ).otherwise(F.lit(0))
        docs = docs.filter(
            (toks >= min_tokens) & (dup_permille <= max_dup_permille)
        )
        stats["after_quality_filter"] = docs.count()
        _mark("quality_filter")

        # 3a. optional benchmark decontamination: drop any doc sharing an
        # 8-token word-gram with a benchmark line (GPT-3 appendix-C whole-doc
        # variant, xxhash64'd grams).  Benchmark grams are a bounded table
        # (benchmark suites are MBs) — broadcast; the corpus gram stream flows
        # through the join un-materialized and the anti-join is one shuffle
        # on url.
        if decon_benchmarks:
            gram_hashes = (
                "transform(sequence(0, size(_w) - 8), "
                "i -> xxhash64(concat_ws(' ', slice(_w, i + 1, 8))))"
            )
            bm_grams = (
                spark.read.text(decon_benchmarks)
                .select(F.split(F.trim("value"), r"\s+").alias("_w"))
                .where(F.size("_w") >= 8)
                .select(F.explode(F.expr(gram_hashes)).alias("gh"))
                .distinct()
            )
            doc_grams = (
                docs.select("url", F.split(F.trim("text"), r"\s+").alias("_w"))
                .where(F.size("_w") >= 8)
                .select("url", F.explode(F.expr(gram_hashes)).alias("gh"))
            )
            contaminated = (
                doc_grams.join(F.broadcast(bm_grams), "gh").select("url").distinct()
            )
            docs = docs.join(contaminated, "url", "left_anti")
            stats["after_decontamination"] = docs.count()

        # 3b. optional leakage-safe split: train/valid/test keyed on the
        # near-dup cluster id stage 2 already computed — a pure JVM hash
        # expression, zero extra shuffles, closed over dup clusters by
        # construction.
        if split:
            from .queries import leakage_split_expr

            _, split_col = leakage_split_expr("cluster_id")
            docs = docs.withColumn("split", split_col).drop("cluster_id")
            stats["split_counts"] = {
                r["split"]: r["n"]
                for r in docs.groupBy("split").agg(F.count("*").alias("n")).collect()
            }

        # 3c. optional sequence packing: training-ready pack ids over the
        # surviving docs (url order), so the exported JSONL can be consumed as
        # concat-then-chunk sequences without another pass over the corpus
        if pack_budget:
            # seeded global shuffle order for pack composition (deterministic:
            # same seed → same packs); url order otherwise
            order_col = "url"
            if shuffle_seed is not None:
                docs = docs.withColumn(
                    "_ord", F.xxhash64(F.col("url"), F.lit(int(shuffle_seed)))
                )
                order_col = "_ord"
                stats["shuffle_seed"] = int(shuffle_seed)
            # checkpoint the packed result too: both the n_packs count and the
            # export write consume it, and the post-checkpoint window+join
            # portion of assign_packs would otherwise run twice (lazy: the
            # n_packs aggregate below is the materializing job)
            packed, h = assign_packs(spark, docs, order_col, pack_budget)
            ckpt_handles.append(h)
            docs, h = caches.local_checkpoint(packed.drop("_ord"), eager=False)
            ckpt_handles.append(h)
            stats["n_packs"] = docs.agg(F.countDistinct("pack_id")).first()[0]
            stats["pack_budget"] = pack_budget

        # 4. export
        from extractor_spark.spark.sources import write_output

        write_output(docs, output_path, fmt="jsonl", partition_col=None)
        _mark("export")
        stats["output_path"] = output_path
        return stats
    finally:
        # curate owns its checkpoints end-to-end, unlike lazy-returning
        # queries: released after the export (their last consumer) or on
        # the error that stopped the funnel
        for h in ckpt_handles:
            h.unpersist()

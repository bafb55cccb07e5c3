"""Web link-graph construction + PageRank, Spark-first.

The extraction tier's classic downstream consumer: every crawl pipeline
(reference scope: lightfeed/extractor's per-page extraction,
reference src/extractors/index.ts) feeds a link graph — outlink
extraction per page, host-level aggregation, and a centrality measure
(PageRank, Brin & Page 1998 — public algorithm) used for crawl
prioritization and quality weighting of training corpora (e.g. the
Common Crawl host-rank lists).

Design for 10^12 pages / ~10^8 hosts:

- ``extract_outlinks`` is one Arrow ``mapInPandas`` pass over the pages
  table (no per-row Python UDF): the engine's HTML tokenizer streams tags
  (no DOM materialization — anchors only), hrefs resolve against the page
  url with the Node-parity legacy resolver.  Per-page work is O(bytes);
  the stage is embarrassingly parallel and repartition-defended from AQE
  coalescing like every other Python stage in this repo.
- ``host_graph`` reduces page-level links to (src_host, dst_host,
  n_links) with one map-side-combined groupBy — the only full shuffle of
  the build.  At web scale the host graph is ~10^9 edges: small enough to
  iterate on, which is exactly why PageRank runs on the host graph first.
- ``pagerank`` is the standard power iteration as DataFrame joins: each
  round is contributions = ranks ⋈ edges (pre-normalized out-weights,
  partitioned once on src and checkpointed) → groupBy(dst).sum — one shuffle
  per round, state localCheckpoint'ed every round so the plan stays flat
  (lineage depth O(1), not O(iterations)).  Dangling mass (hosts with no
  outlinks) is computed with a broadcastable scalar aggregate and
  redistributed uniformly, so ranks sum to 1 every round.  Weighted
  transition: a host linking 10× to one neighbor sends 10× the mass
  (link-multiplicity PageRank; the unweighted variant is n_links=1).
- pagerank, trustrank, spam_mass_ranks and hits share one setup per edge
  frame (``_graph``).  A PageRank/TrustRank round runs two Spark jobs, a
  HITS round three: the aggregate materializing the state checkpoint and
  a one-task broadcast build per edge join of the round plan.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import caches
from .tuning import checkpoint_loop, loop_partitions, scoped_loop_conf


# ---------------------------------------------------------------------------
# outlink extraction (engine tokenizer, streaming — no DOM build)
# ---------------------------------------------------------------------------


class _AnchorCollector:
    """Tokenizer builder that records (href, anchor_text) of <a> tags only.

    Anchor nesting follows the browser rule (a start-tag implicitly closes
    an open anchor); text between start and close accumulates as the
    anchor's text.  Implements the full builder protocol as no-ops so the
    tokenizer's CDATA/comment/decl handling stays on its normal paths.
    """

    __slots__ = ("pairs", "_href", "_buf")

    def __init__(self) -> None:
        self.pairs: list[tuple[str, str]] = []
        self._href: str | None = None
        self._buf: list[str] = []

    def _flush(self) -> None:
        if self._href is not None:
            self.pairs.append((self._href, "".join(self._buf)))
            self._href = None
        self._buf.clear()

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            self._flush()
            for name, value in attrs:
                if name == "href" and value:
                    self._href = value
                    break

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag == "a":
            self._flush()
            for name, value in attrs:
                if name == "href" and value:
                    self.pairs.append((value, ""))
                    break

    def handle_endtag(self, tag: str) -> None:
        if tag == "a":
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._href is not None:
            self._buf.append(data)

    def handle_comment(self, data: str) -> None:
        pass

    def handle_decl(self, decl: str) -> None:
        pass

    def handle_pi(self, data: str) -> None:
        pass

    def unknown_decl(self, data: str) -> None:
        pass


def page_links(url: str, html: str) -> list[tuple[str, str]]:
    """All (resolved_target, anchor_text) pairs of one page in document
    order — engine parity resolver, http(s) only, NOT de-duplicated (one
    pair per anchor occurrence; anchor-text stats need the multiplicity)."""
    from ..engine.tokenizer import tokenize
    from ..engine.urlresolve import resolve_url

    collector = _AnchorCollector()
    try:
        tokenize(html, collector)
    except Exception:
        return []  # poisoned page yields no links, never a task failure
    collector._flush()  # EOF with an unclosed anchor
    out: list[tuple[str, str]] = []
    for href, text in collector.pairs:
        try:
            resolved = resolve_url(url, href)
        except Exception:
            continue
        if resolved.startswith(("http://", "https://")):
            out.append((resolved, text))
    return out


def page_outlinks(url: str, html: str) -> list[str]:
    """Distinct <a href> targets of one page, resolved absolute,
    http(s) only, preserving first-seen order."""
    out: list[str] = []
    seen: set[str] = set()
    for resolved, _ in page_links(url, html):
        if resolved not in seen:
            seen.add(resolved)
            out.append(resolved)
    return out


def _host_of(url: str) -> str | None:
    rest = url.split("://", 1)[1] if "://" in url else url
    host = rest.split("/", 1)[0].split("?", 1)[0].split("#", 1)[0]
    host = host.rsplit("@", 1)[-1].split(":", 1)[0].lower()
    return host or None


def extract_outlinks(pages: DataFrame) -> DataFrame:
    """(url, html) pages → one row per (src_url, src_host, dst_url, dst_host).

    One Arrow pass; explicit repartition count defends Python-stage
    parallelism from AQE coalescing (repo invariant #4).
    """
    import pandas as pd

    n_parts = pages.sparkSession.sparkContext.defaultParallelism

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            src_urls: list[str] = []
            src_hosts: list[str] = []
            dst_urls: list[str] = []
            dst_hosts: list[str] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    continue
                if isinstance(html, (bytes, bytearray)):
                    html = bytes(html).decode("utf-8", "replace")
                src_host = _host_of(url)
                if src_host is None:
                    continue
                for dst in page_outlinks(url, html):
                    dst_host = _host_of(dst)
                    if dst_host is None:
                        continue
                    src_urls.append(url)
                    src_hosts.append(src_host)
                    dst_urls.append(dst)
                    dst_hosts.append(dst_host)
            yield pd.DataFrame(
                {
                    "src_url": pd.Series(src_urls, dtype="object"),
                    "src_host": pd.Series(src_hosts, dtype="object"),
                    "dst_url": pd.Series(dst_urls, dtype="object"),
                    "dst_host": pd.Series(dst_hosts, dtype="object"),
                }
            )

    return pages.select("url", "html").repartition(n_parts).mapInPandas(
        run, schema="src_url string, src_host string, dst_url string, dst_host string"
    )


def extract_anchor_texts(pages: DataFrame) -> DataFrame:
    """(url, html) pages → one row per anchor occurrence:
    (src_host, dst_host, anchor_text).  Anchor text is the query-independent
    relevance signal for the TARGET page (the classic web-search/corpus
    augmentation: what other sites call this host).  Same single-Arrow-pass
    shape as ``extract_outlinks``; no dedup — multiplicity is the signal."""
    import pandas as pd

    n_parts = pages.sparkSession.sparkContext.defaultParallelism

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            src_hosts: list[str] = []
            dst_hosts: list[str] = []
            texts: list[str] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    continue
                if isinstance(html, (bytes, bytearray)):
                    html = bytes(html).decode("utf-8", "replace")
                src_host = _host_of(url)
                if src_host is None:
                    continue
                for dst, text in page_links(url, html):
                    dst_host = _host_of(dst)
                    if dst_host is None:
                        continue
                    src_hosts.append(src_host)
                    dst_hosts.append(dst_host)
                    texts.append(text)
            yield pd.DataFrame(
                {
                    "src_host": pd.Series(src_hosts, dtype="object"),
                    "dst_host": pd.Series(dst_hosts, dtype="object"),
                    "anchor_text": pd.Series(texts, dtype="object"),
                }
            )

    return pages.select("url", "html").repartition(n_parts).mapInPandas(
        run, schema="src_host string, dst_host string, anchor_text string"
    )


def anchor_term_index(anchors: DataFrame, top_k: int = 5) -> DataFrame:
    """Anchor occurrences → top-``top_k`` terms per TARGET host:
    (dst_host, term, n_mentions, rk).  Off-site anchors only (on-site nav
    text like "Home" describes the site to itself, not to the web), terms
    lowercased \\\\W+ splits, ties broken lexically so output is
    deterministic.  One map-side-combined count shuffle + one top-k window
    partitioned by host — no all-rows sort at any scale."""
    from pyspark.sql import Window

    terms = (
        anchors.filter(F.col("src_host") != F.col("dst_host"))
        .select(
            "dst_host",
            F.explode(
                F.filter(
                    F.split(F.lower("anchor_text"), r"[^a-z0-9]+"),
                    lambda t: t != "",
                )
            ).alias("term"),
        )
        .groupBy("dst_host", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_mentions"))
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n_mentions").desc(), F.col("term")
    )
    return (
        terms.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select("dst_host", "term", "n_mentions", F.col("rk").cast("int"))
    )


def host_graph(outlinks: DataFrame) -> DataFrame:
    """Page-level outlinks → weighted host edges (src_host, dst_host, n_links).

    Single map-side-combined aggregation; self-links dropped (standard for
    PageRank so a host cannot vote for itself)."""
    return (
        outlinks.groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
        .filter(F.col("src_host") != F.col("dst_host"))
    )


# ---------------------------------------------------------------------------
# graph setup shared by the power-iteration operators
# ---------------------------------------------------------------------------

_RANKS_SCHEMA = "host string, rank double"


class _Graph(NamedTuple):
    """One edge frame's pre-loop setup, built by :func:`_graph`."""

    edges: DataFrame
    nodes: DataFrame
    n: int
    n_seeds: int
    n_parts: int


@contextmanager
def _graph(edges: DataFrame, seeds=None):
    """The setup pagerank, trustrank, spam_mass_ranks and HITS share, built
    once per edge frame; yields a :class:`_Graph`, released on exit.

    - ``edges`` is persisted: unpersisted, each consumer (node table,
      transition frame, HITS' edge layouts) would re-run the full upstream
      plan — for the host graph the Python outlink extraction.
    - ``nodes`` is one eagerly checkpointed table (host, out_total, n_out,
      seed) over sources and destinations: null ``out_total`` marks a
      dangling host, null ``seed`` a non-seed (seeds absent from the graph
      are ignored).  A checkpoint, not a persist: HITS re-joins it every
      round, and a persist keeps the upstream logical plan in each
      round's analysis.
    - One aggregate over the table gives ``n``, the edge count and
      ``n_seeds``; the loop width follows the graph size (tuning.py).
    """
    spark = edges.sparkSession
    edges = edges.persist()
    try:
        src = F.col("src_host").alias("host")
        nodes = (
            edges.select(src, "n_links", F.lit(1).alias("out_edge"))
            .unionAll(edges.select("dst_host", F.lit(None), F.lit(None)))
            .groupBy("host")
            .agg(
                F.sum("n_links").alias("out_total"),
                F.count("out_edge").alias("n_out"),
            )
        )
        if isinstance(seeds, DataFrame):
            # curated seed sets are bounded (thousands of hosts even at web
            # scale) — broadcastable by construction
            flags = seeds.select("host").distinct().withColumn("seed", F.lit(True))
            nodes = nodes.join(F.broadcast(flags), "host", "left")
        else:
            # a driver-side list is a plain IN test: no frame, no join
            is_seed = F.col("host").isin(sorted(set(seeds or ())))
            nodes = nodes.withColumn("seed", F.when(is_seed, F.lit(True)))
        nodes, handle = caches.local_checkpoint(nodes, eager=True)
        try:
            n, n_edges, n_seeds = nodes.agg(
                F.count(F.lit(1)), F.sum("n_out"), F.count("seed")
            ).first()
            n_parts = loop_partitions(spark.sparkContext, max(n, n_edges or 0))
            yield _Graph(edges, nodes, n, n_seeds, n_parts)
        finally:
            handle.unpersist()
    finally:
        edges.unpersist()


# ---------------------------------------------------------------------------
# PageRank / TrustRank (power iteration, one shuffle per round, flat lineage)
# ---------------------------------------------------------------------------


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 40,
    tol: float = 1e-9,
) -> DataFrame:
    """Weighted PageRank over (src_host, dst_host, n_links) edges.

    Returns (host, rank) over the union of sources and destinations; ranks
    sum to 1.  The rank state carries an ``is_dangling`` flag; each round
    takes a LAZY localCheckpoint on the new state whose materializing job
    is the combined aggregate computing both the L1 convergence delta and
    the NEXT round's dangling mass (the aggregate touches every partition,
    so the checkpoint blocks it persists as a side effect are complete) —
    no per-round semi-join, no separate checkpoint job.  A round is two
    jobs: that aggregate and the round plan's one-task broadcast build."""
    return _rank_loops(edges, None, (_pagerank_rule,), damping, max_iter, tol)[0]


def trustrank(
    edges: DataFrame,
    seeds: list[str] | DataFrame,
    damping: float = 0.85,
    max_iter: int = 40,
    tol: float = 1e-9,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004 — public
    algorithm): PageRank with the teleport vector concentrated on a trusted
    seed set instead of uniform, so trust flows outward from the seeds and
    hosts unreachable from them converge to rank 0.  The downstream spam
    signal is relative spam mass (Gyöngyi et al. 2006),
    (pagerank − trustrank)/pagerank — both vectors sum to 1, and a host
    whose PageRank is NOT backed by trusted reachability gets mass ≈ 1.

    Shares :func:`_power_iteration` with :func:`pagerank` but keeps its own
    rank expression rather than a teleport parameter: the uniform base term
    there is ``(1−d)/n`` while the seeded one is ``(1−d)·s_i`` —
    algebraically equal for uniform s but not bit-identical in floating
    point, and pagerank's numpy twin is pinned at ±1e-12.  State carries
    (rank, is_dangling, s); dangling mass redistributes to the SEED
    distribution (the personalized-PageRank convention), preserving unit
    mass.  Seeds absent from the graph are ignored; t₀ = s (the
    Gyöngyi initialization).  Twin: numpy same-iterate ±1e-12
    (tests/test_webgraph.py).
    """
    return _rank_loops(edges, seeds, (_trustrank_rule,), damping, max_iter, tol)[0]


def spam_mass_ranks(
    edges: DataFrame,
    seeds,
    damping: float = 0.85,
    max_iter: int = 40,
    tol: float = 1e-9,
) -> tuple[DataFrame, DataFrame]:
    """PageRank and TrustRank over the SAME edge frame with the two
    power-iteration loops running CONCURRENTLY on two driver threads —
    returns ``(pagerank_df, trustrank_df)``.

    The loops are data-independent (they only share the immutable setup),
    and each round is ~45 ms of driver plan compile plus short jobs, so
    interleaving them overlaps one loop's driver work with the other's
    executor work: wall ≈ the slower loop instead of the sum (r6,
    measured ~−2 s on the sf0.1 spam-mass query).

    Results are bit-identical to sequential ``pagerank()`` +
    ``trustrank()`` (pinned by tests/test_webgraph.py): both loops run on
    the one setup (:func:`_graph`), so there is one width and one conf
    scope, entered before the threads start; each loop's FP math touches
    only its own state frames, and each checkpoint handle is read from its
    own frame's plan, so neither loop can release the other's blocks.
    """
    rules = (_pagerank_rule, _trustrank_rule)
    return tuple(_rank_loops(edges, seeds, rules, damping, max_iter, tol))


def _pagerank_rule(g: _Graph, damping):
    """PageRank's first state and rank Column over ``g``; None for the empty
    graph."""
    if g.n == 0:
        return None
    n = g.n
    c_base = F.lit((1.0 - damping) / n)
    c_damping = F.lit(damping)

    def rank_of(c_in, mass):
        return c_base + c_damping * (c_in + F.lit(mass / n))

    is_dangling = F.isnull("out_total").alias("is_dangling")
    first = g.nodes.select("host", F.lit(1.0 / n).alias("rank"), is_dangling)
    return first, rank_of, ()


def _trustrank_rule(g: _Graph, damping):
    """TrustRank's first state and rank Column over ``g``; None when no seed
    is in the graph."""
    if g.n_seeds == 0:
        return None
    c_teleport = F.lit(1.0 - damping) * F.col("s")
    c_damping = F.lit(damping)
    c_s = F.col("s")

    def rank_of(c_in, mass):
        return c_teleport + c_damping * (c_in + F.lit(mass) * c_s)

    first = g.nodes.select(
        "host",
        F.when(F.col("seed").isNotNull(), F.lit(1.0 / g.n_seeds))
        .otherwise(F.lit(0.0))
        .alias("s"),
        F.isnull("out_total").alias("is_dangling"),
    ).withColumn("rank", F.col("s"))
    return first, rank_of, ("s",)


def _rank_loops(edges, seeds, rules, damping, max_iter, tol) -> list[DataFrame]:
    """One (host, rank) frame per rule, every loop over ONE :func:`_graph`
    setup and ONE transition frame, under one conf scope; a second loop
    runs concurrently on its own driver thread.  A rule with no loop to
    run (empty graph, or no seed in the graph) yields the empty frame."""
    import threading

    spark = edges.sparkSession
    with _graph(edges, seeds) as g:
        loops = [rule(g, damping) for rule in rules]
        out = [spark.createDataFrame([], _RANKS_SCHEMA) for _ in rules]
        live = [i for i, loop in enumerate(loops) if loop is not None]
        if not live:
            return out
        errors: list = []

        def runner(i):
            try:
                out[i] = _power_iteration(trans, *loops[i], max_iter, tol)
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors.append(e)

        with scoped_loop_conf(spark, g.n_parts, codegen=False):
            trans, trans_handle = _transitions(g)
            threads = [
                threading.Thread(target=runner, args=(i,), daemon=True)
                for i in live[1:]
            ]
            try:
                for t in threads:
                    t.start()
                runner(live[0])
                for t in threads:
                    t.join()
            finally:
                trans_handle.unpersist()
        if errors:
            raise errors[0]
        return out


def _transitions(g: _Graph):
    """Transition weights w = n_links / out_total(src), partitioned once on
    src and eagerly checkpointed → ``(trans, handle)``.

    The out totals come from an aggregate over the cached edges, not from
    the node table: a checkpoint carries no distinct-key information, so
    the planner would size edges ⋈ nodes as a product and plan every
    round as a sort-merge join instead of broadcasting trans."""
    out = g.edges.groupBy("src_host").agg(F.sum("n_links").alias("out_total"))
    trans = (
        g.edges.join(out, "src_host")
        .select(
            F.col("src_host").alias("host"),
            "dst_host",
            (F.col("n_links").cast("double") / F.col("out_total")).alias("w"),
        )
        .repartition(g.n_parts, "host")
    )
    # r6: a checkpoint, not a persist, keeps each round's plan
    # LogicalRDD-sized (~-1 s per 20-round loop at sf0.1, OPTIMIZATION_r06.md)
    return caches.local_checkpoint(trans, eager=True)


def _power_iteration(trans, first, rank_of, carry, max_iter, tol) -> DataFrame:
    """The power-iteration loop of :func:`pagerank` and :func:`trustrank`.

    ``first`` is the first (host, rank, is_dangling, *carry) state;
    ``rank_of(contrib, dangling_mass)`` is the variant's rank Column;
    ``carry`` names the extra state columns it reads.  Each round
    (checkpoint_loop) takes a lazy state checkpoint materialized by the
    combined L1-delta + next-dangling-mass aggregate; with the one-task
    broadcast build of the round plan's join that is two jobs per round.
    The final checkpoint backs the (lazy) result and is registered —
    consumers release it via queries.release_query_caches()."""
    ranks, handle = caches.local_checkpoint(first, eager=False)

    # Loop-invariant Column objects hoisted out of the rounds (r6): Columns
    # are immutable and reusable across DataFrames, and every F.* call is a
    # py4j round-trip — per-round expression building was a measurable slice
    # of the ~150 ms/round driver floor.  Only the dangling-mass literal is
    # rebuilt per round.
    state_cols = ("host", "rank", "is_dangling", *carry)
    c_dst = F.col("dst_host").alias("host")
    c_contrib_in = (F.col("rank") * F.col("w")).alias("c")
    c_contrib = F.sum("c").alias("contrib")
    c_old_rank = F.col("rank").alias("old_rank")
    c_coalesce0 = F.coalesce("contrib", F.lit(0.0))
    c_delta = F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("delta")
    c_dangling = F.coalesce(
        F.sum(F.when(F.col("is_dangling"), F.col("rank"))), F.lit(0.0)
    ).alias("dangling")
    # also the first state checkpoint's materializing job
    mass = ranks.agg(c_dangling).first()[0]

    def step(ranks):
        ranks = ranks.select(*state_cols)
        contrib = (
            ranks.join(trans, "host")
            .select(c_dst, c_contrib_in)
            .groupBy("host")
            .agg(c_contrib)
        )
        return (
            ranks.select("host", c_old_rank, "is_dangling", *carry)
            .join(contrib, "host", "left")
            .select(
                "host",
                rank_of(c_coalesce0, mass).alias("rank"),
                "old_rank",
                "is_dangling",
                *carry,
            )
        )

    def converged(new_ranks) -> bool:
        nonlocal mass
        row = new_ranks.agg(c_delta, c_dangling).first()
        mass = row["dangling"]
        return row["delta"] < tol

    ranks, handle = checkpoint_loop(ranks, handle, step, converged, max_iter)
    caches.register(handle)
    return ranks.select("host", "rank")


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999 — public algorithm)
# ---------------------------------------------------------------------------


def hits(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Weighted HITS over (src_host, dst_host, n_links) edges →
    (host, hub, authority), each vector L1-normalized to sum 1.

    The mutually-recursive power iteration: authority(v) = Σ over in-edges
    of hub(u)·w, hub(u) = Σ over out-edges of authority(v)·w — the classic
    complement to PageRank for crawl seeding (hubs = link pages worth
    re-crawling for discovery, authorities = content pages worth keeping).

    Scale shape (same discipline as ``pagerank``):

    - Edges are checkpointed TWICE, pre-partitioned on src_host and on
      dst_host — each round's two joins then shuffle only the host-sized
      score frame, never the edge table.
    - Per-iteration normalization is deferred: each round consumes the
      previous round's hub vector scaled by the driver-scalar sum from the
      previous materializing action (per-round rescaling is a global
      constant, so the converged direction — the principal eigenvectors of
      WᵀW / WWᵀ — is unchanged; it only keeps magnitudes bounded).  The
      true L1 normalization happens once, on the final vectors.
    - Three jobs per round (checkpoint_loop): a lazy localCheckpoint on
      the new state whose materializing action is the sums aggregate that
      the NEXT round's scaling needs anyway, plus a one-task broadcast
      build for each of the two edge joins.  At real widths the round's
      authority frame takes a lazy checkpoint too (it feeds BOTH the hub
      join and the new state); it is released with the parent generation,
      after the action.
    - Fixed ``max_iter`` rounds (the batch operating point, matching the
      registry's fixed-20-round pagerank): deterministic output and
      bounded driver time; a convergence delta would cost a second scan
      per round for a loop that runs ~20 rounds regardless.
    """
    spark = edges.sparkSession
    with _graph(edges) as g:
        if g.n == 0:
            return spark.createDataFrame(
                [], "host string, hub double, authority double"
            )
        # the final state checkpoint (registered by the loop) backs the lazy
        # result; the node table does not, and is released on exit
        with scoped_loop_conf(spark, g.n_parts, codegen=False):
            return _hits_loop(g.edges, g.nodes.select("host"), g.n, g.n_parts, max_iter)


def _hits_loop(edges, nodes, n, n_parts, max_iter) -> DataFrame:
    # In the tiny regime the a_raw subtree is a one-to-few-task join+agg:
    # recomputing it for its second consumer inside the same job is cheaper
    # than the ~45 ms/round physical-plan compile the lazy checkpoint call
    # costs (measured r6 at sf0.1, OPTIMIZATION_r06.md).  At real widths
    # the checkpoint stays — there the recompute is a full extra shuffle's
    # worth of work.  Both forms are bit-identical: the checkpoint only
    # shares an RDD, it never changes the computed values.
    inline_araw = n_parts <= 4
    w = edges.select("src_host", "dst_host", F.col("n_links").cast("double").alias("w"))
    # r6: eager localCheckpoints (not persists) so each round's plans are
    # LogicalRDD-sized — see _power_iteration
    by_src, src_handle = caches.local_checkpoint(
        w.repartition(n_parts, "src_host"), eager=True
    )
    by_dst, dst_handle = caches.local_checkpoint(
        w.repartition(n_parts, "dst_host"), eager=True
    )
    state, handle = caches.local_checkpoint(
        nodes.select(
            "host", F.lit(1.0 / n).alias("hub"), F.lit(1.0 / n).alias("authority")
        ),
        eager=False,
    )

    # loop-invariant Columns hoisted — see _power_iteration (r6); only the
    # 1/sh literal is rebuilt per round
    c_src = F.col("host").alias("src_host")
    c_dst = F.col("dst_host").alias("host")
    c_sum_a = F.sum("c").alias("a_raw")
    c_dst2 = F.col("host").alias("dst_host")
    c_src2 = F.col("src_host").alias("host")
    c_hraw_in = (F.col("a_raw") * F.col("w")).alias("c")
    c_sum_h = F.sum("c").alias("h_raw")
    c_hub_out = F.coalesce("h_raw", F.lit(0.0)).alias("hub")
    c_auth_out = F.coalesce("a_raw", F.lit(0.0)).alias("authority")
    c_sum_hub = F.sum("hub")
    sh = state.agg(c_sum_hub).first()[0]
    araw_handles: list = []

    def step(state):
        # authority ← in-edge hubs (input hub scaled to unit L1 mass)
        a_raw = (
            state.select(c_src, "hub")
            .join(by_src, "src_host")
            .select(
                c_dst,
                (F.col("hub") * F.lit(1.0 / sh) * F.col("w")).alias("c"),
            )
            .groupBy("host")
            .agg(c_sum_a)
        )
        if not inline_araw:
            # LAZY checkpoint (r6): consumed by the hub join AND the new
            # state, but a checkpoint shares ONE RDD between them — the
            # state's materializing aggregate computes a_raw's stages once
            # inside the same job.  Eager here cost one extra job per round.
            a_raw, a_handle = caches.local_checkpoint(a_raw, eager=False)
            araw_handles.append(a_handle)
        # hub ← out-edge authorities (unnormalized a_raw: a global constant,
        # absorbed by the final normalization)
        h_raw = (
            a_raw.select(c_dst2, "a_raw")
            .join(by_dst, "dst_host")
            .select(c_src2, c_hraw_in)
            .groupBy("host")
            .agg(c_sum_h)
        )
        return (
            nodes.join(a_raw, "host", "left")
            .join(h_raw, "host", "left")
            .select("host", c_hub_out, c_auth_out)
        )

    def measure(state) -> bool:
        nonlocal sh
        sh = state.agg(c_sum_hub).first()[0]
        # the round's a_raw blocks have no dependents once the state exists
        while araw_handles:
            araw_handles.pop().unpersist()
        return False

    state, handle = checkpoint_loop(state, handle, step, measure, max_iter)
    sa = state.agg(F.sum("authority")).first()[0]
    src_handle.unpersist()
    dst_handle.unpersist()
    caches.register(handle)
    return state.select(
        "host",
        (F.col("hub") / F.lit(sh)).alias("hub"),
        (F.col("authority") / F.lit(sa)).alias("authority"),
    )

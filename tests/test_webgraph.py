"""Link-graph construction + PageRank gates.

- Outlink extraction (engine tokenizer + legacy resolver, Arrow pass) vs
  an INDEPENDENT single-threaded twin built on stdlib html.parser: exact
  edge-set equality on the synth corpus, adversarial pages included.
- Distributed PageRank vs a numpy power-iteration twin on the same edge
  list: per-host agreement within ±2e-9, rank mass == 1.
- Dangling-mass semantics on a hand graph (A→B, B dangles).
- Registry: both queries present, after every oracled query.
"""

from __future__ import annotations

from html.parser import HTMLParser

import numpy as np
import pytest

from extractor_spark.engine.urlresolve import resolve_url
from extractor_spark.spark.queries import QUERIES, release_query_caches
from extractor_spark.spark.synth import _synth_row
from extractor_spark.spark.webgraph import (
    extract_outlinks,
    hits,
    host_graph,
    page_outlinks,
    pagerank,
)

N_PAGES = 400  # covers 25 adversarial pages (every 16th) + 50-host mix


class _StdlibAnchors(HTMLParser):
    """Independent twin: (href, anchor_text) pairs with browser nesting
    semantics (an <a> start implicitly closes an open anchor)."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.pairs = []
        self._href = None
        self._buf = []

    def _flush(self):
        if self._href is not None:
            self.pairs.append((self._href, "".join(self._buf)))
            self._href = None
        self._buf = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            self._flush()
            for k, v in attrs:
                if k == "href" and v:
                    self._href = v
                    break

    def handle_startendtag(self, tag, attrs):
        if tag == "a":
            self._flush()
            for k, v in attrs:
                if k == "href" and v:
                    self.pairs.append((v, ""))
                    break

    def handle_endtag(self, tag):
        if tag == "a":
            self._flush()

    def handle_data(self, data):
        if self._href is not None:
            self._buf.append(data)

    @property
    def hrefs(self):
        return [h for h, _ in self.pairs]


def twin_links(url: str, html: str) -> list[tuple[str, str]]:
    """Independent extraction: stdlib tokenizer, same resolver/filter."""
    p = _StdlibAnchors()
    p.feed(html)
    p.close()
    p._flush()  # EOF with an unclosed anchor
    out = []
    for href, text in p.pairs:
        try:
            resolved = resolve_url(url, href)
        except Exception:
            continue
        if resolved.startswith(("http://", "https://")):
            out.append((resolved, text))
    return out


def twin_outlinks(url: str, html: str) -> list[str]:
    out, seen = [], set()
    for resolved, _ in twin_links(url, html):
        if resolved not in seen:
            seen.add(resolved)
            out.append(resolved)
    return out


def _twin_rows():
    rows = [_synth_row(i) for i in range(N_PAGES)]
    return [(r["url"], r["html"].decode("utf-8")) for r in rows]


def twin_host_edges():
    edges: dict = {}
    for url, html in _twin_rows():
        src = url.split("://", 1)[1].split("/", 1)[0]
        for dst_url in twin_outlinks(url, html):
            dst = (
                dst_url.split("://", 1)[1]
                .split("/", 1)[0]
                .rsplit("@", 1)[-1]
                .split(":", 1)[0]
                .lower()
            )
            if dst and dst != src:
                edges[(src, dst)] = edges.get((src, dst), 0) + 1
    return edges


def test_page_outlinks_matches_stdlib_twin():
    for url, html in _twin_rows():
        assert page_outlinks(url, html) == twin_outlinks(url, html), url


def test_page_links_anchor_text_matches_stdlib_twin():
    from extractor_spark.spark.webgraph import page_links

    for url, html in _twin_rows():
        assert page_links(url, html) == twin_links(url, html), url


def test_anchor_nesting_and_eof_semantics():
    from extractor_spark.spark.webgraph import page_links

    u = "https://h.example.org/p"
    # implicit close on new <a>; explicit close; EOF-unclosed anchor
    html = '<a href="/x">first<a href="/y">second</a><a href="/z">tail'
    assert page_links(u, html) == twin_links(u, html)
    texts = [t for _, t in page_links(u, html)]
    assert texts == ["first", "second", "tail"]
    # self-closing anchor contributes an empty-text pair
    html2 = '<p><a href="/q"/>after</p>'
    assert page_links(u, html2) == twin_links(u, html2)


def twin_anchor_terms(top_k=5):
    import re
    from collections import Counter

    counts: Counter = Counter()
    for url, html in _twin_rows():
        src = url.split("://", 1)[1].split("/", 1)[0]
        for dst_url, text in twin_links(url, html):
            dst = (
                dst_url.split("://", 1)[1]
                .split("/", 1)[0]
                .rsplit("@", 1)[-1]
                .split(":", 1)[0]
                .lower()
            )
            if not dst or dst == src:
                continue
            for term in re.split(r"[^a-z0-9]+", text.lower()):
                if term:
                    counts[(dst, term)] += 1
    rows = []
    for host in sorted({h for h, _ in counts}):
        ranked = sorted(
            ((n, t) for (h, t), n in counts.items() if h == host),
            key=lambda p: (-p[0], p[1]),
        )
        for rk, (n, t) in enumerate(ranked[:top_k], 1):
            rows.append((host, t, n, rk))
    return rows


def test_anchor_term_index_matches_twin(spark):
    import pandas as pd

    from extractor_spark.spark.synth import PAGES_SCHEMA
    from extractor_spark.spark.webgraph import anchor_term_index, extract_anchor_texts

    rows = [_synth_row(i) for i in range(N_PAGES)]
    pages = spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA)
    got = sorted(
        tuple(r) for r in anchor_term_index(extract_anchor_texts(pages)).collect()
    )
    assert got == sorted(twin_anchor_terms())


def test_extract_outlinks_distributed_matches_twin(spark):
    import pandas as pd

    from extractor_spark.spark.synth import PAGES_SCHEMA

    rows = [_synth_row(i) for i in range(N_PAGES)]
    pages = spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA)
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_graph(extract_outlinks(pages)).collect()
    }
    assert got == twin_host_edges()


def numpy_pagerank(edges: dict, damping=0.85, iters=200):
    """Reference power iteration; with the same ``iters`` and start vector
    it computes bit-near-identical iterates to webgraph.pagerank."""
    hosts = sorted({h for e in edges for h in e})
    idx = {h: i for i, h in enumerate(hosts)}
    n = len(hosts)
    out_tot = np.zeros(n)
    for (s, _), w in edges.items():
        out_tot[idx[s]] += w
    m = np.zeros((n, n))
    for (s, d), w in edges.items():
        m[idx[d], idx[s]] = w / out_tot[idx[s]]
    dangling = out_tot == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1 - damping) / n + damping * (m @ r + r[dangling].sum() / n)
    return {h: r[idx[h]] for h in hosts}


def test_pagerank_matches_numpy_twin(spark):
    import pandas as pd

    edges = twin_host_edges()
    edf = spark.createDataFrame(
        pd.DataFrame(
            [(s, d, w) for (s, d), w in edges.items()],
            columns=["src_host", "dst_host", "n_links"],
        )
    )
    # same iterate: K rounds both sides, no early exit (tol=0) — agreement
    # is then pure floating-point noise, not convergence luck
    got = {
        r["host"]: r["rank"]
        for r in pagerank(edf, max_iter=25, tol=0.0).collect()
    }
    release_query_caches()
    want = numpy_pagerank(edges, iters=25)
    assert set(got) == set(want)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for h in want:
        assert abs(got[h] - want[h]) < 1e-12, h


def test_pagerank_dangling_hand_graph(spark):
    # A→B; B dangles.  Closed form: r_A = (1-d)/2 + d*(r_A+r_B)/2 ... i.e.
    # with full redistribution both converge; just pin vs the numpy twin
    # plus the invariants mass=1 and r_B > r_A (B receives A's vote).
    edf = spark.createDataFrame(
        [("a.org", "b.org", 3)], "src_host string, dst_host string, n_links int"
    )
    got = {
        r["host"]: r["rank"] for r in pagerank(edf, max_iter=40, tol=0.0).collect()
    }
    release_query_caches()
    want = numpy_pagerank({("a.org", "b.org"): 3}, iters=40)
    assert abs(sum(got.values()) - 1.0) < 1e-12
    assert got["b.org"] > got["a.org"]
    for h in want:
        assert abs(got[h] - want[h]) < 1e-12


def numpy_hits(edges: dict, iters=20):
    """Reference HITS mirroring webgraph.hits's exact recurrence (input hub
    scaled by the previous round's L1 sum, normalization deferred to the
    end) so same-``iters`` runs agree to floating-point noise."""
    hosts = sorted({h for e in edges for h in e})
    idx = {h: i for i, h in enumerate(hosts)}
    n = len(hosts)
    w = np.zeros((n, n))
    for (s, d), wt in edges.items():
        w[idx[s], idx[d]] = wt
    hub = np.full(n, 1.0 / n)
    auth = np.full(n, 1.0 / n)
    sh = hub.sum()
    for _ in range(iters):
        auth = w.T @ (hub / sh)
        hub = w @ auth
        sh = hub.sum()
    return (
        {h: hub[idx[h]] / sh for h in hosts},
        {h: auth[idx[h]] / auth.sum() for h in hosts},
    )


def test_hits_matches_numpy_twin(spark):
    import pandas as pd

    edges = twin_host_edges()
    edf = spark.createDataFrame(
        pd.DataFrame(
            [(s, d, w) for (s, d), w in edges.items()],
            columns=["src_host", "dst_host", "n_links"],
        )
    )
    rows = hits(edf, max_iter=20).collect()
    release_query_caches()
    got_hub = {r["host"]: r["hub"] for r in rows}
    got_auth = {r["host"]: r["authority"] for r in rows}
    want_hub, want_auth = numpy_hits(edges, iters=20)
    assert set(got_hub) == set(want_hub)
    assert abs(sum(got_hub.values()) - 1.0) < 1e-9
    assert abs(sum(got_auth.values()) - 1.0) < 1e-9
    for h in want_hub:
        assert abs(got_hub[h] - want_hub[h]) < 1e-9, h
        assert abs(got_auth[h] - want_auth[h]) < 1e-9, h


def test_hits_checkpointed_araw_path(spark, monkeypatch):
    """Loop widths above 4 take the per-round a_raw checkpoint that the
    tiny regime inlines: same twin agreement, and every a_raw checkpoint
    is released with its round."""
    from extractor_spark.spark import webgraph

    monkeypatch.setattr(webgraph, "loop_partitions", lambda sc, n: 8)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    test_hits_matches_numpy_twin(spark)
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_hits_hand_graph(spark):
    # a→b, a→c, b→c: a is the pure hub (links both authorities); c the top
    # authority (cited by both); a gets zero authority, c zero hub.
    edf = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 1), ("b", "c", 1)],
        "src_host string, dst_host string, n_links int",
    )
    rows = hits(edf, max_iter=30).collect()
    release_query_caches()
    hub = {r["host"]: r["hub"] for r in rows}
    auth = {r["host"]: r["authority"] for r in rows}
    assert hub["a"] > hub["b"] > hub["c"] == 0.0
    assert auth["c"] > auth["b"] > auth["a"] == 0.0
    want_hub, want_auth = numpy_hits(
        {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1}, iters=30
    )
    for h in want_hub:
        assert abs(hub[h] - want_hub[h]) < 1e-12
        assert abs(auth[h] - want_auth[h]) < 1e-12


def test_hits_wrapper_mass_and_determinism(spark):
    df = QUERIES["hostgraph_hits"][0](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    release_query_caches()
    assert [f.name for f in df.schema] == ["host", "hub_nano", "auth_nano"]
    assert abs(sum(r["hub_nano"] for r in rows) - 1_000_000_000) < 200
    assert abs(sum(r["auth_nano"] for r in rows) - 1_000_000_000) < 200
    rows2 = QUERIES["hostgraph_hits"][0](spark, "/root/testdata/sf0.001").collect()
    release_query_caches()
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows]


def test_registry_entries_rows_only_at_tail(spark):
    names = list(QUERIES)
    for q in (
        "outlink_hostgraph",
        "hostgraph_pagerank",
        "anchor_text_terms",
        "hostgraph_hits",
    ):
        assert q in QUERIES
        assert QUERIES[q][1] is None
        assert names.index(q) >= 50


def test_query_wrappers_run(spark):
    hg = QUERIES["outlink_hostgraph"][0](spark, "/root/testdata/sf0.001")
    rows = hg.collect()
    assert rows and [f.name for f in hg.schema] == ["src_host", "dst_host", "n_links"]
    pr = QUERIES["hostgraph_pagerank"][0](spark, "/root/testdata/sf0.001")
    prows = pr.collect()
    release_query_caches()
    assert [f.name for f in pr.schema] == ["host", "rank_nano"]
    # every host in the graph is ranked; mass ≈ 1 in nano units
    assert abs(sum(r["rank_nano"] for r in prows) - 1_000_000_000) < 200
    # deterministic across invocations
    pr2 = QUERIES["hostgraph_pagerank"][0](spark, "/root/testdata/sf0.001")
    assert [tuple(r) for r in pr2.collect()] == [tuple(r) for r in prows]
    release_query_caches()
    at = QUERIES["anchor_text_terms"][0](spark, "/root/testdata/sf0.001")
    arows = at.collect()
    assert arows and [f.name for f in at.schema] == [
        "dst_host",
        "term",
        "n_mentions",
        "rk",
    ]
    assert all(1 <= r["rk"] <= 5 for r in arows)


# ---------------------------------------------------------------------------
# TrustRank + spam mass (Gyöngyi et al. 2004/2006 — public algorithms)
# ---------------------------------------------------------------------------


def numpy_trustrank(edges: dict, seeds, damping=0.85, iters=200):
    """Reference seeded power iteration mirroring webgraph.trustrank's
    exact recurrence (t0 = seed distribution, dangling mass redistributed
    to the seed distribution) — same-``iters`` runs agree to FP noise."""
    hosts = sorted({h for e in edges for h in e})
    idx = {h: i for i, h in enumerate(hosts)}
    n = len(hosts)
    out_tot = np.zeros(n)
    for (s, _), w in edges.items():
        out_tot[idx[s]] += w
    m = np.zeros((n, n))
    for (s, d), w in edges.items():
        m[idx[d], idx[s]] = w / out_tot[idx[s]]
    dangling = out_tot == 0
    sv = np.zeros(n)
    present = [h for h in seeds if h in idx]
    sv[[idx[h] for h in present]] = 1.0 / len(present)
    r = sv.copy()
    for _ in range(iters):
        r = (1 - damping) * sv + damping * (m @ r + r[dangling].sum() * sv)
    return {h: r[idx[h]] for h in hosts}


def test_trustrank_matches_numpy_twin(spark):
    import pandas as pd

    from extractor_spark.spark.webgraph import trustrank

    edges = twin_host_edges()
    hosts = sorted({h for e in edges for h in e})
    seeds = hosts[::4]  # deterministic quarter of the node set
    edf = spark.createDataFrame(
        pd.DataFrame(
            [(s, d, w) for (s, d), w in edges.items()],
            columns=["src_host", "dst_host", "n_links"],
        )
    )
    got = {
        r["host"]: r["rank"]
        for r in trustrank(edf, seeds, max_iter=25, tol=0.0).collect()
    }
    release_query_caches()
    want = numpy_trustrank(edges, seeds, iters=25)
    assert set(got) == set(want)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for h in want:
        assert abs(got[h] - want[h]) < 1e-12, h


def test_trustrank_spam_farm_hand_graph(spark):
    """Seeds {a}; a→b; spam farm c⇄d unreachable from the seed: TrustRank
    exactly 0 on the farm (trust flows only outward from seeds), so the
    farm's relative spam mass is exactly 1 while a/b trust ≈ their rank."""
    from extractor_spark.spark.webgraph import trustrank

    edf = spark.createDataFrame(
        [("a.org", "b.org", 1), ("c.org", "d.org", 2), ("d.org", "c.org", 2)],
        "src_host string, dst_host string, n_links int",
    )
    got = {
        r["host"]: r["rank"]
        for r in trustrank(edf, ["a.org"], max_iter=40, tol=0.0).collect()
    }
    release_query_caches()
    assert got["c.org"] == 0.0 and got["d.org"] == 0.0
    assert got["a.org"] > 0 and got["b.org"] > 0
    assert abs(sum(got.values()) - 1.0) < 1e-12
    want = numpy_trustrank(
        {("a.org", "b.org"): 1, ("c.org", "d.org"): 2, ("d.org", "c.org"): 2},
        ["a.org"],
        iters=40,
    )
    for h in want:
        assert abs(got[h] - want[h]) < 1e-12


def test_trustrank_seeds_absent_from_graph(spark):
    from extractor_spark.spark.webgraph import trustrank

    edf = spark.createDataFrame(
        [("a.org", "b.org", 1)], "src_host string, dst_host string, n_links int"
    )
    # ghost seeds are ignored; all-ghost seed set yields the empty frame
    got = {
        r["host"]: r["rank"]
        for r in trustrank(edf, ["a.org", "zz.test"], max_iter=10, tol=0.0).collect()
    }
    release_query_caches()
    want = numpy_trustrank({("a.org", "b.org"): 1}, ["a.org"], iters=10)
    for h in want:
        assert abs(got[h] - want[h]) < 1e-12
    assert trustrank(edf, ["zz.test"], max_iter=5).count() == 0


def test_spam_mass_query_wrapper(spark):
    q = QUERIES["hostgraph_spam_mass"][0]
    df = q(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    release_query_caches()
    assert rows
    assert [f.name for f in df.schema] == [
        "host",
        "pr_nano",
        "tr_nano",
        "spam_mass_milli",
    ]
    # both vectors carry unit mass in nano units
    assert abs(sum(r["pr_nano"] for r in rows) - 1_000_000_000) < 200
    assert abs(sum(r["tr_nano"] for r in rows) - 1_000_000_000) < 200
    # the seed slice is a strict subset, so some hosts must lose trust
    # relative to rank (positive spam mass) and seeds gain it (negative)
    assert any(r["spam_mass_milli"] > 0 for r in rows)
    assert any(r["spam_mass_milli"] < 0 for r in rows)
    rows2 = q(spark, "/root/testdata/sf0.001").collect()
    release_query_caches()
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows]


@pytest.mark.parametrize("seeds", ["quarter", "absent"])
def test_spam_mass_ranks_equals_sequential_bit_for_bit(spark, seeds):
    """The two-thread spam_mass_ranks path (seeds in the graph) and its
    sequential fallback (no seed in the graph) return exactly the ranks of
    separate pagerank() and trustrank() calls on the same edges."""
    import pandas as pd

    from extractor_spark.spark.webgraph import spam_mass_ranks, trustrank

    edges = twin_host_edges()
    hosts = sorted({h for e in edges for h in e})
    seed_list = hosts[::4] if seeds == "quarter" else ["zz.test"]
    edf = spark.createDataFrame(
        pd.DataFrame(
            [(s, d, w) for (s, d), w in edges.items()],
            columns=["src_host", "dst_host", "n_links"],
        )
    )

    def ranks(df):
        return {r["host"]: r["rank"] for r in df.collect()}

    want_pr = ranks(pagerank(edf, max_iter=25))
    want_tr = ranks(trustrank(edf, seed_list, max_iter=25))
    pr, tr = spam_mass_ranks(edf, seed_list, max_iter=25)
    got_pr, got_tr = ranks(pr), ranks(tr)
    release_query_caches()
    assert got_pr == want_pr and len(got_pr) == len(hosts)
    assert got_tr == want_tr
    assert bool(got_tr) == (seeds == "quarter")


def _job_ids(spark) -> set:
    """Ids of every job the status store knows, after the listener bus has
    delivered all pending events."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def test_graph_operator_job_counts(spark):
    """Spark jobs before round 1 (a ``max_iter=0`` call) and per round
    (rounds 2 and 3: on a graph this small round 1 also broadcasts its
    contributions), counted as new job ids in the status store — a job
    group would miss spam_mass_ranks' loops, which run on other threads.
    A PageRank/TrustRank round is two jobs and a HITS round three: the
    state checkpoint's materializing aggregate plus one broadcast build
    per edge join.  spam_mass_ranks shares one setup between its loops,
    so before round 1 it runs at most one job more than pagerank: the
    second loop's first dangling-mass aggregate."""
    import pandas as pd

    from extractor_spark.spark.webgraph import spam_mass_ranks

    edges = twin_host_edges()
    seeds = sorted({h for e in edges for h in e})[::4]
    edf = spark.createDataFrame(
        pd.DataFrame(
            [(s, d, w) for (s, d), w in edges.items()],
            columns=["src_host", "dst_host", "n_links"],
        )
    )
    calls = {
        "pagerank": lambda k: pagerank(edf, max_iter=k, tol=0.0),
        "hits": lambda k: hits(edf, max_iter=k),
        "spam_mass_ranks": lambda k: spam_mass_ranks(edf, seeds, max_iter=k, tol=0.0),
    }
    pre, per_round = {}, {}
    for name, call in calls.items():
        jobs = {}
        for rounds in (0, 1, 3):
            before = _job_ids(spark)
            call(rounds)
            jobs[rounds] = len(_job_ids(spark) - before)
            release_query_caches()
        per_round[name] = (jobs[3] - jobs[1]) / 2
        pre[name] = jobs[0]
    assert per_round == {"pagerank": 2, "hits": 3, "spam_mass_ranks": 4}, per_round
    assert pre["spam_mass_ranks"] <= pre["pagerank"] + 1, pre

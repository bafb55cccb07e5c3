"""Distributed BPE merge-learning gates (spark/bpe.py).

Primary gate: exact merge-sequence equality — (rank, left, right,
pair_count) — against an independent dict-based BPE trainer (the classic
Counter-loop formulation from Sennrich et al. 2016), including the
deterministic tie-break (max count, then lexicographically smallest
pair).  All-integer comparison: no float tolerance anywhere.
"""

from collections import Counter

import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from extractor_spark.spark.session import get_spark

    yield get_spark("bpe-tests", cpus=8)


def _twin_learn(texts, n_merges):
    """Independent reference BPE: dict of symbol tuples, Counter pairs."""
    vocab = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            if w and all(ord(c) <= 0xFFFF for c in w):
                vocab[w] += 1
    seqs = {w: tuple(list(w) + ["</w>"]) for w in vocab}
    merges = []
    for rank in range(n_merges):
        pairs = Counter()
        for w, cnt in vocab.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += cnt
        if not pairs:
            break
        # max count; ties -> lexicographically smallest (left, right)
        (left, right), n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, n))
        for w, s in seqs.items():
            out = []
            for x in s:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            seqs[w] = tuple(out)
    return merges


def test_matches_reference_trainer_on_corpus(spark):
    from extractor_spark.spark.bpe import learn_bpe
    from extractor_spark.spark.queries import _views

    _views(spark, SF_DIR)
    docs = spark.table("documents")
    texts = [r["text"] for r in docs.select("text").collect() if r["text"]]
    got = learn_bpe(docs, n_merges=16)
    want = _twin_learn(texts, 16)
    assert got == want
    assert len(got) == 16


def _twin_encode_freqs(texts, merges):
    """Independent encoder: learn-side vocab + per-merge list walk (the
    same algorithm the twin trainer uses internally), then a Counter of
    final symbols weighted by word counts."""
    vocab = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            if w and all(ord(c) <= 0xFFFF for c in w):
                vocab[w] += 1
    freqs = Counter()
    for w, cnt in vocab.items():
        s = list(w) + ["</w>"]
        for _rank, left, right, _n in merges:
            out = []
            for x in s:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            s = out
        for tok in s:
            freqs[tok] += cnt
    return freqs


def test_encode_matches_independent_encoder(spark):
    """bpe_encode_freqs (train 16 merges, encode, top-200 token freqs)
    must equal the independent trainer+encoder exactly, including the
    (freq desc, token asc) ordering — all-integer comparison."""
    from extractor_spark.spark.queries import QUERIES, _views

    _views(spark, SF_DIR)
    texts = [
        r["text"]
        for r in spark.table("documents").select("text").collect()
        if r["text"]
    ]
    fn, oracle = QUERIES["bpe_encode_freqs"]
    assert oracle is None
    got = [(r["token"], r["freq"]) for r in fn(spark, SF_DIR).collect()]

    want_merges = _twin_learn(texts, 16)
    freqs = _twin_encode_freqs(texts, want_merges)
    want = sorted(freqs.items(), key=lambda kv: (-kv[1], kv[0]))[:200]
    assert got == want
    # the encoding actually uses the merges: every learned merged symbol
    # with nonzero corpus frequency must appear as a token
    merged_syms = {l + r for _rk, l, r, _n in want_merges}
    assert merged_syms & {t for t, _f in got}


def test_overlapping_pairs_merge_left_to_right(spark):
    # "aaaa" with merge (a,a): left-to-right gives [aa, aa, </w>], NOT
    # [a, aa, a, </w>] — so round 2 sees (aa,aa):3 and (aa,</w>):3, a tie
    # the lexicographic rule breaks toward ("aa","</w>") ('<' < 'a')
    docs = spark.createDataFrame(
        pd.DataFrame({"text": ["aaaa aaaa aaaa"]})
    )
    from extractor_spark.spark.bpe import learn_bpe

    got = learn_bpe(docs, n_merges=3)
    want = _twin_learn(["aaaa aaaa aaaa"], 3)
    assert got == want
    assert got[0][1:3] == ("a", "a")
    assert got[0][3] == 9  # left-to-right: 3 per word, not 2n-1-overlaps
    assert got[1][1:3] == ("aa", "</w>")
    assert got[2][1:3] == ("aa", "aa</w>")


def test_tie_break_is_lexicographic(spark):
    # "ab" and "cd" both appear twice: counts tie at every pair; the
    # lexicographically smallest pair must win, deterministically
    docs = spark.createDataFrame(pd.DataFrame({"text": ["ab cd ab cd"]}))
    from extractor_spark.spark.bpe import learn_bpe

    got = learn_bpe(docs, n_merges=2)
    assert got == _twin_learn(["ab cd ab cd"], 2)
    assert got[0][1:3] == ("a", "b")


@pytest.mark.parametrize(
    "name",
    [
        "bpe_learn_merges",
        "hostgraph_pagerank",
        "hostgraph_hits",
        "hostgraph_spam_mass",
        "dedup_clusters",
        "dedup_clusters_star",
    ],
)
def test_registry_query_deterministic_and_caches_released(spark, name):
    """Every iterative loop (tuning.checkpoint_loop) must hand back or
    release every checkpoint it created: after the query and
    release_query_caches(), no persisted RDD survives that was not
    there before."""
    from extractor_spark.spark.queries import QUERIES, release_query_caches

    fn, _oracle = QUERIES[name]
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    a = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
    release_query_caches()
    b = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
    release_query_caches()
    assert a == b and a
    if name == "bpe_learn_merges":
        assert len(a) == 24
    after = set(jsc.getPersistentRDDs().keySet())
    assert after <= before, f"{name} leaked persisted blocks: {after - before}"


def test_exhausts_gracefully_when_vocab_is_tiny(spark):
    docs = spark.createDataFrame(pd.DataFrame({"text": ["ab"]}))
    from extractor_spark.spark.bpe import learn_bpe

    got = learn_bpe(docs, n_merges=10)
    want = _twin_learn(["ab"], 10)
    assert got == want
    # "ab" -> a b </w>: pairs exhaust after the word fuses to one symbol
    assert len(got) == 2

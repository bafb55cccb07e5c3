"""Curation funnel: exact dup removed, near-dup cluster collapses to the
longest member, short/repetitive docs filtered, JSONL written, stats
auditable."""

import json

import pandas as pd
import pytest

pytestmark = pytest.mark.spark

BASE = ("the quick brown fox jumps over the lazy dog again and again "
        "while the river runs past the old mill beyond the quiet hills "
        "under a wide summer sky full of small white clouds drifting slowly")


def _docs():
    near_dup = BASE.replace("summer", "winter")           # jaccard >> 0.8
    longer_dup = BASE + " with one extra closing phrase"  # longest -> canonical
    return [
        {"url": "https://c.test/a", "markdown": BASE, "text": BASE},
        {"url": "https://c.test/a-copy", "markdown": BASE, "text": BASE},       # exact dup
        {"url": "https://c.test/a-near", "markdown": near_dup, "text": near_dup},
        {"url": "https://c.test/a-long", "markdown": longer_dup, "text": longer_dup},
        {"url": "https://c.test/short", "markdown": "tiny", "text": "tiny doc"},  # < min_tokens
        {"url": "https://c.test/spam", "markdown": "x", "text": "buy now\n" * 40},  # dup lines
        {"url": "https://c.test/unique", "markdown": "u",
         "text": "a completely different document about databases, streams, "
                 "compilers and the pleasures of writing correct software every day"},
    ]


def test_curate_funnel(spark, tmp_path):
    from extractor_spark.spark.curate import curate

    inp = str(tmp_path / "extract_out")
    spark.createDataFrame(pd.DataFrame(_docs())).write.parquet(inp)
    out = str(tmp_path / "curated")

    def tables():
        return sorted(t.name for t in spark.catalog.listTables())

    before = tables()
    stats = curate(spark, inp, out, min_tokens=10, max_dup_permille=300)
    # no temp view left behind over the checkpoints curate has released
    assert tables() == before
    assert stats["input_docs"] == 7
    assert stats["after_exact_dedup"] == 6          # a-copy gone
    assert stats["after_neardup_dedup"] == 4        # {a, a-near, a-long} -> a-long
    assert stats["after_quality_filter"] == 2       # short + spam gone

    kept = set()
    for f in (tmp_path / "curated").glob("*.json"):
        kept |= {json.loads(l)["url"] for l in f.read_text().splitlines()}
    assert kept == {"https://c.test/a-long", "https://c.test/unique"}


def test_curate_releases_checkpoints_on_error(spark, tmp_path, monkeypatch):
    """A funnel that fails after its dedup stages (here: the export)
    releases every checkpoint it took and every cache its stages
    registered, instead of leaking them for the life of the session."""
    from extractor_spark.spark import caches, sources
    from extractor_spark.spark.curate import curate

    inp = str(tmp_path / "extract_out")
    spark.createDataFrame(pd.DataFrame(_docs())).write.parquet(inp)

    def failing_write(*args, **kwargs):
        raise RuntimeError("export failed")

    monkeypatch.setattr(sources, "write_output", failing_write)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    live = len(caches.LIVE)
    with pytest.raises(RuntimeError, match="export failed"):
        curate(spark, inp, str(tmp_path / "curated"), min_tokens=10, pack_budget=64)
    assert set(jsc.getPersistentRDDs().keySet()) <= before
    assert len(caches.LIVE) == live


def test_curate_cli(spark, tmp_path):
    import jobs.curate as cli

    inp = str(tmp_path / "extract_out")
    spark.createDataFrame(pd.DataFrame(_docs())).write.parquet(inp)
    # reuse the session: get_spark returns the active one
    rc = cli.main(["--input", inp, "--output", str(tmp_path / "c2"), "--cpus", "4"])
    assert rc == 0


def test_curate_template_families_collapse(spark, tmp_path):
    """Hot-bucket regime: three template families of 40 near-identical docs
    each (tiny per-doc mutations, Jaccard >> 0.8 pairwise) plus 5 unique
    docs.  The star-per-bucket candidate topology must still collapse each
    family to exactly ONE canonical doc — the property the all-pairs ->
    star trade is allowed to rely on (true near-dup families verify through
    their bucket hubs)."""
    from extractor_spark.spark.curate import curate

    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    rows = []
    for fam in range(3):
        base = " ".join(words[fam:] + words[:fam]) * 4  # 80 tokens per doc
        for i in range(40):
            # one-token mutation per doc keeps pairwise jaccard >= 0.9
            text = base + f" tail{fam}"
            if i:
                text = text.replace(words[(fam + i) % 20], f"mut{fam}_{i}", 1)
            rows.append(
                {"url": f"https://t.test/f{fam}/d{i:02d}", "markdown": text, "text": text}
            )
    for u in range(5):
        text = f"document {u} " + " ".join(f"unique{u}w{j}" for j in range(30))
        rows.append({"url": f"https://t.test/u{u}", "markdown": text, "text": text})

    inp = str(tmp_path / "extract_out")
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(inp)
    stats = curate(spark, inp, str(tmp_path / "curated"), min_tokens=5)

    assert stats["input_docs"] == 125
    assert stats["after_exact_dedup"] == 125          # all distinct texts
    assert stats["after_neardup_dedup"] == 3 + 5      # one per family + uniques
    assert stats["after_quality_filter"] == 8


def test_curate_shuffle_seed_pack_order(spark, tmp_path):
    """--shuffle-seed: pack composition follows the seeded xxhash64(url,
    seed) order exactly (ground truth recomputed via Spark's own hash of
    the kept urls), is deterministic per seed, and differs between seeds
    (the point: packs mix hosts instead of concatenating one site)."""
    from pyspark.sql import functions as F

    from extractor_spark.spark.curate import curate

    docs = [
        {"url": f"https://s{i % 3}.test/{i:03d}", "markdown": "m",
         "text": " ".join(f"w{i}x{j}" for j in range(10 + i % 5))}
        for i in range(40)
    ]
    inp = str(tmp_path / "extract_out_shuf")
    spark.createDataFrame(pd.DataFrame(docs)).write.parquet(inp)

    def run(out, seed):
        return curate(spark, inp, str(tmp_path / out), min_tokens=5,
                      pack_budget=64, shuffle_seed=seed)

    stats = run("shuf_a", 7)
    assert stats["shuffle_seed"] == 7 and stats["n_packs"] >= 3

    def packs(d):
        rows = []
        for f in (tmp_path / d).glob("*.json"):
            rows += [json.loads(l) for l in f.read_text().splitlines()]
        return {r["url"]: r["pack_id"] for r in rows}

    got = packs("shuf_a")
    # ground truth: sequential cumsum over the seeded hash order
    order = (
        spark.createDataFrame(pd.DataFrame(docs))
        .select("url", F.xxhash64("url", F.lit(7)).alias("h"),
                F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
        .orderBy("h")
        .collect()
    )
    cum, want = 0, {}
    for r in order:
        want[r["url"]] = cum // 64
        cum += r["n"]
    assert got == want
    # same seed reproduces; a different seed changes the composition
    assert packs("shuf_a") == got
    run("shuf_b", 7)
    assert packs("shuf_b") == got
    run("shuf_c", 8)
    assert packs("shuf_c") != got
    assert "_ord" not in next(iter(
        json.loads(l) for f in (tmp_path / "shuf_a").glob("*.json")
        for l in f.read_text().splitlines()
    ))


def test_curate_blocklist_decon_split_composition(spark, tmp_path):
    """The full curation composition: UT1 blocklist files drop planted
    blocked urls (subdomain match on label boundaries, url-prefix subtree;
    the string-endswith trap host survives), benchmark decontamination
    drops exactly the doc sharing an 8-token gram with a benchmark line
    (a 7-token overlap survives), and --split stamps a deterministic
    leakage-safe split column keyed on near-dup cluster ids."""
    from extractor_spark.spark.curate import curate

    bm_line = ("zeta functions govern the distribution of prime numbers "
               "in arithmetic progressions")
    contaminated = ("my survey notes how zeta functions govern the "
                    "distribution of prime numbers with several examples "
                    "worked out in full detail")
    near_miss = ("special functions govern the distribution of prime "
                 "numbers differently in every finite field model we "
                 "checked twice")
    docs = _docs() + [
        {"url": "https://ads.blocked.test/x", "markdown": "m",
         "text": "advertising copy that would otherwise pass every filter "
                 "with room to spare today"},
        {"url": "https://blocked.test/y", "markdown": "m",
         "text": "more advertising copy that would also pass every filter "
                 "with room to spare tomorrow"},
        {"url": "https://notblocked.test/z", "markdown": "m",
         "text": "an innocent page on a host that merely string-endswith "
                 "the blocked domain name"},
        {"url": "https://c.test/paywall/article", "markdown": "m",
         "text": "paywalled article body hidden behind the subscription "
                 "wall of this otherwise fine site"},
        {"url": "https://c.test/pay", "markdown": "m",
         "text": "a page about payments whose path merely shares a prefix "
                 "with the paywall subtree"},
        {"url": "https://bench.test/contaminated", "markdown": "m", "text": contaminated},
        {"url": "https://bench.test/near-miss", "markdown": "m", "text": near_miss},
    ]
    inp = str(tmp_path / "extract_out")
    spark.createDataFrame(pd.DataFrame(docs)).write.parquet(inp)
    (tmp_path / "ut1_domains").write_text("# comment\nblocked.test\n\n")
    (tmp_path / "ut1_urls").write_text("c.test/paywall\n")
    (tmp_path / "benchmarks.txt").write_text(bm_line + "\n")

    kwargs = dict(
        min_tokens=10,
        blocklist_domains=str(tmp_path / "ut1_domains"),
        blocklist_urls=str(tmp_path / "ut1_urls"),
        decon_benchmarks=str(tmp_path / "benchmarks.txt"),
        split=True,
    )
    out = str(tmp_path / "curated")
    stats = curate(spark, inp, out, **kwargs)
    assert stats["input_docs"] == 14
    assert stats["after_blocklist"] == 11       # 2 domain hits + 1 prefix hit
    assert stats["after_exact_dedup"] == 10     # a-copy
    assert stats["after_neardup_dedup"] == 8    # {a, a-near, a-long} -> a-long
    assert stats["after_quality_filter"] == 6   # short + spam
    assert stats["after_decontamination"] == 5  # the 8-gram collision doc
    assert sum(stats["split_counts"].values()) == 5

    rows = {}
    for f in (tmp_path / "curated").glob("*.json"):
        for line in f.read_text().splitlines():
            r = json.loads(line)
            rows[r["url"]] = r
    assert set(rows) == {
        "https://c.test/a-long", "https://c.test/unique",
        "https://notblocked.test/z", "https://c.test/pay",
        "https://bench.test/near-miss",
    }
    assert all(r["split"] in {"train", "valid", "test"} for r in rows.values())
    assert "cluster_id" not in next(iter(rows.values()))

    # deterministic: a second run assigns identical splits
    stats2 = curate(spark, inp, str(tmp_path / "curated2"), **kwargs)
    rows2 = {}
    for f in (tmp_path / "curated2").glob("*.json"):
        for line in f.read_text().splitlines():
            r = json.loads(line)
            rows2[r["url"]] = r
    assert {u: r["split"] for u, r in rows.items()} == {
        u: r["split"] for u, r in rows2.items()
    }
    assert stats2["split_counts"] == stats["split_counts"]


def test_curate_pack_budget_matches_sequential_semantics(spark, tmp_path):
    """--pack-budget: pack ids from the distributed prefix sum must equal
    the plain sequential cumsum over url order (ground truth recomputed
    here), and the exported JSONL carries pack_id/n_tokens."""
    from extractor_spark.spark.curate import curate

    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lam mu nu xi omicron pi rho sigma tau upsilon").split()
    docs = [
        {"url": f"https://p.test/{i:03d}", "markdown": "m",
         "text": " ".join(words[(i + j) % len(words)] + str(i) for j in range(12 + i % 7))}
        for i in range(30)
    ]
    inp = str(tmp_path / "extract_out_pack")
    spark.createDataFrame(pd.DataFrame(docs)).write.parquet(inp)
    out = str(tmp_path / "packed")

    stats = curate(spark, inp, out, min_tokens=5, pack_budget=64)
    assert stats["after_quality_filter"] == 30  # all distinct + long enough
    assert stats["pack_budget"] == 64 and stats["n_packs"] >= 3

    rows = []
    for f in sorted((tmp_path / "packed").glob("*.json")):
        for line in f.read_text().splitlines():
            rows.append(json.loads(line))
    assert len(rows) == 30 and all("pack_id" in r and "n_tokens" in r for r in rows)
    rows.sort(key=lambda r: r["url"])
    cum = 0
    for r in rows:
        assert r["n_tokens"] == len(r["text"].split())
        assert r["pack_id"] == cum // 64  # start-offset assignment
        cum += r["n_tokens"]
    assert len({r["pack_id"] for r in rows}) == stats["n_packs"]

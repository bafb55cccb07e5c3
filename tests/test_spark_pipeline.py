"""Spark integration: synthetic pages table, stage C byte-identity against
the pure-Python engine (the per-url invariant), full pipeline with dedup +
manifest + resume, and the extraction stage end-to-end."""

import json

import pytest

from pyspark.sql import functions as F

from extractor_spark.engine.convert import HtmlExtractionOptions, html_to_markdown
from extractor_spark.spark.pipeline import (
    PipelineConfig,
    dedup_latest_per_url,
    run_pipeline,
    summarize_metrics,
    with_bucket,
)
from extractor_spark.spark.stages import (
    CONVERT_SCHEMA,
    convert_extract_stage,
    convert_stage,
    extract_stage,
    with_typed_data,
)
from extractor_spark.spark.synth import FIXTURE_URLS, build_pages_df

from .conftest import needs_fixture_files

pytestmark = pytest.mark.spark

BLOG_LINKS_SCHEMA = {
    "type": "object",
    "required": ["title"],
    "properties": {
        "title": {"type": "string"},
        "links": {
            "type": "array",
            "items": {"type": "string", "format": "uri"},
            "optional": True,
        },
    },
}


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    build_pages_df(spark, 60).write.mode("overwrite").parquet(path)
    return path


def test_synth_schema_and_determinism(spark, pages_path):
    df = spark.read.parquet(pages_path)
    assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    # deterministic: regenerating yields identical url+hash set
    again = build_pages_df(spark, 60)
    a = {(r["url"], r["warc_ts"]) for r in df.select("url", "warc_ts").collect()}
    b = {(r["url"], r["warc_ts"]) for r in again.select("url", "warc_ts").collect()}
    assert a == b
    # duplicate urls exist (dedup window fodder)
    dup = df.groupBy("url").count().filter("count > 1").count()
    assert dup > 0


def test_convert_stage_matches_engine_bytes(spark, pages_path):
    """The core per-url invariant: the distributed stage output is
    byte-identical to the single-document engine."""
    df = spark.read.parquet(pages_path)
    df = dedup_latest_per_url(df)
    out = convert_stage(df).select("url", "markdown", "convert_error").collect()
    assert len(out) > 0
    # recompute locally from the deduped input rows
    local = {
        r["url"]: r["html"] for r in dedup_latest_per_url(spark.read.parquet(pages_path)).collect()
    }
    for row in out:
        assert row["convert_error"] is None, row
        expected = html_to_markdown(
            local[row["url"]].decode("utf-8"), None, row["url"]
        )
        assert row["markdown"] == expected, row["url"]


def test_pipeline_run_and_resume(spark, pages_path, tmp_path):
    out_dir = str(tmp_path / "out")
    conf = PipelineConfig(pages_path=pages_path, output_path=out_dir, n_buckets=8)
    summary = run_pipeline(spark, conf)
    assert summary["docs"] > 0
    assert summary["convert_failures"] == 0
    assert summary["skipped_buckets"] == 0

    output = spark.read.parquet(out_dir)
    # dedup-latest: urls unique
    assert output.count() == output.select("url").distinct().count()

    manifest = spark.read.parquet(summary["manifest_path"])
    n_done = manifest.count()
    assert n_done <= 8
    assert manifest.agg(F.sum("docs_parsed")).collect()[0][0] == summary["docs"]
    assert "code_version" in manifest.columns

    # resume: everything already done → all buckets skipped
    summary2 = run_pipeline(spark, conf)
    assert summary2["skipped_buckets"] == n_done
    assert spark.read.parquet(out_dir).count() == summary["docs"]


def test_resume_skips_committed_waves(spark, pages_path, tmp_path):
    """A resume over a finished output runs no wave: its Spark jobs are
    exactly those of reading the pages and the manifest, with no scan,
    stage, staged write or metrics job for waves that commit nothing."""
    from extractor_spark.spark import pipeline

    conf = PipelineConfig(
        pages_path=pages_path, output_path=str(tmp_path / "out"), n_buckets=4, waves=2
    )
    first = run_pipeline(spark, conf)
    manifest_path = conf.resolved_manifest_path()
    buckets = {r["bucket"] for r in spark.read.parquet(manifest_path).collect()}
    assert buckets == {0, 1, 2, 3} and first["docs"] > 0

    sc = spark.sparkContext

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    _, n_reads = jobs_of(
        "resume-reads",
        lambda: (
            pipeline._read_pages(spark, conf),
            pipeline._repair_output(spark, conf, manifest_path),
        ),
    )
    resumed, n_resume = jobs_of("resume", lambda: run_pipeline(spark, conf))
    assert resumed["docs"] == 0
    assert resumed["skipped_buckets"] == 4
    assert resumed["cumulative_docs"] == first["docs"]
    assert n_resume == n_reads


def test_cli_rejects_warmup_for_non_parquet_pages(monkeypatch):
    """The warm-up reads its slice with spark.read.parquet, so --warmup with
    another --pages-format is an argument error, raised before any Spark
    session or read."""
    import jobs.extract_pipeline as cli

    from extractor_spark.spark import session

    def no_spark(*args, **kwargs):
        raise AssertionError("reached Spark before the argument check")

    monkeypatch.setattr(session, "get_spark", no_spark)
    argv = ["--pages", "crawl/", "--output", "out", "--pages-format", "warc", "--warmup"]
    with pytest.raises(SystemExit) as exc:
        cli.main(argv)
    assert exc.value.code == 2


def test_warmup_leaves_no_scratch_dir(spark, pages_path, tmp_path, monkeypatch):
    import tempfile

    from extractor_spark.spark.pipeline import warmup

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    warmup(spark, pages_path, n_rows=16)
    assert not list(tmp_path.glob("extractor_warmup_*"))


def test_pipeline_with_extraction(spark, pages_path, tmp_path):
    out_dir = str(tmp_path / "out_extract")
    conf = PipelineConfig(
        pages_path=pages_path,
        output_path=out_dir,
        schema=BLOG_LINKS_SCHEMA,
        n_buckets=4,
    )
    summary = run_pipeline(spark, conf)
    assert summary["docs"] > 0
    output = spark.read.parquet(out_dir)
    assert "data" in output.columns
    # typed struct column is queryable JVM-side
    n = output.filter(F.col("data.title").isNotNull()).count()
    assert n > 0

    # The ONLY schema-validation failures are the unit-literal micro-pages
    # that genuinely lack the schema's required fields (no setext-h1 title):
    # the reference throws when required data is unextractable
    # (extractors.ts:241-244), so these 4 are expected-by-construction.
    # This pins BENCH's schema_validation_failures=4 to its exact cause.
    failures = {
        r["url"] for r in output.filter(F.col("extract_error").isNotNull()).collect()
    }
    assert failures == {
        "https://fixtures.test/unit/attrs",
        "https://fixtures.test/unit/escape",
        "https://fixtures.test/unit/image",
        "https://fixtures.test/unit/link",
    }
    assert summary["schema_validation_failures"] == len(failures)


@needs_fixture_files
def test_pipeline_fixture_pages(spark, pages_path, tmp_path):
    """The reference fixture pages come through the pipeline converted,
    and the blog post yields its title and links."""
    out_dir = str(tmp_path / "out_fixtures")
    run_pipeline(
        spark,
        PipelineConfig(
            pages_path=pages_path, output_path=out_dir, schema=BLOG_LINKS_SCHEMA,
            n_buckets=4, resume=False,
        ),
    )
    output = spark.read.parquet(out_dir)
    fixture_rows = output.filter(
        F.col("url").isin(list(FIXTURE_URLS.values()))
    ).collect()
    assert len(fixture_rows) == 3
    for r in fixture_rows:
        assert r["markdown"]
    blog = next(r for r in fixture_rows if r["url"] == FIXTURE_URLS["blog-post"])
    assert blog["data"]["title"] == "Understanding Async/Await in JavaScript"
    assert "https://example.com/blog/javascript-tutorials" in blog["data"]["links"]


def test_extract_stage_with_context_join(spark):
    import pandas as pd

    md_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["https://a.test/1"],
                "markdown": ["Body text\n\nauthor: Unknown"],
                "context_json": [json.dumps({"title": "Context Title"})],
            }
        )
    )
    schema = {
        "type": "object",
        "required": [],
        "properties": {"title": {"type": "string", "optional": True}},
    }
    out = extract_stage(md_df, schema, context_column="context_json").collect()[0]
    assert out["extract_error"] is None
    assert "context_json" not in out.asDict()
    # context flows into the prompt; the offline extractor works from content
    assert out["data_json"] is not None


def _rows_by_url(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=lambda r: r["url"])


def test_fused_stage_equals_chained_stages(spark, tmp_path):
    """convert_extract_stage is extract_stage(convert_stage(x)) in one
    Python node, on every output column: unit pages (4 of them fail the
    schema), PDFs, and a page whose conversion fails, which extraction
    reports as "no markdown"."""
    import datetime

    import pandas as pd

    from extractor_spark.spark.synth import PAGES_SCHEMA, fixture_rows, pdf_rows

    failing = {
        "url": "https://fail.test/deep-inline",
        "warc_ts": datetime.datetime(2024, 1, 1),
        # nests past the converter's recursion headroom: RecursionError
        "html": ("<span>" * 20000 + "x").encode(),
        "text": None,
        "lang": None,
    }
    rows = fixture_rows() + pdf_rows(3) + [failing]
    pages = spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA).select(
        "url", "warc_ts", "html", "lang"
    )
    fused = convert_extract_stage(pages, BLOG_LINKS_SCHEMA)
    chained = extract_stage(convert_stage(pages), BLOG_LINKS_SCHEMA)
    assert fused.schema == chained.schema
    got, want = _rows_by_url(fused), _rows_by_url(chained)
    assert got == want
    by_url = {r["url"]: r for r in got}
    assert len(by_url) == len(rows)
    failed = by_url[failing["url"]]
    assert failed["markdown"] is None
    assert failed["convert_error"].startswith("RecursionError")
    assert failed["extract_error"].startswith("no markdown")
    assert all(by_url[r["url"]]["convert_error"] is None for r in rows[:-1])
    assert all(r["markdown"].startswith("Synthetic report") for r in got if "/pdf/" in r["url"])
    assert any(r["extract_error"] is None for r in got)


def test_pipeline_context_path_equals_chained_stages(spark, tmp_path):
    """run_pipeline(context_path=...) writes what the public stages give
    when chained by hand — window dedup, convert_stage, a broadcast left
    join of the context table, extract_stage — on every output column, and
    the context column is not written."""
    pages_path = str(tmp_path / "pages.parquet")
    build_pages_df(spark, 120, dup_every=3).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    context_path = str(tmp_path / "context.parquet")
    (
        pages.select("url").distinct()
        .filter(F.xxhash64("url") % 2 == 0)
        .withColumn("context_json", F.to_json(F.struct(F.col("url").alias("title"))))
        .write.parquet(context_path)
    )
    out = str(tmp_path / "out")
    run_pipeline(
        spark,
        PipelineConfig(
            pages_path=pages_path, output_path=out, schema=BLOG_LINKS_SCHEMA,
            context_path=context_path, n_buckets=8, resume=False,
        ),
    )
    written = spark.read.parquet(out)
    assert "context_json" not in written.columns

    converted = convert_stage(
        dedup_latest_per_url(pages).select("url", "warc_ts", "html", "lang")
    )
    joined = converted.join(F.broadcast(spark.read.parquet(context_path)), "url", "left")
    chained = with_typed_data(
        extract_stage(joined, BLOG_LINKS_SCHEMA, context_column="context_json"),
        BLOG_LINKS_SCHEMA,
    ).drop("data_json")
    chained = with_bucket(chained, 8)
    assert sorted(written.columns) == sorted(chained.columns)
    got = _rows_by_url(written.select(*chained.columns))
    assert got == _rows_by_url(chained)
    assert len(got) == pages.select("url").distinct().count()


def test_structured_pipeline_runs_one_python_node(spark, pages_path, tmp_path):
    """With a schema, the pipeline's write runs stages C and E in one
    MapInPandas node: each Python task pays its fixed start-up cost once."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def seq(s):  # a Scala Seq, element by element
        return [s.apply(i) for i in range(s.size())]

    def executions():
        bus.waitUntilEmpty()
        return seq(store.executionsList())

    before = max((e.executionId() for e in executions()), default=-1)
    run_pipeline(
        spark,
        PipelineConfig(
            pages_path=pages_path, output_path=str(tmp_path / "out"),
            schema=BLOG_LINKS_SCHEMA, n_buckets=8, resume=False,
        ),
    )
    python_nodes = [
        [n.name() for n in seq(store.planGraph(e.executionId()).allNodes())].count("MapInPandas")
        for e in executions()
        if e.executionId() > before
    ]
    assert [n for n in python_nodes if n] == [1], python_nodes


def test_run_pipeline_leaves_session_conf_unchanged(spark, pages_path, tmp_path):
    """The pipeline's write options are set on its own writes, not on the
    caller's session: a later overwrite in the session stays static, and a
    session file-size cap does not split a bucket across files."""
    key = "spark.sql.sources.partitionOverwriteMode"
    cap = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "static")
    spark.conf.set(cap, "2")
    try:
        out_dir = str(tmp_path / "out")
        conf = PipelineConfig(pages_path=pages_path, output_path=out_dir, n_buckets=6)
        summary = run_pipeline(spark, conf)
        assert spark.conf.get(key) == "static"
        assert spark.conf.get(cap) == "2"
    finally:
        spark.conf.unset(cap)
    # one file per task, every bucket in the one file its manifest row names
    assert 0 < summary["output_files"] <= 6
    assert spark.read.parquet(out_dir).count() == summary["docs"]
    manifest = spark.read.parquet(summary["manifest_path"]).collect()
    named = {r["bucket"]: r["file"] for r in manifest}
    held = (
        spark.read.parquet(out_dir)
        .groupBy("bucket")
        .agg(F.collect_set(F.col("_metadata.file_name")).alias("files"))
        .collect()
    )
    assert {r["bucket"]: r["files"] for r in held} == {b: [f] for b, f in named.items()}


def test_pipeline_equals_window_dedup_oracle(spark, pages_path, tmp_path):
    """The single-shuffle in-stage dedup+convert produces exactly the rows
    of the reference semantics: convert_stage over a latest-crawl-per-url
    window dedup."""
    out = str(tmp_path / "out")
    run_pipeline(
        spark,
        PipelineConfig(pages_path=pages_path, output_path=out, n_buckets=8, resume=False),
    )
    cols = [f.name for f in CONVERT_SCHEMA.fields]
    got = {tuple(r) for r in spark.read.parquet(out).select(*cols).collect()}
    want = {
        tuple(r)
        for r in convert_stage(dedup_latest_per_url(spark.read.parquet(pages_path)))
        .select(*cols)
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_waves_checkpointing(spark, pages_path, tmp_path):
    """waves>1 must produce identical output to a single wave, commit the
    manifest incrementally, and resume across interrupted wave boundaries."""
    out_a = str(tmp_path / "one_wave")
    out_b = str(tmp_path / "three_waves")
    run_pipeline(
        spark,
        PipelineConfig(pages_path=pages_path, output_path=out_a, n_buckets=9, resume=False),
    )
    summary_b = run_pipeline(
        spark,
        PipelineConfig(pages_path=pages_path, output_path=out_b, n_buckets=9, waves=3),
    )
    a = {(r["url"], r["markdown"]) for r in spark.read.parquet(out_a).select("url", "markdown").collect()}
    b = {(r["url"], r["markdown"]) for r in spark.read.parquet(out_b).select("url", "markdown").collect()}
    assert a == b

    # simulate an interrupted run: keep only wave-0 buckets in the manifest
    manifest_path = summary_b["manifest_path"]
    manifest = spark.read.parquet(manifest_path).collect()
    wave0 = [r for r in manifest if r["bucket"] % 3 == 0]
    spark.createDataFrame(wave0, schema=spark.read.parquet(manifest_path).schema) \
        .write.mode("overwrite").parquet(str(tmp_path / "m2"))
    conf_resume = PipelineConfig(
        pages_path=pages_path, output_path=out_b,
        manifest_path=str(tmp_path / "m2"), n_buckets=9, waves=3,
    )
    summary_resumed = run_pipeline(spark, conf_resume)
    assert summary_resumed["skipped_buckets"] == len(wave0)
    resumed = {(r["url"], r["markdown"]) for r in spark.read.parquet(out_b).select("url", "markdown").collect()}
    assert resumed == a


def test_pipeline_survives_garbage_pages(spark, tmp_path):
    """Crawl reality: non-UTF8 bytes, empty payloads, truncated markup,
    deep nesting, nulls — the job must complete with per-row error
    accounting, never crash."""
    import datetime

    import pandas as pd

    from extractor_spark.spark.synth import PAGES_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        {"url": "https://g.test/latin1", "warc_ts": ts, "html": "café ñ <p>ok</p>".encode("latin-1"), "text": None, "lang": None},
        {"url": "https://g.test/binary", "warc_ts": ts, "html": bytes(range(256)), "text": None, "lang": None},
        {"url": "https://g.test/empty", "warc_ts": ts, "html": b"", "text": None, "lang": None},
        {"url": "https://g.test/truncated", "warc_ts": ts, "html": b"<div><a href='x", "text": None, "lang": None},
        {"url": "https://g.test/deep", "warc_ts": ts, "html": ("<div>" * 400 + "x").encode(), "text": None, "lang": None},
        {"url": "https://g.test/marked", "warc_ts": ts, "html": b"<p>A<![bogus[x]]>B</p>", "text": None, "lang": None},
        {"url": "https://g.test/huge-attr", "warc_ts": ts, "html": ("<p " + "a" * 10000 + "='v'>t</p>").encode(), "text": None, "lang": None},
        {"url": "https://g.test/normal", "warc_ts": ts, "html": b"<h1>Fine</h1><p>body</p>", "text": None, "lang": "en"},
    ]
    pages_path = str(tmp_path / "garbage.parquet")
    spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA).write.parquet(pages_path)

    out_dir = str(tmp_path / "out")
    summary = run_pipeline(
        spark,
        PipelineConfig(pages_path=pages_path, output_path=out_dir, n_buckets=4, resume=False),
    )
    assert summary["docs"] == len(rows)
    output = {r["url"]: r for r in spark.read.parquet(out_dir).collect()}
    assert output["https://g.test/normal"]["markdown"] == "Fine\n====\n\nbody"
    assert output["https://g.test/marked"]["convert_error"] is None
    assert "A" in output["https://g.test/marked"]["markdown"]
    # every row either converted or carries an error, never both-null
    for r in output.values():
        assert (r["markdown"] is not None) or (r["convert_error"] is not None)


def test_metrics_rollup(spark, pages_path, tmp_path):
    out_dir = str(tmp_path / "out_metrics")
    run_pipeline(
        spark,
        PipelineConfig(pages_path=pages_path, output_path=out_dir, n_buckets=4),
    )
    rollup = summarize_metrics(spark, out_dir)
    rows = rollup.collect()
    assert len(rows) > 1
    assert rows[0]["docs"] >= rows[-1]["docs"]  # ordered by docs desc


def test_manifest_identity_and_per_run_totals(spark, pages_path, tmp_path, monkeypatch):
    """Round-2 manifest contract: rows record n_buckets (resume identity),
    each wave appends exactly its own buckets (no rescan/rewrite of prior
    waves), a mismatched-n_buckets resume fails loudly, and per-run totals
    exclude previously-committed buckets."""
    import os

    from extractor_spark.spark import pipeline

    metric_reads = []
    real_metrics = pipeline._bucket_metrics

    def recording_metrics(*args):
        frame = real_metrics(*args)
        metric_reads.append(frame.inputFiles())
        return frame

    monkeypatch.setattr(pipeline, "_bucket_metrics", recording_metrics)
    out_dir = str(tmp_path / "out")
    conf = PipelineConfig(pages_path=pages_path, output_path=out_dir, n_buckets=9, waves=3)
    summary = run_pipeline(spark, conf)

    manifest = spark.read.parquet(summary["manifest_path"])
    rows = manifest.collect()
    # exactly one manifest row per non-empty bucket — the old implementation
    # re-aggregated ALL buckets every wave and overwrote the manifest
    buckets = [r["bucket"] for r in rows]
    assert len(buckets) == len(set(buckets))
    assert {r["n_buckets"] for r in rows} == {9}
    assert {r["run_id"] for r in rows} == {summary["run_id"]}
    assert {r["dedup_mode"] for r in rows} == {"fused"}
    # the manifest's column set is its on-disk contract: earlier manifests
    # (which carry the same columns) must keep resuming
    assert set(manifest.columns) == {
        "bucket", "docs_parsed", "html_bytes", "boilerplate_bytes_removed",
        "convert_failures", "schema_validation_failures", "input_path",
        "code_version", "run_ts", "run_id", "n_buckets", "dedup_mode", "file",
    }

    # each wave's metric read lists only that wave's staged files — never a
    # previously-committed wave's — and they hold every file its rows name
    assert len(metric_reads) == 3
    for wave, files in enumerate(metric_reads):
        staged = f"/_staging/{summary['run_id']}-{wave}/"
        assert files and all(staged in f for f in files), files
        named = {r["file"] for r in rows if r["bucket"] % 3 == wave}
        assert named <= {os.path.basename(f) for f in files}
    assert summary["output_files"] == len({r["file"] for r in rows})

    # resuming with a different n_buckets must fail loudly, not skip wrong buckets
    bad = PipelineConfig(pages_path=pages_path, output_path=out_dir, n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets"):
        run_pipeline(spark, bad)

    # resumed run: per-run docs are 0 (everything skipped); cumulative keeps the total
    summary2 = run_pipeline(spark, conf)
    assert summary2["docs"] == 0
    assert summary2["cumulative_docs"] == summary["docs"]
    assert summary2["skipped_buckets"] == len(buckets)


def test_pipeline_empty_input_does_not_crash(spark, tmp_path):
    """A wave that writes zero rows into a fresh output dir must complete
    (ADVICE r1: the manifest refresh used to crash on schema inference)."""
    import pandas as pd

    from extractor_spark.spark.synth import PAGES_SCHEMA

    pages_path = str(tmp_path / "empty.parquet")
    spark.createDataFrame(
        pd.DataFrame({"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}),
        schema=PAGES_SCHEMA,
    ).write.parquet(pages_path)

    out_dir = str(tmp_path / "out")
    summary = run_pipeline(
        spark,
        PipelineConfig(pages_path=pages_path, output_path=out_dir, n_buckets=4, waves=2),
    )
    assert summary["docs"] == 0
    assert summary["convert_failures"] == 0


@pytest.mark.parametrize(
    "step,after",
    [("_commit_files", False), ("_commit_files", True), ("_append_manifest", True)],
    ids=["staged_write", "rename", "manifest_append"],
)
def test_wave_commit_survives_crash(spark, pages_path, tmp_path, monkeypatch, step, after):
    """A crash at any step of a wave's commit (after its staged write, after
    its rename into the output, after its manifest append) is repaired by
    resuming on the same output: rows, manifest buckets and cumulative docs
    equal an uncrashed run's, and no url appears twice."""
    import os

    from extractor_spark.spark import pipeline

    ref_out = str(tmp_path / "ref")
    ref = run_pipeline(
        spark,
        PipelineConfig(pages_path=pages_path, output_path=ref_out, n_buckets=9, waves=3, resume=False),
    )

    real = getattr(pipeline, step)
    calls = []

    def crash_in_second_wave(*args):
        calls.append(step)
        if len(calls) < 2 or after:
            real(*args)
        if len(calls) == 2:
            raise RuntimeError(f"injected crash at {step}")

    monkeypatch.setattr(pipeline, step, crash_in_second_wave)
    out = str(tmp_path / "out")
    conf = PipelineConfig(pages_path=pages_path, output_path=out, n_buckets=9, waves=3)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, conf)
    monkeypatch.setattr(pipeline, step, real)
    committed = spark.read.parquet(f"{out}/_manifest").count()

    resumed = run_pipeline(spark, conf)
    assert resumed["skipped_buckets"] == committed > 0
    assert resumed["cumulative_docs"] == ref["cumulative_docs"] == ref["docs"]
    got = spark.read.parquet(out)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, spark.read.parquet(ref_out).collect())
    )
    assert got.groupBy("url").count().filter("count > 1").count() == 0
    manifest = spark.read.parquet(f"{out}/_manifest").collect()
    ref_manifest = spark.read.parquet(f"{ref_out}/_manifest").collect()
    assert sorted(r["bucket"] for r in manifest) == sorted(r["bucket"] for r in ref_manifest)
    # nothing left that no committed wave owns
    assert not os.path.exists(f"{out}/_staging")
    data = {n for n in os.listdir(out) if not n.startswith(("_", "."))}
    assert data == {r["file"] for r in manifest}


def test_pipeline_spreads_hot_host_across_buckets(spark, tmp_path):
    """A dominant host must not serialize on one partition: the bucket
    hashes the whole url, so one host's pages spread across the bucket
    partitions by construction (the north-rule skew defense)."""
    import datetime

    import pandas as pd

    from extractor_spark.spark.synth import PAGES_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        {"url": f"https://hot.example.org/p/{i}", "warc_ts": ts, "html": b"<p>x</p>",
         "text": None, "lang": None}
        for i in range(400)
    ] + [
        {"url": f"https://cold-{i}.example.org/", "warc_ts": ts, "html": b"<p>y</p>",
         "text": None, "lang": None}
        for i in range(40)
    ]
    pages_path = str(tmp_path / "hot.parquet")
    spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA).write.parquet(pages_path)
    out = str(tmp_path / "out")
    run_pipeline(
        spark,
        PipelineConfig(pages_path=pages_path, output_path=out, n_buckets=16, resume=False),
    )
    per_bucket = {
        r["bucket"]: r["count"]
        for r in spark.read.parquet(out)
        .filter(F.col("url").startswith("https://hot.example.org/"))
        .groupBy("bucket").count().collect()
    }
    assert sum(per_bucket.values()) == 400
    assert len(per_bucket) >= 8, f"hot host landed in only {len(per_bucket)} buckets"
    assert max(per_bucket.values()) <= 400 // 4, per_bucket


def test_resume_without_manifest_over_stale_output_fails_loudly(
    spark, pages_path, tmp_path
):
    """ADVICE r2: resume=True against an output dir holding data files but
    NO manifest (deleted / never written) must raise, not silently treat
    the run as fresh — leftover files from a prior run with a different
    n_buckets would pollute the output and totals."""
    import shutil

    out = str(tmp_path / "out")
    conf = PipelineConfig(
        pages_path=pages_path, output_path=out, n_buckets=8, resume=False
    )
    run_pipeline(spark, conf)
    shutil.rmtree(f"{out}/_manifest")

    with pytest.raises(ValueError, match="no manifest"):
        run_pipeline(
            spark,
            PipelineConfig(
                pages_path=pages_path, output_path=out, n_buckets=8, resume=True
            ),
        )

    # resume into a genuinely EMPTY output dir is still a legal fresh start
    out2 = str(tmp_path / "out2")
    summary = run_pipeline(
        spark,
        PipelineConfig(
            pages_path=pages_path, output_path=out2, n_buckets=8, resume=True
        ),
    )
    assert summary["docs"] > 0


def test_resume_over_bucket_directory_layout_fails_loudly(spark, pages_path, tmp_path):
    """An output in the earlier bucket=N directory layout is neither read
    nor repaired by a resume: it raises and names resume=False."""
    out = str(tmp_path / "out")
    spark.read.parquet(pages_path).select("url").transform(lambda d: with_bucket(d, 8)) \
        .write.partitionBy("bucket").parquet(out)
    conf = PipelineConfig(pages_path=pages_path, output_path=out, n_buckets=8)
    with pytest.raises(ValueError, match=r"bucket=N directories.*resume=False"):
        run_pipeline(spark, conf)

    conf.resume = False
    summary = run_pipeline(spark, conf)
    assert spark.read.parquet(out).count() == summary["docs"] > 0


def test_resume_with_manifest_without_file_column_fails_loudly(spark, pages_path, tmp_path):
    """A manifest whose rows name no file (written for the bucket=N layout)
    cannot drive the commit-log repair: resume raises and names resume=False."""
    out = str(tmp_path / "out")
    summary = run_pipeline(
        spark, PipelineConfig(pages_path=pages_path, output_path=out, n_buckets=8, resume=False)
    )
    old = str(tmp_path / "old_manifest")
    spark.read.parquet(summary["manifest_path"]).drop("file").write.parquet(old)
    conf = PipelineConfig(pages_path=pages_path, output_path=out, manifest_path=old, n_buckets=8)
    with pytest.raises(ValueError, match=r"old_manifest has no file column.*resume=False"):
        run_pipeline(spark, conf)


def test_pdf_payloads_route_through_layout_extractor(spark, tmp_path):
    """north_rule "PDF/layout parse": a crawl payload whose bytes are a PDF
    flows through engine/pdf.py inside the same convert stage; HTML rows are
    unaffected, and a poisoned PDF records convert_error, not a crash."""
    import datetime

    import pandas as pd

    from extractor_spark.engine.pdfwrite import text_to_pdf
    from extractor_spark.spark.synth import PAGES_SCHEMA

    pdf_doc = "Report title\n\nFirst body line.\nSecond body line."
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        {"url": "https://p.test/doc.pdf", "warc_ts": ts,
         "html": text_to_pdf(pdf_doc), "text": None, "lang": None},
        {"url": "https://p.test/page", "warc_ts": ts,
         "html": b"<h1>Fine</h1><p>body</p>", "text": None, "lang": "en"},
        # leading whitespace before the magic still routes as PDF
        {"url": "https://p.test/ws.pdf", "warc_ts": ts,
         "html": b"  \n" + text_to_pdf("padded"), "text": None, "lang": None},
        # mentions %PDF- mid-document but is HTML: must NOT route as PDF
        {"url": "https://p.test/about-pdf", "warc_ts": ts,
         "html": b"<p>The %PDF- magic marks PDF files.</p>", "text": None, "lang": "en"},
    ]
    pages_path = str(tmp_path / "pdfpages.parquet")
    spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA).write.parquet(pages_path)

    out_dir = str(tmp_path / "out_pdf")
    run_pipeline(
        spark,
        PipelineConfig(pages_path=pages_path, output_path=out_dir, n_buckets=2, resume=False),
    )
    out = {r["url"]: r for r in spark.read.parquet(out_dir).collect()}
    assert out["https://p.test/doc.pdf"]["markdown"] == pdf_doc
    assert out["https://p.test/doc.pdf"]["text"] == " ".join(pdf_doc.split())
    assert out["https://p.test/doc.pdf"]["convert_error"] is None
    assert out["https://p.test/ws.pdf"]["markdown"] == "padded"
    assert out["https://p.test/page"]["markdown"] == "Fine\n====\n\nbody"
    assert "%PDF-" in out["https://p.test/about-pdf"]["markdown"]


def test_synth_corpus_with_pdfs_converts_cleanly(spark, tmp_path):
    """include_pdfs=True (entry + bench corpora): the deterministic PDF
    rows flow through the convert stage with zero failures and layout
    text in markdown."""
    from extractor_spark.spark.synth import write_pages

    pages_path = str(tmp_path / "pdfsynth.parquet")
    write_pages(spark, pages_path, n_pages=20, include_pdfs=True)
    out = str(tmp_path / "pdfsynth_out")
    summary = run_pipeline(
        spark,
        PipelineConfig(pages_path=pages_path, output_path=out, n_buckets=4, resume=False),
    )
    assert summary["convert_failures"] == 0
    rows = spark.read.parquet(out).filter("url like 'https://synth.test/pdf/%'").collect()
    assert len(rows) == 8
    for r in rows:
        assert r["markdown"].startswith("Synthetic report")
        assert "\n\n" in r["markdown"]  # blank-line layout recovered

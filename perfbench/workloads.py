"""The workloads.  Each one sets up its seeded input and an untimed warm
pass, runs closed-loop legs through the program's public entry points only,
checks every leg's output, and (in a traced run) times the public calls of
each layer from outside and reads Spark's status store after them.

A leg returns ``docs_per_s`` and ``rounds_per_s`` over the wall time of its
timed call, ``attempted`` / ``failed`` operations, and the entries it
contributes to the per-layer ledger.  A page workload's leg is one round
(one job run); a ``hostgraph`` run of its three calls takes ``4 * ROUNDS``
power-iteration rounds over its hosts, each host a doc; ``curate_hostgraph`` takes its
docs rate from curate and its rounds rate from hostgraph.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import time

import pyarrow.dataset as pads

from extractor_spark.engine.convert import HtmlExtractionOptions, html_to_markdown
from extractor_spark.engine.extract_llm import MarkdownRuleExtractor, extract_with_llm
from extractor_spark.engine.pdf import is_pdf, pdf_to_text
from extractor_spark.engine.schema import normalize_schema
from extractor_spark.engine.tidy import tidy_dom
from extractor_spark.spark.curate import curate
from extractor_spark.spark.pipeline import (
    PipelineConfig,
    dedup_latest_per_url,
    run_pipeline,
    with_bucket,
)
from extractor_spark.spark.queries import release_query_caches
from extractor_spark.spark.stages import convert_stage, extract_stage, markdown_to_text
from extractor_spark.spark.webgraph import hits, pagerank, spam_mass_ranks

from . import inputs
from .ledger import percentile, tail_percentile

WARM_PAGES = 32
CHECK_SAMPLE = 24
ENGINE_SAMPLE = 1000
N_HOSTS = 3000
ROUNDS = 2
# the webgraph loops run this many times per leg: one run is short enough
# for a burst of co-tenant load to move its rate by a fifth
RUNS_PER_LEG = 2
SUM_TOL = 1e-9


class Failure(Exception):
    """An output check failed; the message says which."""


class Workload:
    """Hooks a run drives: ``setup``, ``leg`` (repeated), ``check_run``
    after the legs, and for a traced run ``probe_layers`` and
    ``finish_layers``."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.dir = ctx.workdir
        self.setup_times: dict[str, float] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def check_run(self) -> None:
        """Checks across legs; each leg checks its own output."""

    def probe_layers(self, traced) -> dict:
        """Per-layer entries measured apart from the legs."""
        return {}

    def finish_layers(self, layer: dict) -> None:
        """Per-layer entries derived from the others."""

    def timed_setup(self, label: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup_times[label] = self.setup_times.get(label, 0.0) + time.perf_counter() - t0
        return out


# ---------------------------------------------------------------------------
# page workloads: convert, structured, curate
# ---------------------------------------------------------------------------


class PagesInput(Workload):
    with_pdfs = True
    n_pages = 1000

    def make_pages(self) -> None:
        def build():
            self.rows = inputs.page_rows(self.ctx.seed, self.n_pages, with_pdfs=self.with_pdfs)
            inputs.write_rows(self.rows, inputs.PAGES_ARROW, self.path("pages"))

        self.timed_setup("input_s", build)
        self.newest = inputs.newest_by_url(self.rows)
        self.input_info = {
            "pages": self.n_pages,
            "rows": len(self.rows),
            "urls": len(self.newest),
            "pdfs": sum(is_pdf(r["html"]) for r in self.newest.values()),
            "fixtures": "absent",
        }

    def write_warm_pages(self) -> str:
        """A small slice of the corpus for the warm pass."""
        path = self.path("pages_warm")
        inputs.write_rows(self.rows[:WARM_PAGES], inputs.PAGES_ARROW, path)
        return path

    def html_sample(self, k: int, salt: str) -> list[dict]:
        html_urls = sorted(u for u, r in self.newest.items() if not is_pdf(r["html"]))
        rng = random.Random(f"{self.ctx.seed}:{salt}")
        return [self.newest[u] for u in rng.sample(html_urls, min(k, len(html_urls)))]


def _convert_in_process(row: dict) -> tuple[str, str]:
    markdown = html_to_markdown(row["html"].decode(), HtmlExtractionOptions(), row["url"])
    return markdown, markdown_to_text(markdown)


def _converted_row(row: dict) -> dict:
    """The (url, markdown, text) row stage C writes for a page."""
    if is_pdf(row["html"]):
        markdown = pdf_to_text(row["html"])
        return {"url": row["url"], "markdown": markdown, "text": " ".join(markdown.split())}
    markdown, text = _convert_in_process(row)
    return {"url": row["url"], "markdown": markdown, "text": text}


class Convert(PagesInput):
    """Convert-only pipeline with ``PipelineConfig`` defaults."""

    name = "convert"
    schema: dict | None = None

    def config(self, out: str, pages: str | None = None) -> PipelineConfig:
        return PipelineConfig(
            pages_path=pages or self.path("pages"), output_path=out, schema=self.schema,
            resume=False,
        )

    def setup(self) -> None:
        self.make_pages()
        warm = self.config(self.path("warm"), self.write_warm_pages())
        self.timed_setup("warm_s", lambda: run_pipeline(self.spark, warm))
        self.docs_seen: set[int] = set()

    def leg(self, traced) -> dict:
        out = self.path("out")
        with traced.call("pipeline.run_pipeline") as call:
            summary = run_pipeline(self.spark, self.config(out))
        failed = (
            summary["schema_validation_failures"] if self.schema else summary["convert_failures"]
        )
        self.docs_seen.add(summary["docs"])
        self.check_output(out, failed)
        layer = {}
        if call.window:
            layer = self.pipeline_layer(call, summary, out)
        return {"docs_per_s": summary["docs"] / call.seconds, "rounds_per_s": 1 / call.seconds,
                "attempted": summary["docs"], "failed": failed, "layer": layer}

    def check_output(self, out: str, failed: int) -> None:
        """Each url exactly once, error rows as the summary counts them, and
        a seeded sample equal to in-process conversion (and extraction).
        Read with pyarrow, so checking runs no Spark job."""
        cols = ["url", "markdown", "text", "convert_error"]
        if self.schema:
            cols += ["data", "extract_error"]
        table = pads.dataset(out, format="parquet", partitioning="hive").to_table(columns=cols)
        rows = table.to_pylist()
        urls = {r["url"] for r in rows}
        if not len(rows) == len(urls) == len(self.newest):
            raise Failure(
                f"{len(rows)} rows, {len(urls)} distinct urls, expected each of "
                f"{len(self.newest)} urls exactly once"
            )
        errors = sum(1 for r in rows if r["convert_error"] or r.get("extract_error"))
        if errors != failed:
            raise Failure(f"{errors} error rows but the run summary reports {failed}")
        got = {r["url"]: r for r in rows}
        norm = normalize_schema(self.schema) if self.schema else None
        for s in self.html_sample(CHECK_SAMPLE, "check"):
            markdown, text = _convert_in_process(s)
            r = got[s["url"]]
            if r["markdown"] != markdown or r["text"] != text:
                raise Failure(f"convert output differs from in-process for {s['url']}")
            if norm is not None:
                want = extract_with_llm(markdown, norm, MarkdownRuleExtractor())["data"]
                have = r["data"] or {}
                if any(have.get(k) != want.get(k) for k in norm["properties"]):
                    raise Failure(f"data differs from in-process extract_with_llm for {s['url']}")

    def check_run(self) -> None:
        if len(self.docs_seen) != 1:
            raise Failure(f"docs out differ across legs: {sorted(self.docs_seen)}")

    def pipeline_layer(self, call, summary: dict, out: str) -> dict:
        w = call.window
        stages = w["_stages"]
        main = max(stages, key=lambda s: s["run_s"])
        tasks = call.store.task_seconds(main)
        files = [
            p
            for p in glob.glob(os.path.join(out, "bucket=*", "*"))
            if not os.path.basename(p).startswith((".", "_"))
        ]
        return {
            "pipeline.wall_s": call.seconds,
            "pipeline.rows_in": len(self.rows),
            "pipeline.docs_out": summary["docs"],
            "pipeline.dedup_ratio": summary["docs"] / len(self.rows),
            "pipeline.shuffle_write_mb": w["shuffle_write_mb"],
            "pipeline.shuffle_read_mb": w["shuffle_read_mb"],
            "pipeline.fetch_wait_s": w["fetch_wait_s"],
            "pipeline.spill_mb": w["spill_mb"],
            "pipeline.output_mb": w["output_mb"],
            "pipeline.output_files": len(files),
            "pipeline.jobs": w["jobs"],
            "pipeline.tasks": w["tasks"],
            "pipeline.task_skew": max(tasks) / statistics.median(tasks),
            "pipeline.driver_s": w["driver_s"],
            "pipeline.gc_s": w["gc_s"],
        }

    def probe_layers(self, traced) -> dict:
        """In-process engine sample and the stage(s) alone into a noop sink."""
        out = engine_sample(self.html_sample(ENGINE_SAMPLE, "engine"), self.schema)
        pages = self.spark.read.parquet(self.path("pages"))
        deduped = dedup_latest_per_url(pages).select("url", "warc_ts", "html", "lang")
        c = stage_probe(traced, "stages.convert", convert_stage(deduped))
        out.update(stage_metrics("convert", c, c["nodes"][0], out["_convert_s_per_doc"]))
        if self.schema:
            # E cannot run without C: its action is C+E, and its overhead is
            # taken against the in-process time of both
            ce = stage_probe(traced, "stages.extract",
                             extract_stage(convert_stage(deduped), self.schema))
            node = next(n for n in ce["nodes"] if "data_json" in n["desc"])
            out.update(stage_metrics("extract", ce, node,
                                     out["_convert_s_per_doc"] + out["_extract_s_per_doc"]))
        return out

    def finish_layers(self, layer: dict) -> None:
        """Pipeline time outside the stages: the stage action (C, or C+E
        with a schema) is timed alone into a noop sink."""
        stage = "stages.extract.wall_s" if self.schema else "stages.convert.wall_s"
        layer["pipeline.nonstage_s"] = layer["pipeline.wall_s"] - layer[stage]


class Structured(Convert):
    """Same corpus and config plus the blog schema: stage E runs too.

    PDF payloads carry no title, so the offline extractor rejects them by
    design; this workload leaves them out so that no operation fails."""

    name = "structured"
    with_pdfs = False

    @property
    def schema(self):
        from __spark_entry__ import BLOG_SCHEMA

        return BLOG_SCHEMA


class Curate(PagesInput):
    """``curate.curate`` with defaults over the converted output of a
    corpus built as convert's, at half its size."""

    name = "curate"
    n_pages = 500

    def setup(self) -> None:
        self.make_pages()
        self.timed_setup("input_s", self.write_converted)
        self.timed_setup(
            "warm_s", lambda: curate(self.spark, self.path("converted_warm"), self.path("warm"))
        )
        self.first_counts = None

    def write_converted(self) -> None:
        """The convert output curate reads (url, markdown, text), converted
        in-process as stage C does and laid out as the pipeline writes it:
        one parquet file per ``bucket=`` partition.  The warm pass reads
        the first few dozen docs of it."""
        rows = [_converted_row(self.newest[u]) for u in sorted(self.newest)]
        urls = self.spark.createDataFrame([(r["url"],) for r in rows], "url string")
        n_buckets = PipelineConfig("", "").n_buckets
        bucket = dict(with_bucket(urls, n_buckets).collect())
        for r in rows:
            r["bucket"] = bucket[r["url"]]
        inputs.write_partitioned(rows, inputs.CONVERTED_ARROW, self.path("converted"), "bucket")
        inputs.write_partitioned(rows[: 2 * WARM_PAGES], inputs.CONVERTED_ARROW,
                                 self.path("converted_warm"), "bucket")

    def leg(self, traced) -> dict:
        stage_times: dict = {}
        out = self.path("curated")
        with traced.call("curate.curate") as call:
            stats = curate(self.spark, self.path("converted"), out, stage_times=stage_times)
        counts = {k: v for k, v in stats.items() if k != "output_path"}
        self.first_counts = self.first_counts or counts
        if counts != self.first_counts:
            raise Failure(f"stage counts differ across legs: {counts} vs {self.first_counts}")
        exported = 0
        for part in glob.glob(os.path.join(out, "part-*")):
            with open(part, "rb") as f:
                exported += sum(1 for _ in f)
        if exported != stats["after_quality_filter"]:
            raise Failure(f"export has {exported} rows, after_quality_filter is "
                          f"{stats['after_quality_filter']}")
        layer = {}
        if call.window:
            layer = self.curate_layer(call, stats, stage_times)
        return {"docs_per_s": stats["input_docs"] / call.seconds, "rounds_per_s": 1 / call.seconds,
                "attempted": 1, "failed": 0, "layer": layer}

    def curate_layer(self, call, stats: dict, stage_times: dict) -> dict:
        w = call.window
        layer = {f"curate.{k}_s": v for k, v in stage_times.items()}
        for k in ("after_exact_dedup", "after_neardup_dedup", "after_quality_filter"):
            layer[f"curate.{k}"] = stats[k]
        layer["curate.neardup_ratio"] = 1 - stats["after_neardup_dedup"] / stats["after_exact_dedup"]
        layer["curate.verify_ratio"] = verify_ratio(call.executions())
        for k in ("shuffle_write_mb", "fetch_wait_s", "spill_mb", "jobs", "driver_s", "gc_s"):
            layer[f"curate.{k}"] = w[k]
        return layer


def verify_ratio(executions: list[dict]) -> float:
    """Verified pairs / candidate pairs of curate's verify join, from the
    SQL row counts: candidates are the rows the DISTINCT aggregate emits,
    verified pairs the rows of the operator applying the Jaccard test."""
    rows = "number of output rows"
    for e in executions:
        kept = [n["metrics"].get(rows, 0) for n in e["nodes"] if "array_intersect" in n["desc"]]
        cand = [
            n["metrics"].get(rows, 0)
            for n in e["nodes"]
            if n["name"] == "HashAggregate" and "functions=[]" in n["desc"]
        ]
        if kept and cand:
            return min(kept) / min(cand) if min(cand) else 0.0
    raise Failure("no SQL execution of the verified-pairs join was recorded")


# ---------------------------------------------------------------------------
# hostgraph
# ---------------------------------------------------------------------------


class Hostgraph(Workload):
    """pagerank, hits and spam_mass_ranks at fixed round counts.  A leg
    runs the three calls ``RUNS_PER_LEG`` times; its rates are the median
    over those runs, and every run must reproduce the first."""

    name = "hostgraph"

    def setup(self) -> None:
        def build():
            rows = inputs.host_graph_rows(self.ctx.seed, N_HOSTS)
            inputs.write_rows(rows, inputs.EDGES_ARROW, self.path("edges"), files=4)
            return rows

        rows = self.timed_setup("input_s", build)
        self.seeds = inputs.trusted_seeds(self.ctx.seed, N_HOSTS)
        hosts = {r["src_host"] for r in rows} | {r["dst_host"] for r in rows}
        self.input_info = {"hosts": len(hosts), "edges": len(rows), "rounds_per_loop": ROUNDS,
                           "seeds": len(self.seeds), "fixtures": "absent"}
        self.first = None
        # one round of each loop compiles the plans every round runs
        self.timed_setup("warm_s", lambda: self.run_loops(self.ctx.untraced, rounds=1))

    def run_loops(self, traced, rounds: int = ROUNDS) -> dict:
        """Collect every rank vector of the three calls."""
        edges = self.spark.read.parquet(self.path("edges"))
        out = {}
        timings = {}
        calls = (
            ("pagerank", lambda: {"pagerank": pagerank(edges, max_iter=rounds, tol=0.0)}),
            ("hits", lambda: {"hits": hits(edges, max_iter=rounds)}),
            ("spam_mass", lambda: dict(zip(("spam_pr", "spam_tr"),
                                           spam_mass_ranks(edges, self.seeds, max_iter=rounds,
                                                           tol=0.0)))),
        )
        for name, fn in calls:
            t0 = time.perf_counter()
            with traced.span(f"webgraph.{name}"):
                frames = fn()
                for key, df in frames.items():
                    out[key] = {r[0]: tuple(r[1:]) for r in df.collect()}
                release_query_caches()
            timings[name] = time.perf_counter() - t0
        self.timings = timings
        return out

    def leg(self, traced) -> dict:
        rounds = 4 * ROUNDS  # pagerank, hits, and spam_mass's two loops
        seconds, layer = [], {}
        for _ in range(RUNS_PER_LEG):
            with traced.call("webgraph.loops") as call:
                out = self.run_loops(traced)
            self.check(out)
            seconds.append(call.seconds)
            if call.window and not layer:
                layer = self.webgraph_layer(call.window, rounds)
        s = statistics.median(seconds)
        return {"docs_per_s": self.input_info["hosts"] / s, "rounds_per_s": rounds / s,
                "attempted": RUNS_PER_LEG, "failed": 0, "layer": layer}

    def check(self, out: dict) -> None:
        """Every rank vector sums to 1, and the run reproduces the first."""
        for key, vec in out.items():
            for i in range(len(next(iter(vec.values())))):
                total = sum(v[i] for v in vec.values())
                if abs(total - 1.0) > SUM_TOL:
                    raise Failure(f"{key}[{i}] sums to {total!r}, not 1 within {SUM_TOL}")
        self.first = self.first or out
        if out != self.first:
            raise Failure("rank vectors differ from the first run's")

    def webgraph_layer(self, w: dict, rounds: int) -> dict:
        return {
            "webgraph.pagerank.s_per_round": self.timings["pagerank"] / ROUNDS,
            "webgraph.hits.s_per_round": self.timings["hits"] / ROUNDS,
            "webgraph.spam_mass.wall_s": self.timings["spam_mass"],
            "webgraph.rounds": rounds,
            "webgraph.jobs_per_round": w["jobs"] / rounds,
            "webgraph.tasks_per_round": w["tasks"] / rounds,
            "webgraph.driver_s": w["driver_s"],
            "webgraph.gc_s": w["gc_s"],
        }


class CurateHostgraph(Workload):
    """``curate`` then ``hostgraph`` in each leg, in one session: the two
    workloads where no engine or Arrow UDF runs.  Its ``docs_per_s`` is
    curate's and its ``rounds_per_s`` hostgraph's."""

    name = "curate_hostgraph"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.curate, self.hostgraph = Curate(ctx), Hostgraph(ctx)

    def setup(self) -> None:
        # hostgraph's warm pass, first, pays the session's cold start; curate's
        # input build and warm pass then run in a warm JVM
        for part in (self.hostgraph, self.curate):
            part.setup()
            for label, seconds in part.setup_times.items():
                self.setup_times[label] = self.setup_times.get(label, 0.0) + seconds
        self.input_info = {"curate": self.curate.input_info,
                           "hostgraph": self.hostgraph.input_info}

    def leg(self, traced) -> dict:
        c, h = self.curate.leg(traced), self.hostgraph.leg(traced)
        return {"docs_per_s": c["docs_per_s"], "rounds_per_s": h["rounds_per_s"],
                "attempted": c["attempted"] + h["attempted"], "failed": c["failed"] + h["failed"],
                "layer": {**c["layer"], **h["layer"]}}


WORKLOADS = {w.name: w for w in (Convert, Structured, Curate, Hostgraph, CurateHostgraph)}


# ---------------------------------------------------------------------------
# traced probes
# ---------------------------------------------------------------------------


class _TimedClient(MarkdownRuleExtractor):
    busy_s = 0.0

    def invoke(self, prompt, llm_schema):
        t0 = time.perf_counter()
        try:
            return super().invoke(prompt, llm_schema)
        finally:
            self.busy_s += time.perf_counter() - t0


def engine_sample(sample: list[dict], schema: dict | None) -> dict:
    """In-process, one core: per-doc convert (with tidy timed apart) and,
    with a schema, extract_with_llm through a client that times invoke."""
    opts = HtmlExtractionOptions()
    conv, tidy_s, text_s, errors, markdowns = [], 0.0, 0.0, 0, []
    for row in sample:
        html = row["html"].decode()
        t0 = time.perf_counter()
        try:
            markdown = html_to_markdown(html, opts, row["url"])
        except Exception:  # the stage records such docs as convert errors
            errors += 1
            markdown = None
        t1 = time.perf_counter()
        tidy_dom(html, opts.include_images)
        t2 = time.perf_counter()
        conv.append(t1 - t0)
        tidy_s += t2 - t1
        if markdown is not None:
            markdowns.append(markdown)
            markdown_to_text(markdown)
            text_s += time.perf_counter() - t2
    p = tail_percentile(len(conv))
    if p is None or p < 99:
        raise ValueError(f"engine sample of {len(conv)} docs is too small for a p99")
    out = {
        "engine.convert.docs_per_s_core": len(conv) / sum(conv),
        "engine.convert.ms_p50": percentile(conv, 50) * 1e3,
        "engine.convert.ms_p99": percentile(conv, 99) * 1e3,
        "engine.tidy.busy_s": tidy_s,
        "engine.turndown.busy_s": sum(conv) - tidy_s,
        "engine.convert.errors": errors,
        "stages.markdown_to_text.busy_s": text_s,
        "_convert_s_per_doc": sum(conv) / len(conv),
    }
    if schema is None:
        return out
    norm = normalize_schema(schema)
    client = _TimedClient()
    ext, ok = [], 0
    for markdown in markdowns:
        t0 = time.perf_counter()
        try:
            extract_with_llm(markdown, norm, client)
            ok += 1
        except Exception:  # the stage records such docs as extract errors
            pass
        ext.append(time.perf_counter() - t0)
    out.update({
        "engine.extract.docs_per_s_core": len(ext) / sum(ext),
        "engine.extract.ms_p50": percentile(ext, 50) * 1e3,
        "engine.extract.ms_p99": percentile(ext, 99) * 1e3,
        "engine.extract.client_s": client.busy_s,
        "engine.extract.validate_s": sum(ext) - client.busy_s,
        "engine.extract.ok_ratio": ok / len(ext),
        "_extract_s_per_doc": sum(ext) / len(ext),
    })
    return out


def stage_probe(traced, name: str, frame) -> dict:
    """Run ``frame`` into a noop sink and read its MapInPandas nodes and
    slot-seconds back from the status store."""
    with traced.call(name) as call:
        frame.write.format("noop").mode("overwrite").save()
    nodes = [n for e in call.executions() for n in e["nodes"] if n["name"] == "MapInPandas"]
    if not nodes:
        raise Failure(f"{name}: no MapInPandas node in the recorded SQL plans")
    slot_s = max(s["run_s"] for s in call.window["_stages"])
    return {"nodes": nodes, "slot_s": slot_s, "wall_s": call.seconds}


def stage_metrics(kind: str, probe: dict, node: dict, s_per_doc: float) -> dict:
    """One stage's ledger entries from its probe and MapInPandas node;
    ``s_per_doc`` is the in-process time the stage's Python work takes."""
    m = node["metrics"]
    rows = m.get("number of output rows", 0)
    p = f"stages.{kind}."
    return {
        p + "wall_s": probe["wall_s"],
        p + "python_s": m.get("time to run Python workers", 0.0),
        p + "boot_s": m.get("time to start Python workers", 0.0),
        p + "init_s": m.get("time to initialize Python workers", 0.0),
        p + "arrow_sent_mb": m.get("data sent to Python workers", 0.0) / 2**20,
        p + "arrow_recv_mb": m.get("data returned from Python workers", 0.0) / 2**20,
        p + "rows": rows,
        p + "overhead_ratio": probe["slot_s"] / (rows * s_per_doc) if rows else 0.0,
    }

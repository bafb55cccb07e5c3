#!/usr/bin/env python
"""Crash-consistency at bench scale (round-3 verdict item 5).

The wave/resume logic is unit-tested in miniature; this records it MEASURED
at the 100k-doc bench corpus:

  1. reference single-wave run (ground-truth doc count + url set digest)
  2. waves=4 run with per-wave timings (summary["wave_seconds"])
  3. crash run: a subprocess runs waves=4 and is SIGKILLed after the first
     wave commits its manifest; the parent then resumes and verifies the
     final output matches the reference exactly (doc count + url digest),
     with skipped_buckets proving the committed wave was NOT recomputed.

Prints the report as JSON; writes it to a file only when ``--out`` names
one (the recorded 100k-doc run is BENCH/waves_resume_r4.json).  Usage:
  python scripts/bench_waves_resume.py [--pages 100000] [--cpus 32] [--out FILE]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_BUCKETS = 64

_CHILD_TEMPLATE = """
import sys
sys.path.insert(0, {repo!r})
from extractor_spark.spark.pipeline import PipelineConfig, run_pipeline
from extractor_spark.spark.session import get_spark
spark = get_spark("waves-crash-child", cpus={cpus})
run_pipeline(spark, PipelineConfig(
    pages_path={pages!r}, output_path={out!r},
    n_buckets={n_buckets}, waves=4, resume=True))
print("CHILD_DONE", flush=True)
"""


def url_digest(spark, out_path: str) -> tuple[int, str]:
    rows = sorted(
        r["url"] for r in spark.read.parquet(out_path).select("url").collect()
    )
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(rows), h


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--out", help="also write the JSON report to this path")
    args = ap.parse_args()

    from extractor_spark.spark.pipeline import PipelineConfig, run_pipeline, warmup
    from extractor_spark.spark.session import get_spark
    from extractor_spark.spark.synth import write_pages

    spark = get_spark("waves-resume-bench", cpus=args.cpus)
    work = tempfile.mkdtemp(prefix="waves_resume_")
    pages = os.path.join(work, "pages.parquet")
    write_pages(spark, pages, n_pages=args.pages, include_pdfs=True)
    warmup(spark, pages)

    report: dict = {"pages": args.pages, "cpus": args.cpus, "n_buckets": N_BUCKETS}

    # 1. reference single-wave run
    out_ref = os.path.join(work, "out_ref")
    t0 = time.time()
    s_ref = run_pipeline(
        spark,
        PipelineConfig(pages_path=pages, output_path=out_ref,
                       n_buckets=N_BUCKETS, waves=1, resume=False),
    )
    ref_rows, ref_digest = url_digest(spark, out_ref)
    report["single_wave"] = {
        "wall_s": round(time.time() - t0, 3),
        "docs": s_ref["docs"],
        "out_rows": ref_rows,
        "url_digest": ref_digest,
    }

    # 2. waves=4 run, per-wave timings
    out_w = os.path.join(work, "out_waves")
    s_w = run_pipeline(
        spark,
        PipelineConfig(pages_path=pages, output_path=out_w,
                       n_buckets=N_BUCKETS, waves=4, resume=False),
    )
    w_rows, w_digest = url_digest(spark, out_w)
    report["waves4"] = {
        "wall_s": round(s_w["wall_seconds"], 3),
        "wave_seconds": s_w["wave_seconds"],
        "docs": s_w["docs"],
        "out_rows": w_rows,
        "url_digest": w_digest,
        "matches_single_wave": w_digest == ref_digest and w_rows == ref_rows,
    }

    # 3. crash after first committed wave, then resume
    out_c = os.path.join(work, "out_crash")
    manifest = os.path.join(out_c, "_manifest")
    child = subprocess.Popen(
        [sys.executable, "-c", _CHILD_TEMPLATE.format(
            repo=REPO, cpus=args.cpus, pages=pages, out=out_c, n_buckets=N_BUCKETS)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,  # kill the whole JVM+python group
    )
    deadline = time.time() + 600
    committed = False
    while time.time() < deadline and child.poll() is None:
        if os.path.isdir(manifest) and any(
            f.endswith(".parquet") for f in os.listdir(manifest)
        ):
            committed = True
            break
        time.sleep(0.5)
    assert committed, "child never committed a wave (or died early)"
    time.sleep(2.0)  # let wave 2 get airborne so the kill is genuinely mid-run
    os.killpg(os.getpgid(child.pid), signal.SIGKILL)
    child.wait()
    report["crash"] = {"killed_after_first_commit": True}

    t0 = time.time()
    s_res = run_pipeline(
        spark,
        PipelineConfig(pages_path=pages, output_path=out_c,
                       n_buckets=N_BUCKETS, waves=4, resume=True),
    )
    c_rows, c_digest = url_digest(spark, out_c)
    report["resume"] = {
        "wall_s": round(time.time() - t0, 3),
        "skipped_buckets": s_res["skipped_buckets"],
        "resumed_docs": s_res["docs"],
        "cumulative_docs": s_res["cumulative_docs"],
        "out_rows": c_rows,
        "url_digest": c_digest,
        "matches_single_wave": c_digest == ref_digest and c_rows == ref_rows,
    }
    assert s_res["skipped_buckets"] >= N_BUCKETS // 4, (
        "resume recomputed the committed wave", s_res["skipped_buckets"])
    assert report["resume"]["matches_single_wave"], (
        "resumed output diverges from single-run reference")

    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=2)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()

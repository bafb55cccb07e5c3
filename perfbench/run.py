"""Benchmark entry point.

    python3 perfbench/run.py --workload convert --seed 1 --seconds 10 --trace 0

Run from the repository root.  Starts Spark in local mode with one task
slot per core, builds the workload's input from ``--seed``, runs an
untimed warm pass, then closed-loop legs (one driver, the next leg starts
when the previous one returns) for at least ``--seconds``.  Every leg's
output is checked.  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer ledger with ``--trace 1``.  The
full record (legs, contention signals, spans) goes to
``.perfbench/results/``.  Exits 1 when a check fails, 2 when the program
is not there to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def layer_table() -> list[dict]:
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)["metrics"]


def prepare_dirs(root: str, tag: str) -> tuple[str, str]:
    """A fresh work dir for this run and the shared results dir, both in
    the checkout; temp files, Spark's local dirs and the JVMs' tmpdir all
    point inside the work dir, and the JVMs keep no perf-data file."""
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o
        for o in (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        )
        if o
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    return work, results


def start_spark(work: str, slots: int):
    from extractor_spark.spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=slots,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_legs(wl, args, tracer, store) -> tuple[list[dict], str | None]:
    """Closed loop: legs until ``--seconds`` have passed.  A traced run times
    a single leg with the status store read after each call."""
    from perfbench.ledger import Contention, Traced

    legs: list[dict] = []
    t0 = time.time()
    while True:
        traced = Traced(tracer, store)
        contention = Contention()
        try:
            with traced.span("leg", index=len(legs)):
                rec = wl.leg(traced)
        except Exception as exc:  # the program raised or a check failed
            traceback.print_exc()
            legs.append({"failed": 1, "attempted": 1, "error": f"{type(exc).__name__}: {exc}"})
            return legs, legs[-1]["error"]
        rec.update(contention.finish())
        legs.append(rec)
        if args.trace or time.time() - t0 >= args.seconds:
            return legs, None


def end_to_end(legs: list[dict], setup_s: float) -> dict:
    return {
        "docs_per_s": {"value": statistics.median(leg["docs_per_s"] for leg in legs),
                       "unit": "docs/s"},
        "rounds_per_s": {"value": statistics.median(leg["rounds_per_s"] for leg in legs),
                         "unit": "rounds/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def per_layer(wl, legs, probes: dict, setup: dict, e2e: dict, store, peak_mb: float) -> dict:
    """The traced leg's layer entries, the probes, set-up, and what tracing
    cost: status-store reading time against the traced calls' wall time.
    The traced run's own end-to-end rates sit beside it, so that the
    untraced runs' rates give the overhead as seen end to end."""
    table = layer_table()
    values = dict(legs[0]["layer"])
    values.update({k: v for k, v in probes.items() if not k.startswith("_")})
    values.update({f"setup.{k}": v for k, v in setup.items()})
    wl.finish_layers(values)
    values["trace.overhead_s"] = store.busy_s
    values["trace.overhead_ratio"] = store.busy_s / legs[0]["wall_s"]
    values["trace.docs_per_s"] = e2e["docs_per_s"]["value"]
    values["trace.rounds_per_s"] = e2e["rounds_per_s"]["value"]
    values["process.peak_rss_mb"] = peak_mb
    known = {m["name"]: m["unit"] for m in table}
    unknown = set(values) - set(known)
    if unknown:
        raise KeyError(f"metrics missing from layers.json: {sorted(unknown)}")
    # a layer this workload does not exercise did no work: 0
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in known.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "extractor_spark", "spark", "pipeline.py")):
        print("perfbench: extractor_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work, results = prepare_dirs(root, tag)

    from perfbench.ledger import PeakRss, StatusStore, Traced, Tracer, fail_ratio

    slots = os.cpu_count() or 1
    t = time.perf_counter()
    spark = start_spark(work, slots)
    session_s = time.perf_counter() - t
    tracer = Tracer(args.workload) if args.trace else None
    try:
        store = StatusStore(spark) if args.trace else None
        ctx = SimpleNamespace(spark=spark, seed=args.seed, workdir=work, untraced=Traced())
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup = {"session_s": session_s, **wl.setup_times}
        with PeakRss() as rss:
            legs, error = run_legs(wl, args, tracer, store)
        if error is None:
            try:
                wl.check_run()
            except Exception as exc:
                error = f"{type(exc).__name__}: {exc}"
        probes = wl.probe_layers(Traced(tracer, store)) if args.trace and error is None else {}
        conf = spark.sparkContext.getConf()
        session = {
            "slots": slots,
            "master": conf.get("spark.master"),
            "driver_memory": conf.get("spark.driver.memory"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "shuffle_dir": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], root),
        }
    finally:
        stop_spark(spark)

    attempted = sum(leg["attempted"] for leg in legs)
    failed = sum(leg["failed"] for leg in legs)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "input": getattr(wl, "input_info", {}),
              "session": session, "setup": setup, "legs": legs, "error": error}
    result = {"correct": error is None, "attempted": attempted, "failed": failed, "metrics": {}}
    if error is None:
        setup_s = sum(setup.values())
        e2e = end_to_end(legs, setup_s)
        record["end_to_end"] = e2e
        record["fail_ratio"] = fail_ratio(failed, attempted)
        record["peak_rss_mb"] = rss.peak_mb
        result["metrics"] = (
            per_layer(wl, legs, probes, setup, e2e, store, rss.peak_mb) if args.trace else e2e
        )
        record["per_layer"] = result["metrics"] if args.trace else None
        for name, m in e2e.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
        # too noisy to carry a bound (README.md); printed, recorded, traced
        print(f"peak_rss_mb {rss.peak_mb:.6g} MB")
        print(f"fail_ratio {record['fail_ratio']:.6g} share ({failed}/{attempted})")
        print(f"legs {len(legs)} (median over legs{', traced' if args.trace else ''})")
    else:
        print(f"perfbench: FAILED {error}", file=sys.stderr)
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if tracer is not None:
        tracer.write(os.path.join(results, f"{tag}.spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if error is None else 1


if __name__ == "__main__":
    sys.exit(main())

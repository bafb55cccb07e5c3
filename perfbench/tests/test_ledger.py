"""Unit tests of the benchmark's own derivations.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import json
import os
import time

import pytest

from perfbench.ledger import (
    StatusStore,
    covered_seconds,
    driver_gap,
    fail_ratio,
    parse_sql_metric,
    percentile,
    tail_percentile,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize(
    "n, p",
    [(10000, 99.9), (1000, 99.0), (999, 95.0), (200, 95.0), (100, 90.0), (40, 75.0),
     (20, 50.0), (19, None), (0, None)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))[::-1]
    assert percentile(values, 50) == 50
    assert percentile(values, 99) == 99
    assert percentile(values, 100) == 100
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_driver_gap_counts_time_with_no_job_running():
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.5, 12.0)]
    # [0, 10]: jobs cover 1-4, 6-7 and 9.5-10 -> 4.5 s covered
    assert covered_seconds(0.0, 10.0, jobs) == pytest.approx(4.5)
    assert driver_gap(0.0, 10.0, jobs) == pytest.approx(5.5)
    assert driver_gap(0.0, 10.0, []) == pytest.approx(10.0)
    assert driver_gap(2.0, 3.0, [(0.0, 5.0)]) == pytest.approx(0.0)


def test_fail_ratio():
    assert fail_ratio(0, 2000) == 0.0
    assert fail_ratio(8, 2008) == pytest.approx(8 / 2008)
    with pytest.raises(ValueError):
        fail_ratio(0, 0)
    with pytest.raises(ValueError):
        fail_ratio(3, 2)


@pytest.mark.parametrize(
    "text, value",
    [
        ("2,008", 2008.0),
        ("13 ms", 0.013),
        ("821.4 KiB", 821.4 * 1024),
        ("total (min, med, max (stageId: taskId))\n27.4 s (382 ms, 597 ms, 3.0 s (stage 3.0: task 7))", 27.4),
        ("total (min, med, max (stageId: taskId))\n9.3 MiB (130.2 KiB, 289.4 KiB, 493.4 KiB (stage 3.0: task 14))", 9.3 * 2**20),
        ("2.1 m", 126.0),
        ("(min, med, max (stageId: taskId)):\n(1, 2.5, 4 (stage 1.0: task 4))", 2.5),
        (None, 0.0),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_parse_sql_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_sql_metric("3 parsecs")


def test_benchmark_json_matches_the_layer_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        layers = json.load(f)["metrics"]
    assert bench["per_layer"] == [
        {"name": m["name"], "unit": m["unit"], "better": m["better"]} for m in layers
    ]
    names = [m["name"] for m in bench["end_to_end"]]
    assert names == ["docs_per_s", "rounds_per_s", "setup_s"]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    yield session
    session.stop()


def test_status_store_reads_a_tiny_job(spark):
    from pyspark.sql import functions as F

    store = StatusStore(spark)
    mark = store.mark()
    t0 = time.time()
    rows = (
        spark.range(0, 1000, numPartitions=4)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
        .collect()
    )
    t1 = time.time()
    assert len(rows) == 7
    w = store.window(mark, t0, t1)
    assert w["jobs"] >= 1
    assert w["tasks"] == 4 + 3  # map stage + reduce stage
    assert 0.0 <= w["driver_s"] <= t1 - t0
    assert w["shuffle_write_mb"] > 0
    assert w["shuffle_read_mb"] == pytest.approx(w["shuffle_write_mb"])
    (execution,) = store.executions_since(mark)
    aggs = [n for n in execution["nodes"] if n["name"] == "HashAggregate"]
    # partial aggregate: 7 keys in each of 4 map tasks; final: 7 rows
    assert sorted(n["metrics"]["number of output rows"] for n in aggs) == [7, 28]
    assert store.mark() > mark
    assert store.busy_s > 0

"""SparkSession factory with the engine's standard configuration.

Tuned for the extract pipeline's shape: fat HTML rows moving into Python
workers over Arrow (small record batches bound worker memory), AQE with skew
handling on, shuffle parallelism matched to cores rather than the 200
default.  The same settings translate to multi-executor clusters — only
``master`` and the memory knobs change at spark-submit time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# HTML rows are fat (KBs–MBs); keep Arrow batches small so each Python worker
# holds a bounded number of documents (SURVEY.md §4.2).
ARROW_BATCH_ROWS = 256

# the directory that holds the extractor_spark package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _default_driver_memory() -> str:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(4, min(24, total_gb // 5))}g"
    except OSError:
        pass
    return "4g"


def get_spark(
    app_name: str = "extractor_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        # listing a table with many partition dirs (a curate input in the
        # bucket=N layout, a term index's bucket=/batch= dirs) runs as a
        # Spark job with one task per dir by default; one task per core slot
        # reads back 432 bucket dirs in 0.2 s instead of 1.7–2.0 s (local[4])
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.ui.enabled", "false")
        # Python workers import pyspark from outside Spark's zips when an
        # equal one is there, so a task's importlib.invalidate_caches() stops
        # re-reading 12k zip entries (lean_daemon.py)
        .config("spark.python.daemon.module", "extractor_spark.spark.lean_daemon")
        # workers inherit PYTHONPATH, not this process's sys.path: put the
        # package (and the daemon) on it whatever the driver's cwd
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(p for p in (PACKAGE_ROOT, os.environ.get("PYTHONPATH")) if p),
        )
        # local mode: the driver JVM hosts every executor thread plus all
        # cached/checkpointed blocks; a fixed 8g caused GCLocker-retry task
        # aborts at the tail of long benches on the 128 GiB box (32 threads
        # allocating under a nearly-full heap).  Size to ~1/5 of host RAM,
        # clamped to [4g, 24g], so smaller machines aren't handed an -Xmx
        # beyond physical memory; override via SPARK_DRIVER_MEMORY.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
    )
    # Shuffle/spill on the RAM disk when one exists (memory-rich local node;
    # overridable via SPARK_LOCAL_DIRS) — avoids disk-latency noise.
    if "SPARK_LOCAL_DIRS" not in os.environ and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

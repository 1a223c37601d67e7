"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same configs are the
ones we would ship to a 1000-executor cluster (AQE on, skew-join handling on,
partition coalescing on).  Nothing here is local-mode-specific except the
master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs we consider part of the engine, not the environment.  AQE gives
# runtime shuffle coalescing + skew-join splitting, which is the 100 TB
# answer to skewed groupBy/join keys (SURVEY.md §4.2).
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet scans: keep vectorized reader + pushdown on (defaults, pinned)
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
}


def get_spark(app_name: str = "affinity-propagation-mapreduce-spark") -> SparkSession:
    """Return the active session or build a local one with engine confs."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # every Python task calls importlib.invalidate_caches(), which on
        # Python 3.11 re-reads all 16 zip importers' archives on the
        # worker's path (pyspark.zip, py4j, the spark-core jar): 0.12-0.23 s
        # per task on a 4-core host, against 0.17-0.28 ms from this daemon,
        # which re-reads an archive only when its stat changed.
        .config("spark.python.daemon.module", "affinity_propagation_mapreduce_spark.worker_daemon")
        .config("spark.sql.shuffle.partitions", cpus)
        # a listing past the 32-path threshold runs as a Spark job; the
        # default parallelism (10,000) makes one task per listed dir, so
        # a new batch dir's ~180 cell dirs cost ~180 tasks and ~1 s of
        # wall on 4 cores.  One task per core lists them in one wave.
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # quantizer-training samples are legitimately driver-sized
        # O(nlist·d) data — ~440 MB at 10M×768 — and the sampling
        # limit's per-task partials ride the same cap; 1g default trips
        # at wide d while the driver heap has plenty of room
        .config("spark.driver.maxResultSize", "4g")
        # long sessions generate many codegen classes (iterative AP most
        # of all); the default 240m JIT code cache fills and the compiler
        # silently shuts off, making every later query 3-5x slower
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
    )
    for key, val in ENGINE_CONFS.items():
        builder = builder.config(key, val)
    return builder.getOrCreate()

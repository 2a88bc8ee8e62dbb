"""SparkSession factory with scale-appropriate defaults.

Every knob here is why the engine's plans survive a 100x scale-up:
AQE re-plans joins at runtime (incl. skew-join splitting for
mega-domains), the runtime Bloom filter pushes the scheduled-frontier
keys into the corpus parquet scan, and Arrow settings keep the
parse/canonicalize UDFs on the vectorized path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ironspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("IRONSPARK_MASTER", "local[*]")
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if cores and master == "local[*]":
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = int(n) if n.isdigit() else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level Bloom pushdown: scheduled-batch keys prune the
        # corpus scan without reading the whole pages table
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches keep per-worker memory bounded: crawl rows
        # carry multi-KB html payloads, and 32 workers x 10k-row batches
        # measured as a machine-wide memory stall
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("IRONSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Python workers fork from a daemon that skips re-indexing
        # pyspark.zip on every task (ironspark/worker_daemon.py)
        .config("spark.python.daemon.module", "ironspark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

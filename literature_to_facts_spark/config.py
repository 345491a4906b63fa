"""SparkSession construction with scale-oriented defaults.

The engine targets a multi-executor cluster reading ~100 TB; in this sandbox
it runs on ``local[N]``.  All settings below are cluster-safe: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for pandas-UDF transfer,
and a pinned UTC timezone (the reference's ``datetime.timestamp()`` calls are
local-TZ-dependent — /root/reference/facts/gcn.py:233, facts/atel.py:34 — so
parity requires TZ=UTC everywhere, driver and executors).

The partition-discovery threshold sits above the predicate vocabulary: a
graph table has one ``pred=`` directory per predicate (85 on a dense
corpus), and past Spark's default of 32 directories every graph read would
launch a distributed listing job before its query runs.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession


def pin_utc() -> None:
    """Pin the process TZ to UTC (parity requirement, see module docstring)."""
    os.environ["TZ"] = "UTC"
    time.tzset()


def get_spark(
    app_name: str = "literature-to-facts-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's defaults.

    ``master=None`` defers to spark-submit / env (cluster mode); tests pass
    ``local[32]``.  ``shuffle_partitions`` should be sized to total cores in
    local mode and to ~2-3x total cluster cores on a real cluster.
    """
    pin_utc()

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)

    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", cores))

    conf = {
        # runtime re-planning: skew-join splitting + post-shuffle coalescing
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow everywhere: pandas UDF transfer + toPandas
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # executors must parse dates under UTC too (cluster-safe parity pin)
        "spark.executorEnv.TZ": "UTC",
        "spark.sql.session.timeZone": "UTC",
        # scans: keep input splits bounded so a 100 TB table yields sane tasks
        "spark.sql.files.maxPartitionBytes": "134217728",
        # list a graph's pred= directories on the driver (module docstring)
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "256",
        # broadcast joins for gazetteer/side tables up to 64 MB
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    return builder.getOrCreate()

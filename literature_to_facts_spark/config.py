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

The driver JVM compiles with C1 only (``DRIVER_JAVA_OPTIONS``).  A pipeline
run is one short-lived driver, and warming it up cost more than the work:
per thread, on one cold 4,000-doc dense run in ``local[4]`` (32.6 CPU-s),
the JIT compiler threads took 16.7 CPU-s, the executor task threads 7.3
and the Python side, extractor battery included, 4.9.  With C1 only the
compiler threads take 2.1 and the run 14.2 CPU-s.  The option is Spark's
``spark.driver.defaultJavaOptions``, which Spark puts in front of
``spark.driver.extraJavaOptions``, so a caller's extra options compose with
it and ``extra_conf`` can still override it.  It does not reach:

* executors — on a cluster they live for the whole job and keep C2;
* a driver JVM started by ``spark-submit`` — it exists before ``get_spark``
  runs, so documented spark-submit commands pass
  ``--conf spark.driver.defaultJavaOptions=<DRIVER_JAVA_OPTIONS>`` instead.

Setting it *replaces* a host's own ``spark.driver.defaultJavaOptions`` from
``spark-defaults.conf`` (where administrators put cluster-wide driver flags:
Kerberos, log4j, proxies); on such a host pass both, e.g. ``extra_conf=
{"spark.driver.defaultJavaOptions": f"{own} {DRIVER_JAVA_OPTIONS}"}``.

The cost is steady-state speed: re-running a 40,000-doc dense input in one
JVM, C1-only runs cost 34-37 CPU-s from the third run on, C2 runs 24-30
(set-up included, C1 is still ahead in total after five).  Drivers that
run many operations in one JVM pass ``LONG_LIVED_DRIVER_CONF``, which drops
the option (a host's own value then applies unchanged): the
``scripts/run_pipeline.py --period`` loop, the test suite's session and the
``bench.py`` / ``scripts/check_oracles.py`` harnesses (C1-only, on 4 cores:
check_oracles at sf0.01 185 -> 248 s, the quick bench 274 -> 392 s).

A short-lived driver JVM that ``get_spark`` launches itself also maps the
Spark classes from a class-data-sharing archive (``cds``), primed by the
first such run on a host: the archive options join the C1 option in
``spark.driver.defaultJavaOptions``, computed per launch, so
``LONG_LIVED_DRIVER_CONF`` and a caller's own value drop them too, and
``DRIVER_JAVA_OPTIONS`` stays the static C1 string.  A driver JVM that
already exists (``spark-submit``, ``PYSPARK_GATEWAY_PORT``) gets no
archive; nor do executors.

A driver JVM that ``get_spark`` launches is stopped and waited for when
this process exits (at most ``cds.EXIT_WAIT_S``, then killed): pyspark
itself only closes the JVM's stdin, and the JVM then outlived its Python
driver by 1.4-1.9 s (a primed archive, 4-core host).  A JVM already stopped (perfbench's ``stop_gateway``)
is not waited for again; a class-data-sharing dump is published after the
wait.
"""

from __future__ import annotations

import atexit
import os
import subprocess
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession

from literature_to_facts_spark import cds

# C1-only JIT for the short-lived driver JVM (module docstring)
DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"
# extra_conf for a driver that runs many operations in one JVM: keeps C2
LONG_LIVED_DRIVER_CONF = {"spark.driver.defaultJavaOptions": None}


def pin_utc() -> None:
    """Pin the process TZ to UTC (parity requirement, see module docstring)."""
    os.environ["TZ"] = "UTC"
    time.tzset()


def _launches_jvm() -> bool:
    """Whether the next session this process builds starts its own driver
    JVM: not under ``spark-submit``, and not with a gateway already up."""
    return SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ


def _stop_jvm_at_exit(gateway, publish_dump) -> None:
    """Stop the driver JVM this process launched and wait for it, so that no
    JVM outlives its driver; then hand its exit code to ``publish_dump``
    (a class-data-sharing miss), if any."""
    proc = gateway.proc
    if proc.poll() is None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=cds.EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if publish_dump is not None:
        publish_dump(proc.returncode)


def _driver_archive(conf: dict) -> cds.Archive | None:
    """The class-data-sharing archive for a short-lived driver JVM that
    ``get_spark`` is about to launch with ``conf`` (module docstring)."""
    if conf.get("spark.driver.defaultJavaOptions") != DRIVER_JAVA_OPTIONS or not _launches_jvm():
        return None
    return cds.plan(conf)


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
    ``extra_conf`` overrides the defaults; a ``None`` value drops one.
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
        "spark.driver.defaultJavaOptions": DRIVER_JAVA_OPTIONS,
    }
    if extra_conf:
        conf.update(extra_conf)
    launches = _launches_jvm()
    archive = _driver_archive(conf)
    if archive is not None:
        conf["spark.driver.defaultJavaOptions"] += " " + archive.java_options
    for k, v in conf.items():
        if v is not None:
            builder = builder.config(k, v)

    if archive is None:
        spark, publish_dump = builder.getOrCreate(), None
    else:
        spark, publish_dump = archive.launch(builder.getOrCreate)
    if launches:
        atexit.register(_stop_jvm_at_exit, spark.sparkContext._gateway, publish_dump)
    return spark

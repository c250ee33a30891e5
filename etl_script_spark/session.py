"""SparkSession factory for the etl-script-spark engine.

The reference (smfitadmin/etl-script) is a single-process pandas+PHP
pipeline with no engine configuration at all (SURVEY.md §4.1). Here the
engine IS Spark, so the session factory is where scale posture lives:

- AQE on (runtime coalesce, skew-join splitting) so the same code runs
  on local[32] at sf0.1 and on a 1000-executor cluster at 100 TB.
- shuffle.partitions defaults to the local core count, overridable via
  env for cluster runs (at 100 TB you want O(2-3x total cores)).
- Session timezone pinned to UTC so date/timestamp semantics match the
  DuckDB oracle and are cluster-location-independent.
- Arrow enabled: every pandas_udf / mapInPandas boundary is vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Driver heap ceiling when SPARK_GRAFT_DRIVER_MEM is unset: 48 GB, the
# local[32] posture, but never more than half of physical memory. G1
# sizes its growth steps from the uncommitted part of the ceiling, so a
# 48 GB ceiling on a 16 GB host, after a run of busy young collections,
# asked the OS for ~16 GB in one commit; without swap that fails and the
# JVM aborts, taking every later Spark call of the process with it.
MAX_DEFAULT_DRIVER_MEM_MB = 48 * 1024


def default_driver_memory() -> str:
    """``spark.driver.memory`` to use when the env does not set one."""
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    except (ValueError, OSError, AttributeError):
        return f"{MAX_DEFAULT_DRIVER_MEM_MB}m"
    return f"{max(1024, min(MAX_DEFAULT_DRIVER_MEM_MB, phys_mb // 2))}m"


def default_cpus() -> str:
    """Local core count, read at call time: ``SPARK_GRAFT_CPUS`` when
    set, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return env
    try:
        return str(len(os.sched_getaffinity(0)))
    except AttributeError:  # no affinity call on this platform
        return str(os.cpu_count() or 1)


def get_spark(
    app_name: str = "etl-script-spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    The default master is ``local[n]`` and the default shuffle width
    ``n``, both from ``default_cpus()``, so ``SPARK_GRAFT_CPUS`` sets
    the core count without code changes.
    """
    cpus = default_cpus()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the generated-class cache defaults to 100 entries; a session
        # running the whole 190-query catalog evicts constantly and
        # re-pays Janino compilation for the expression-heavy cascades
        # (observed: 5-8 s "cold" manifest entries whose execution is
        # <1 s). Long-lived production sessions want this large too.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory with scale-oriented defaults.

The reference engine has no session concept — every query opens a local
SQLite file (trough/read.py:63).  Here one long-lived SparkSession serves
all segments; tuning below is chosen for the 100 TB design point and works
unchanged on local[N]:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  join-strategy switching replace any hand-scheduling.
- ANSI mode off: SQLite never errors on casts/overflow (SURVEY.md §2.B3);
  non-ANSI Spark is the closest match.
- Arrow on: every pandas_udf / toPandas boundary is vectorized.
- shuffle.partitions is only the pre-AQE upper bound; AQE coalesces down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _default_driver_mem() -> str:
    """Half the host's memory, at most 48g.  A local-mode heap larger than
    the host lets G1 grow the JVM until the kernel's OOM killer ends it: a
    48g-heap test session was killed at 15.4 GB resident on a 15 GB host."""
    host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(1, min(48, host_gb // 2))}g"


def get_spark(
    app_name: str = "trough-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller passes nothing and spark-submit supplies the master.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # Local mode: ~2x cores keeps every core busy through stragglers
        # without flooding the scheduler.  On a 1000-executor cluster the
        # pre-AQE bound should instead be ~2-3x total cores; AQE coalesces
        # small shuffles back down either way.
        shuffle_partitions = max(cpus, 2 * cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

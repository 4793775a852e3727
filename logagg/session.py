"""SparkSession factory tuned for the pipeline.

All jobs (tests, bench, driver entry) share one config surface so plans are
reproducible. Scale posture: AQE on (runtime coalesce + skew-join splitting),
Arrow on (every Python stage is vectorized), UTC session TZ (oracle parity),
shuffle partitions sized to cores locally — on a real cluster this is
overridden by ``--conf`` at spark-submit time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else every core this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """``$LOGAGG_DRIVER_MEM``, else half of physical RAM capped at 16g. A
    local-mode driver is the whole engine (heap + off-heap + Python
    workers), so a heap sized to the machine gets the JVM OOM-killed."""
    if os.environ.get("LOGAGG_DRIVER_MEM"):
        return os.environ["LOGAGG_DRIVER_MEM"]
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, ram_mb // 2)}m"


def get_spark(
    app_name: str = "logagg",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[N]``, N = :func:`default_cpus`. Shuffle
    partitions match the parallelism of a ``local[N]`` master, else the
    local core count — the single most important local-mode knob (200
    default over-parallelizes small inputs and under-parallelizes huge
    ones); a cluster overrides it with ``--conf`` at spark-submit time.
    """
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if master.startswith("local[") and master[6:-1].isdigit():
        shuffle_partitions = int(master[6:-1])
    else:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

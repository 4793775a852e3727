"""SparkSession factory tuned for the pipeline.

All jobs (tests, bench, driver entry) share one config surface so plans are
reproducible. Scale posture: AQE on (runtime coalesce + skew-join splitting),
Arrow on (every Python stage is vectorized), UTC session TZ (oracle parity),
shuffle partitions sized to cores locally — on a real cluster this is
overridden by ``--conf`` at spark-submit time.

JIT policy: the driver JVM starts with HotSpot's four tier-4 (C2) compile
thresholds raised 10x (:data:`DRIVER_JIT_OPTIONS`). A cold op (one CLI or
``jobs/`` run, one fresh JVM) spent about half of its JVM CPU in JIT
compiler threads, most of it in C2 optimising code that a 30-s op runs only
a few thousand times; C1 still compiles early, and C2 still compiles the
loops that are really hot.
The flags go in ``spark.driver.defaultJavaOptions``, which Spark puts in
front of ``spark.driver.extraJavaOptions``, so a caller's
``extraJavaOptions`` (``--driver-java-options``) reach the JVM as well and
override them (the later flag wins). Only the driver gets them: in local
mode it also runs the tasks, and long-lived cluster executors keep the
default JIT.

Python workers import ``logagg`` through ``spark.executorEnv.PYTHONPATH``,
so a driver started from any working directory can run the package's UDFs.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# HotSpot's tier-4 thresholds at 10x their defaults (5000, 600, 15000, 40000)
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)

# the directory that holds the ``logagg`` package (a checkout, a zip, ...)
PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)


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

    The driver JVM gets :data:`DRIVER_JIT_OPTIONS` through
    ``spark.driver.defaultJavaOptions`` (cold ops spent about half their
    JVM CPU compiling, mostly in C2); a caller overrides any of them with
    ``spark.driver.extraJavaOptions``, whose flags come later and win.
    :data:`PACKAGE_ROOT` is put in front of any
    ``spark.executorEnv.PYTHONPATH`` in ``extra_conf``.
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
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
    )
    extra_conf = dict(extra_conf or {})
    pythonpath = extra_conf.pop("spark.executorEnv.PYTHONPATH", "")
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH",
        os.pathsep.join(p for p in (PACKAGE_ROOT, pythonpath) if p),
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

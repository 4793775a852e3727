"""Pinned environment for a benchmark run.

Everything the program reads from the environment is set here, before
``pyspark`` or ``logagg`` is imported, so a run does not depend on the
caller's shell: the core count Spark uses, the driver heap, and every
directory Spark, the JVM and Python write to (all under
``perfbench/.work`` in the checkout).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin() -> dict[str, str]:
    """Set and return the pinned variables."""
    cpus = len(os.sched_getaffinity(0))
    # the program's default heap (16g) exceeds RAM on small hosts; the
    # corpus needs far less, and the host's memory is shared
    driver_mb = min(2048, _mem_total_mb() // 4)
    tmp = WORK / "tmp"
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "LOGAGG_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "LOGAGG_CACHE_DIR": str(WORK / "cache"),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for key in ("SPARK_LOCAL_DIRS", "LOGAGG_CACHE_DIR", "TMPDIR"):
        Path(pinned[key]).mkdir(parents=True, exist_ok=True)
    os.environ.update(pinned)
    return pinned


def spark_conf() -> dict[str, str]:
    """Extra session settings that keep the JVM's temporary files in the
    checkout (java.io.tmpdir; no hsperfdata file under /tmp)."""
    java_opts = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }

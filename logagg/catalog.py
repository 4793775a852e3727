"""Table catalog abstraction — Iceberg when available, parquet-dir fallback.

The production deployment target is Iceberg (`north_star`): `writeTo(...)`
appends, snapshot properties for lineage, partition evolution. The sandbox
image ships no Iceberg runtime jar, so this module probes for it once and
otherwise provides a parquet-directory table layout with the identical call
surface, keeping every caller (pipeline, tests) engine-agnostic. Swapping
in Iceberg is a spark-submit `--packages org.apache.iceberg:...` away — no
caller changes.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logagg.util import data_files, swap_dir


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


class Catalog:
    """Minimal write/read/append surface over either backend."""

    def __init__(self, spark: SparkSession, warehouse: str | Path):
        self.spark = spark
        self.warehouse = Path(warehouse)
        self.iceberg = iceberg_available(spark)

    def _path(self, table: str) -> str:
        return str(self.warehouse / table.replace(".", "/"))

    def _spec_path(self, table: str) -> Path:
        return Path(self._path(table) + "._catalog.json")

    def overwrite(self, table: str, df: DataFrame, partition_by: tuple[str, ...] = ()) -> None:
        if self.iceberg:
            writer = df.writeTo(table)
            if partition_by:
                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            writer.createOrReplace()
            return
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(table))
        self._spec_path(table).parent.mkdir(parents=True, exist_ok=True)
        self._spec_path(table).write_text(json.dumps({"partition_by": list(partition_by)}))

    def append(self, table: str, df: DataFrame) -> None:
        if self.iceberg:
            df.writeTo(table).append()
            return
        # appended files must follow the table's partition layout, or the
        # partition-discovering reader won't see them
        spec = (
            json.loads(self._spec_path(table).read_text())
            if self._spec_path(table).exists()
            else {"partition_by": []}
        )
        w = df.write.mode("append")
        if spec["partition_by"]:
            w = w.partitionBy(*spec["partition_by"])
        w.parquet(self._path(table))

    def read(self, table: str) -> DataFrame:
        if self.iceberg:
            return self.spark.read.table(table)
        return self.spark.read.parquet(self._path(table))

    def exists(self, table: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(table)
        return Path(self._path(table)).exists()


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    *,
    target_mb: int = 256,
    partition_cols: tuple[str, ...] = (),
) -> dict:
    """Squash the small files that streaming appends accumulate (every
    micro-batch of :func:`logagg.streaming.run_streaming_frontier` /
    `run_streaming_route_multiplex` lands its own files; a day of
    triggers = thousands of kilobyte parquet files whose open/footer
    cost dominates the next scan). Rewrites the dir at ~``target_mb``
    per file: partition count = ceil(live_bytes / target), preserving
    hive partition columns when given (one file per partition value
    otherwise the global coalesce would destroy partition pruning).

    Swapped in by :func:`logagg.util.swap_dir`, which keeps ``_``-prefixed
    sidecars (a stream sink's ``_batch_ledger``: a replay after compaction
    still skips committed batches) and heals a crashed swap on the next
    call; on a cluster, one Iceberg ``rewrite_data_files`` transaction.
    Row set is IDENTICAL before and after (pinned by test). Returns
    ``{files_before, files_after, bytes}`` over the files a reader sees.
    Readers caching plans over ``path`` must re-read after the swap
    (Spark's CacheManager recache-by-path applies)."""
    with swap_dir(path) as tmp:
        files = data_files(path)
        nbytes = sum(files.values())
        live = spark.read.parquet(path)
        if partition_cols:
            live = live.repartition(*partition_cols)
        else:
            live = live.repartition(max(1, -(-nbytes // (target_mb * 1024 * 1024))))
        live.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    return {"files_before": len(files), "files_after": len(data_files(path)), "bytes": nbytes}

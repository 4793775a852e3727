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
                from pyspark.sql import functions as F

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

    Same local-fs tmp-dir + rename swap as
    :func:`logagg.searchidx.compact_index`; on a cluster this job is one
    Iceberg ``rewrite_data_files`` transaction (the catalog branch
    above). Row set is IDENTICAL before and after (pinned by test).
    Returns ``{files_before, files_after, bytes}``. Readers caching
    plans over ``path`` must re-read after the swap (Spark's CacheManager
    recache-by-path applies — the repo's standard lineage-cut rule).
    ``_``-prefixed sidecars of ``path`` (a stream sink's ``_batch_ledger``)
    survive the swap, so a replay after compaction still skips committed
    batches."""
    import os
    import shutil

    def _stats() -> tuple[int, int]:
        n = b = 0
        for root, _, fs in os.walk(path):
            if "__compact" in root:
                continue
            for f in fs:
                if f.endswith(".parquet"):
                    n += 1
                    b += os.path.getsize(os.path.join(root, f))
        return n, b

    before, nbytes = _stats()
    live = spark.read.parquet(path)
    tmp = f"{path.rstrip('/')}__compact"
    n_parts = max(1, -(-nbytes // (target_mb * 1024 * 1024)))
    if partition_cols:
        w = (
            live.repartition(*[F.col(c) for c in partition_cols])
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
        )
    else:
        w = live.repartition(n_parts).write.mode("overwrite")
    w.parquet(tmp)
    dest = path.rstrip("/")
    # the rewrite read skips ``_*`` entries, so sidecars such as a stream
    # sink's ``_batch_ledger`` would die with ``dest``: carry them across
    for name in os.listdir(dest):
        if name.startswith("_") and not os.path.exists(os.path.join(tmp, name)):
            os.rename(os.path.join(dest, name), os.path.join(tmp, name))
    shutil.rmtree(dest)
    os.rename(tmp, dest)
    after, _ = _stats()
    return {"files_before": before, "files_after": after, "bytes": nbytes}

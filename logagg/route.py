"""Routing stage — partition-aware multiplexing fan-out writer.

The reference routes extracted files to ``outdir/<node>/<log_type>/``
(aggregator/helper.py:76-80, extract.py:115-131). Spark-first, the directory
tree becomes (a) a ``route`` key column, and (b) a physical
``partitionBy(node, log_type)`` layout on one single-pass write — one job,
N sinks, no per-sink re-scan. Per-sink row counts (the reference's insert
metrics, db.py:65) come from the parquet footers of the files that write
committed, read on the driver: no second job, no cached copy of the frame.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logagg.util import data_files

# both keys are strings: inference would read a node "007" as the integer 7
_ROUTE_KEYS = ds.partitioning(
    pa.schema([("node", pa.string()), ("log_type", pa.string())]), flavor="hive"
)


def with_route(parsed: DataFrame) -> DataFrame:
    """route = node/log_type — the reference's output-dir expression."""
    return parsed.withColumn("route", F.concat_ws("/", "node", "log_type"))


def route_counts(parsed: DataFrame) -> DataFrame:
    """Per-sink row counts keyed by the routing expression."""
    return with_route(parsed).groupBy("route").agg(F.count("*").alias("n"))


def _sink_counts(outdir: str | Path, relpaths) -> dict[str, int]:
    """Per-route row counts of the given files, from their parquet footers
    and their ``node=``/``log_type=`` path segments. Spark writes ``""`` as
    ``__HIVE_DEFAULT_PARTITION__``, which decodes to null; it maps back to
    ``""`` so that a key equals :func:`with_route` on the written frame."""
    counts: dict[str, int] = {}
    for rel in relpaths:
        n = pq.read_metadata(os.path.join(outdir, rel)).num_rows
        if n:
            keys = ds.get_partition_keys(_ROUTE_KEYS.parse(rel))
            rte = f"{keys.get('node') or ''}/{keys.get('log_type') or ''}"
            counts[rte] = counts.get(rte, 0) + n
    return counts


def multiplex_write(parsed: DataFrame, outdir: str) -> tuple[dict[str, int], dict[str, int]]:
    """Single-pass fan-out append, partitioned by the routing keys.

    Returns ``(sinks, manifest)``: the per-route row counts of this write and
    the files it committed, ``{relpath: bytes}``. The manifest is the
    listing of ``outdir`` after the write minus the listing before it, so it
    assumes one writer per output dir at a time (the pipeline's parse
    buckets and the streaming sink's ``foreachBatch`` calls both run one at
    a time), and its cost grows with the files under ``outdir`` (sink
    compaction bounds them). At cluster scale the same code appends to
    Iceberg via ``writeTo(...)``, whose snapshot lists the same files; the
    parquet-dir layout keeps the sandbox hermetic.
    """
    before = data_files(outdir)
    with_route(parsed).write.mode("append").partitionBy("node", "log_type").parquet(outdir)
    manifest = {rel: n for rel, n in data_files(outdir).items() if rel not in before}
    return _sink_counts(outdir, manifest), manifest

"""Routing stage — partition-aware multiplexing fan-out writer.

The reference routes extracted files to ``outdir/<node>/<log_type>/``
(aggregator/helper.py:76-80, extract.py:115-131). Spark-first, the directory
tree becomes (a) a ``route`` key column, and (b) a physical
``partitionBy(node, log_type)`` layout on one single-pass write — one job,
N sinks, no per-sink re-scan. Per-sink row counts (the reference's insert
metrics, db.py:65) come from one extra hash-agg over the same cached plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_route(parsed: DataFrame) -> DataFrame:
    """route = node/log_type — the reference's output-dir expression."""
    return parsed.withColumn("route", F.concat_ws("/", "node", "log_type"))


def route_counts(parsed: DataFrame) -> DataFrame:
    """Per-sink row counts keyed by the routing expression."""
    return with_route(parsed).groupBy("route").agg(F.count("*").alias("n"))


def multiplex_write(parsed: DataFrame, outdir: str, mode: str = "overwrite") -> dict[str, int]:
    """Single-pass fan-out write partitioned by the routing keys.

    Returns per-route row counts (metrics) computed from the same DataFrame.
    The batch pipeline overwrites its sink; the streaming sink appends one
    micro-batch at a time (``mode="append"``). At cluster scale the same
    code writes to Iceberg via ``writeTo(...)``; parquet-dir layout keeps
    the sandbox hermetic.
    """
    routed = with_route(parsed).persist()  # write + count, one compute
    try:
        routed.write.mode(mode).partitionBy("node", "log_type").parquet(outdir)
        counts = {
            r["route"]: r["n"]
            for r in routed.groupBy("route").agg(F.count("*").alias("n")).collect()
        }
    finally:
        routed.unpersist()
    return counts

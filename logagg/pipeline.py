"""End-to-end batch pipeline: parse → enrich → route → aggregate, resumable.

The Spark-first restatement of the reference's main() lifecycle
(aggregator/main.py:147-151 → extract → convert → insert → find/display,
SURVEY.md §3.1), with the directory-tree routing become a partitioned table
layout and the insert metrics become stage markers (logagg.checkpoint).

Every stage writes with mode("overwrite") to its own table path, so a retry
after a crash-before-marker is idempotent.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logagg import aggregate, enrich, parse, route, synth
from logagg.checkpoint import StageLedger


def _fingerprint(*parts: object) -> str:
    return json.dumps(parts, default=str)


def run_pipeline(spark: SparkSession, sf_dir: str, outdir: str) -> dict:
    """Run (or resume) the full pipeline. Returns the stage ledger metrics."""
    cache = synth.ensure_cache(sf_dir, expected=False)
    out = Path(outdir)
    ledger = StageLedger(out / "_meta")
    pages_path = str(cache / "pages.parquet")

    results: dict[str, dict] = {}

    # stage 1: parse + enrich → staged records table. MID-STAGE resumable:
    # the input file list is split into buckets, each an independently-
    # checkpointed sub-stage writing its own sink partition (bucket=<b>/),
    # so a crash mid-parse loses only the in-flight bucket. The per-bucket
    # markers are the per-partition lineage record (north-star contract;
    # on Iceberg the same metadata rides on snapshot properties).
    parsed_path = str(out / "parsed")
    part_files = sorted(str(p) for p in Path(pages_path).glob("*.parquet"))
    n_buckets = min(8, max(1, len(part_files)))
    file_buckets = [part_files[b::n_buckets] for b in range(n_buckets)]
    # the input FILE LIST (the sorted names, not just its length) is part of
    # the lineage fingerprint: a renamed/replaced file with the same count
    # would otherwise silently remap files to buckets without invalidating
    # the per-bucket markers
    fp = _fingerprint("v3", pages_path, synth.GEN_VERSION, part_files)

    # a rerun with fewer buckets (input shrank) overwrites only bucket dirs
    # < n_buckets; stale bucket=<b>/ dirs from a wider previous layout would
    # silently feed duplicate rows to stage 2 — drop them before running
    import shutil

    for stale in Path(parsed_path).glob("bucket=*"):
        try:
            b = int(stale.name.split("=", 1)[1])
        except ValueError:
            continue
        if b >= n_buckets:
            shutil.rmtree(stale, ignore_errors=True)

    def _parse_bucket(b: int) -> dict:
        pages = spark.read.parquet(*file_buckets[b])
        host_geo, lang_locale = enrich.load_lookups(spark, cache)
        parsed = enrich.enrich(parse.parsed_records(pages), host_geo, lang_locale)
        sink = str(Path(parsed_path) / f"bucket={b}")
        parsed.write.mode("overwrite").parquet(sink)
        n = spark.read.parquet(sink).count()
        return {"rows": n, "n_files": len(file_buckets[b]), "sink": sink}

    results["parse"], _ = ledger.run_stage_buckets("parse", fp, n_buckets, _parse_bucket)

    # stage 2: route → multiplexed fan-out write, per-sink counts as lineage
    routed_path = str(out / "routed")

    def _route_stage() -> dict:
        # drop the resume-bucket partition column — stage-internal layout
        parsed = spark.read.parquet(parsed_path).drop("bucket")
        counts = route.multiplex_write(parsed, routed_path)
        return {"rows": sum(counts.values()), "sinks": counts, "sink": routed_path}

    results["route"], _ = ledger.run_stage("route", fp, _route_stage)

    # stage 3: per-sink aggregates (+ severity/source invariants)
    agg_path = str(out / "aggregates")

    def _agg_stage() -> dict:
        routed = spark.read.parquet(routed_path)
        aggregate.sink_agg_hourly(routed).write.mode("overwrite").parquet(
            str(Path(agg_path) / "hourly")
        )
        aggregate.severity_counts(routed).write.mode("overwrite").parquet(
            str(Path(agg_path) / "severity")
        )
        sev = {
            r["severity"]: r["n"]
            for r in spark.read.parquet(str(Path(agg_path) / "severity")).collect()
        }
        return {"severity_counts": sev, "sink": agg_path}

    results["aggregate"], _ = ledger.run_stage("aggregate", fp, _agg_stage)
    return results

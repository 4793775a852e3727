"""End-to-end batch pipeline: parse → enrich → route → aggregate, resumable.

The Spark-first restatement of the reference's main() lifecycle
(aggregator/main.py:147-151 → extract → convert → insert → find/display,
SURVEY.md §3.1), with the directory-tree routing become a partitioned table
layout and the insert metrics become stage markers (logagg.checkpoint).

The parse buckets append to the routed table, and a guard run before them
removes whatever no committed bucket lists, so a retry after a
crash-before-marker is idempotent. The aggregate stage writes with
mode("overwrite") to its own table path.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter
from pathlib import Path

from pyspark.sql import SparkSession

from logagg import aggregate, enrich, parse, route, synth, util
from logagg.checkpoint import StageLedger


def _fingerprint(*parts: object) -> str:
    return json.dumps(parts, default=str)


def _keep_committed(ledger: StageLedger, fp: str, bucket_stages: list[str], out: Path) -> None:
    """Pre-run guard: ``routed/`` holds exactly the files listed by valid
    bucket markers. A marker is valid if its fingerprint matches and every
    file it lists exists with the recorded size; an invalid one is dropped,
    so its bucket reruns. Every other data file under ``routed/`` goes, with
    its ``.crc`` companion, and so do a crashed write's ``_temporary`` dir
    and the ``parsed/`` staging dir of the older two-copy layout. One rule
    for a crash mid-bucket, an invalidated marker, a wider stale layout and
    an outdir of the older layout."""
    routed = out / "routed"
    files = util.data_files(routed)
    keep: set[str] = set()
    for stage in bucket_stages:
        meta = ledger.completed(stage, fp)
        if meta is None:
            continue
        if all(files.get(rel) == n for rel, n in meta["manifest"].items()):
            keep.update(meta["manifest"])
        else:
            ledger.invalidate(stage)
    for rel in set(files) - keep:
        p = routed / rel
        p.unlink()
        p.with_name(f".{p.name}.crc").unlink(missing_ok=True)
    shutil.rmtree(routed / "_temporary", ignore_errors=True)
    shutil.rmtree(out / "parsed", ignore_errors=True)
    for root, _, _ in os.walk(routed, topdown=False):
        if root != str(routed) and not os.listdir(root):
            os.rmdir(root)  # a partition dir emptied above


def run_pipeline(spark: SparkSession, sf_dir: str, outdir: str) -> dict:
    """Run (or resume) the full pipeline. Returns the stage ledger metrics."""
    cache = synth.ensure_cache(sf_dir, expected=False)
    out = Path(outdir)
    ledger = StageLedger(out / "_meta")
    pages_path = str(cache / "pages.parquet")

    results: dict[str, dict] = {}

    # stage 1: parse + enrich + route, one job per bucket. MID-STAGE
    # resumable: the input file list is split into buckets, each an
    # independently-checkpointed sub-stage that appends its records straight
    # into the routed table, so every record is written once and a crash
    # mid-parse loses only the in-flight bucket. Each bucket marker lists the
    # files its write committed, {relpath: bytes}, next to its per-sink
    # counts: it is the per-partition lineage record (north-star contract;
    # on Iceberg the same metadata is a snapshot's data-file list).
    routed_path = out / "routed"
    part_files = sorted(str(p) for p in Path(pages_path).glob("*.parquet"))
    n_buckets = min(8, max(1, len(part_files)))
    file_buckets = [part_files[b::n_buckets] for b in range(n_buckets)]
    # the input FILE LIST (the sorted names, not just its length) is part of
    # the lineage fingerprint: a renamed/replaced file with the same count
    # would otherwise silently remap files to buckets without invalidating
    # the per-bucket markers
    fp = _fingerprint("v4", pages_path, synth.GEN_VERSION, part_files)
    bucket_stages = [f"parse.b{b:03d}" for b in range(n_buckets)]
    _keep_committed(ledger, fp, bucket_stages, out)

    def _parse_bucket(b: int) -> dict:
        pages = spark.read.parquet(*file_buckets[b])
        host_geo, lang_locale = enrich.load_lookups(spark, cache)
        parsed = enrich.enrich(parse.parsed_records(pages), host_geo, lang_locale)
        sinks, manifest = route.multiplex_write(parsed, str(routed_path))
        return {
            "rows": sum(sinks.values()),
            "n_files": len(file_buckets[b]),
            "sinks": sinks,
            "manifest": manifest,
        }

    results["parse"], _ = ledger.run_stage_buckets("parse", fp, n_buckets, _parse_bucket)

    # route and aggregate read what the buckets committed, so they are
    # fingerprinted on it: a rerun bucket commits new file names
    buckets = [ledger.completed(stage, fp) for stage in bucket_stages]
    manifests = json.dumps([sorted(m["manifest"].items()) for m in buckets])
    down_fp = _fingerprint(fp, hashlib.sha256(manifests.encode()).hexdigest())

    # stage 2: route → the rollup of the buckets' per-sink counts (the
    # fan-out write itself ran inside each bucket); no Spark job
    def _route_stage() -> dict:
        sinks: Counter = Counter()
        for m in buckets:
            sinks.update(m["sinks"])
        return {"rows": sum(sinks.values()), "sinks": dict(sinks), "sink": str(routed_path)}

    results["route"], _ = ledger.run_stage("route", down_fp, _route_stage)

    # stage 3: per-sink aggregates (+ severity/source invariants)
    agg_path = str(out / "aggregates")

    def _agg_stage() -> dict:
        routed = spark.read.parquet(str(routed_path))
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

    results["aggregate"], _ = ledger.run_stage("aggregate", down_fp, _agg_stage)
    return results

#!/usr/bin/env python
"""N→4N scaling proxy: the BASELINE.json north-rule pair on one box.

Runs the flagship e2e job (read pages → vectorized parse pruned to
lang/warc_ts/message → broadcast enrich → per-sink hourly aggregate, the
chain of ``__spark_entry__.entry``) over the pages ×REPLICATE, once in a
fresh worker pinned to N = max(1, cpus // 4) cores and once pinned to
4N = ``session.default_cpus()`` cores, and prints one JSON line with the
rows/sec of each side and ``efficiency = (R_hi / R_lo) / (hi / lo)``
(target ≥ 0.8). Each worker times its second pass; the sides run
interleaved twice and each keeps its best. A report, not a gate:
performance claims are made on perfbench.

    python bench.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

REPLICATE = 32
RUNS = 2


def replicated_pages_dir(cache: Path, replicate: int) -> str:
    """The cache's pages parquet ×``replicate``, as hardlinks under distinct
    names: a bigger input with one scan branch and no extra disk. The
    ``_LINKED`` marker pins the source inventory (name + inode), so a cache
    rebuilt in place gets a fresh link dir instead of stale inodes."""
    dst = cache / f"pages_rep{replicate}.parquet"
    files = sorted((cache / "pages.parquet").glob("part-*.parquet"))
    inventory = json.dumps([(f.name, os.stat(f).st_ino) for f in files])
    done = dst / "_LINKED"
    if not done.exists() or done.read_text() != inventory:
        shutil.rmtree(dst, ignore_errors=True)
        dst.mkdir()
        for i in range(replicate):
            for f in files:
                os.link(f, dst / f"rep{i:04d}-{f.name}")
        done.write_text(inventory)
    return str(dst)


def e2e(spark, sf_dir: str, replicate: int):
    """The flagship e2e over the pages ×``replicate``; rows are exact
    duplicates, so only the group counts scale."""
    from logagg import aggregate, enrich, parse, synth

    cache = synth.ensure_cache(sf_dir, expected=False)
    pages = spark.read.parquet(replicated_pages_dir(cache, replicate))
    # two multi-file tasks per core: the Arrow writer streams batch i+1
    # while the Python worker parses batch i
    pages = pages.coalesce(2 * spark.sparkContext.defaultParallelism)
    host_geo, lang_locale = enrich.load_lookups(spark, cache)
    # Catalyst cannot prune through mapInPandas: ship only what the
    # aggregate reads
    parsed = parse.parsed_records(pages, columns=["lang", "warc_ts", "message"])
    return aggregate.sink_agg_hourly(enrich.enrich(parsed, host_geo, lang_locale))


def worker(cores: int, sf_dir: str) -> None:
    """Pin to ``cores`` CPUs (the JVM inherits it, as an executor owns its
    cores), run one warm pass of the identical plan (Python worker spawn,
    codegen JIT), then time the second and print {"elapsed", "records"}."""
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:cores])
    from pyspark.sql import functions as F

    from logagg.session import get_spark

    spark = get_spark(app_name=f"bench-{cores}", master=f"local[{cores}]")
    e2e(spark, sf_dir, REPLICATE).agg(F.sum("n_rows")).collect()
    job = e2e(spark, sf_dir, REPLICATE).agg(F.sum("n_rows").alias("records"))
    t0 = time.perf_counter()
    records = job.collect()[0]["records"]
    print(json.dumps({"elapsed": time.perf_counter() - t0, "records": int(records)}))


def _run_worker(cores: int, sf_dir: str) -> dict:
    cmd = [sys.executable, __file__, f"--worker={cores}", f"--sf-dir={sf_dir}"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=1800, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--worker", type=int, default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker is not None:
        worker(args.worker, args.sf_dir)
        return

    from logagg.session import default_cpus

    hi = default_cpus()
    lo = max(1, hi // 4)
    best: dict[int, dict] = {}
    for _ in range(RUNS):
        for cores in (lo, hi):
            r = _run_worker(cores, args.sf_dir)
            if cores not in best or r["elapsed"] < best[cores]["elapsed"]:
                best[cores] = r
    rate = {c: r["records"] / r["elapsed"] for c, r in best.items()}
    print(json.dumps({
        "sf_dir": args.sf_dir,
        "replicate": REPLICATE,
        "cores_lo": lo,
        "cores_hi": hi,
        "records": best[hi]["records"],
        "rows_per_sec_lo": round(rate[lo]),
        "rows_per_sec_hi": round(rate[hi]),
        "elapsed_lo": round(best[lo]["elapsed"], 2),
        "elapsed_hi": round(best[hi]["elapsed"], 2),
        "efficiency": round((rate[hi] / rate[lo]) / (hi / lo), 3),
    }))


if __name__ == "__main__":
    main()

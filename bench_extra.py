#!/usr/bin/env python
"""Per-query isolation bench (guide §1.4) — NOT the frozen driver harness.

Reuses the exact query closures from ``bench.py`` so numbers are
comparable, but runs only the queries named on the command line, labels
each job (guide §1.5), and can

* capture ``.explain("formatted")`` into ``plans/r06/<q>_<suffix>.txt``
  (``--plans-suffix before|after``), and
* time the internal *phases* of the expensive composites (bloom frontier,
  pagerank, bm25 build) so a fix targets the measured phase, not a guess
  (``--phases``).

Usage::

    python bench_extra.py bloom_frontier_filter linkgraph_pagerank
    python bench_extra.py --phases bloom_frontier_filter
    python bench_extra.py --plans-suffix before dedup_shingle_pairs
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLANS_DIR = REPO / "plans" / "r06"


def _phase_bloom(spark, sf_dir: str) -> dict[str, float]:
    """filter_unseen_bloom decomposed: bootstrap probe+commit, then the
    steady-state probe and commit of the full batch — same shapes the
    bench's bloom_run times as one number."""
    import tempfile

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from logagg import frontier as fr

    urls = entrymod._pages(spark, sf_dir).select("url")
    seen = tempfile.mkdtemp(prefix="logagg-bx-bloom-") + "/seen"
    half = urls.filter(F.crc32(F.col("url").cast("binary")) % 2 == 0)
    out: dict[str, float] = {}

    t0 = time.time()
    fresh = fr.unseen_in_batch(half, seen)
    fresh = fresh.localCheckpoint()
    out["bootstrap_probe_ckpt"] = time.time() - t0
    t0 = time.time()
    fr.commit_seen(fresh, seen)
    out["bootstrap_commit"] = time.time() - t0
    fresh.count()

    t0 = time.time()
    fresh2 = fr.unseen_in_batch(urls, seen)
    fresh2 = fresh2.localCheckpoint()
    out["steady_probe_ckpt"] = time.time() - t0
    t0 = time.time()
    fr.commit_seen(fresh2, seen)
    out["steady_commit"] = time.time() - t0
    t0 = time.time()
    fresh2.count()
    out["final_count"] = time.time() - t0
    return out


def _phase_pagerank(spark, sf_dir: str) -> dict[str, float]:
    """linkrank_run decomposed: link extraction Arrow pass (noop sink),
    host-graph rollup, then the 20-iteration pagerank on the landed
    edges."""
    import tempfile

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from logagg import linkgraph as lg

    pages = entrymod._pages(spark, sf_dir)
    footer = F.concat(
        F.lit(b'<a href="http://h'),
        F.lpad((F.crc32(F.col("url").cast("binary")) % 200).cast("string"), 3, "0"),
        F.lit(b'.example.com/">next</a>'),
    )
    linked = pages.withColumn("html", F.concat("html", footer.cast("binary")))
    out: dict[str, float] = {}

    links = lg.extract_links(linked)
    t0 = time.time()
    links.write.format("noop").mode("overwrite").save()
    out["extract_links_noop"] = time.time() - t0

    edges = lg.host_graph(lg.extract_links(linked))
    t0 = time.time()
    edges.write.format("noop").mode("overwrite").save()
    out["extract_plus_hostgraph_noop"] = time.time() - t0

    tmp = tempfile.mkdtemp(prefix="logagg-bx-pr-")
    edges.write.mode("overwrite").parquet(f"{tmp}/edges")
    landed = spark.read.parquet(f"{tmp}/edges")
    t0 = time.time()
    lg.pagerank(
        landed, tol=0.0, max_iter=20, on_max_iter="return",
        materialize="path", out_path=f"{tmp}/ranks",
    ).count()
    out["pagerank_20it_on_landed_edges"] = time.time() - t0
    return out


def _phase_bm25(spark, sf_dir: str) -> dict[str, float]:
    """bm25_run decomposed: postings-frame compute (noop), index write,
    and the retrieval query."""
    import tempfile

    from pyspark.sql import functions as F

    from logagg import searchidx as si

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("id"), "text"
    )
    out: dict[str, float] = {}
    postings, dl = si._postings_frame(docs, "id", "text", 32, gen=0, positional=False)
    t0 = time.time()
    postings.write.format("noop").mode("overwrite").save()
    out["postings_compute_noop"] = time.time() - t0
    t0 = time.time()
    dl.write.format("noop").mode("overwrite").save()
    out["doclens_compute_noop"] = time.time() - t0

    idx = tempfile.mkdtemp(prefix="logagg-bx-bm25-") + "/idx"
    t0 = time.time()
    si.build_index(docs, idx, num_buckets=32)
    out["build_index_full"] = time.time() - t0
    t0 = time.time()
    len(si.bm25_search(spark, idx, "spark data pipeline", k=20).collect())
    out["search"] = time.time() - t0
    return out


def _phase_curate(spark, sf_dir: str) -> dict[str, float]:
    """curate_run stage ledger: run the same config and report the wall
    clock around each manifest stage via per-stage timing."""
    from logagg import curate as cur

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.time()
    res = cur.curate(
        docs,
        redact=True,
        quality_min=0.05,
        repetition_limits=cur.DEFAULT_REPETITION_LIMITS,
        exact_dedup=True,
        near_dedup=True,
        pack_capacity=4096,
    )
    total = time.time() - t0
    res.docs.count()
    res.unpersist()
    return {"curate_total": total, "stages": [s["stage"] for s in res.manifest]}


PHASES = {
    "bloom_frontier_filter": _phase_bloom,
    "linkgraph_pagerank": _phase_pagerank,
    "bm25_build_search": _phase_bm25,
    "curate_e2e": _phase_curate,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="bench query names (default: all)")
    ap.add_argument("--phases", action="store_true", help="run phase probes instead")
    ap.add_argument("--plans-suffix", default=None, help="capture explain() to plans/r06")
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args()

    import bench
    from logagg import synth
    from logagg.session import get_spark

    synth.ensure_cache(SF_DIR, expected=False)
    spark = get_spark(app_name="bench-extra", master=f"local[{CPUS}]")

    if args.phases:
        out = {}
        for q in args.queries or list(PHASES):
            spark.sparkContext.setJobDescription(f"phases:{q}")
            out[q] = {k: (round(v, 3) if isinstance(v, float) else v)
                      for k, v in PHASES[q](spark, SF_DIR).items()}
            spark.sparkContext.setJobDescription(None)
        print(json.dumps(out, indent=2))
        return

    headline = bench._headline()
    names = args.queries or list(headline)
    results: dict[str, list[float]] = {}
    for q in names:
        fn, action = headline[q]
        samples = []
        for i in range(args.passes):
            spark.sparkContext.setJobDescription(f"bx:{q}:pass{i}")
            t0 = time.time()
            df = fn(spark, SF_DIR)
            action(df)
            samples.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        results[q] = samples
        if args.plans_suffix:
            PLANS_DIR.mkdir(parents=True, exist_ok=True)
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (PLANS_DIR / f"{q}_{args.plans_suffix}.txt").write_text(plan)
    print(json.dumps({"sf_dir": SF_DIR, "samples": results,
                      "best": {q: min(v) for q, v in results.items()}}, indent=2))


if __name__ == "__main__":
    main()

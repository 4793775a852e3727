#!/usr/bin/env python
"""Round-6 micro-probes: break build_index and extract_links into
sub-phases so the fix targets the measured cost. Not part of the bench."""
from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    import json

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from logagg import synth
    from logagg.session import get_spark
    from logagg import searchidx as si
    from logagg import linkgraph as lg

    synth.ensure_cache(SF_DIR, expected=False)
    spark = get_spark(app_name="probe-r06", master=f"local[{CPUS}]")
    out = {}

    which = sys.argv[1:] or ["bm25", "links"]

    if "shingle" in which:
        from logagg import dedup
        pages = entrymod._pages(spark, SF_DIR)
        t0 = time.time()
        dedup.shingles(pages, digest=True).write.format("noop").mode(
            "overwrite").save()
        out["shingle_digest_noop"] = round(time.time() - t0, 3)
        sh = dedup.shingles(pages, digest=True)
        t0 = time.time()
        post = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("n"))
        )
        post.write.format("noop").mode("overwrite").save()
        out["shingle_plus_groupby_noop"] = round(time.time() - t0, 3)
        t0 = time.time()
        p = dedup.jaccard_pairs(
            pages, materialize="path",
            out_path=tempfile.mkdtemp(prefix="probe-jp-") + "/pairs")
        p.count()
        out["jaccard_pairs_full"] = round(time.time() - t0, 3)

    if "minhash" in which:
        from logagg import dedup
        pages = entrymod._pages(spark, SF_DIR)
        n = pages.count()
        t0 = time.time()
        stop = dedup.sampled_stop_shingles(pages, n_docs=n)
        out["mh_stop_set"] = round(time.time() - t0, 3)
        t0 = time.time()
        pages.select(
            F.col("url").cast("string").alias("id"), F.col("text")
        ).mapInPandas(
            dedup._band_batches_fn(stop), schema="id string, band int, key binary"
        ).write.format("noop").mode("overwrite").save()
        out["mh_band_pass_noop"] = round(time.time() - t0, 3)
        t0 = time.time()
        cands = dedup.minhash_candidates(
            pages, stop=stop, materialize="path",
            out_path=tempfile.mkdtemp(prefix="probe-mh-") + "/cands")
        out["mh_candidates"] = round(time.time() - t0, 3)
        t0 = time.time()
        dedup._verify_candidates(
            pages, cands, stop, "url", "text", "local", None
        ).count()
        out["mh_verify"] = round(time.time() - t0, 3)

    if "bm25" in which:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            F.col("doc_id").alias("id"), "text")
        postings, dl = si._postings_frame(docs, "id", "text", 32, gen=0,
                                          positional=False)
        idx = tempfile.mkdtemp(prefix="probe-bm25-")
        t0 = time.time()
        postings.write.mode("overwrite").partitionBy("bucket").parquet(
            f"{idx}/postings")
        out["postings_write"] = round(time.time() - t0, 3)
        t0 = time.time()
        dl.write.mode("overwrite").parquet(f"{idx}/doclens")
        out["doclens_write"] = round(time.time() - t0, 3)
        t0 = time.time()
        m = dl.agg(F.count("*").alias("n"),
                   F.coalesce(F.sum("dl"), F.lit(0)).alias("s")).collect()[0]
        out["meta_agg"] = round(time.time() - t0, 3)
        t0 = time.time()
        si._write_meta(spark, idx, m["n"], m["s"], 32, gen=0, positional=False)
        out["meta_write"] = round(time.time() - t0, 3)
        # search sub-phases
        t0 = time.time()
        res = si.bm25_search(spark, idx, "spark data pipeline", k=20)
        out["search_build_df"] = round(time.time() - t0, 3)
        t0 = time.time()
        res.collect()
        out["search_exec"] = round(time.time() - t0, 3)
        # stats
        sizes = sum(f.stat().st_size for f in Path(idx).rglob("*.parquet"))
        nfiles = len(list(Path(idx).rglob("*.parquet")))
        out["index_bytes"] = sizes
        out["index_files"] = nfiles
        out["postings_rows"] = spark.read.parquet(f"{idx}/postings").count()

    if "links" in which:
        pages = entrymod._pages(spark, SF_DIR)
        t0 = time.time()
        pages.select("url", "html").write.format("noop").mode("overwrite").save()
        out["pages_read_noop"] = round(time.time() - t0, 3)
        t0 = time.time()
        pages.select("url", F.length("html").alias("hl")).write.format(
            "noop").mode("overwrite").save()
        out["pages_read_len_noop"] = round(time.time() - t0, 3)
        row = pages.agg(F.count("*").alias("n"),
                        F.sum(F.length("html")).alias("html_bytes"),
                        ).collect()[0]
        out["n_pages"] = row["n"]
        out["html_bytes"] = row["html_bytes"]
        t0 = time.time()
        lg.extract_links(pages.select("url", "html")).write.format(
            "noop").mode("overwrite").save()
        out["extract_links_noop"] = round(time.time() - t0, 3)
        out["scan_partitions"] = pages.rdd.getNumPartitions()

    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()

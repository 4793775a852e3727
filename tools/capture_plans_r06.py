#!/usr/bin/env python
"""Capture the INTERNAL physical plans the round-6 optimizations changed.

The bench's path-materialized queries (pair lists, pagerank ranks) return a
bare parquet scan as their final frame, so their ``explain`` files say
nothing about the computation. This probe rebuilds the heavy internal
subtrees at sf0.001 and writes their formatted plans to
``plans/r06/<name>_<suffix>.txt``.

Usage::

    python tools/capture_plans_r06.py after
    LOGAGG_ROOT=/path/to/old-worktree python tools/capture_plans_r06.py before

``LOGAGG_ROOT`` points the import path at a different tree (e.g. a git
worktree of the pre-optimization commit) so the same probe captures
honest before-plans; plans always land in THIS repo's plans/r06/.
"""
from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = Path(os.environ.get("LOGAGG_ROOT", HERE))
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
PLANS = HERE / "plans" / "r06"


def fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "after"
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from logagg import dedup, linkgraph, synth, util
    from logagg.schemas import df_max_for
    from logagg.session import get_spark

    synth.ensure_cache(SF_DIR, expected=False)
    spark = get_spark(app_name=f"plans-r06-{suffix}", master="local[8]")
    PLANS.mkdir(parents=True, exist_ok=True)
    out: dict[str, str] = {}

    # --- jaccard_pairs internal: the postings aggregation + pair subtree.
    # Mirrors the operator body (id remap, df cut, postings, shared) so the
    # captured plan is the aggregation structure the bench pays for.
    pages = entrymod._pages(spark, SF_DIR)
    df_max = df_max_for(pages.count())
    tmp = tempfile.mkdtemp(prefix="plans-r06-")
    id_map = util.materialize(
        pages.select(F.col("url").alias("_doc"))
        .distinct()
        .withColumn("iid", F.monotonically_increasing_id()),
        "path",
        f"{tmp}/idmap",
    )
    sh = (
        dedup.shingles(pages, digest=True)
        .join(F.broadcast(id_map), F.col("id") == F.col("_doc"))
        .select("iid", "shingle")
    )
    if suffix == "before":
        postings = (
            sh.groupBy("shingle")
            .agg(F.array_sort(F.collect_list("iid")).alias("ids"))
            .filter(F.size("ids") <= df_max)
        )
        pairable = postings.filter(F.size("ids") >= 2)
    else:
        dfc = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        sh_kept = sh.join(dfc.filter(F.col("_df") <= df_max), "shingle")
        postings = (
            sh_kept.filter(F.col("_df") >= 2)
            .groupBy("shingle")
            .agg(F.array_sort(F.collect_list("iid")).alias("ids"))
        )
        pairable = postings
    ids = F.col("ids")
    combos = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("ia"), y.alias("ib")),
            ),
        )
    )
    shared = (
        pairable.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.ia").alias("ia"), F.col("p.ib").alias("ib"))
        .agg(F.count("*").alias("shared"))
    )
    out["jaccard_postings_subtree"] = fmt(shared)

    # --- pagerank: one iteration's new-ranks frame (built the way the
    # running loop builds it; edges landed first like the bench does)
    footer = F.concat(
        F.lit(b'<a href="http://h'),
        F.lpad((F.crc32(F.col("url").cast("binary")) % 200).cast("string"), 3, "0"),
        F.lit(b'.example.com/">next</a>'),
    )
    linked = pages.withColumn("html", F.concat("html", footer.cast("binary")))
    edges = linkgraph.host_graph(linkgraph.extract_links(linked))
    edges.write.mode("overwrite").parquet(f"{tmp}/edges")
    e = (
        spark.read.parquet(f"{tmp}/edges")
        .select(
            F.col("src").cast("string"),
            F.col("dst").cast("string"),
            F.lit(1.0).alias("w"),
        )
        .repartition("src")
    )
    out_w = e.groupBy("src").agg(F.sum("w").alias("_ow"))
    e = e.join(out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("_ow")).alias("share")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    src_nodes = e.select(F.col("src").alias("_src_node")).distinct()
    tnodes = nodes.select("node", F.lit(0.005).alias("t"))
    ranks = tnodes.select("node", F.col("t").alias("rank"))
    contrib = (
        e.join(ranks, e["src"] == ranks["node"])
        .select("dst", (F.col("share") * F.col("rank")).alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("contrib"))
    )
    if suffix == "before":
        new_ranks = tnodes.join(
            contrib, tnodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit(0.15) * F.col("t")
                + F.lit(0.85) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("rank"),
        )
        # the old per-iteration stop-rule/dangling aggregate
        per_iter = (
            new_ranks.join(ranks.withColumnRenamed("rank", "_old"), "node")
            .join(src_nodes, F.col("node") == src_nodes["_src_node"], "left")
            .agg(
                F.sum(F.abs(F.col("rank") - F.col("_old"))).alias("delta"),
                F.sum(
                    F.when(src_nodes["_src_node"].isNull(), F.col("rank"))
                ).alias("dang"),
            )
        )
    else:
        tn = tnodes.join(
            src_nodes, tnodes["node"] == src_nodes["_src_node"], "left"
        ).select("node", "t", src_nodes["_src_node"].isNotNull().alias("_is_src"))
        new_ranks = tn.join(contrib, tn["node"] == contrib["dst"], "left").select(
            "node",
            (
                F.lit(0.15) * F.col("t")
                + F.lit(0.85) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("rank"),
            "_is_src",
        )
        per_iter = new_ranks.agg(
            F.sum(F.when(~F.col("_is_src"), F.col("rank")))
        )
    out["pagerank_iteration_job"] = fmt(per_iter)

    for name, plan in out.items():
        (PLANS / f"{name}_{suffix}.txt").write_text(plan)
        print(f"wrote plans/r06/{name}_{suffix}.txt ({len(plan)} bytes)")


if __name__ == "__main__":
    main()

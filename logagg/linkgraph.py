"""Web link graph: href extraction from crawled HTML, host-graph rollup,
and distributed PageRank — the host-authority quality signal web-corpus
curation ranks domains by (the public Common Crawl host ranks are exactly
this computation at 100 TB).

Reference scope note: the reference's graph-free pipeline ends at per-log
aggregates (aggregator/logs.py); the webtext corpus those pages form IS a
graph, and domain authority is a first-class curation feature. Three
operators:

* :func:`extract_links` — one map-only Arrow pass over ``(url, html)``:
  stdlib tag-soup parser collects ``<a href>``, resolves each against the
  page URL (RFC 3986 join), drops fragments and non-http(s) schemes.
  Kernel single-sourced in :func:`extract_links_py`.
* :func:`host_graph` — ``(src_host, dst_host, n_links)`` edge rollup: one
  partial+final hash aggregation, self-loops dropped (intra-host nav bars
  would otherwise dominate every host's rank).
* :func:`pagerank` — power iteration with the standard damping + uniform
  teleport + dangling-mass redistribution (Page et al. 1999, public).
  Each iteration: contributions = edges ⋈ ranks on ``src`` → ONE
  ``sum`` aggregation on ``dst``. Edges are hash-partitioned on ``src``
  once and persisted, so every iteration's join reuses that layout and
  only the (#nodes-sized) rank table shuffles. Every iteration's ranks
  land in parquet through :func:`util.scratch` (the scratch contract
  :func:`hits` and dup_clusters share, including the non-local-master
  guard), so 50 iterations never build a 50-deep plan. Convergence =
  L1 delta below ``tol`` (one scalar per iteration off an aggregate —
  the only driver traffic); a non-converged run RAISES rather than
  returning silently-wrong ranks.

Determinism note: float sums depend on reduction order, so ranks are
reproducible only to ~1e-12 relative across partitionings — the twin
check (dense numpy power iteration, same damping/dangling math) asserts
agreement to 1e-9, not bit equality. Content-hash tie-breaks are not
needed: rank VALUES, not orderings, are the output.
"""

from __future__ import annotations

import math
import re
from typing import Iterator
from urllib.parse import urljoin, urlparse

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from logagg import util

LINKS_SCHEMA = "url string, dst_url string, anchor string"


# ---------------------------------------------------------------------------
# link extraction
# ---------------------------------------------------------------------------

def extract_links_py(url: str, html: bytes | str) -> list[dict]:
    """All resolved outlinks of one page: ``{dst_url, anchor}`` rows.
    http(s) only, fragment stripped, anchor text whitespace-collapsed and
    capped (anchors are a relevance signal, not a text corpus)."""
    from html.parser import HTMLParser

    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")

    links: list[dict] = []

    class _P(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.href: str | None = None
            self.anchor: list[str] = []

        def _flush(self) -> None:
            if self.href is None:
                return
            try:
                dst = urljoin(url, self.href)
            except ValueError:
                dst = None
            if dst:
                dst = dst.split("#", 1)[0]
                if dst.startswith(("http://", "https://")):
                    links.append(
                        {
                            "dst_url": dst,
                            "anchor": re.sub(r"\s+", " ", " ".join(self.anchor)).strip()[
                                :200
                            ],
                        }
                    )
            self.href = None
            self.anchor = []

        def handle_starttag(self, tag: str, attrs) -> None:
            if tag == "a":
                self._flush()  # tag-soup: unclosed <a> flushed by the next
                for k, v in attrs:
                    if k == "href" and v:
                        self.href = v.strip()
                        break

        def handle_endtag(self, tag: str) -> None:
            if tag == "a":
                self._flush()

        def handle_data(self, data: str) -> None:
            if self.href is not None and data:
                self.anchor.append(data)

    p = _P()
    try:
        p.feed(html)
        p.close()
    except Exception:
        pass  # tag-soup beyond the parser: keep what was collected
    p._flush()
    return links


def extract_links(
    pages: DataFrame, *, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """``(url, html)`` → ``(url, dst_url, anchor)`` outlink table. One
    Arrow pass, zero shuffles (plan-pinned in tests)."""
    src = pages.select(F.col(url_col).alias("url"), F.col(html_col).alias("_h"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # columnar accumulation: pd.DataFrame-from-list-of-dicts normalizes
        # every row dict (measured ~20% of the pass); three flat lists feed
        # Arrow directly
        for pdf in batches:
            urls: list = []
            dsts: list = []
            anchors: list = []
            for u, h in zip(pdf["url"], pdf["_h"]):
                for r in extract_links_py(u, h):
                    urls.append(u)
                    dsts.append(r["dst_url"])
                    anchors.append(r["anchor"])
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype=object),
                    "dst_url": pd.Series(dsts, dtype=object),
                    "anchor": pd.Series(anchors, dtype=object),
                }
            )

    return src.mapInPandas(kernel, schema=LINKS_SCHEMA)


def host_graph(links: DataFrame, *, keep_self_loops: bool = False) -> DataFrame:
    """Outlink table → weighted host edge list ``(src, dst, n_links)``.
    One hash aggregation; junk/unparseable hosts drop (no vertex to credit)."""
    e = links.select(
        F.lower(F.try_parse_url("url", F.lit("HOST"))).alias("src"),
        F.lower(F.try_parse_url("dst_url", F.lit("HOST"))).alias("dst"),
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if not keep_self_loops:
        e = e.filter(F.col("src") != F.col("dst"))
    return e.groupBy("src", "dst").agg(F.count("*").alias("n_links"))


# ---------------------------------------------------------------------------
# anchor-text aggregation
# ---------------------------------------------------------------------------

def anchor_stats(links: DataFrame, *, top_k: int = 3) -> DataFrame:
    """Per-target anchor rollup — the classic off-page relevance signal
    (what OTHER pages call this page): ``(dst_url, n_inlinks,
    n_src_hosts, top_anchors)``.

    ``top_anchors`` = the ``top_k`` most frequent normalized anchor
    strings — lowercased, ASCII-whitespace runs collapsed to one space
    (the pinned cross-engine class: Java ``\\s``), trimmed, non-empty —
    count-desc then lexical: a total order, so the list is deterministic
    across partitionings.

    Scale shape: both aggregations shuffle on ``dst_url`` (the same key,
    so AQE coalesces them into one exchange reuse); the per-anchor top-k
    is a ``row_number`` window over (dst_url) — partial aggregation has
    already collapsed each (dst_url, anchor) to one row, so the window
    input is bounded by distinct-anchor count, not inlink count. A
    skew-hot page (millions of inlinks) is therefore reduced map-side
    before any single task sees it; no ``collect_list`` of raw inlinks
    ever materializes.
    """
    from pyspark.sql import Window

    a = links.select(
        F.col("dst_url"),
        F.lower(F.try_parse_url("url", F.lit("HOST"))).alias("_src_host"),
        F.trim(
            F.regexp_replace(F.lower(F.col("anchor")), "[ \\t\\n\\x0b\\f\\r]+", " ")
        ).alias("_anchor"),
    )
    stats = a.groupBy("dst_url").agg(
        F.count("*").alias("n_inlinks"),
        F.count_distinct("_src_host").alias("n_src_hosts"),
    )
    per_anchor = (
        a.filter(F.col("_anchor") != "")
        .groupBy("dst_url", "_anchor")
        .agg(F.count("*").alias("_n"))
    )
    w = Window.partitionBy("dst_url").orderBy(F.desc("_n"), F.asc("_anchor"))
    top = (
        per_anchor.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_k)
        .groupBy("dst_url")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_rk", "_anchor"))),
                lambda s: s["_anchor"],
            ).alias("top_anchors")
        )
    )
    return stats.join(top, "dst_url", "left").select(
        "dst_url",
        "n_inlinks",
        "n_src_hosts",
        F.coalesce("top_anchors", F.array().cast("array<string>")).alias(
            "top_anchors"
        ),
    )


def anchor_stats_py(
    rows: list[tuple[str, str, str]], *, top_k: int = 3
) -> dict[str, tuple[int, int, list[str]]]:
    """Driver-side twin of :func:`anchor_stats` over ``(url, dst_url,
    anchor)`` tuples, for differential tests."""
    from collections import Counter, defaultdict

    inlinks: Counter = Counter()
    hosts: dict[str, set] = defaultdict(set)
    anchors: dict[str, Counter] = defaultdict(Counter)
    for url, dst, anchor in rows:
        inlinks[dst] += 1
        h = urlparse(url).hostname
        if h:  # count_distinct skips NULL — unparseable srcs don't count
            hosts[dst].add(h.lower())
        a = re.sub(r"[ \t\n\x0b\f\r]+", " ", anchor.lower()).strip(" ")
        if a:
            anchors[dst][a] += 1
    out = {}
    for dst in inlinks:
        top = sorted(anchors[dst].items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        out[dst] = (inlinks[dst], len(hosts[dst]), [a for a, _ in top])
    return out


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    max_iter: int = 40,
    tol: float = 1e-6,
    weighted: bool = False,
    partitions: int | None = None,
    materialize: str = "local",
    out_path: str | None = None,
    on_max_iter: str = "raise",
    teleport_weights: DataFrame | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Power-iteration PageRank over ``(src, dst[, n_links])`` →
    ``(node, rank)`` summing to 1.

    ``init_ranks`` — optional ``(node, rank)`` DataFrame — WARM-STARTS
    the iteration from a previous run's ranks instead of the teleport
    vector. The fixpoint is unique for damping < 1, so the answer is
    identical; only the iteration count drops — THE continuous-crawl
    mode: after a batch of new edges lands, yesterday's ranks are a few
    steps from today's fixpoint instead of ~a hundred. Nodes absent from
    the frame (newly discovered pages) start at 1/n; the vector is
    renormalized to sum 1 (one scalar aggregate), so stale or partial
    rank tables are safe inputs.

    ``teleport_weights`` — optional ``(node, weight)`` DataFrame —
    switches to PERSONALIZED PageRank: the random surfer restarts at
    ``node`` with probability proportional to ``weight`` instead of
    uniformly (weights are renormalized over graph nodes; nodes absent
    from the frame get teleport 0; the intersection must carry positive
    weight or this raises). Dangling mass redistributes onto the same
    personalization vector — the biased-restart completion. With a
    trusted seed set as the weights this is TrustRank (Gyöngyi et al.,
    VLDB 2004 — public): pages unreachable from the seeds by forward
    links converge to rank exactly 0, which is the spam-demotion signal
    plain PageRank cannot express. The weights frame is node-table-sized
    and stays distributed (one scalar sum crosses the driver).

    ``weighted=True`` splits a page's vote by edge weight (``n_links``)
    instead of uniformly across distinct out-neighbors. Dangling nodes
    (no out-edges) spread their mass uniformly — the standard stochastic
    completion, matched exactly by the numpy twin in tests.

    Iteration shape (the plan that survives 100×): edges repartitioned on
    ``src`` ONCE and persisted; per iteration one join on ``src`` (rank
    table is #nodes-sized — tiny next to edges), one ``sum`` agg on
    ``dst``, and one scalar aggregate (next round's dangling mass, plus
    the L1 delta against the old ranks when ``tol`` > 0). Each
    iteration's ranks land in parquet through :func:`util.scratch`, so
    every plan is one iteration deep and nothing is persisted between
    iterations: the session checkpoint dir (executor-reachable by
    contract) gets a fresh subdir, left in place; otherwise a
    driver-local temp dir — allowed only on a local master, refused
    elsewhere — removed on return after the (#hosts-sized, bounded)
    result is materialized. ``materialize="path"`` + ``out_path`` lands
    the ranks in parquet instead — the 100 TB result shape (a page-level
    graph's rank table is corpus-sized; it never visits the driver).

    ``on_max_iter``: ``"raise"`` (default) refuses to return ranks that
    have not met ``tol`` — the audit contract. ``"return"`` hands back the
    ``max_iter``-step ranks regardless — the fixed-iteration-budget mode
    production host-rank jobs actually run (published web host ranks are
    fixed-budget power iterations; beyond ~an L1 delta of 1e-4 the
    ORDERING of hosts is already stable even though the values drift)."""
    spark = edges.sparkSession
    if on_max_iter not in ("raise", "return"):
        raise ValueError(
            f"on_max_iter must be 'raise' or 'return', got {on_max_iter!r}"
        )
    if tol <= 0.0 and on_max_iter == "raise":
        raise RuntimeError(
            f"pagerank cannot converge with tol {tol!r} ≤ 0 — "
            "fixed-budget runs must pass on_max_iter='return'"
        )
    util.check_materialize(materialize, out_path)
    with util.scratch(spark, "logagg-pr") as land:
        w = F.col("n_links").cast("double") if weighted else F.lit(1.0)
        e = edges.select(
            F.col("src").cast("string"),
            F.col("dst").cast("string"),
            w.alias("w"),
        ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        if partitions:
            e = e.repartition(partitions, "src")
        else:
            e = e.repartition("src")
        # per-src normalized vote share: w / total outgoing weight
        out_w = e.groupBy("src").agg(F.sum("w").alias("_ow"))
        e = e.join(out_w, "src").select(
            "src", "dst", (F.col("w") / F.col("_ow")).alias("share")
        ).persist()
        # the node table carries the dangling-node membership (`_is_src`)
        # from here on, so every iteration's dangling mass is one
        # flag-filtered sum — no per-iteration join against the source set
        nodes = (
            e.select(F.col("src").alias("node"), F.lit(True).alias("_is_src"))
            .union(
                e.select(F.col("dst").alias("node"), F.lit(False).alias("_is_src"))
            )
            .groupBy("node")
            .agg(F.max("_is_src").alias("_is_src"))
            .persist()
        )
        held = [e, nodes]
        try:
            n = nodes.count()
            if n == 0:
                empty = spark.createDataFrame([], "node string, rank double")
                return util.materialize(empty, materialize, out_path)

            # per-node teleport share t(v): uniform 1/n, or the renormalized
            # personalization vector (TrustRank when the weights are a seed set)
            if teleport_weights is not None:
                tw = teleport_weights.select(
                    F.col("node").cast("string").alias("node"),
                    F.col("weight").cast("double").alias("_tw"),
                )
                joined = nodes.join(tw, "node", "left").select(
                    "node", "_is_src", F.coalesce("_tw", F.lit(0.0)).alias("_tw")
                )
                t_total = joined.agg(F.sum("_tw")).collect()[0][0] or 0.0
                if t_total <= 0.0:
                    raise ValueError(
                        "teleport_weights carries no positive weight on any graph "
                        "node — the personalization vector is undefined"
                    )
                tn = joined.select(
                    "node", "_is_src", (F.col("_tw") / t_total).alias("t")
                )
            else:
                tn = nodes.select("node", "_is_src", F.lit(1.0 / n).alias("t"))
            tn = tn.persist()
            held.append(tn)

            if init_ranks is not None:
                ir = init_ranks.select(
                    F.col("node").cast("string").alias("node"),
                    F.col("rank").cast("double").alias("_ir"),
                )
                r0 = nodes.join(ir, "node", "left").select(
                    "node", "_is_src", F.coalesce("_ir", F.lit(1.0 / n)).alias("rank")
                )
                r_total = r0.agg(F.sum("rank")).collect()[0][0] or 0.0
                if r_total <= 0.0:
                    raise ValueError(
                        "init_ranks carries no positive mass on any graph node — "
                        "cannot warm-start from it"
                    )
                ranks = land(
                    r0.select("node", "_is_src", (F.col("rank") / r_total).alias("rank"))
                )
            else:
                ranks = land(tn.select("node", "_is_src", F.col("t").alias("rank")))
            # the dangling mass stays a driver scalar: a fully lazy variant
            # (a broadcast 1-row frame) was measured 2× SLOWER — each landing
            # job unwinds nested broadcast sub-jobs with per-job AQE overhead
            dang = F.sum(F.when(~F.col("_is_src"), F.col("rank"))).alias("dang")
            dangling = ranks.agg(dang).collect()[0][0] or 0.0
            converged = False
            delta = None
            for it in range(max_iter):
                contrib = (
                    e.join(ranks, e["src"] == ranks["node"])
                    .select("dst", (F.col("share") * F.col("rank")).alias("c"))
                    .groupBy("dst")
                    .agg(F.sum("c").alias("contrib"))
                )
                # (1-d)·t(v) + d·dangling·t(v) folds to one scalar factor on t —
                # the dangling redistribution rides the personalization vector
                tele_scale = (1.0 - damping) + damping * dangling
                new_ranks = land(
                    tn.join(contrib, tn["node"] == contrib["dst"], "left").select(
                        "node",
                        "_is_src",
                        (
                            F.lit(tele_scale) * F.col("t")
                            + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                        ).alias("rank"),
                    )
                )
                # ONE scalar job per iteration: the next round's dangling mass,
                # plus the L1 delta vs the old ranks only when tol can stop the
                # loop (fixed-budget mode skips that join as dead work)
                if tol > 0.0:
                    row = (
                        new_ranks.join(
                            ranks.select("node", F.col("rank").alias("_old")), "node"
                        )
                        .agg(
                            dang,
                            F.sum(F.abs(F.col("rank") - F.col("_old"))).alias("delta"),
                        )
                        .collect()[0]
                    )
                    delta = row["delta"]
                else:
                    row = new_ranks.agg(dang).collect()[0]
                dangling = row["dang"] or 0.0
                ranks = new_ranks
                if delta is not None and delta < tol:
                    converged = True
                    break
            if not converged and on_max_iter == "raise":
                raise RuntimeError(
                    f"pagerank did not converge in {max_iter} iterations "
                    f"(last L1 delta {delta:.3e} ≥ tol {tol:.1e}); raise max_iter "
                    "or loosen tol"
                )
            return util.materialize(ranks.select("node", "rank"), materialize, out_path)
        finally:
            for df in held:
                df.unpersist()


def hits(
    edges: DataFrame,
    *,
    max_iter: int = 40,
    tol: float = 1e-8,
    weighted: bool = False,
    materialize: str = "local",
    out_path: str | None = None,
    on_max_iter: str = "raise",
) -> DataFrame:
    """Kleinberg HITS (hubs & authorities, SIAM 1999 — public) over
    ``(src, dst[, n_links])`` → ``(node, hub, authority)``, each vector
    L2-normalized. The complement to :func:`pagerank` for curation: an
    AUTHORITY is a page good hubs point at (cite-worthy content), a HUB
    is a page that points at good authorities (a link directory is a hub
    with zero authority) — PageRank alone cannot tell the two apart.

    Update order matches the twin exactly: ``a ← normalize(Aᵀ h_old)``
    then ``h ← normalize(A a_new)`` — computed on raw vectors (L2
    normalization commutes through the linear maps) so one aggregate
    recovers both norms. Iteration shape mirrors pagerank: edges
    hash-partitioned once and persisted; per iteration two join+sum
    aggregations over the edge list and two scalar collects
    (norms, L1 delta) — the only driver traffic. Each iteration's raw
    vectors land in parquet through :func:`util.scratch` (the same
    scratch contract as :func:`pagerank`), so every plan is one
    iteration deep however many iterations run. Nodes never cited have
    authority 0; nodes citing nothing have hub 0 — both stay in the
    output. Convergence = L1 delta of (hub ⊕ authority) below ``tol``;
    ``on_max_iter="return"`` is the fixed-budget production mode,
    ``"raise"`` (default) the audit mode."""
    spark = edges.sparkSession
    if on_max_iter not in ("raise", "return"):
        raise ValueError(
            f"on_max_iter must be 'raise' or 'return', got {on_max_iter!r}"
        )
    util.check_materialize(materialize, out_path)
    with util.scratch(spark, "logagg-hits") as land:
        w = F.col("n_links").cast("double") if weighted else F.lit(1.0)
        e = (
            edges.select(
                F.col("src").cast("string"),
                F.col("dst").cast("string"),
                w.alias("w"),
            )
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .repartition("src")
            .persist()
        )
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
        try:
            n = nodes.count()
            if n == 0:
                empty = spark.createDataFrame(
                    [], "node string, hub double, authority double"
                )
                return util.materialize(empty, materialize, out_path)

            init = 1.0 / math.sqrt(n)
            state = land(
                nodes.select(
                    "node", F.lit(init).alias("hub"), F.lit(init).alias("authority")
                )
            )
            converged = False
            delta = None
            for it in range(max_iter):
                # L2 normalization commutes through the linear updates
                # (normalize(A·normalize(v)) == normalize(A·v)), so one pass
                # computes BOTH raw vectors — a_raw from the old hubs, h_raw
                # from a_raw — and a single aggregate recovers both norms: two
                # driver round-trips per iteration total (norms+delta), not four
                a_raw = (
                    e.join(
                        state.select(F.col("node").alias("src"), "hub"), "src"
                    )
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.sum(F.col("w") * F.col("hub")).alias("_a"))
                )
                h_raw = (
                    e.join(a_raw.withColumnRenamed("node", "dst"), "dst")
                    .groupBy(F.col("src").alias("node"))
                    .agg(F.sum(F.col("w") * F.col("_a")).alias("_h"))
                )
                raw = land(
                    nodes.join(a_raw, "node", "left")
                    .join(h_raw, "node", "left")
                    .select(
                        "node",
                        F.coalesce("_h", F.lit(0.0)).alias("_h"),
                        F.coalesce("_a", F.lit(0.0)).alias("_a"),
                    )
                )
                norms = raw.agg(
                    F.sqrt(F.sum(F.col("_h") ** 2)).alias("hn"),
                    F.sqrt(F.sum(F.col("_a") ** 2)).alias("an"),
                ).collect()[0]
                h_norm, a_norm = norms["hn"] or 0.0, norms["an"] or 0.0
                if a_norm == 0.0:
                    # all edge weights zero: the state is already stationary
                    converged = True
                    break
                new_state = raw.select(
                    "node",
                    (F.col("_h") / (h_norm if h_norm > 0.0 else 1.0)).alias("hub"),
                    (F.col("_a") / a_norm).alias("authority"),
                )
                # L1 delta across both vectors — the stop rule
                delta = (
                    new_state.join(
                        state.select(
                            "node",
                            F.col("hub").alias("_oh"),
                            F.col("authority").alias("_oa"),
                        ),
                        "node",
                    )
                    .agg(
                        F.sum(
                            F.abs(F.col("hub") - F.col("_oh"))
                            + F.abs(F.col("authority") - F.col("_oa"))
                        )
                    )
                    .collect()[0][0]
                )
                state = new_state
                if delta is not None and delta < tol:
                    converged = True
                    break
            if not converged and on_max_iter == "raise":
                raise RuntimeError(
                    f"hits did not converge in {max_iter} iterations "
                    f"(last L1 delta {delta!r} ≥ tol {tol:.1e}); raise max_iter "
                    "or loosen tol"
                )
            return util.materialize(state, materialize, out_path)
        finally:
            e.unpersist()
            nodes.unpersist()


def hits_py(
    edges: list[tuple[str, str, float]],
    *,
    max_iter: int = 500,
    tol: float = 1e-12,
    weighted: bool = False,
) -> dict[str, tuple[float, float]]:
    """Dense numpy HITS twin — identical update order and normalization,
    driver-side, for differential tests on small graphs. Returns
    ``{node: (hub, authority)}``."""
    import numpy as np

    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    if n == 0:
        return {}
    A = np.zeros((n, n))
    for s, d, w in edges:
        A[idx[s], idx[d]] += w if weighted else 1.0
    h = np.full(n, 1.0 / math.sqrt(n))
    a = h.copy()
    for _ in range(max_iter):
        a_new = A.T @ h
        norm = np.linalg.norm(a_new)
        if norm == 0.0:
            break
        a_new /= norm
        h_new = A @ a_new
        norm = np.linalg.norm(h_new)
        if norm > 0.0:
            h_new /= norm
        delta = np.abs(h_new - h).sum() + np.abs(a_new - a).sum()
        h, a = h_new, a_new
        if delta < tol:
            break
    return {v: (float(h[idx[v]]), float(a[idx[v]])) for v in nodes}


def components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
    checkpoint_dir: str | None = None,
    materialize: str = "local",
    out_path: str | None = None,
) -> DataFrame:
    """Weakly-connected components of a directed edge list →
    ``(node, component)`` where ``component`` is the lexicographically
    smallest node id in the component (string order — ids are urls/hosts
    here). A crawl-health primitive: the giant component's share tells
    you whether the frontier is exploring or orbiting one cluster, and
    small components flag link farms / disconnected captures.

    Thin adapter over the dedup clustering engine
    (:func:`logagg.dedup.dup_clusters` with explicit pairs): distributed
    min-label propagation + pointer doubling, parquet-checkpointed,
    convergence-proven-or-raise — one implementation, both callers.
    Nodes with no edges are absent (a caller holding a node table can
    left-join + coalesce to self)."""
    pairs = edges.select(
        F.col(src).cast("string").alias("url_a"),
        F.col(dst).cast("string").alias("url_b"),
    )
    from logagg import dedup

    out = dedup.dup_clusters(
        pairs,
        pairs=pairs,
        max_iters=max_iters,
        checkpoint_dir=checkpoint_dir,
        materialize=materialize,
        out_path=out_path,
    )
    return out.select(
        F.col("url").alias("node"), F.col("cluster").alias("component")
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-node degree table from a weighted edge list —
    ``(node, out_deg, in_deg, out_links, in_links)`` where ``*_deg``
    counts distinct neighbors and ``*_links`` sums edge weights. Two
    partial+final aggregations + one full-outer join on the node key;
    absent sides coalesce to 0 (a pure sink has out_deg 0, not a missing
    row). The first sanity read of any crawl's graph (degree skew tells
    you whether the PageRank edge partitioning needs salting)."""
    o = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_deg"), F.sum("n_links").alias("out_links")
    )
    i = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").alias("in_deg"), F.sum("n_links").alias("in_links")
    )
    return o.join(i, "node", "full").select(
        "node",
        *[
            F.coalesce(c, F.lit(0)).alias(c)
            for c in ("out_deg", "out_links", "in_deg", "in_links")
        ],
    )


def graph_health(
    edges: DataFrame,
    *,
    components_df: DataFrame | None = None,
    max_iters: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Crawl-health datasheet over a weighted edge list
    ``(src, dst[, n_links])`` → ONE row: ``(n_nodes, n_edges, n_links,
    n_sinks, n_sources, max_in_deg, reciprocity, n_components,
    giant_share)``. The numbers a crawl operator reads before trusting
    the frontier: ``giant_share`` near 1 = the crawl is exploring one
    connected web (near 0 = orbiting disconnected captures);
    ``n_sources``/``n_sinks`` = frontier entry points / dangling mass;
    ``max_in_deg`` = the skew the PageRank partitioning must survive;
    ``reciprocity`` (share of directed edges whose reverse exists) —
    link farms reciprocate near 1.0, organic host graphs don't.

    Every statistic is a partial+final aggregate; only the final scalars
    cross the driver. Components come from :func:`components` (host-graph
    sized by default); a corpus-scale caller lands a page-level component
    table via ``materialize="path"`` first and passes it as
    ``components_df`` to keep this report all-scalar."""
    spark = edges.sparkSession
    has_w = "n_links" in edges.columns
    e = (
        edges.select(
            F.col("src").cast("string"),
            F.col("dst").cast("string"),
            (
                F.col("n_links").cast("double") if has_w else F.lit(1.0)
            ).alias("n_links"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .persist()
    )
    try:
        deg_row = degree_stats(e).agg(
            F.count("*").alias("n_nodes"),
            F.sum((F.col("out_deg") == 0).cast("long")).alias("n_sinks"),
            F.sum((F.col("in_deg") == 0).cast("long")).alias("n_sources"),
            F.max("in_deg").alias("max_in_deg"),
        ).collect()[0]
        edge_row = e.agg(
            F.count("*").alias("n_edges"), F.sum("n_links").alias("n_links")
        ).collect()[0]
        if deg_row["n_nodes"] == 0:
            return spark.createDataFrame(
                [(0, 0, 0.0, 0, 0, 0, 0.0, 0, 0.0)],
                "n_nodes long, n_edges long, n_links double, n_sinks long, "
                "n_sources long, max_in_deg long, reciprocity double, "
                "n_components long, giant_share double",
            )
        pairs = e.select("src", "dst").distinct().persist()
        try:
            n_pairs = pairs.count()
            n_recip = pairs.join(
                pairs.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
                ["src", "dst"],
            ).count()
        finally:
            pairs.unpersist()
        comp = (
            components_df
            if components_df is not None
            else components(
                e, max_iters=max_iters, checkpoint_dir=checkpoint_dir
            )
        )
        comp_row = (
            comp.groupBy("component")
            .agg(F.count("*").alias("_sz"))
            .agg(
                F.count("*").alias("n_components"),
                F.max("_sz").alias("_giant"),
            )
            .collect()[0]
        )
    finally:
        e.unpersist()
    n_nodes = deg_row["n_nodes"]
    return spark.createDataFrame(
        [
            (
                n_nodes,
                edge_row["n_edges"],
                float(edge_row["n_links"] or 0.0),
                deg_row["n_sinks"],
                deg_row["n_sources"],
                deg_row["max_in_deg"],
                (n_recip / n_pairs) if n_pairs else 0.0,
                comp_row["n_components"] or 0,
                (comp_row["_giant"] / n_nodes) if n_nodes else 0.0,
            )
        ],
        "n_nodes long, n_edges long, n_links double, n_sinks long, "
        "n_sources long, max_in_deg long, reciprocity double, "
        "n_components long, giant_share double",
    )


def host_scorecard(
    docs: DataFrame,
    ranks: DataFrame,
    *,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Per-host curation scorecard: corpus footprint × link authority —
    ``(host, n_docs, n_tokens, mean_quality, rank)``.

    One partial+final aggregation over the docs (host key), then a join
    with the (host-sized) rank table; hosts absent from the graph keep
    ``rank = 0.0`` (no authority evidence ≠ dropped). This is the table a
    corpus owner eyeballs to decide mixing policy, and the input
    :func:`authority_weights` turns into per-host sampling rates."""
    from logagg import textstats

    per_host = (
        docs.select(
            F.coalesce(
                F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST"))),
                F.lit("\x00invalid"),
            ).alias("host"),
            textstats.token_count(F.col(text_col)).alias("_nt"),
            textstats.quality_score(
                F.col(text_col), F.length(text_col).cast("long")
            ).alias("_q"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
            F.avg("_q").alias("mean_quality"),
        )
    )
    r = ranks.select(F.col("node").alias("host"), "rank")
    return per_host.join(r, "host", "left").select(
        "host",
        "n_docs",
        "n_tokens",
        "mean_quality",
        F.coalesce("rank", F.lit(0.0)).alias("rank"),
    )


def authority_weights(
    scorecard: DataFrame,
    *,
    floor: float = 0.1,
    cap: float = 3.0,
    target_total: int | None = None,
) -> DataFrame:
    """Per-host sampling rates from the scorecard: a host's raw rate is
    its authority-per-document ratio ``(rank share) / (doc share)`` —
    hosts whose link authority outruns their corpus footprint get
    upsampled, link-farm-sized footprints with no authority get
    downsampled — clipped to ``[floor, cap]`` (teleport mass guarantees
    every host a nonzero rank, but the clip is the policy guardrail),
    then rescaled so the EXPECTED mixture size is ``target_total``
    documents (default: the input size — reweight without growing).

    Everything stays distributed: two scalar aggregates (corpus totals,
    expected size) are the only driver traffic; the returned
    ``(host, weight)`` table feeds :func:`logagg.mix.mix_sources_df`
    directly. Note the post-scale weight can exceed ``cap`` — the clip
    bounds the RELATIVE spread, the rescale preserves corpus size."""
    totals = scorecard.agg(
        F.sum("n_docs").alias("nd"), F.sum("rank").alias("nr")
    ).collect()[0]
    n_docs_total, rank_total = totals["nd"], totals["nr"]
    if not n_docs_total:
        return scorecard.sparkSession.createDataFrame(
            [], "host string, weight double"
        )
    budget = float(target_total if target_total is not None else n_docs_total)
    rank_share = (
        (F.col("rank") / F.lit(rank_total)) if rank_total else F.lit(0.0)
    )
    doc_share = F.col("n_docs") / F.lit(float(n_docs_total))
    raw = F.least(
        F.greatest(rank_share / doc_share, F.lit(float(floor))), F.lit(float(cap))
    )
    w = scorecard.select("host", "n_docs", raw.alias("_raw"))
    expected = w.agg(F.sum(F.col("_raw") * F.col("n_docs"))).collect()[0][0]
    scale = budget / expected if expected else 0.0
    return w.select("host", (F.col("_raw") * F.lit(scale)).alias("weight"))


def pagerank_py(
    edges: list[tuple[str, str, float]],
    *,
    damping: float = 0.85,
    max_iter: int = 200,
    tol: float = 1e-12,
    weighted: bool = False,
    teleport: dict[str, float] | None = None,
) -> dict[str, float]:
    """Dense numpy twin — same damping/teleport/dangling math (including
    the personalized-restart vector), driver-side, for differential tests
    on small graphs."""
    import numpy as np

    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    if n == 0:
        return {}
    M = np.zeros((n, n))
    out_w = np.zeros(n)
    for s, d, w in edges:
        ww = w if weighted else 1.0
        M[idx[d], idx[s]] += ww
        out_w[idx[s]] += ww
    nz = out_w > 0
    M[:, nz] /= out_w[nz]
    if teleport is None:
        t = np.full(n, 1.0 / n)
    else:
        t = np.array([float(teleport.get(v, 0.0)) for v in nodes])
        total = t.sum()
        if total <= 0.0:
            raise ValueError("teleport carries no positive weight on any node")
        t /= total
    r = t.copy()
    for _ in range(max_iter):
        dangling = r[~nz].sum()
        new = ((1 - damping) + damping * dangling) * t + damping * (M @ r)
        if np.abs(new - r).sum() < tol:
            r = new
            break
        r = new
    return {v: float(r[idx[v]]) for v in nodes}


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    **kwargs,
) -> DataFrame:
    """TrustRank: :func:`pagerank` personalized on a trusted seed set.
    ``seeds`` is a one-column ``(node)`` DataFrame (extra columns
    ignored); each seed gets uniform restart weight. Nodes with no
    forward path from any seed rank exactly 0 — ranking a crawl's hosts
    by trustrank/pagerank RATIO is the classic link-spam screen: a link
    farm inflates its pagerank but cannot manufacture trust inflow."""
    weights = seeds.select(
        F.col("node").cast("string").alias("node"), F.lit(1.0).alias("weight")
    ).distinct()
    return pagerank(edges, teleport_weights=weights, **kwargs)


def cocitation(
    edges: DataFrame,
    *,
    min_common: int = 2,
    max_out: int = 256,
    min_jaccard: float = 0.0,
    materialize: str = "local",
    out_path: str | None = None,
) -> DataFrame:
    """Co-citation similarity (Small 1973 — public): two pages are
    related when many sources cite BOTH → ``(a, b, n_common, jaccard)``
    with ``a < b``, ``jaccard`` = |citers(a) ∩ citers(b)| / |∪|. The
    related-pages / duplicate-mirror signal that needs no content:
    mirrors and translations co-cite even when their text diverges.

    Sources with more than ``max_out`` distinct out-links are dropped
    FIRST (a directory page citing thousands of targets contributes
    quadratic pairs and near-zero signal — the same postings cut the
    shingle-pair dedup applies); all counts, including the Jaccard
    denominators, are computed on the filtered graph so the twin can
    reproduce them exactly. Pair generation is a self-join of the
    filtered edge list on ``src`` with ``dst_a < dst_b`` — per-source
    output is bounded by ``max_out``²/2, and the join co-locates on the
    already-partitioned source key (one shuffle), then one partial+final
    count per pair. ``min_jaccard`` prunes weak pairs BEFORE
    materialization (the path-mode sink never lands them).
    ``materialize="path"`` for corpus-scale pair lists (same contract as
    the dedup pair ops)."""
    util.check_materialize(materialize, out_path)
    e = (
        edges.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("_od"))
    e = (
        e.join(deg.filter(F.col("_od") <= max_out).select("src"), "src")
        .repartition("src")
        .persist()
    )
    try:
        pairs = (
            e.alias("l")
            .join(
                e.alias("r"),
                (F.col("l.src") == F.col("r.src"))
                & (F.col("l.dst") < F.col("r.dst")),
            )
            .groupBy(
                F.col("l.dst").alias("a"), F.col("r.dst").alias("b")
            )
            .agg(F.count("*").alias("n_common"))
            .filter(F.col("n_common") >= min_common)
        )
        in_deg = e.groupBy(F.col("dst").alias("_n")).agg(
            F.count("*").alias("_ind")
        )
        out = (
            pairs.join(in_deg.withColumnRenamed("_n", "a"), "a")
            .withColumnRenamed("_ind", "_ia")
            .join(in_deg.withColumnRenamed("_n", "b"), "b")
            .withColumnRenamed("_ind", "_ib")
            .select(
                "a",
                "b",
                "n_common",
                (
                    F.col("n_common")
                    / (F.col("_ia") + F.col("_ib") - F.col("n_common"))
                ).alias("jaccard"),
            )
        )
        if min_jaccard > 0.0:
            out = out.filter(F.col("jaccard") >= min_jaccard)
        return util.materialize(out, mode=materialize, path=out_path)
    finally:
        e.unpersist()


def cocitation_py(
    edges: list[tuple[str, str]],
    *,
    min_common: int = 2,
    max_out: int = 256,
    min_jaccard: float = 0.0,
) -> dict[tuple[str, str], tuple[int, float]]:
    """Driver-side twin — ``{(a, b): (n_common, jaccard)}`` with the
    same high-out-degree cut and filtered-graph denominators."""
    from collections import defaultdict

    outs: dict[str, set] = defaultdict(set)
    for s, d in edges:
        if s is not None and d is not None:
            outs[s].add(d)
    citers: dict[str, set] = defaultdict(set)
    for s, ds in outs.items():
        if len(ds) <= max_out:
            for d in ds:
                citers[d].add(s)
    targets = sorted(citers)
    out = {}
    for i, a in enumerate(targets):
        for b in targets[i + 1 :]:
            common = len(citers[a] & citers[b])
            if common >= min_common:
                union = len(citers[a] | citers[b])
                if common / union >= min_jaccard:
                    out[(a, b)] = (common, common / union)
    return out


# ---------------------------------------------------------------------------
# Mirror-host detection
# ---------------------------------------------------------------------------

def _host_of(url: Column) -> Column:
    """Lowercased hostname of a well-formed url (NULL otherwise) — the
    mirror-detection grouping key."""
    return F.when(
        url.rlike("^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]"),
        F.lower(F.try_parse_url(url, F.lit("HOST"))),
    )


def _host_of_py(url: str) -> str | None:
    """Twin of :func:`_host_of` (well-formed urls)."""
    from logagg.textfns import _URL_SPLIT_RE

    m = _URL_SPLIT_RE.match(url or "")
    if not m or not m.group(2):
        return None
    host = m.group(2).rsplit("@", 1)[-1].lower()
    return re.sub(r":[0-9]+$", "", host)


def host_mirrors(
    pages: DataFrame,
    *,
    url_col: str = "url",
    text_col: str = "text",
    digest_col: str | None = None,
    min_common: int = 10,
    min_jaccard: float = 0.5,
    max_hosts_per_digest: int = 64,
    materialize: str = "local",
    out_path: str | None = None,
) -> DataFrame:
    """Host pairs serving near-identical content sets — ``(a, b,
    n_common, jaccard)`` over per-host sets of page content digests
    (md5 of ``text_col``, or a precomputed ``digest_col``). A mirror /
    CDN-clone / parked-domain-farm flag: crawl one of the pair, and
    collapse both hosts' pages in curation before their text ever
    reaches the shingle kernels.

    Host-pair digest overlap IS co-citation on the bipartite
    ``digest → host`` edge list, so this is a thin adapter over
    :func:`cocitation` — one engine, both callers (the
    ``components``/``dup_clusters`` precedent). The ``max_out`` cut
    becomes ``max_hosts_per_digest``: a digest served by hundreds of
    hosts is boilerplate (empty pages, error bodies, parking templates)
    — quadratic pairs, no mirror signal — and the Jaccard denominators
    come from the same filtered edge list so the twin reproduces them
    exactly."""
    dig = (
        F.col(digest_col).cast("string")
        if digest_col
        else F.md5(F.col(text_col).cast("string").cast("binary"))
    )
    edges = pages.select(
        dig.alias("src"), _host_of(F.col(url_col)).alias("dst")
    )
    return cocitation(
        edges,
        min_common=min_common,
        max_out=max_hosts_per_digest,
        min_jaccard=min_jaccard,
        materialize=materialize,
        out_path=out_path,
    )


def host_mirrors_py(
    pages: list[tuple[str, str]],
    *,
    min_common: int = 10,
    min_jaccard: float = 0.5,
    max_hosts_per_digest: int = 64,
) -> dict[tuple[str, str], tuple[int, float]]:
    """Driver-side twin over ``[(url, text)]``."""
    import hashlib

    edges = [
        (hashlib.md5(t.encode()).hexdigest(), _host_of_py(u))
        for u, t in pages
        if u is not None and t is not None
    ]
    return cocitation_py(
        edges,
        min_common=min_common,
        max_out=max_hosts_per_digest,
        min_jaccard=min_jaccard,
    )


def coupling(
    edges: DataFrame,
    *,
    min_common: int = 2,
    max_in: int = 256,
    min_jaccard: float = 0.0,
    materialize: str = "local",
    out_path: str | None = None,
) -> DataFrame:
    """Bibliographic coupling (Kessler 1963 — public), the dual of
    :func:`cocitation`: two SOURCES are related when they cite many of
    the same targets — ``(a, b, n_common, jaccard)`` over out-link
    sets. Where co-citation finds related *targets* from shared citers,
    coupling finds related *citers* from shared targets: the "pages on
    the same topic" signal for freshly crawled pages that nothing
    links to yet (co-citation needs in-links to exist; out-links ship
    with the page itself).

    Implementation: :func:`cocitation` on the REVERSED edge list — one
    engine, all three callers (`cocitation`, `host_mirrors`, here).
    ``max_in`` cuts super-cited targets first (everyone links the
    homepage; shared home-page links carry no topical signal — the
    boilerplate-digest cut in its graph form)."""
    return cocitation(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        ),
        min_common=min_common,
        max_out=max_in,
        min_jaccard=min_jaccard,
        materialize=materialize,
        out_path=out_path,
    )


def coupling_py(
    edges: list[tuple[str, str]],
    *,
    min_common: int = 2,
    max_in: int = 256,
    min_jaccard: float = 0.0,
) -> dict[tuple[str, str], tuple[int, float]]:
    """Driver-side twin — co-citation of the reversed edge list."""
    return cocitation_py(
        [(d, s) for s, d in edges],
        min_common=min_common,
        max_out=max_in,
        min_jaccard=min_jaccard,
    )

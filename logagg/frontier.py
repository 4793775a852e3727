"""Crawl-frontier operators: robots.txt exclusion, per-host politeness
scheduling, and the persistent seen-set — the scheduling half of a web
crawl, upstream of WARC ingestion (:mod:`logagg.warc`) and curation.

Reference scope note: the reference watches a directory and routes
archives as they appear (aggregator/logs.py's watch/route step); a webtext
crawl's equivalent "what do we fetch next" decision is the frontier. These
operators keep the decision wholly declarative: robots matching is a join
plus one aggregation (no Python in the per-URL hot path), scheduling is
one window, and the seen-set is the same persistent-index anti-join shape
as :func:`logagg.curate.curate_increment`.

robots.txt semantics implemented (RFC 9309, the public REP spec):

* groups = consecutive ``User-agent`` lines followed by rules; rules
  before any ``User-agent`` line are ignored; ``#`` comments stripped.
* group selection: the most specific matching agent token wins — a token
  matches when it is a case-insensitive substring of the crawler's
  product token; ``*`` matches anything but loses to any specific match;
  groups tied on specificity merge.
* rule matching: longest-match wins (match length = octets of the rule
  pattern); an ``allow``/``disallow`` tie at equal length → allow.
  ``*`` in a pattern is a wildcard, trailing ``$`` anchors end-of-path;
  an EMPTY ``Disallow:`` means "allow everything" (rule dropped).
  No matching rule → allowed (robots is opt-out).
* ``Crawl-delay`` is parsed per group (non-standard but ubiquitous) and
  feeds :func:`politeness_schedule`.

The line parser/translator is single-sourced (:func:`parse_robots_py` /
:func:`pattern_regex`): the Spark kernel and the pure-Python differential
twin (:func:`robots_allowed_py`) share it, so the *matcher* — Catalyst
``regexp_like`` + ``max(struct)`` vs a Python loop — is exactly what the
fuzz test cross-checks.

Scale shapes (the frontier is the big side — billions of URLs; rules are
#hosts × ~10 rows):

* :func:`robots_filter` — rules-side joined to the frontier on host
  (broadcast when the rules table fits — the default; flip
  ``broadcast_rules=False`` for a shuffle hash join on host otherwise),
  then ONE ``max(struct(specificity, is_allow))`` aggregation per URL.
  Conditional-max over unmatched rows means no second pass; the verdict
  join back to the frontier rides the same url key.
* :func:`politeness_schedule` — one hash partition on host + in-partition
  rank: per-host fetch slots and earliest-start offsets without any
  global sort. Skew note: a single giant host serializes its own slot
  numbering by construction (politeness is per-host sequential anyway —
  that "skew" is the semantics).
* :func:`frontier_increment` — the probe :func:`unseen_in_batch`
  (canonical-url key, anti-join against the parquet seen index) plus the
  key append. The probe never writes and returns a materialized frame
  (appending to a path INVALIDATES cached plans reading it — the
  curate_increment lesson); the store is written only after it.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from logagg import textstats, util

RULES_SCHEMA = (
    "host string, agent string, kind string, pattern string, "
    "spec int, regex string, delay double"
)


# ---------------------------------------------------------------------------
# shared pure-Python parser (kernel + twin)
# ---------------------------------------------------------------------------

def pattern_regex(pattern: str) -> str:
    """Anchored regex for a robots path pattern — ``*`` wildcard, trailing
    ``$`` end-anchor, everything else literal. ``re.escape`` escapes only
    non-alphanumerics, which Java's Pattern accepts identically, so the
    same string drives both engines."""
    anchored = pattern.endswith("$")
    core = pattern[:-1] if anchored else pattern
    esc = re.escape(core).replace(r"\*", ".*")
    return "^" + esc + ("$" if anchored else "")


def parse_robots_py(body: str) -> list[dict]:
    """Parse one robots.txt body into rule rows
    ``{agent, kind, pattern, spec, regex, delay}`` (one row per rule per
    user-agent token; ``crawl-delay`` rows carry ``delay`` only)."""
    rows: list[dict] = []
    agents: list[str] = []
    in_group_rules = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if in_group_rules:
                agents = []  # a UA line after rules starts a new group
                in_group_rules = False
            if value:
                agents.append(value.lower())
            continue
        if field in ("allow", "disallow"):
            in_group_rules = True
            if not agents:
                continue  # rules before any User-agent line: ignored
            if not value:
                continue  # empty Disallow/Allow = no restriction
            regex = pattern_regex(value)
            for a in agents:
                rows.append(
                    {
                        "agent": a,
                        "kind": field,
                        "pattern": value,
                        "spec": len(value),
                        "regex": regex,
                        "delay": None,
                    }
                )
        elif field == "crawl-delay":
            in_group_rules = True
            if not agents:
                continue
            try:
                d = float(value)
            except ValueError:
                continue
            for a in agents:
                rows.append(
                    {
                        "agent": a,
                        "kind": "crawl-delay",
                        "pattern": "",
                        "spec": 0,
                        "regex": None,
                        "delay": d,
                    }
                )
        # unknown fields (sitemap, host, ...): ignored, do NOT split a group
    return rows


def _select_agent_py(rules: list[dict], crawler: str) -> list[dict]:
    crawler = crawler.lower()

    def rank(a: str) -> int:
        if a == "*":
            return 0
        return len(a) if a in crawler else -1

    best = max((rank(r["agent"]) for r in rules), default=-1)
    if best < 0:
        return []
    return [r for r in rules if rank(r["agent"]) == best]


def robots_allowed_py(body: str, crawler: str, path: str) -> bool:
    """Differential twin: full REP evaluation of one path against one
    robots body, as a Python loop over the shared parse."""
    rules = _select_agent_py(parse_robots_py(body), crawler)
    best: tuple[int, int] | None = None
    for r in rules:
        if r["kind"] not in ("allow", "disallow"):
            continue
        if re.match(r["regex"], path):
            key = (r["spec"], 1 if r["kind"] == "allow" else 0)
            if best is None or key > best:
                best = key
    return best is None or best[1] == 1


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def parse_robots(
    robots: DataFrame, *, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """``(host, body)`` robots.txt fetches → the flat rules table
    (:data:`RULES_SCHEMA`). One map-only Arrow pass (robots files are one
    row each — the stateful group parser never crosses rows); the parsed
    table is agent-agnostic, so one parse serves every crawler identity."""
    src = robots.select(
        F.col(host_col).cast("string").alias("host"),
        F.col(body_col).cast("string").alias(body_col),
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.split(" ")[0] for f in RULES_SCHEMA.split(", ")]
        for pdf in batches:
            out: list[dict] = []
            for host, body in zip(pdf["host"], pdf[body_col]):
                for r in parse_robots_py(body or ""):
                    r["host"] = host
                    out.append(r)
            res = pd.DataFrame(out, columns=cols)
            res["spec"] = res["spec"].astype("Int32")
            yield res

    return src.mapInPandas(kernel, schema=RULES_SCHEMA)


def _agent_rules(rules: DataFrame, crawler: str) -> DataFrame:
    """Rows of the most specific matching agent group per host (ties
    merge), for one crawler identity."""
    c = crawler.lower()
    rank = (
        F.when(F.col("agent") == "*", 0)
        .when(F.instr(F.lit(c), F.lower(F.col("agent"))) > 0, F.length("agent"))
        .otherwise(-1)
    )
    ranked = rules.withColumn("_rank", rank).filter(F.col("_rank") >= 0)
    best = ranked.groupBy("host").agg(F.max("_rank").alias("_best"))
    return (
        ranked.join(best, "host")
        .filter(F.col("_rank") == F.col("_best"))
        .drop("_rank", "_best")
    )


def _url_path(url_col: Column) -> Column:
    """Path + query — the octets robots patterns match against. Junk URLs
    (null parse) fall back to '/' (and typically have no rules anyway)."""
    path = F.coalesce(F.try_parse_url(url_col, F.lit("PATH")), F.lit("/"))
    path = F.when(path == "", "/").otherwise(path)
    query = F.try_parse_url(url_col, F.lit("QUERY"))
    return F.when(query.isNull(), path).otherwise(F.concat(path, F.lit("?"), query))


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    crawler: str,
    *,
    url_col: str = "url",
    broadcast_rules: bool = True,
    keep_denied: bool = False,
) -> DataFrame:
    """Frontier × parsed rules → the fetchable frontier.

    Plan: agent-group selection on the (small) rules side, broadcast join
    on host, ``regexp_like`` match, ONE ``max(struct(spec, is_allow))``
    conditional aggregation per URL — longest-match / tie-allow resolved
    inside the agg, unmatched and rule-less URLs allowed via null. With
    ``keep_denied`` the verdict column ``robots_allowed`` is kept instead
    of filtering (audit mode)."""
    sel = _agent_rules(rules, crawler).filter(
        F.col("kind").isin("allow", "disallow")
    )
    sel = sel.select(
        "host", "spec", "regex", (F.col("kind") == "allow").cast("int").alias("_allow")
    )
    if broadcast_rules:
        sel = F.broadcast(sel)
    u = urls.withColumn("_host", F.try_parse_url(F.col(url_col), F.lit("HOST")))
    joined = u.join(sel, u["_host"] == sel["host"], "left").withColumn(
        "_m", F.regexp_like(_url_path(F.col(url_col)), F.col("regex"))
    )
    verdict = (
        joined.groupBy(url_col)
        .agg(
            F.max(F.when(F.col("_m"), F.struct("spec", "_allow"))).alias("_b")
        )
        .select(
            F.col(url_col),
            (F.col("_b").isNull() | (F.col("_b._allow") == 1)).alias(
                "robots_allowed"
            ),
        )
    )
    out = urls.join(verdict, url_col)
    if keep_denied:
        return out
    return out.filter(F.col("robots_allowed")).drop("robots_allowed")


def crawl_delays(rules: DataFrame, crawler: str) -> DataFrame:
    """Per-host crawl delay for one crawler identity: ``(host, delay)``,
    max over the selected group's rows (conservative on conflict)."""
    return (
        _agent_rules(rules, crawler)
        .filter(F.col("kind") == "crawl-delay")
        .groupBy("host")
        .agg(F.max("delay").alias("delay"))
    )


def politeness_schedule(
    frontier: DataFrame,
    *,
    url_col: str = "url",
    delays: DataFrame | None = None,
    default_delay: float = 1.0,
    priority: Column | None = None,
) -> DataFrame:
    """Assign each URL a per-host fetch ``slot`` (1-based) and an earliest
    start offset ``not_before_s = (slot-1) × host_delay`` — the schedule a
    polite fetcher executes directly: partition-by-host workers walk slots
    in order and sleep to the offset.

    One shuffle (hash on host) + an in-partition rank. ``priority``
    (higher first) orders within a host, tie-broken by a content hash so
    the schedule is deterministic under any input order."""
    u = frontier.withColumn(
        "_hkey",
        F.coalesce(
            F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit("\x00invalid")
        ),
    )
    order = [
        F.md5(F.col(url_col).cast("string").cast("binary")),
        F.col(url_col),
    ]
    if priority is not None:
        order.insert(0, priority.desc())
    w = Window.partitionBy("_hkey").orderBy(*order)
    u = u.withColumn("slot", F.row_number().over(w))
    if delays is not None:
        d = F.broadcast(delays.select(F.col("host").alias("_hkey"), "delay"))
        u = u.join(d, "_hkey", "left")
        delay = F.coalesce(F.col("delay"), F.lit(float(default_delay)))
    else:
        delay = F.lit(float(default_delay))
    return (
        u.withColumn(
            "not_before_s", ((F.col("slot") - 1) * delay).cast("double")
        )
        .withColumnRenamed("_hkey", "host")
        .drop("delay")
    )


SITEMAP_SCHEMA = (
    "sitemap_url string, kind string, loc string, lastmod string, "
    "priority double"
)


def parse_sitemap_py(body: str) -> list[dict]:
    """Parse one sitemap XML body (``urlset`` or ``sitemapindex``) into
    ``{kind: 'url'|'sitemap', loc, lastmod, priority}`` rows.
    Namespace-agnostic (matches on local names — real sitemaps mix default
    and prefixed namespaces); malformed XML falls back to a bare ``<loc>``
    regex so a truncated sitemap still yields its complete entries."""
    import xml.etree.ElementTree as ET

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1].lower()

    rows: list[dict] = []
    try:
        root = ET.fromstring(body)
    except ET.ParseError:
        for m in re.finditer(r"<loc>\s*([^<\s][^<]*?)\s*</loc>", body):
            rows.append(
                {"kind": "url", "loc": m.group(1), "lastmod": None, "priority": None}
            )
        return rows
    kind = "sitemap" if local(root.tag) == "sitemapindex" else "url"
    for entry in root:
        if local(entry.tag) not in ("url", "sitemap"):
            continue
        loc = lastmod = None
        priority = None
        for child in entry:
            name = local(child.tag)
            text = (child.text or "").strip()
            if name == "loc":
                loc = text
            elif name == "lastmod":
                lastmod = text
            elif name == "priority":
                try:
                    priority = float(text)
                except ValueError:
                    priority = None
        if loc:
            rows.append(
                {"kind": kind, "loc": loc, "lastmod": lastmod, "priority": priority}
            )
    return rows


def parse_sitemaps(
    sitemaps: DataFrame, *, url_col: str = "sitemap_url", body_col: str = "body"
) -> DataFrame:
    """``(sitemap_url, body)`` fetched sitemaps → flat entry table
    (:data:`SITEMAP_SCHEMA`): ``kind='url'`` rows are frontier candidates
    (feed :func:`frontier_increment`); ``kind='sitemap'`` rows are nested
    index entries — the fetch-then-reparse loop over them is the caller's
    (each level is one more pass of this operator; real indexes are ≤ 2
    deep). One map-only Arrow pass, one row per sitemap file."""
    src = sitemaps.select(
        F.col(url_col).cast("string").alias("sitemap_url"),
        F.col(body_col).cast("string").alias(body_col),
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.split(" ")[0] for f in SITEMAP_SCHEMA.split(", ")]
        for pdf in batches:
            out: list[dict] = []
            for su, body in zip(pdf["sitemap_url"], pdf[body_col]):
                for r in parse_sitemap_py(body or ""):
                    r["sitemap_url"] = su
                    out.append(r)
            yield pd.DataFrame(out, columns=cols)

    return src.mapInPandas(kernel, schema=SITEMAP_SCHEMA)


def frontier_increment(
    new_urls: DataFrame, seen_dir: str, *, url_col: str = "url"
) -> DataFrame:
    """Discovered-URL batch → the not-yet-seen subset, updating the
    persistent seen index: the probe :func:`unseen_in_batch`
    (canonicalize, keep the min URL per canonical within the batch,
    anti-join the parquet index) plus the append of the new keys. First
    batch bootstraps the index. The returned frame is materialized — safe
    to reuse after the append.

    A ``<seen_dir>/bloom`` sketch left by :func:`filter_unseen_bloom` is
    dropped FIRST: it would lack the keys appended here, and its probe
    reads a sketch miss as provably unseen. The next accelerated call
    rebuilds it from the whole index (its bootstrap case)."""
    _drop_sketch(new_urls.sparkSession, seen_dir)
    fresh = unseen_in_batch(new_urls, seen_dir, url_col=url_col)
    fresh.select(F.col("_canon").alias("canon_url")).write.mode("append").parquet(
        f"{seen_dir}/urls"
    )
    return fresh.drop("_canon")


def _drop_sketch(spark, seen_dir: str) -> None:
    """Delete ``<seen_dir>/bloom`` if it is there (Hadoop FS, any scheme)."""
    fs, jpath = util.hadoop_path(spark, f"{seen_dir}/bloom")
    fs.delete(jpath, True)


def _keep_min_per_canon(canon: DataFrame, url_col: str) -> DataFrame:
    """Within-batch canonical dedup: keep the rows whose url is the
    minimum url of their ``_canon`` group — ONE shuffle (window min over
    ``_canon``), replacing the former groupBy-then-left-semi-join shape
    (guide §2.4: two keyed exchanges plus a join for the same answer, and
    the join re-evaluated ``canonical_url`` on both sides). Identical
    rows survive: a (url, _canon) duplicate matches the min on every
    copy under both shapes, and a NULL url never equals the group min
    (the semi-join's null-key miss, reproduced). Skew note: a
    pathologically hot canonical key lands on one window task where the
    old semi-join spread copies by (url, canon); batches are
    increment-sized by contract, so the window's single shuffle wins."""
    w = Window.partitionBy("_canon")
    return (
        canon.withColumn("_min_url", F.min(url_col).over(w))
        .filter(F.col(url_col) == F.col("_min_url"))
        .drop("_min_url")
    )


def filter_unseen_bloom(
    new_urls: DataFrame,
    seen_dir: str,
    *,
    url_col: str = "url",
    n_bits: int = 1 << 20,
    n_hashes: int = 7,
) -> DataFrame:
    """:func:`frontier_increment` with a Bloom-filter accelerator — SAME
    result rows, a fraction of the join work. A persistent sketch of every
    seen canonical URL lives beside the exact index
    (``<seen_dir>/bloom``, sparse ``(word, bits)`` registers ≤ n_bits/64
    rows); each batch is probed map-side
    (:func:`logagg.aggregate.bloom_probe` — one broadcast row, zero
    shuffle, no Python), and only the bloom-POSITIVE urls reach the exact
    anti-join. Bloom-negative urls are *provably* unseen (no false
    negatives), so at steady state the anti-join shuffle carries
    ~(dup_rate + :func:`logagg.aggregate.bloom_fpr`) of the batch instead
    of all of it — the difference between shuffling a 100 TB frontier
    batch against a billions-row index and shuffling a few percent of it.
    False positives cost only wasted verification; the exact index stays
    ground truth, so the result is IDENTICAL to
    :func:`frontier_increment` (pinned by test).

    The sketch update is the same bounded-collect shape as
    :func:`logagg.aggregate.count_min_build`: the batch's partial
    registers (≤ n_bits/64 rows by construction) merge into the dense
    driver copy, and the merged table is rewritten whole — driver data,
    so rewriting the path just read needs no lineage cut. The two stores
    share a lifecycle: bootstrap writes both, every increment drops the
    sketch, appends urls and rewrites the sketch. (n_bits, n_hashes) are
    fixed at bootstrap by meta rows in the bloom table (words -1/-2 store
    them) and enforced on every call — probing with the wrong geometry
    would silently break the no-false-negative contract.

    Split into a side-effect-free probe (:func:`unseen_in_batch`) and an
    idempotent store commit (:func:`commit_seen`) so the streaming form
    (:func:`logagg.streaming.run_streaming_frontier`) can land the batch
    output BEFORE mutating the store."""
    fresh = unseen_in_batch(
        new_urls, seen_dir, url_col=url_col, n_bits=n_bits, n_hashes=n_hashes
    )
    # unseen_in_batch's return contract: already materialized with no live
    # lineage through the seen store, so the commit below cannot corrupt it
    # (a second blanket localCheckpoint here re-materialized the whole
    # batch for nothing — guide §5, cut lineage once at the right node)
    commit_seen(fresh, seen_dir, n_bits=n_bits, n_hashes=n_hashes)
    return fresh.drop("_canon")


def unseen_in_batch(
    new_urls: DataFrame,
    seen_dir: str,
    *,
    url_col: str = "url",
    n_bits: int = 1 << 20,
    n_hashes: int = 7,
) -> DataFrame:
    """The probe half of :func:`filter_unseen_bloom` — no STORE side
    effects: canonicalize, keep the min url per canonical within the
    batch, bloom-probe against ``<seen_dir>/bloom`` when it exists, and
    exact-anti-join only the bloom-positives (everything, if the index
    exists but the sketch doesn't yet). Returns the not-yet-seen rows
    WITH the ``_canon`` key column (the commit half needs it).

    The returned frame is MATERIALIZED (localCheckpoint) with no live
    lineage through the seen store — :func:`commit_seen` may append to
    ``<seen_dir>/urls`` without corrupting it, and consumers re-reading
    it (landing writes, counts) scan executor-local blocks instead of
    re-running the canonicalize+probe subtree. Each branch cuts at its
    cheapest safe node: the bloom branch checkpoints the probed batch
    once (both union branches consume it) plus the candidates-only
    anti-join output; bloom-negative rows never enter the anti-join."""
    from logagg import aggregate

    spark = new_urls.sparkSession
    canon = new_urls.withColumn(
        "_canon", textstats.canonical_url(F.col(url_col))
    )
    fresh = _keep_min_per_canon(canon, url_col)
    idx = util.read_parquet_or_none(spark, f"{seen_dir}/urls")
    regs_tbl = util.read_parquet_or_none(spark, f"{seen_dir}/bloom")
    if regs_tbl is not None and idx is not None:
        meta = {
            r["word"]: r["bits"]
            for r in regs_tbl.filter(F.col("word") < 0).collect()
        }
        if meta.get(-1) != n_bits or meta.get(-2) != n_hashes:
            raise ValueError(
                f"bloom at {seen_dir} was built with n_bits={meta.get(-1)}, "
                f"n_hashes={meta.get(-2)}; refusing to probe with "
                f"({n_bits}, {n_hashes})"
            )
        dense = aggregate.bloom_collect(
            regs_tbl.filter(F.col("word") >= 0), n_bits=n_bits
        )
        probed = aggregate.bloom_probe(
            fresh, "_canon", dense, n_bits=n_bits, n_hashes=n_hashes,
            out_col="_maybe_seen",
        )
        # one materialization of the probed batch: the unseen/candidate
        # split below consumes it TWICE (two union branches), and without
        # this cut the whole canonicalize+dedup+probe subtree ran once per
        # branch — measured 6.7 s → 3.5 s on the sf0.1 bench batch (guide
        # §2.4, shared subtree). Bloom-NEGATIVE rows still never enter the
        # anti-join: only the candidate branch joins the exact index.
        probed = probed.localCheckpoint()
        unseen = probed.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
        candidates = probed.filter(F.col("_maybe_seen")).drop("_maybe_seen")
        verified = candidates.join(
            idx, candidates["_canon"] == idx["canon_url"], "left_anti"
        )
        # candidates-only cut: (dup_rate + fpr)·batch rows at steady
        # state — the only subtree with lineage through <seen_dir>/urls
        fresh = unseen.unionByName(verified.localCheckpoint())
    elif idx is not None:
        # index exists (built by frontier_increment, or a commit crashed
        # after dropping the sketch) but no sketch: exact path for this
        # batch; commit_seen bootstraps the sketch from the WHOLE index so
        # the next batch gets the probe
        fresh = fresh.join(
            idx, fresh["_canon"] == idx["canon_url"], "left_anti"
        ).localCheckpoint()
    else:
        fresh = fresh.localCheckpoint()
    return fresh


def commit_seen(
    fresh: DataFrame,
    seen_dir: str,
    *,
    n_bits: int = 1 << 20,
    n_hashes: int = 7,
) -> None:
    """The store-mutation half of :func:`filter_unseen_bloom`: collect the
    sketch to the driver, drop it, append the batch's canonical keys to
    ``<seen_dir>/urls`` and write the merged bloom registers. A crash at
    any step leaves either the old sketch over the old index or no sketch
    (rebuilt from the whole index on the next call). IDEMPOTENT for the
    same ``fresh`` frame — re-running after a crash re-appends the same
    canonical keys (duplicate index rows are harmless: the anti-join and
    the sketch OR both absorb them) and ORs the same bits. ``fresh`` must carry ``_canon`` and must NOT
    have live lineage through ``<seen_dir>/urls`` (localCheckpoint it, or
    read it back from a landed parquet — the two callers)."""
    from logagg import aggregate

    spark = fresh.sparkSession
    regs_tbl = util.read_parquet_or_none(spark, f"{seen_dir}/bloom")
    # the merge base, collected to the driver before the sketch is dropped
    dense = None if regs_tbl is None else aggregate.bloom_collect(
        regs_tbl.filter(F.col("word") >= 0), n_bits=n_bits
    )
    # bootstrap sketch source: the index rows that existed BEFORE this
    # batch's append (the append below would otherwise make the read-back
    # index contain `fresh` too, and the old read-after-append shape
    # sketched the batch twice — harmless to the bits, OR is idempotent,
    # but a full second bloom_build pass over the batch: measured 1.8 s →
    # 0.85 s on the sf0.1 bootstrap). The file listing is snapshotted at
    # read time; even a lazy re-list only re-ORs identical bits.
    idx_before = None if dense is not None else util.read_parquet_or_none(
        spark, f"{seen_dir}/urls"
    )
    # drop the sketch BEFORE the append: a crash between the two leaves an
    # index without a sketch (the bootstrap case above), never a sketch
    # that lacks appended keys, which the probe would read as unseen
    _drop_sketch(spark, seen_dir)
    fresh.select(F.col("_canon").alias("canon_url")).write.mode("append").parquet(
        f"{seen_dir}/urls"
    )
    to_sketch = fresh.select(F.col("_canon"))
    if idx_before is not None:  # bootstrap: sketch the pre-existing index too
        to_sketch = to_sketch.unionByName(
            idx_before.select(F.col("canon_url").alias("_canon"))
        )
    batch_regs = aggregate.bloom_collect(
        aggregate.bloom_build(to_sketch, "_canon", n_bits=n_bits, n_hashes=n_hashes),
        n_bits=n_bits,
    )
    merged = (
        batch_regs
        if dense is None
        else [a | b for a, b in zip(dense, batch_regs)]
    )
    words = [w for w, b in enumerate(merged) if b] or [0]
    bits = [b for b in merged if b] or [0]
    # driver-local registers → one small parquet: build the frame through
    # Arrow (pandas) instead of a Python row list — the row-at-a-time
    # pickle path cost 4.5 s per rewrite for ~16k registers (guide §6,
    # Arrow for driver transfers); dtypes pin the stored schema to the
    # same (word int, bits long)
    pdf = pd.DataFrame(
        {
            "word": pd.Series(words + [-1, -2], dtype="int32"),
            "bits": pd.Series(bits + [n_bits, n_hashes], dtype="int64"),
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{seen_dir}/bloom")


def snapshot_overlap(
    crawl_a: DataFrame,
    crawl_b: DataFrame,
    *,
    url_col: str = "url",
    k: int = 4096,
) -> dict:
    """Sketch-scale dual of :func:`snapshot_diff`: how much do two crawls
    overlap, estimated from coordinated bottom-k samples of their
    CANONICAL url sets (:func:`logagg.aggregate.bottomk_overlap`) — two
    TakeOrdered jobs and two counts instead of the full-outer join, the
    right first question before paying for the exact per-host diff.
    Canonicalization runs first on both sides so recrawl noise (tracking
    params, fragments, case) doesn't read as churn; ids are distinct by
    construction after canonicalization's dedup, so the estimator's
    ``assume_unique`` fast path applies. Returns the
    ``bottomk_overlap`` dict (jaccard/union/intersection/n_a/n_b/
    k_used); k_used < k ⇒ exact."""
    from logagg import aggregate

    def keyed(df: DataFrame) -> DataFrame:
        return (
            df.select(textstats.canonical_url(F.col(url_col)).alias("canon"))
            .distinct()
        )

    return aggregate.bottomk_overlap(
        keyed(crawl_a), keyed(crawl_b), "canon", k, assume_unique=True
    )


# ---------------------------------------------------------------------------
# Redirect-chain resolution
# ---------------------------------------------------------------------------

def resolve_redirects_py(
    redirects: list[tuple[str, str]], *, max_hops: int = 20
) -> dict[str, tuple[str | None, int | None, bool]]:
    """Driver-side twin of :func:`resolve_redirects` —
    ``{src: (final, hops, resolved)}``; a chain is resolved iff a
    non-redirecting terminal is reached within ``max_hops`` hops (the
    hop bound also cuts redirect loops, exactly as a browser gives up)."""
    m: dict[str, str] = {}
    for s, d in redirects:
        if s is None or d is None:
            continue
        m[s] = d if s not in m else min(m[s], d)
    out: dict[str, tuple[str | None, int | None, bool]] = {}
    for s in m:
        cur, hops = m[s], 1
        while cur in m and hops <= max_hops:
            cur = m[cur]
            hops += 1
        if cur not in m and hops <= max_hops:
            out[s] = (cur, hops, True)
        else:
            out[s] = (None, None, False)
    return out


def resolve_redirects(
    redirects: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 20,
    materialize: str = "local",
    out_path: str | None = None,
) -> DataFrame:
    """Resolve every redirect source to its terminal url —
    ``(url, final, hops, resolved)``, one row per distinct redirect
    source. ``final``/``hops`` are NULL and ``resolved`` false when no
    non-redirecting terminal is reached within ``max_hops`` (redirect
    loop, chain into a loop, or an over-long chain — the browser
    give-up contract, matched exactly by :func:`resolve_redirects_py`).
    A source captured with several targets keeps the lexicographically
    smallest (duplicate-capture tiebreak, deterministic).

    The crawl-canonicalization step BEFORE the seen-set/link graph: a
    url that 301s is an alias, and counting it as a page inflates host
    footprints and splits anchor mass across aliases.

    Scale shape: pointer doubling — ``⌈log₂ max_hops⌉ + 1`` rounds of
    the map self-joined on its own pointer column, so a 20-hop bound
    costs 6 hash joins on the (redirect-table-sized, not corpus-sized)
    map; hop counts compose additively through each squaring. Each round
    persists and unpersists its predecessor — lineage depth stays ≤ the
    round count, so no parquet checkpoint is needed (contrast
    :func:`linkgraph.pagerank`, whose iteration count is unbounded).
    ``materialize="path"`` + ``out_path`` lands the (redirect-table-
    sized) result in parquet instead of the driver — the corpus-scale
    mode, same contract as the dedup pair ops."""
    import math as _math

    util.check_materialize(materialize, out_path)

    m = (
        redirects.select(
            F.col(src).cast("string").alias("url"),
            F.col(dst).cast("string").alias("_p"),
        )
        .filter(F.col("url").isNotNull() & F.col("_p").isNotNull())
        .groupBy("url")
        .agg(F.min("_p").alias("_p"))
        .persist()
    )
    keys = m.select(F.col("url").alias("_k"))
    cur = m.select("url", "_p", F.lit(1).alias("hops"))
    rounds = max(1, int(_math.ceil(_math.log2(max(2, max_hops)))) + 1)
    prev = None
    for _ in range(rounds):
        nxt = cur.select(
            F.col("url").alias("_u2"),
            F.col("_p").alias("_p2"),
            F.col("hops").alias("_h2"),
        )
        cur = (
            cur.join(nxt, cur["_p"] == nxt["_u2"], "left")
            .select(
                "url",
                F.coalesce("_p2", "_p").alias("_p"),
                (F.col("hops") + F.coalesce("_h2", F.lit(0))).alias("hops"),
            )
            .persist()
        )
        cur.count()  # materialize before dropping the predecessor's cache
        if prev is not None:
            prev.unpersist()
        prev = cur
    done = F.col("_k").isNull() & (F.col("hops") <= max_hops)
    out = (
        cur.join(keys, cur["_p"] == keys["_k"], "left")
        .select(
            "url",
            F.when(done, F.col("_p")).alias("final"),
            F.when(done, F.col("hops")).alias("hops"),
            done.alias("resolved"),
        )
    )
    res = util.materialize(out, mode=materialize, path=out_path)
    if prev is not None:
        prev.unpersist()
    m.unpersist()
    return res


# ---------------------------------------------------------------------------
# URL-template mining (crawler-trap detection)
# ---------------------------------------------------------------------------

# segment classes, tested in order; regexes restricted to character
# classes + anchors so Java regex and Python `re` agree byte-for-byte
_SEG_NUM_RE = "^[0-9]+$"
_SEG_UUID_RE = (
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)
_SEG_HEX_RE = "^[0-9a-fA-F]{8,}$"
_SEG_MIXED_RE = "[0-9]"


def _seg_class_py(seg: str) -> str:
    if re.match(_SEG_NUM_RE, seg):
        return "<n>"
    if re.match(_SEG_UUID_RE, seg):
        return "<uuid>"
    if re.match(_SEG_HEX_RE, seg):
        return "<hex>"
    if re.search(_SEG_MIXED_RE, seg):
        return "<mix>"
    return seg.lower()


def url_template_py(url: str) -> str | None:
    """Twin of the :func:`url_template` column — the generalized shape of
    a crawl url: lowercased authority, each path segment replaced by its
    class (``<n>`` all-digits, ``<uuid>``, ``<hex>`` long hex ids,
    ``<mix>`` digit-bearing, else the literal lowercased segment), query
    parameter NAMES kept sorted-distinct with values wildcarded. None
    for urls the shared well-formed-url regex rejects (both engines
    drop them)."""
    from logagg.textfns import _URL_SPLIT_RE

    m = _URL_SPLIT_RE.match(url or "")
    if not m or not m.group(2):
        return None
    host = m.group(2).lower()
    segs = [_seg_class_py(s) for s in m.group(3).split("/") if s]
    names = sorted(
        {p.split("=", 1)[0] for p in (m.group(4) or "").split("&") if p}
    )
    out = host + "/" + "/".join(segs)
    if names:
        out += "?" + "&".join(n + "=*" for n in names)
    return out


def url_template(url: Column) -> Column:
    """Pure-Catalyst url → template column (see :func:`url_template_py`
    for the contract). NULL for unparseable urls — template mining is a
    diagnostic over the well-formed crawl space; junk urls are counted
    by volume elsewhere (``cap_per_domain``'s junk group)."""
    auth = F.lower(F.try_parse_url(url, F.lit("AUTHORITY")))
    path = F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit(""))
    query = F.coalesce(F.try_parse_url(url, F.lit("QUERY")), F.lit(""))
    segs = F.transform(
        F.filter(F.split(path, "/"), lambda s: s != ""),
        lambda s: (
            F.when(s.rlike(_SEG_NUM_RE), "<n>")
            .when(s.rlike(_SEG_UUID_RE), "<uuid>")
            .when(s.rlike(_SEG_HEX_RE), "<hex>")
            .when(s.rlike(_SEG_MIXED_RE), "<mix>")
            .otherwise(F.lower(s))
        ),
    )
    names = F.array_sort(
        F.array_distinct(
            F.transform(
                F.filter(F.split(query, "&"), lambda p: p != ""),
                lambda p: F.regexp_extract(p, "^([^=]*)", 1),
            )
        )
    )
    qs = F.array_join(F.transform(names, lambda n: F.concat(n, F.lit("=*"))), "&")
    tpl = F.concat(
        auth,
        F.lit("/"),
        F.array_join(segs, "/"),
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )
    # try_parse_url(AUTHORITY) parses some scheme-less junk; gate on the
    # twin's well-formedness regex so both engines drop the same rows
    well_formed = url.rlike("^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]")
    return F.when(well_formed, tpl)


def url_templates(
    urls: DataFrame,
    *,
    url_col: str = "url",
    min_pages: int = 100,
    trap_share: float = 0.2,
) -> DataFrame:
    """Mine per-host URL templates and flag crawler-trap candidates —
    ``(host, template, n_pages, host_pages, share, trap_candidate)``.
    A template owning ``trap_share`` of a host's distinct urls with at
    least ``min_pages`` pages is the calendar-page / session-id /
    faceted-navigation signature: an unbounded generated url space that
    eats crawl budget without adding content. Feed the flagged templates
    back into the frontier as disallow patterns (the reference's routing
    step decides where records go; this decides what not to fetch).

    Scale shape: distinct urls → one map-only template projection (all
    Catalyst, zero Python) → one partial+final count per (host,
    template) → host totals are a SECOND aggregation of the (already
    host×template-sized) counts, joined back on host — the corpus is
    never shuffled twice and no window touches a whole host's rows."""
    u = F.col(url_col)
    tpl = (
        urls.select(u.cast("string").alias(url_col))
        .dropDuplicates([url_col])
        .select(url_template(u).alias("template"))
        .filter(F.col("template").isNotNull())
        .withColumn("host", F.split_part(F.col("template"), F.lit("/"), F.lit(1)))
    )
    counts = tpl.groupBy("host", "template").agg(F.count("*").alias("n_pages"))
    totals = counts.groupBy("host").agg(F.sum("n_pages").alias("host_pages"))
    share = F.col("n_pages") / F.col("host_pages")
    return (
        counts.join(totals, "host")
        .select(
            "host",
            "template",
            "n_pages",
            "host_pages",
            share.alias("share"),
            (
                (F.col("n_pages") >= min_pages) & (share >= trap_share)
            ).alias("trap_candidate"),
        )
    )


def url_templates_py(
    urls: list[str], *, min_pages: int = 100, trap_share: float = 0.2
) -> dict[tuple[str, str], tuple[int, int, float, bool]]:
    """Driver-side twin — ``{(host, template): (n_pages, host_pages,
    share, trap_candidate)}`` over distinct well-formed urls."""
    from collections import Counter

    tpls = Counter()
    for url in set(urls):
        t = url_template_py(url)
        if t is not None:
            tpls[t] += 1
    host_totals: Counter = Counter()
    for t, c in tpls.items():
        host_totals[t.split("/", 1)[0]] += c
    out = {}
    for t, c in tpls.items():
        host = t.split("/", 1)[0]
        tot = host_totals[host]
        share = c / tot
        out[(host, t)] = (c, tot, share, c >= min_pages and share >= trap_share)
    return out


# ---------------------------------------------------------------------------
# Recrawl scheduling: change-rate estimation from fetch history
# ---------------------------------------------------------------------------

def change_rates(
    history: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "fetch_ts",
    digest_col: str = "digest",
    horizon_days: float = 7.0,
) -> DataFrame:
    """Per-url change-rate estimate from a fetch-history table of
    ``(url, fetch_ts, content_digest)`` observations — the recrawl
    scheduler's input: ``(url, n_fetches, n_changes, span_s,
    lambda_day, p_stale, priority)``.

    Estimator (Cho & Garcia-Molina 2003, "Estimating Frequency of
    Change" — public): with ``n`` observed intervals and ``x`` of them
    showing a digest change, ``λ̂ = -ln((n - x + 0.5)/(n + 0.5)) /
    avg_interval`` (the +0.5 regularizer keeps x = n finite), in
    changes/day. ``p_stale = 1 - e^(-λ̂·horizon_days)`` is the
    probability the copy is stale ``horizon_days`` after the last
    fetch; ``priority`` = p_stale with NULL (single fetch, or zero
    observed span) defaulting to 1.0 — never-validated urls are
    explored first. A page never seen to change gets λ̂ = 0 exactly.

    Scale shape: exact-duplicate observations collapse map-side, then
    ONE partial+final aggregate per url builds the (ts, digest)-sorted
    history array (per-url history is fetch-count-bounded — tiny), and
    every downstream stat is a Catalyst array expression over it: zero
    Python, zero windows, one shuffle. The expression text (division
    order included) is mirrored by :func:`change_rates_py` so both
    engines round identically."""
    u = F.col(url_col).cast("string").alias("url")
    # numeric epoch-seconds stay numeric (a timestamp round-trip would
    # truncate to microseconds and diverge from the twin's float math);
    # timestamp/NTZ columns go via cast("timestamp") (pinned-UTC session)
    ts_type = dict(history.dtypes).get(ts_col, "")
    if ts_type.startswith("timestamp"):
        t = F.col(ts_col).cast("timestamp").cast("double").alias("_t")
    else:
        t = F.col(ts_col).cast("double").alias("_t")
    d = F.col(digest_col).cast("string").alias("_d")
    obs = (
        history.select(u, t, d)
        .filter(
            F.col("url").isNotNull()
            & F.col("_t").isNotNull()
            & F.col("_d").isNotNull()
        )
    )
    # collect_set dedupes repeated observations INSIDE the aggregate —
    # map-side partials included — so the whole history build is one
    # shuffle (a dropDuplicates first would add a second exchange)
    hist = obs.groupBy("url").agg(
        F.array_sort(F.collect_set(F.struct("_t", "_d"))).alias("_h")
    )
    n_fetches = F.size("_h")
    n = n_fetches - F.lit(1)
    steps = F.zip_with(
        F.slice("_h", 1, F.greatest(n, F.lit(0))),
        F.slice(F.col("_h"), 2, F.greatest(n, F.lit(0))),
        lambda a, b: a["_d"] != b["_d"],
    )
    n_changes = F.size(F.filter(steps, lambda x: x))
    span = (
        F.element_at("_h", -1)["_t"] - F.element_at("_h", 1)["_t"]
    )
    stats = hist.select(
        "url",
        n_fetches.alias("n_fetches"),
        F.when(n >= 1, n_changes).otherwise(F.lit(0)).alias("n_changes"),
        F.when(n >= 1, span).otherwise(F.lit(0.0)).alias("span_s"),
    )
    nn = F.col("n_fetches") - 1
    x = F.col("n_changes")
    avg_days = (F.col("span_s") / nn) / F.lit(86400.0)
    lam = -F.log((nn - x + 0.5) / (nn + 0.5)) / avg_days
    defined = (nn >= 1) & (F.col("span_s") > 0)
    lam_col = F.when(defined, lam)
    p_stale = F.when(
        defined, 1.0 - F.exp(-lam_col * F.lit(float(horizon_days)))
    )
    return stats.select(
        "url",
        "n_fetches",
        "n_changes",
        "span_s",
        lam_col.alias("lambda_day"),
        p_stale.alias("p_stale"),
        F.coalesce(p_stale, F.lit(1.0)).alias("priority"),
    )


def change_rates_py(
    history: list[tuple[str, float, str]], *, horizon_days: float = 7.0
) -> dict[str, tuple[int, int, float, float | None, float | None, float]]:
    """Driver-side twin — ``{url: (n_fetches, n_changes, span_s,
    lambda_day, p_stale, priority)}`` over distinct observations."""
    import math
    from collections import defaultdict

    per: dict[str, set] = defaultdict(set)
    for url, ts, dig in history:
        if url is not None and ts is not None and dig is not None:
            per[url].add((float(ts), dig))
    out = {}
    for url, obs in per.items():
        h = sorted(obs)
        nf = len(h)
        n = nf - 1
        if n >= 1:
            x = sum(1 for a, b in zip(h, h[1:]) if a[1] != b[1])
            span = h[-1][0] - h[0][0]
        else:
            x, span = 0, 0.0
        if n >= 1 and span > 0:
            avg_days = (span / n) / 86400.0
            lam = -math.log((n - x + 0.5) / (n + 0.5)) / avg_days
            p = 1.0 - math.exp(-lam * horizon_days)
            out[url] = (nf, x, span, lam, p, p)
        else:
            out[url] = (nf, x, span, None, None, 1.0)
    return out


# ---------------------------------------------------------------------------
# Per-host crawl-budget allocation
# ---------------------------------------------------------------------------

_HOST_SENTINEL = "\x00invalid"


def _budget_host_py(url: str) -> str:
    """Twin of the politeness host key: ``try_parse_url(HOST)`` with the
    junk sentinel (contract pinned for well-formed urls; junk urls pool
    into one bounded pseudo-host, as in ``cap_per_domain``)."""
    from logagg.textfns import _URL_SPLIT_RE

    m = _URL_SPLIT_RE.match(url or "")
    if not m or not m.group(2):
        return _HOST_SENTINEL
    return re.sub(r":[0-9]+$", "", m.group(2).rsplit("@", 1)[-1])


def crawl_budget(
    priorities: DataFrame,
    total_budget: int,
    *,
    url_col: str = "url",
    priority_col: str = "priority",
    authority: DataFrame | None = None,
    delays: DataFrame | None = None,
    default_delay: float = 1.0,
    window_s: float = 3600.0,
) -> DataFrame:
    """Allocate a global fetch budget across hosts for one scheduling
    window — ``(host, n_urls, demand, polite_cap, budget)``. The
    composition point of the round's crawl signals: per-url
    ``priority`` (from :func:`change_rates` — staleness), per-host
    ``authority`` weights (:func:`logagg.linkgraph.authority_weights`),
    and per-host ``delays`` (:func:`crawl_delays` — politeness).

    * ``demand`` = Σ url priority × host authority (absent hosts weigh
      1.0) — how much the window WANTS this host.
    * ``polite_cap`` = ⌊window_s / delay⌋ + 1 — the most a polite
      fetcher can do (fetch at t = 0, then one per delay); no positive
      delay → capped only by the url count.
    * ``budget`` = min(n_urls, polite_cap, ⌊total_budget × demand /
      Σ demand⌋) — one-shot proportional allocation, deterministic and
      twin-exact; budget freed by capped hosts is deliberately NOT
      redistributed (an iterative water-fill would couple every host's
      allocation to every other's — re-run next window instead, the
      windows are short).

    Scale shape: one partial+final agg per host over the frontier, two
    broadcast joins of host-sized tables, ONE scalar (Σ demand) to the
    driver, map-side arithmetic out. Feed the result to
    :func:`politeness_schedule` callers as the per-host row cap."""
    hkey = F.coalesce(
        F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit(_HOST_SENTINEL)
    )
    per_host = (
        priorities.select(
            hkey.alias("host"),
            F.col(priority_col).cast("double").alias("_p"),
        )
        .groupBy("host")
        .agg(F.count("*").alias("n_urls"), F.sum("_p").alias("_psum"))
    )
    if authority is not None:
        a = F.broadcast(
            authority.select(F.col("host"), F.col("weight").alias("_w"))
        )
        per_host = per_host.join(a, "host", "left")
    else:
        per_host = per_host.withColumn("_w", F.lit(None).cast("double"))
    demand = F.col("_psum") * F.coalesce(F.col("_w"), F.lit(1.0))
    per_host = per_host.select("host", "n_urls", demand.alias("demand"))
    if delays is not None:
        d = F.broadcast(delays.select("host", F.col("delay").alias("_d")))
        per_host = per_host.join(d, "host", "left")
    else:
        per_host = per_host.withColumn("_d", F.lit(None).cast("double"))
    delay = F.coalesce(F.col("_d"), F.lit(float(default_delay)))
    cap = F.when(
        delay > 0,
        F.floor(F.lit(float(window_s)) / delay).cast("long") + 1,
    ).otherwise(F.col("n_urls").cast("long"))
    per_host = per_host.select(
        "host", "n_urls", "demand", cap.alias("polite_cap")
    )
    total_demand = per_host.agg(F.sum("demand")).collect()[0][0] or 0.0
    if total_demand <= 0.0:
        share = F.lit(0)
    else:
        share = F.floor(
            F.lit(float(total_budget)) * F.col("demand") / F.lit(total_demand)
        )
    return per_host.withColumn(
        "budget",
        F.least(
            F.col("n_urls").cast("long"),
            F.col("polite_cap"),
            share.cast("long"),
        ),
    )


def crawl_budget_py(
    priorities: list[tuple[str, float]],
    total_budget: int,
    *,
    authority: dict[str, float] | None = None,
    delays: dict[str, float] | None = None,
    default_delay: float = 1.0,
    window_s: float = 3600.0,
) -> dict[str, tuple[int, float, int, int]]:
    """Driver-side twin — ``{host: (n_urls, demand, polite_cap,
    budget)}``, same expressions in the same order."""
    import math
    from collections import defaultdict

    counts: dict[str, int] = defaultdict(int)
    psums: dict[str, float] = defaultdict(float)
    for url, p in priorities:
        h = _budget_host_py(url)
        counts[h] += 1
        psums[h] += float(p)
    demand = {
        h: psums[h] * (authority or {}).get(h, 1.0) for h in counts
    }
    total_demand = sum(demand.values())
    out = {}
    for h, n in counts.items():
        delay = (delays or {}).get(h, default_delay)
        cap = int(math.floor(window_s / delay)) + 1 if delay > 0 else n
        if total_demand <= 0.0:
            share = 0
        else:
            share = int(math.floor(total_budget * demand[h] / total_demand))
        out[h] = (n, demand[h], cap, min(n, cap, share))
    return out


# ---------------------------------------------------------------------------
# Crawl snapshot diffing
# ---------------------------------------------------------------------------

def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    url_col: str = "url",
    text_col: str = "text",
    digest_col: str | None = None,
) -> DataFrame:
    """Per-host drift report between two crawl snapshots — ``(host,
    n_old, n_new, added, removed, changed, unchanged, churn)``. The
    monitoring companion to :func:`change_rates`: change_rates watches
    one url across fetches, this watches the whole corpus across two
    crawls (new sections, die-offs, template rollouts show up as
    per-host added/removed/changed spikes; ``churn`` = (added + removed
    + changed) / n_old, NULL for hosts new this crawl).

    Pages key on ``canonical_url`` (alias-proof), content on md5 of
    ``text_col`` (or a precomputed ``digest_col``). Within a snapshot,
    duplicate canonical keys keep the min digest — deterministic and
    twin-exact.

    Scale shape: one partial+final (key → min digest) agg per snapshot,
    ONE full-outer join on the canonical key (both sides shuffle once,
    co-partitioned), then a host-sized rollup. Nothing touches the
    driver."""
    def keyed(df: DataFrame, name: str) -> DataFrame:
        dig = (
            F.col(digest_col).cast("string")
            if digest_col
            else F.md5(F.col(text_col).cast("string").cast("binary"))
        )
        return (
            df.select(
                textstats.canonical_url(F.col(url_col)).alias("_k"),
                dig.alias(name),
            )
            .filter(F.col("_k").isNotNull() & F.col(name).isNotNull())
            .groupBy("_k")
            .agg(F.min(name).alias(name))
        )

    o, n = keyed(old, "_do"), keyed(new, "_dn")
    joined = o.join(n, "_k", "full_outer").select(
        F.coalesce(
            F.try_parse_url(F.col("_k"), F.lit("HOST")), F.lit(_HOST_SENTINEL)
        ).alias("host"),
        F.col("_do").isNotNull().cast("int").alias("_in_old"),
        F.col("_dn").isNotNull().cast("int").alias("_in_new"),
        (F.col("_do").isNull() & F.col("_dn").isNotNull())
        .cast("int")
        .alias("_added"),
        (F.col("_do").isNotNull() & F.col("_dn").isNull())
        .cast("int")
        .alias("_removed"),
        (
            F.col("_do").isNotNull()
            & F.col("_dn").isNotNull()
            & (F.col("_do") != F.col("_dn"))
        )
        .cast("int")
        .alias("_changed"),
        (F.col("_do") == F.col("_dn")).cast("int").alias("_unchanged"),
    )
    agg = joined.groupBy("host").agg(
        F.sum("_in_old").alias("n_old"),
        F.sum("_in_new").alias("n_new"),
        F.sum("_added").alias("added"),
        F.sum("_removed").alias("removed"),
        F.sum("_changed").alias("changed"),
        F.sum(F.coalesce(F.col("_unchanged"), F.lit(0))).alias("unchanged"),
    )
    churn = F.when(
        F.col("n_old") > 0,
        (F.col("added") + F.col("removed") + F.col("changed"))
        / F.col("n_old"),
    )
    return agg.withColumn("churn", churn)


def snapshot_diff_py(
    old: list[tuple[str, str]], new: list[tuple[str, str]]
) -> dict[str, tuple[int, int, int, int, int, int, float | None]]:
    """Driver-side twin over ``[(url, text)]`` snapshots — ``{host:
    (n_old, n_new, added, removed, changed, unchanged, churn)}``."""
    import hashlib
    from collections import defaultdict

    from logagg.textfns import canonical_url_py

    def keyed(pages):
        m: dict[str, str] = {}
        for u, t in pages:
            if u is None or t is None:
                continue
            k = canonical_url_py(u)
            d = hashlib.md5(t.encode()).hexdigest()
            m[k] = d if k not in m else min(m[k], d)
        return m

    o, n = keyed(old), keyed(new)
    rows: dict[str, list[int]] = defaultdict(lambda: [0] * 6)
    for k in o.keys() | n.keys():
        h = _budget_host_py(k)
        r = rows[h]
        r[0] += k in o
        r[1] += k in n
        r[2] += k not in o and k in n
        r[3] += k in o and k not in n
        r[4] += k in o and k in n and o[k] != n[k]
        r[5] += k in o and k in n and o[k] == n[k]
    return {
        h: (*r, ((r[2] + r[3] + r[4]) / r[0]) if r[0] > 0 else None)
        for h, r in rows.items()
    }


# ---------------------------------------------------------------------------
# Sitemap discovery from robots.txt
# ---------------------------------------------------------------------------

def robots_sitemaps_py(body: str) -> list[str]:
    """``Sitemap:`` directives of one robots.txt body, in file order,
    deduplicated. Per RFC 9309 §2.2.4 sitemap lines are group-INDEPENDENT
    (they apply regardless of user-agent), which is why
    :func:`parse_robots_py` rightly ignores them — discovery is a
    separate concern from exclusion."""
    out: list[str] = []
    seen: set[str] = set()
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        field, _, value = line.partition(":")
        if field.strip().lower() == "sitemap":
            v = value.strip()
            # the value is ONE url token (both engines reject embedded
            # whitespace — the Spark side's regex is `(\S+)` anchored)
            if v and not re.search(r"\s", v) and v not in seen:
                seen.add(v)
                out.append(v)
    return out


def robots_sitemaps(
    robots: DataFrame, *, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """``(host, body)`` robots fetches → ``(host, sitemap_url)`` rows,
    ready for :func:`parse_sitemaps`. Pure Catalyst: split lines, strip
    comments, case-insensitive ``sitemap:`` prefix match, trim —
    map-only, no Python, no shuffle. Dedup is per (host, url) via the
    same in-order first-occurrence the twin produces (array_distinct
    preserves first occurrence)."""
    lines = F.split(F.col(body_col), "\n")
    vals = F.transform(
        lines,
        lambda ln: F.regexp_extract(
            F.split_part(ln, F.lit("#"), F.lit(1)),
            r"(?i)^\s*sitemap\s*:\s*(\S+)\s*$",
            1,
        ),
    )
    urls = F.array_distinct(F.filter(vals, lambda v: v != ""))
    return robots.select(
        F.col(host_col).alias("host"), F.explode(urls).alias("sitemap_url")
    )


def fetch_plan(
    priorities: DataFrame,
    total_budget: int,
    *,
    url_col: str = "url",
    priority_col: str = "priority",
    authority: DataFrame | None = None,
    delays: DataFrame | None = None,
    default_delay: float = 1.0,
    window_s: float = 3600.0,
) -> DataFrame:
    """The executable fetch list for one scheduling window — the
    composition of :func:`crawl_budget` (how many fetches each host
    gets) and :func:`politeness_schedule` (which urls, in which order,
    at which offsets): input rows whose per-host priority slot fits the
    host's budget, with ``(host, slot, not_before_s)`` attached. A
    worker partition-by-host executes rows in slot order, sleeping to
    each offset; everything past the budget waits for the next window.

    Invariant worth its name: the politeness cap inside the budget
    (⌊window/delay⌋ + 1) guarantees every planned ``not_before_s`` =
    (slot−1)·delay lands INSIDE the window.

    Scale shape: the budget table is host-sized and joins broadcast;
    the schedule is the one politeness shuffle; the slot filter is
    map-side. One extra scalar (Σ demand, inside crawl_budget) is the
    only driver traffic."""
    budgets = crawl_budget(
        priorities,
        total_budget,
        url_col=url_col,
        priority_col=priority_col,
        authority=authority,
        delays=delays,
        default_delay=default_delay,
        window_s=window_s,
    )
    sched = politeness_schedule(
        priorities,
        url_col=url_col,
        delays=delays,
        default_delay=default_delay,
        priority=F.col(priority_col),
    )
    return sched.join(
        F.broadcast(budgets.select("host", "budget")), "host"
    ).filter(F.col("slot") <= F.col("budget")).drop("budget")


def fetch_plan_py(
    priorities: list[tuple[str, float]],
    total_budget: int,
    *,
    authority: dict[str, float] | None = None,
    delays: dict[str, float] | None = None,
    default_delay: float = 1.0,
    window_s: float = 3600.0,
) -> dict[str, tuple[str, int, float]]:
    """Driver-side twin — ``{url: (host, slot, not_before_s)}`` for the
    planned fetches, same order key as the engine's politeness window
    (priority desc, md5(url) hex, url)."""
    import hashlib
    from collections import defaultdict

    budgets = crawl_budget_py(
        priorities,
        total_budget,
        authority=authority,
        delays=delays,
        default_delay=default_delay,
        window_s=window_s,
    )
    by_host: dict[str, list] = defaultdict(list)
    for url, p in priorities:
        h = _budget_host_py(url)
        by_host[h].append(
            (-float(p), hashlib.md5(url.encode()).hexdigest(), url)
        )
    out = {}
    for h, rows in by_host.items():
        delay = (delays or {}).get(h, default_delay)
        budget = budgets[h][3]
        rows.sort()
        for slot, (_, _, url) in enumerate(rows, start=1):
            if slot > budget:
                break
            out[url] = (h, slot, (slot - 1) * delay)
    return out

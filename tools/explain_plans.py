"""Print formatted physical plans for the headline queries and grep them for
the properties that matter at scale:

* parquet scans show PushedFilters / pruned ReadSchema (no ``html`` unless
  the operator needs it)
* lookup joins are BroadcastHashJoin, fact-side joins have no needless
  shuffles
* relational sections run inside WholeStageCodegen

Usage: python tools/explain_plans.py [query ...]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.01"

CHECKS = {
    "parse_records": {
        "must_not": [r"ReadSchema:.*html"],  # column pruning through mapInPandas
        "want": [r"ArrowEvalPython|MapInPandas"],
    },
    "enrich_geo_counts": {"want": [r"BroadcastHashJoin"], "must_not": [r"SortMergeJoin"]},
    "orders_by_region": {"want": [r"BroadcastHashJoin"]},
    # NOTE: AQE formatted plans (isFinalPlan=false) don't render
    # WholeStageCodegen nodes pre-execution; partial+final HashAggregate and
    # pushdown lines are the reliable static signals.
    "tpch_q1": {
        "want": [r"PushedFilters: \[.*LessThanOrEqual", r"partial_sum"],
    },
    "point_lookup_url": {
        "want": [r"MapInPandas|ArrowEvalPython"],
        "must_not": [r"extracted_text"],  # hand-pruned through the parse UDF
    },
    "sink_agg_hourly": {
        "want": [r"HashAggregate", r"partial_count|partial_sum"],
        "must_not": [r"extracted_text", r"ReadSchema:.*html"],
    },
    "find_node_sorted": {"must_not": [r"extracted_text", r"ReadSchema:.*html"]},
    "host_agg_salted": {"must_not": [r"extracted_text", r"ReadSchema:.*html"]},
    "route_counts": {"must_not": [r"extracted_text", r"ReadSchema:.*html"]},
    "enrich_geo_salted_join": {
        "want": [r"xxhash64"],  # deterministic salt, never an ordinal
        "must_not": [r"monotonically_increasing_id", r"extracted_text"],
    },
    # deepest join tree: all three dims must broadcast; only the
    # lineitem⋈orders fact join may shuffle
    "tpch_q9_profit": {
        "want": [r"BroadcastHashJoin", r"partial_sum"],
        "must_not": [r"CartesianProduct"],
    },
    # vectorized grok: column pruning must reach the scan (html must not be
    # read), and the pattern-derived literal pre-filter must sit ON the
    # pages scan — below the parse UDF — as a pushed parquet filter
    "grok_error_codes": {
        "want": [
            r"MapInPandas|ArrowEvalPython",
            r"PushedFilters: \[.*StringContains\(text,ErrorCode\)",
        ],
        "must_not": [r"ReadSchema:.*html", r"extracted_text"],
    },
    # the stack pattern's literal comes from a token BODY (JAVAFILE →
    # ".java") — it must still land on the pages scan
    "grok_stack_frames": {
        "want": [r"PushedFilters: \[.*StringContains\(text,\.java\)"],
        "must_not": [r"ReadSchema:.*html", r"extracted_text"],
    },
    # native sessionization: one shuffle on the grouping key, no joins
    "user_session_windows": {
        "want": [r"session_window", r"HashAggregate|SortAggregate"],
        "must_not": [r"CartesianProduct", r"MapInPandas"],
    },
    # frame-sampling schedule is pure Catalyst: explode, zero Python
    "media_frame_sample": {
        "want": [r"Generate", r"explode\(sequence"],
        "must_not": [r"MapInPandas|ArrowEvalPython", r"ReadSchema:.*text"],
    },
    "signup_cohorts": {"must_not": [r"CartesianProduct"]},
    # the dominant regex is projected ONCE and both aggregates consume the
    # column — an inlined form would evaluate it per-aggregate (2× cost)
    "doc_bpe_token_stats": {
        "want": [r"regexp_extract_all"],
        "count_max": {r"regexp_extract_all": 1},
    },
}


def grok_escape_contract(spark, sf_dir: str = SF_DIR) -> list[str]:
    """CI-pin the grok pushdown soundness contract from BOTH sides for
    patterns containing numeric escapes (the round-4 unsoundness class):

    * a ``\\xHH`` escape must push its DECODED char as the scan literal
      (``fail\\x3dcode`` → ``StringContains(text,fail=code)``), never the
      raw hex digits;
    * an octal/backreference escape is variable text — the derived filter
      must degrade to lit(True), i.e. NO StringContains reaches the scan.

    Returns a list of failure strings (empty = contract holds).
    """
    import __spark_entry__ as entrymod
    from logagg.grok import GrokPattern, pushdown_filter

    failures: list[str] = []
    pages = entrymod._pages(spark, sf_dir)

    hex_pat = GrokPattern(r"fail\x3dcode %{INT:n}")
    if hex_pat.scan_literal != "fail=code":
        failures.append(f"hex escape literal wrong: {hex_pat.scan_literal!r}")
    plan_df = pages.filter(pushdown_filter("text", hex_pat)).select("url")
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    if not re.search(r"PushedFilters: \[.*StringContains\(text,fail=code\)", buf.getvalue()):
        failures.append("hex-escape pattern: decoded literal not pushed to scan")
    if re.search(r"StringContains\(text,(?:3d|aa|x3d)", buf.getvalue()):
        failures.append("hex-escape pattern: RAW HEX DIGITS pushed (unsound)")

    octal_pat = GrokPattern(r"\101\102 %{INT:n}")
    if octal_pat.scan_literal:
        failures.append(f"octal escape claimed a literal: {octal_pat.scan_literal!r}")
    f = pushdown_filter("text", octal_pat)
    plan_df2 = pages.filter(f).select("url")
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        plan_df2.explain("formatted")
    if re.search(r"PushedFilters: \[.*StringContains", buf2.getvalue()):
        failures.append("octal-escape pattern: a StringContains was pushed (must be lit(True))")
    # lit(True) must be a true no-op, not just unpushed
    if pages.filter(f).count() != pages.count():
        failures.append("octal-escape filter dropped rows (must be a no-op)")
    return failures


def pack_plan_contract(spark) -> list[str]:
    """CI-pin the scale shape of textstats.pack_sequences: the running sum
    must be a window PARTITIONED by the hash bucket — the plan must never
    contain a single-partition exchange (the classic global-order window
    collapse that serializes a 10^12-row packing job onto one task).

    Returns a list of failure strings (empty = contract holds)."""
    from logagg import textstats

    failures: list[str] = []
    df = spark.range(10_000).selectExpr("id AS doc_id", "id % 997 AS n_tokens")
    plan_df = textstats.pack_sequences(df)
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    if re.search(r"Exchange SinglePartition", plan):
        failures.append("pack_sequences: single-partition exchange (global window)")
    if not re.search(r"Window", plan):
        failures.append("pack_sequences: no Window node (running sum missing)")
    if not re.search(r"hashpartitioning\(bucket", plan):
        failures.append("pack_sequences: window not hash-partitioned by bucket")
    return failures


def model_ops_plan_contract(spark) -> list[str]:
    """CI-pin the scale shape of the model-based ops:

    * ``lm.doc_perplexity`` and ``bpe.bpe_encode`` must be pure
      scan → mapInPandas pipelines — a broadcast model scores/encodes
      embarrassingly parallel, so ANY Exchange in the plan is a bug;
    * the training counts (``lm.unigram_counts``, ``bpe.word_counts``)
      must partial-aggregate before their one hash-partition exchange
      (the shuffle carries distinct grams, not corpus positions).

    Returns a list of failure strings (empty = contract holds)."""
    from logagg import bpe, lm

    failures: list[str] = []
    docs = spark.createDataFrame(
        [(i, "some text here for the plan") for i in range(10)],
        "doc_id long, text string",
    )

    model = lm.LocalLM(vocab={"some": 1, "text": 1}, unk_n=0, total=2)
    bmodel = bpe.BPEModel(merges=[("s", "o")], vocab={"s": 0, "o": 1, "so": 2})
    for name, df in (
        ("lm.doc_perplexity", lm.doc_perplexity(docs, model)),
        ("bpe.bpe_encode", bpe.bpe_encode(docs, bmodel)),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            failures.append(f"{name}: plan contains an Exchange (must be map-only)")
        if "MapInPandas" not in plan:
            failures.append(f"{name}: no MapInPandas node (Arrow kernel missing)")

    # dsir scoring rides the same broadcast-model + map-only contract
    import numpy as np

    from logagg import dsir

    dplan = (
        dsir.with_importance(docs, np.zeros(64), seed="plan")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    if "Exchange" in dplan:
        failures.append("dsir.with_importance: plan contains an Exchange (must be map-only)")
    if "MapInPandas" not in dplan:
        failures.append("dsir.with_importance: no MapInPandas node (Arrow kernel missing)")

    for name, df, key in (
        ("lm.unigram_counts", lm.unigram_counts(docs), "token"),
        ("bpe.word_counts", bpe.word_counts(docs), "word"),
        ("dsir.hash_feature_counts", dsir.hash_feature_counts(docs, buckets=64), "bucket"),
    ):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        if not re.search(r"partial_(count|sum)", plan):
            failures.append(f"{name}: no partial aggregate before the shuffle")
        if not re.search(rf"hashpartitioning\({key}", plan):
            failures.append(f"{name}: exchange not hash-partitioned on {key}")
    return failures


def search_graph_plan_contract(spark) -> list[str]:
    """CI-pin the scale shape of the search/graph ops:

    * ``searchidx.bm25_search`` — the postings scan must carry BOTH a
      partition filter on ``bucket`` (reads ≤ |query-terms| partitions)
      and a pushed ``In(term)`` parquet filter; the per-term df join must
      broadcast; top-k must be TakeOrdered, never a global sort.
    * ``linkgraph.anchor_stats`` — the per-anchor count must partial-
      aggregate BEFORE the top-k window (the window input is distinct
      anchors, not raw inlinks), and no ``collect_list`` may sit below
      that aggregation.

    Returns a list of failure strings (empty = contract holds)."""
    import tempfile

    from logagg import linkgraph, searchidx

    failures: list[str] = []
    docs = spark.createDataFrame(
        [(str(i), f"term{i % 3} words about things {i}") for i in range(30)],
        "id string, text string",
    )
    with tempfile.TemporaryDirectory(prefix="logagg-bm25-plan-") as d:
        idx = f"{d}/idx"
        searchidx.build_index(docs, idx, num_buckets=8)
        q = searchidx.bm25_search(spark, idx, "term1 things", k=5)
        plan = q._jdf.queryExecution().executedPlan().toString()
        if not re.search(r"PartitionFilters: \[.*bucket", plan):
            failures.append("bm25_search: no partition filter on bucket")
        if not re.search(r"PushedFilters: \[.*In\(term", plan):
            failures.append("bm25_search: term IN-list not pushed to the scan")
        if "BroadcastHashJoin" not in plan:
            failures.append("bm25_search: per-term df join is not broadcast")
        if "TakeOrderedAndProject" not in plan:
            failures.append("bm25_search: top-k is not TakeOrdered (global sort?)")
        # force execution so the temp dir isn't needed later
        q.collect()

        # positional index: BM25 must NOT pay for the positions column
        # (parquet column pruning), and phrase queries keep the same
        # bucket pruning + term pushdown
        pidx = f"{d}/pidx"
        searchidx.build_index(docs, pidx, num_buckets=8, positional=True)
        q2 = searchidx.bm25_search(spark, pidx, "term1 things", k=5)
        plan2 = q2._jdf.queryExecution().executedPlan().toString()
        for rs in re.findall(r"ReadSchema: struct<[^>]*>", plan2):
            if "positions" in rs:
                failures.append(
                    "bm25_search(positional index): positions column not "
                    f"pruned from the scan: {rs}"
                )
                break
        q3 = searchidx.phrase_search(spark, pidx, '"term1 words" things', k=5)
        plan3 = q3._jdf.queryExecution().executedPlan().toString()
        if not re.search(r"PartitionFilters: \[.*bucket", plan3):
            failures.append("phrase_search: no partition filter on bucket")
        if not re.search(r"PushedFilters: \[.*In\(term", plan3):
            failures.append("phrase_search: term IN-list not pushed to the scan")
        q3.collect()

        # authority blend: the rank join must broadcast (never shuffle the
        # query-bounded score slice against a host table) and top-k must
        # stay TakeOrdered; bucket pruning survives the extra join
        ranks = spark.createDataFrame(
            [(f"h{i}.com", 0.1 * (i + 1)) for i in range(4)],
            "node string, rank double",
        )
        q4 = searchidx.ranked_search(spark, idx, "term1 things", ranks, k=5)
        plan4 = q4._jdf.queryExecution().executedPlan().toString()
        if "BroadcastHashJoin" not in plan4:
            failures.append("ranked_search: rank join is not broadcast")
        if "SortMergeJoin" in plan4 or "ShuffledHashJoin" in plan4:
            failures.append(
                "ranked_search: a join shuffles (rank table must broadcast)"
            )
        if "TakeOrderedAndProject" not in plan4:
            failures.append("ranked_search: top-k is not TakeOrdered")
        if not re.search(r"PartitionFilters: \[.*bucket", plan4):
            failures.append("ranked_search: bucket pruning lost")
        q4.collect()

    links = spark.createDataFrame(
        [(f"http://h{i % 4}.com/{i}", f"http://t{i % 5}.com/", "anchor text")
         for i in range(40)],
        "url string, dst_url string, anchor string",
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        linkgraph.anchor_stats(links).explain("formatted")
    plan = buf.getvalue()
    if not re.search(r"partial_count", plan):
        failures.append("anchor_stats: no partial aggregate before the shuffle")
    if "Window" not in plan:
        failures.append("anchor_stats: top-k window missing")
    # the only collect_list allowed is the post-window ≤top_k assembly of
    # (_rk, _anchor) structs — a collect_list over anything else would be
    # gathering raw inlinks into one task
    for m in re.finditer(r"collect_list\((\w+)?(?:struct)?\(?([^),]*)", plan):
        if "_rk" not in m.group(0) and "struct" not in m.group(0):
            failures.append(
                f"anchor_stats: collect_list over raw rows: {m.group(0)!r}"
            )
            break
    return failures


def crawl_ops_plan_contract(spark) -> list[str]:
    """CI-pin the scale shape of the round-5 crawl/search additions:

    * ``frontier.url_templates`` — pure-Catalyst template projection
      (zero Python nodes), partial+final counts, and NO single-partition
      exchange (a global window over hosts would serialize the crawl).
    * ``frontier.change_rates`` — exactly ONE hash exchange (the per-url
      history agg), zero Python, zero windows.
    * ``frontier.crawl_budget`` — authority/delay joins BROADCAST (the
      frontier side never re-shuffles into a host join), exactly one
      hash exchange.
    * ``frontier.snapshot_diff`` — zero Python; the snapshot join is a
      real co-partitioned join, never a broadcast nested loop.
    * ``searchidx.suggest_terms`` — the spell scan is bucket-pruned with
      the variant IN-list pushed, top-k is TakeOrdered.
    * ``searchidx.more_like_this`` — scoring rides the same bucket-pruned
      + term-pushed postings slice as bm25_search, TakeOrdered top-k.

    Returns failure strings (empty = contract holds)."""
    import tempfile

    from logagg import frontier, searchidx

    failures: list[str] = []
    urls = spark.createDataFrame(
        [(f"http://h{i % 5}.com/a/{i}", float(i % 3) / 2) for i in range(50)],
        "url string, priority double",
    )

    def plan_of(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    p = plan_of(frontier.url_templates(urls))
    if re.search(r"BatchEvalPython|ArrowEvalPython|MapInPandas", p):
        failures.append("url_templates: Python in the plan")
    if "partial_count" not in p:
        failures.append("url_templates: counts not partial-aggregated")
    if "Exchange SinglePartition" in p:
        failures.append("url_templates: single-partition exchange")

    hist = spark.createDataFrame(
        [(f"u{i % 7}", float(i) * 3600.0, f"d{i % 2}") for i in range(40)],
        "url string, fetch_ts double, digest string",
    )
    p = plan_of(frontier.change_rates(hist))
    if re.search(r"BatchEvalPython|ArrowEvalPython|MapInPandas", p):
        failures.append("change_rates: Python in the plan")
    if "Window" in p:
        failures.append("change_rates: window function crept in")
    n_ex = p.count("Exchange hashpartitioning")
    if n_ex != 1:
        failures.append(f"change_rates: {n_ex} hash exchanges (want 1)")

    auth = spark.createDataFrame(
        [(f"h{i}.com", 1.0 + i) for i in range(5)], "host string, weight double"
    )
    delays = spark.createDataFrame(
        [(f"h{i}.com", 1.0) for i in range(5)], "host string, delay double"
    )
    p = plan_of(frontier.crawl_budget(urls, 100, authority=auth, delays=delays))
    if p.count("BroadcastHashJoin") != 2:
        failures.append("crawl_budget: authority/delay joins not both broadcast")
    if "SortMergeJoin" in p:
        failures.append("crawl_budget: a host join shuffles")
    n_ex = p.count("Exchange hashpartitioning")
    if n_ex != 1:
        failures.append(f"crawl_budget: {n_ex} hash exchanges (want 1)")

    pages = spark.createDataFrame(
        [(f"http://h{i % 4}.com/p{i}", f"text {i}") for i in range(40)],
        "url string, text string",
    )
    p = plan_of(frontier.snapshot_diff(pages, pages))
    if re.search(r"BatchEvalPython|ArrowEvalPython|MapInPandas", p):
        failures.append("snapshot_diff: Python in the plan")
    if "BroadcastNestedLoopJoin" in p or "CartesianProduct" in p:
        failures.append("snapshot_diff: non-equi join shape")
    if "partial_min" not in p:
        failures.append("snapshot_diff: per-key digest agg not partial")

    docs = spark.createDataFrame(
        [(str(i), f"alpha beta{i % 3} gamma delta {i}") for i in range(30)],
        "id string, text string",
    )
    with tempfile.TemporaryDirectory(prefix="logagg-spell-plan-") as d:
        idx = f"{d}/idx"
        searchidx.build_index(docs, idx, num_buckets=8)
        searchidx.build_spell_index(spark, idx)
        q = searchidx.suggest_terms(spark, idx, "alpa", k=3)
        p = plan_of(q)
        if not re.search(r"PartitionFilters: \[.*bucket", p):
            failures.append("suggest_terms: no partition filter on bucket")
        if not re.search(r"PushedFilters: \[.*In\(variant", p):
            failures.append("suggest_terms: variant IN-list not pushed")
        if "TakeOrderedAndProject" not in p:
            failures.append("suggest_terms: top-k is not TakeOrdered")
        q.collect()

        q2 = searchidx.more_like_this(spark, idx, "alpha gamma delta", k=5)
        p2 = plan_of(q2)
        if not re.search(r"PartitionFilters: \[.*bucket", p2):
            failures.append("more_like_this: no partition filter on bucket")
        if not re.search(r"PushedFilters: \[.*In\(term", p2):
            failures.append("more_like_this: term IN-list not pushed")
        if "BroadcastHashJoin" not in p2:
            failures.append("more_like_this: per-term df join not broadcast")
        if "TakeOrderedAndProject" not in p2:
            failures.append("more_like_this: top-k is not TakeOrdered")
        q2.collect()
    return failures


def sketch_sample_plan_contract(spark) -> list[str]:
    """CI-pin the scale shape of the sketch/sampling additions:

    * ``aggregate.bloom_build`` — exactly ONE hash exchange (the bounded
      bit_or register agg), zero Python nodes.
    * ``aggregate.bloom_probe`` — map-only above the scan: registers
      inlined as a plan literal, no join, no exchange, no Python.
    * ``mix.weighted_sample`` — TakeOrderedAndProject (per-partition
      heaps + k-row driver merge), never a global Sort+Exchange.
    * ``similarity.pca_project`` — one MapInPandas pass, no Exchange.

    Returns failure strings (empty = contract holds)."""
    from logagg import aggregate, mix, similarity

    failures: list[str] = []
    df = spark.createDataFrame(
        [(f"http://h{i % 5}.com/{i}",) for i in range(50)], "url string"
    )

    def plan_of(d) -> str:
        return d._jdf.queryExecution().executedPlan().toString()

    p = plan_of(aggregate.bloom_build(df, "url", n_bits=1 << 12, n_hashes=5))
    if re.search(r"BatchEvalPython|ArrowEvalPython|MapInPandas", p):
        failures.append("bloom_build: Python in the plan")
    n_ex = p.count("Exchange hashpartitioning")
    if n_ex != 1:
        failures.append(f"bloom_build: {n_ex} hash exchanges (want 1)")
    if "partial_bit_or" not in p:
        failures.append("bloom_build: register agg not partial+final")

    p = plan_of(
        aggregate.bloom_probe(df, "url", [0] * 64, n_bits=1 << 12, n_hashes=5)
    )
    if "Exchange" in p:
        failures.append("bloom_probe: a shuffle crept in")
    if "Join" in p:
        failures.append("bloom_probe: registers joined instead of inlined")
    if re.search(r"BatchEvalPython|ArrowEvalPython|MapInPandas", p):
        failures.append("bloom_probe: Python in the plan")

    wdf = spark.createDataFrame(
        [(f"d{i}", 1.0 + i % 3) for i in range(50)], "doc_id string, w double"
    )
    p = plan_of(mix.weighted_sample(wdf, "w", 10))
    if "TakeOrderedAndProject" not in p:
        failures.append("weighted_sample: top-k is not TakeOrdered")

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    model = similarity.pca_fit(emb, 2)
    p = plan_of(similarity.pca_project(emb, model))
    if "Exchange" in p:
        failures.append("pca_project: a shuffle crept in")
    if p.count("MapInPandas") != 1:
        failures.append("pca_project: expected exactly one Arrow pass")
    return failures


def budget_bucket_plan_contract(spark) -> list[str]:
    """CI-pin the scale shape of the recipe-planning ops:

    * ``mix.token_budget_plan``'s only distributed step — the per-source
      token sum — must partial-aggregate before its one hash exchange
      (the shuffle carries #sources rows, not the corpus);
    * ``lm.ppl_buckets``'s OUTPUT plan must be one Arrow scoring pass
      plus a broadcast join of the ≤ #languages cut table — no hash
      exchange of the corpus (the window shuffle lives only in the
      bounded boundary-sampling side, which is collected at build time).

    Returns failure strings (empty = contract holds)."""
    from pyspark.sql import functions as F

    from logagg import lm

    failures: list[str] = []
    docs = spark.createDataFrame(
        [(i, f"text body {i}", "en" if i % 2 else "de", f"s{i % 3}", 9)
         for i in range(30)],
        "doc_id long, text string, lang string, source string, n_tokens long",
    )

    agg = docs.groupBy("source").agg(F.sum(F.col("n_tokens").cast("long")).alias("_t"))
    p = agg._jdf.queryExecution().executedPlan().toString()
    if "partial_sum" not in p:
        failures.append("token_budget_plan: source sums not partial+final")
    n_ex = p.count("Exchange hashpartitioning")
    if n_ex != 1:
        failures.append(f"token_budget_plan: {n_ex} hash exchanges (want 1)")

    model = lm.LocalLM(vocab={"text": 1, "body": 1}, unk_n=0, total=2)
    out = lm.ppl_buckets(docs, model, lang_col="lang", sample_k=8)
    p = out._jdf.queryExecution().executedPlan().toString()
    if p.count("MapInPandas") != 1:
        failures.append("ppl_buckets: expected exactly one Arrow scoring pass")
    if "Exchange hashpartitioning" in p:
        failures.append("ppl_buckets: corpus-side hash shuffle crept in")
    if "BroadcastHashJoin" not in p:
        failures.append("ppl_buckets: cut table not broadcast-joined")
    return failures


def main(only: list[str]) -> int:
    import __spark_entry__ as entrymod
    from logagg.session import get_spark

    spark = get_spark(app_name="plans", master="local[4]")
    qs = entrymod.queries()
    names = only or list(CHECKS)
    rc = 0
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        print(f"{'='*70}\n{name}\n{'='*70}\n{plan}")
        for pat in CHECKS.get(name, {}).get("want", []):
            ok = bool(re.search(pat, plan))
            print(f"  [{'ok' if ok else 'MISSING'}] want: {pat}")
            rc |= 0 if ok else 1
        for pat in CHECKS.get(name, {}).get("must_not", []):
            bad = bool(re.search(pat, plan))
            print(f"  [{'VIOLATION' if bad else 'ok'}] must_not: {pat}")
            rc |= 1 if bad else 0
        for pat, mx in CHECKS.get(name, {}).get("count_max", {}).items():
            n = len(re.findall(pat, plan))
            ok = n <= mx
            print(f"  [{'ok' if ok else 'VIOLATION'}] count_max {mx}: {pat} (found {n})")
            rc |= 0 if ok else 1
    if not only:
        print(f"{'='*70}\ngrok escape-pushdown contract\n{'='*70}")
        fails = grok_escape_contract(spark)
        for msg in fails:
            print(f"  [VIOLATION] {msg}")
        if not fails:
            print("  [ok] decoded-literal pushed; octal degrades to lit(True)")
        rc |= 1 if fails else 0
        print(f"{'='*70}\npack_sequences plan contract\n{'='*70}")
        pfails = pack_plan_contract(spark)
        for msg in pfails:
            print(f"  [VIOLATION] {msg}")
        if not pfails:
            print("  [ok] bucket-partitioned window, no single-partition exchange")
        rc |= 1 if pfails else 0
        print(f"{'='*70}\nmodel-ops (lm/bpe) plan contract\n{'='*70}")
        mfails = model_ops_plan_contract(spark)
        for msg in mfails:
            print(f"  [VIOLATION] {msg}")
        if not mfails:
            print("  [ok] map-only scoring/encoding; partial-agg'd training counts")
        rc |= 1 if mfails else 0
        print(f"{'='*70}\nsearch/graph plan contract\n{'='*70}")
        sfails = search_graph_plan_contract(spark)
        for msg in sfails:
            print(f"  [VIOLATION] {msg}")
        if not sfails:
            print(
                "  [ok] bm25 bucket-pruned + term-pushed + TakeOrdered; "
                "anchor partial-agg before window"
            )
        rc |= 1 if sfails else 0
        print(f"{'='*70}\ncrawl-ops plan contract\n{'='*70}")
        cfails = crawl_ops_plan_contract(spark)
        for msg in cfails:
            print(f"  [VIOLATION] {msg}")
        if not cfails:
            print(
                "  [ok] templates/diff pure-Catalyst; change_rates/budget "
                "one exchange; spell + mlt bucket-pruned TakeOrdered"
            )
        rc |= 1 if cfails else 0
        print(f"{'='*70}\nsketch/sample plan contract\n{'='*70}")
        kfails = sketch_sample_plan_contract(spark)
        for msg in kfails:
            print(f"  [VIOLATION] {msg}")
        if not kfails:
            print(
                "  [ok] bloom build one bounded exchange / probe literal-"
                "inlined join-free; weighted_sample TakeOrdered; "
                "pca_project one Arrow pass no shuffle"
            )
        rc |= 1 if kfails else 0
        print(f"{'='*70}\nbudget/bucket plan contract\n{'='*70}")
        bfails = budget_bucket_plan_contract(spark)
        for msg in bfails:
            print(f"  [VIOLATION] {msg}")
        if not bfails:
            print(
                "  [ok] budget source-sums partial-agg'd; ppl_buckets one "
                "Arrow pass + broadcast cut join, no corpus shuffle"
            )
        rc |= 1 if bfails else 0
    return rc


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

"""Full-text search over the curated corpus: a term-bucketed inverted
index in parquet plus BM25 (Robertson & Zaragoza 2009, public) ranked
retrieval — the "find documents about X" query every web-corpus owner
runs, and the retrieval half of a RAG/dedup-audit loop.

Reference scope note: the reference's query surface is equality filter +
sort + point lookup (aggregator/view.py); free-text relevance ranking is
the webtext-native generalization of its "find this record" queries.

Index layout (``build_index`` → ``<out_dir>/``):

* ``postings/`` — ``(term, id, tf, dl)`` partitioned by
  ``bucket = pmod(xxhash64(term), num_buckets)`` and sorted by ``term``
  within each file. Doc length ``dl`` is DENORMALIZED into every posting
  on purpose: BM25 needs it per hit, and at corpus scale a join from a
  term-sliced posting list back to a corpus-sized docstats table would
  shuffle the whole corpus per query. Repeating a small integer costs
  ~nothing under parquet RLE; the join costs a shuffle.
* ``meta/`` — one row: ``(n_docs, avgdl, num_buckets)``, replaced through
  ``util.swap_dir`` on every build, update and delete.

Query shape (``bm25_search``, the plan that survives 100×): the query's
terms resolve to ≤ |query| buckets, so the scan reads only those
partitions (``PartitionFilters`` on ``bucket`` — pinned in tests) and
pushes ``term IN (...)`` into the parquet scan of the sorted files
(row-group min/max skip). Per-term document frequency is ONE count over
the already-sliced postings, broadcast back; scoring is pure Catalyst
arithmetic; top-k is ``orderBy().limit()`` — TakeOrdered partials, no
global sort. Nothing corpus-sized moves.

Build shape: one ``explode`` of the token array, one partial+final
``(id, term)`` count (the key includes ``id``, so stopword skew cannot
concentrate a term on one task), one ``id``-keyed doc-length agg joined
back map-side-combinable. Token contract pinned to ``[a-z0-9]+`` over
the lowercased text (Java and Python agree byte-for-byte on this class;
:func:`search_tokens_py` is the same regex, single-sourced for the twin
:func:`bm25_search_py`).

Index lifecycle (the continuous-crawl mutation surface — generation
numbers play the role Iceberg sequence numbers play in a real table
format, and every mutation is exact, not approximate):

* every postings/doclens row carries the ``gen`` of the batch that wrote
  it (``build_index`` = 0, each ``update_index`` increments; a constant
  per batch, so parquet RLE stores it for ~nothing).
* ``delete_docs`` appends ``(id, dead_gen=current)`` tombstones — "every
  version of ``id`` at gen ≤ ``dead_gen`` is dead" — and decrements
  ``(n_docs, sum_dl)`` exactly from the victims' stored doc lengths.
  Nothing corpus-sized is rewritten at delete time.
* ``replace_docs`` (re-crawl upsert) = ``delete_docs`` + ``update_index``;
  the new version's rows carry a gen ABOVE the tombstone, so they are
  live while every older version stays masked.
* queries mask the (query-bounded) posting slice against the max-gen
  tombstone per id, so df/tf/dl/n_docs/avgdl all equal a from-scratch
  rebuild over the live set — pinned numerically in tests. With no
  tombstones the mask short-circuits to nothing: zero overhead.
* ``compact_index`` is the batch maintenance job: rewrites postings and
  doclens without dead rows (one file per bucket — the small-files
  answer after k incremental appends), drops the tombstones. Searches
  are identical before/after, also after a crash mid-swap
  (``util.swap_dir``); on a cluster the swap is one Iceberg RTAS.

Phrase search (``positional=True`` at build time): postings gain a
``positions array<int>`` column — which BM25 queries never read (parquet
column pruning: the scan's ReadSchema is pinned positions-free in
tests), so ranked search pays nothing for it. ``phrase_search`` resolves
``"quoted spans"`` by intersecting per-term position lists with pure
Catalyst array ops on the same bucket-pruned slice — adjacency never
touches the corpus text.
"""

from __future__ import annotations

import math
import re
import shutil
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logagg.util import data_files, read_parquet_or_none, recover_swap, swap_dir

# compact_index replaces these through util.swap_dir (and _write_meta the
# meta dir); _read_meta, which every entry point runs first, heals a dead
# swap of any of them
_SWAPPED = ("postings", "doclens")

SEARCH_TOKEN_RE = re.compile(r"[a-z0-9]+")
_TOKEN_RE_LIT = "[a-z0-9]+"
PHRASE_RE = re.compile(r'"([^"]*)"')


def search_tokens_py(text: str) -> list[str]:
    """The pinned search-token contract: lowercase, ``[a-z0-9]+`` runs."""
    return SEARCH_TOKEN_RE.findall(text.lower())


def search_tokens_col(text):
    """Catalyst twin of :func:`search_tokens_py` (same regex, same class
    semantics in Java and Python for ASCII alnum runs)."""
    return F.regexp_extract_all(F.lower(text), F.lit(_TOKEN_RE_LIT), 0)


def _bucket(term_col, num_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(num_buckets)).cast("int")


def build_index(
    docs: DataFrame,
    out_dir: str,
    *,
    id_col: str = "id",
    text_col: str = "text",
    num_buckets: int = 16,
    positional: bool = False,
) -> dict:
    """Tokenize ``docs`` and land the BM25 index under ``out_dir``.
    ``positional=True`` additionally stores per-(doc, term) position
    lists — required by :func:`phrase_search`, invisible to BM25 queries
    (the positions column is pruned out of their parquet scan). Returns
    the corpus meta dict."""
    spark = docs.sparkSession
    postings, dl = _postings_frame(
        docs, id_col, text_col, num_buckets, gen=0, positional=positional
    )
    postings.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{out_dir}/postings"
    )
    dl.write.mode("overwrite").parquet(f"{out_dir}/doclens")
    m = dl.agg(
        F.count("*").alias("n_docs"), F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl")
    ).collect()[0]
    return _write_meta(
        spark, out_dir, m["n_docs"], m["sum_dl"], num_buckets,
        gen=0, positional=positional,
    )


def _postings_frame(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int,
    *,
    gen: int,
    positional: bool,
):
    """``(postings, doc_lengths)`` frames for one document batch at
    generation ``gen``. Postings are co-located per bucket and term-sorted
    within files so parquet row-group min/max statistics make the
    query-time ``term IN (...)`` a skip scan."""
    toks = docs.select(
        F.col(id_col).cast("string").alias("id"),
        search_tokens_col(F.col(text_col)).alias("_toks"),
    )
    g = F.lit(gen).cast("long")
    dl = toks.select("id", F.size("_toks").alias("dl"), g.alias("gen"))
    if positional:
        # one posexplode; tf derived from the position list so the two
        # can never disagree
        tf = (
            toks.select("id", F.posexplode("_toks").alias("pos", "term"))
            .groupBy("id", "term")
            .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
            .withColumn("tf", F.size("positions").cast("long"))
        )
        cols = ["term", "id", "tf", "dl", "gen", "positions"]
    else:
        tf = (
            toks.select("id", F.explode("_toks").alias("term"))
            .groupBy("id", "term")
            .agg(F.count("*").alias("tf"))
        )
        cols = ["term", "id", "tf", "dl", "gen"]
    postings = (
        tf.join(dl.select("id", "dl", "gen"), "id")
        .select(*cols, _bucket(F.col("term"), num_buckets).alias("bucket"))
        .repartition("bucket")
        .sortWithinPartitions("bucket", "term")
    )
    return postings, dl


def _write_meta(
    spark,
    out_dir: str,
    n_docs: int,
    sum_dl: int,
    num_buckets: int,
    *,
    gen: int,
    positional: bool,
) -> dict:
    avgdl = (sum_dl / n_docs) if n_docs else 0.0
    # one JVM-side row: createDataFrame([...]) parallelizes the row over
    # defaultParallelism pickled partitions and coalesce(1) then replays
    # every one of them through a Python worker sequentially — measured
    # 4-6 s per meta rewrite on local[32] (guide §4: keep trivial rows out
    # of the Python boundary entirely)
    row = spark.range(0, 1, 1, 1).select(
        F.lit(int(n_docs)).cast("long").alias("n_docs"),
        F.lit(int(sum_dl)).cast("long").alias("sum_dl"),
        F.lit(float(avgdl)).cast("double").alias("avgdl"),
        F.lit(int(num_buckets)).cast("int").alias("num_buckets"),
        F.lit(int(gen)).cast("long").alias("gen"),
        F.lit(bool(positional)).alias("positional"),
    )
    # swapped, never overwritten in place: a failed write leaves the last meta
    with swap_dir(f"{out_dir}/meta") as tmp:
        row.write.parquet(tmp)
    return {
        "n_docs": n_docs,
        "avgdl": avgdl,
        "num_buckets": num_buckets,
        "gen": gen,
        "positional": positional,
    }


def _read_meta(spark: SparkSession, index_dir: str) -> dict:
    for comp in (*_SWAPPED, "meta"):
        recover_swap(f"{index_dir}/{comp}")
    d = spark.read.parquet(f"{index_dir}/meta").collect()[0].asDict()
    d.setdefault("gen", 0)
    d.setdefault("positional", False)
    d.setdefault("sum_dl", int(round(d["avgdl"] * d["n_docs"])))
    return d


def _tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Max-gen tombstone per id, or ``None`` when no delete ever ran (the
    common case — searches then skip the mask entirely; the existence
    probe in :func:`logagg.util.read_parquet_or_none` keeps that case to
    one metadata RPC per search)."""
    t = read_parquet_or_none(spark, f"{index_dir}/tombstones")
    if t is None:
        return None
    return t.groupBy("id").agg(F.max("dead_gen").alias("_dead_gen"))


def _live(rows: DataFrame, tomb: DataFrame | None) -> DataFrame:
    """Mask dead generations: keep rows whose ``gen`` is above the id's
    tombstone (or untombstoned ids). The join side is the tombstone
    table — deleted-set-sized, AQE broadcasts it when small."""
    if tomb is None:
        return rows
    return (
        rows.join(tomb, "id", "left")
        .filter(F.col("gen") > F.coalesce(F.col("_dead_gen"), F.lit(-1)))
        .drop("_dead_gen")
    )


def update_index(
    docs: DataFrame,
    index_dir: str,
    *,
    id_col: str = "id",
    text_col: str = "text",
) -> dict:
    """Fold a NEW document batch into an existing index — the continuous-
    crawl composition: tokenize only the increment, append its postings
    (at generation ``meta.gen + 1``) to the same bucket layout, and update
    ``(n_docs, sum_dl)`` exactly, so ``bm25_search`` after k updates is
    numerically identical to one rebuild over the union (pinned in
    tests). Doc ids must be new relative to the LIVE set — re-submitting
    a live doc double-counts it (use :func:`replace_docs` for re-crawls;
    dedup upstream exactly as the incremental MinHash index requires).

    Not atomic across the writes (postings + doclens append, then the
    meta swap): on a cluster the group belongs in one table transaction
    (Iceberg); a crash mid-way leaves the meta one batch stale —
    detectable, since meta is rewritten last."""
    spark = docs.sparkSession
    old = _read_meta(spark, index_dir)
    nb, gen = old["num_buckets"], old["gen"] + 1
    postings, dl = _postings_frame(
        docs, id_col, text_col, nb, gen=gen, positional=old["positional"]
    )
    postings.write.mode("append").partitionBy("bucket").parquet(
        f"{index_dir}/postings"
    )
    dl.write.mode("append").parquet(f"{index_dir}/doclens")
    inc = dl.agg(
        F.count("*").alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).collect()[0]
    return _write_meta(
        spark, index_dir, old["n_docs"] + inc["n"], old["sum_dl"] + inc["s"], nb,
        gen=gen, positional=old["positional"],
    )


def delete_docs(
    spark: SparkSession, index_dir: str, ids: DataFrame | Iterable[str]
) -> dict:
    """Tombstone documents — the re-crawl/takedown path. ``ids`` is a
    one-column DataFrame or an iterable of ids. Only CURRENTLY LIVE ids
    take effect (deleting twice is a no-op, ids never indexed are
    ignored), and the meta fold is exact: the victims' doc lengths come
    from the ``doclens`` component, so ``(n_docs, sum_dl, avgdl)`` equal
    a rebuild over the survivors. Nothing corpus-sized is rewritten —
    searches mask the dead generations until :func:`compact_index`
    physically drops them."""
    meta = _read_meta(spark, index_dir)
    if isinstance(ids, DataFrame):
        idf = ids.select(F.col(ids.columns[0]).cast("string").alias("id")).distinct()
    else:
        idf = spark.createDataFrame(
            [(str(i),) for i in ids], "id string"
        ).distinct()
    live = _live(
        spark.read.parquet(f"{index_dir}/doclens"), _tombstones(spark, index_dir)
    )
    dead = live.join(idf, "id", "semi")
    hit = dead.agg(
        F.count("*").alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).collect()[0]
    if hit["n"] == 0:
        return meta
    dead.select(
        "id", F.lit(meta["gen"]).cast("long").alias("dead_gen")
    ).write.mode("append").parquet(f"{index_dir}/tombstones")
    return _write_meta(
        spark, index_dir,
        meta["n_docs"] - hit["n"], meta["sum_dl"] - hit["s"], meta["num_buckets"],
        gen=meta["gen"], positional=meta["positional"],
    )


def replace_docs(
    docs: DataFrame,
    index_dir: str,
    *,
    id_col: str = "id",
    text_col: str = "text",
) -> dict:
    """Upsert a re-crawled batch: tombstone any live prior version of the
    batch's ids, then fold the new texts in as a fresh generation. Ids
    with no prior version are plain adds. After this, searches are
    numerically identical to a rebuild where each id carries its newest
    text (pinned in tests)."""
    spark = docs.sparkSession
    delete_docs(spark, index_dir, docs.select(id_col))
    return update_index(docs, index_dir, id_col=id_col, text_col=text_col)


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Physically drop tombstoned generations and squash the small files
    k incremental appends accumulate: postings are rewritten one file per
    bucket (term-sorted, so row-group skipping survives), doclens to
    ~4M-row files, and the tombstone set is retired. Search results are
    identical before and after (meta was already exact), and after a crash
    at any step: each component is swapped in by :func:`logagg.util.swap_dir`
    (healed by :func:`_read_meta`), the tombstones go last. On a cluster
    this job is one Iceberg RTAS/transaction. Returns ``{files_before,
    files_after}`` over the files a reader sees."""
    meta = _read_meta(spark, index_dir)
    tomb = _tombstones(spark, index_dir)

    def _nfiles() -> int:
        return sum(len(data_files(f"{index_dir}/{comp}")) for comp in _SWAPPED)

    before = _nfiles()
    doclens_parts = max(1, -(-meta["n_docs"] // 4_000_000))
    for comp in _SWAPPED:
        with swap_dir(f"{index_dir}/{comp}") as tmp:
            live = _live(spark.read.parquet(f"{index_dir}/{comp}"), tomb)
            if comp == "postings":
                (
                    live.repartition("bucket")
                    .sortWithinPartitions("bucket", "term")
                    .write.mode("overwrite")
                    .partitionBy("bucket")
                    .parquet(tmp)
                )
            else:
                live.repartition(doclens_parts).write.mode("overwrite").parquet(tmp)
    if tomb is not None:
        shutil.rmtree(f"{index_dir}/tombstones", ignore_errors=True)
    return {"files_before": before, "files_after": _nfiles()}


def _idf(n_docs: int, df_col):
    # BM25+-free classic idf with the +1 smoothing (always positive)
    return F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
    )


def query_postings(
    spark: SparkSession, index_dir: str, terms: list[str],
    *, num_buckets: int | None = None,
) -> DataFrame:
    """The bucket-pruned, term-filtered posting slice for ``terms`` —
    exposed separately so tests can pin ``PartitionFilters`` on its plan.
    ``num_buckets`` skips the meta re-read when the caller already holds
    it (one parquet scan per search, not two)."""
    if num_buckets is None:
        num_buckets = _read_meta(spark, index_dir)["num_buckets"]
    nb = num_buckets
    # bucket ids must come from the JVM xxhash64 — but as ONE 1-partition
    # all-literal row, not a parallelized Python list (createDataFrame of
    # a tiny list scans defaultParallelism pickled partitions through
    # Python workers: ~0.5-1 s of pure overhead per search)
    buckets = sorted(
        set(
            spark.range(0, 1, 1, 1)
            .select(
                *[
                    _bucket(F.lit(t), nb).alias(f"_b{i}")
                    for i, t in enumerate(terms)
                ]
            )
            .collect()[0]
        )
    )
    return (
        spark.read.parquet(f"{index_dir}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(list(terms)))
    )


def _scores(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    tomb: DataFrame | None,
    *,
    k1: float,
    b: float,
) -> DataFrame | None:
    """Unlimited ``(id, score)`` BM25 frame for ``terms`` (tombstone-
    masked), or ``None`` for a degenerate query/index. Shared by
    :func:`bm25_search` and :func:`phrase_search`."""
    if not terms:
        return None
    meta = _read_meta(spark, index_dir)
    n_docs, avgdl = meta["n_docs"], float(meta["avgdl"])
    if n_docs == 0 or avgdl == 0.0:
        return None
    # per-term document frequency over the already-sliced, live postings:
    # ≤ |query| rows, broadcast back
    p = _live(
        query_postings(
            spark, index_dir, terms, num_buckets=meta["num_buckets"]
        ),
        tomb,
    )
    df_t = p.groupBy("term").agg(F.count("*").alias("_df"))
    norm = F.col("tf") * (k1 + 1.0) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    )
    return (
        p.join(F.broadcast(df_t), "term")
        .select("id", (_idf(n_docs, F.col("_df")) * norm).alias("_s"))
        .groupBy("id")
        .agg(F.sum("_s").alias("score"))
    )


def bm25_search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` ``(id, score)`` for ``query`` against a
    :func:`build_index` layout, score-desc then id-asc (total order)."""
    terms = sorted(set(search_tokens_py(query)))
    scored = _scores(
        spark, index_dir, terms, _tombstones(spark, index_dir), k1=k1, b=b
    )
    if scored is None:
        return spark.createDataFrame([], "id string, score double")
    return scored.orderBy(F.desc("score"), F.asc("id")).limit(k)


def ranked_search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    ranks: DataFrame,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    boost: float = 1.0,
    rank_key: str = "host",
) -> DataFrame:
    """Authority-blended search: BM25 relevance × link-graph authority —
    top-``k`` ``(id, score, bm25, rank)``. ``ranks`` is a ``(node, rank)``
    table (:func:`logagg.linkgraph.pagerank` output); ``rank_key="host"``
    (default) keys it by the lowercased host of each hit's url-id,
    ``"id"`` joins page-level ranks directly.

    Blend: ``score = bm25 · (1 + boost · ln(1 + rank/mean_rank))`` —
    multiplicative, so no-match stays no-match; rank-absent ids keep
    factor 1 (no authority evidence ≠ demoted); ``mean_rank`` (one scalar
    aggregate over the host-sized rank table) makes ``boost``
    corpus-size-independent — rank/mean is "times average authority",
    not an absolute probability that shrinks as the graph grows.

    Plan shape: the query-bounded BM25 slice (never the corpus) joins the
    BROADCAST rank table after the score aggregation, then TakeOrdered
    top-k. Total order: blended score desc, id asc."""
    if rank_key not in ("host", "id"):
        raise ValueError(f"rank_key must be 'host' or 'id', got {rank_key!r}")
    terms = sorted(set(search_tokens_py(query)))
    scored = _scores(
        spark, index_dir, terms, _tombstones(spark, index_dir), k1=k1, b=b
    )
    if scored is None:
        return spark.createDataFrame(
            [], "id string, score double, bm25 double, rank double"
        )
    mean_rank = ranks.agg(F.avg("rank")).collect()[0][0] or 0.0
    r = ranks.select(
        F.lower(F.col("node").cast("string")).alias("_rk"),
        F.col("rank").cast("double").alias("rank"),
    )
    key = (
        F.lower(F.expr("try_parse_url(id, 'HOST')"))
        if rank_key == "host"
        else F.lower(F.col("id"))
    )
    out = (
        scored.withColumn("_rk", key)
        .join(F.broadcast(r), "_rk", "left")
        .select(
            "id",
            F.col("score").alias("bm25"),
            F.coalesce("rank", F.lit(0.0)).alias("rank"),
        )
    )
    factor = (
        F.lit(1.0) + F.lit(boost) * F.log1p(F.col("rank") / F.lit(mean_rank))
        if mean_rank > 0.0
        else F.lit(1.0)
    )
    return (
        out.select(
            "id", (F.col("bm25") * factor).alias("score"), "bm25", "rank"
        )
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def _phrase_candidates(
    spark: SparkSession, index_dir: str, phrase: list[str], tomb: DataFrame | None
) -> DataFrame:
    """Ids of live documents containing ``phrase`` as adjacent tokens.
    Pure Catalyst over the bucket-pruned posting slice: per occurrence
    slot i the phrase's i-th term contributes its position list; the
    fold keeps the start positions p with ``p + i`` present in slot i's
    list. Document text is never touched."""
    s = _live(
        query_postings(spark, index_dir, sorted(set(phrase))), tomb
    ).select("id", "term", "positions")
    cur = None
    for i, t in enumerate(phrase):
        ti = s.filter(F.col("term") == t).select(
            "id", F.col("positions").alias(f"_p{i}")
        )
        cur = ti if cur is None else cur.join(ti, "id")
    def _adjacent(i: int):
        # closure factory, NOT a default-arg lambda: a 2-parameter lambda
        # in F.filter means (element, index) and would shadow the capture
        return lambda p: F.array_contains(F.col(f"_p{i}"), p + i)

    starts = F.col("_p0")
    for i in range(1, len(phrase)):
        starts = F.filter(starts, _adjacent(i))
    return cur.filter(F.size(starts) > 0).select("id")


def parse_query_py(query: str) -> tuple[list[list[str]], list[str]]:
    """Split a query into quoted phrases (token lists, order preserved)
    and loose terms — the pinned contract shared by the Spark path and
    the :func:`phrase_search_py` twin."""
    phrases = [
        p for p in (search_tokens_py(m) for m in PHRASE_RE.findall(query)) if p
    ]
    loose = search_tokens_py(PHRASE_RE.sub(" ", query))
    return phrases, loose


def phrase_search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-``k`` restricted to documents containing every
    ``"quoted phrase"`` in ``query`` as adjacent tokens. Collection
    statistics stay whole-corpus (the standard filter-then-rank
    semantics); scoring uses ALL query terms, quoted or loose. Requires
    a ``positional=True`` index. With no quoted phrase this IS
    :func:`bm25_search`."""
    phrases, loose = parse_query_py(query)
    if not phrases:
        return bm25_search(spark, index_dir, query, k=k, k1=k1, b=b)
    if not _read_meta(spark, index_dir)["positional"]:
        raise ValueError(
            "phrase_search needs a positional index — build_index(..., "
            "positional=True)"
        )
    terms = sorted(set(loose) | {t for ph in phrases for t in ph})
    tomb = _tombstones(spark, index_dir)
    scored = _scores(spark, index_dir, terms, tomb, k1=k1, b=b)
    if scored is None:
        return spark.createDataFrame([], "id string, score double")
    for ph in phrases:
        scored = scored.join(
            _phrase_candidates(spark, index_dir, ph, tomb), "id", "semi"
        )
    return scored.orderBy(F.desc("score"), F.asc("id")).limit(k)


def snippet_py(text: str, terms: list[str], width: int = 30) -> str:
    """Best-window snippet: the ``width``-token window with the most
    distinct query terms (ties: more total hits, then earliest). Returns
    the ORIGINAL text span (offsets from the same tokenizer regex), with
    ``…`` ellipses marking truncation. Deterministic; kernel is single-
    sourced for the Spark pass and tests."""
    tset = set(terms)
    toks = list(SEARCH_TOKEN_RE.finditer(text.lower()))
    if not toks:
        return text[: width * 8] + ("…" if len(text) > width * 8 else "")
    hits = [i for i, m in enumerate(toks) if m.group(0) in tset]
    if not hits:
        end = toks[min(width, len(toks)) - 1].end()
        return text[:end] + ("…" if end < len(text) else "")
    best = (-1, -1, 0)  # (#distinct, #hits, -start) maximized
    best_start = 0
    for i in hits:
        lo = max(0, min(i - width // 4, len(toks) - width))
        in_win = [j for j in hits if lo <= j < lo + width]
        key = (
            len({toks[j].group(0) for j in in_win}),
            len(in_win),
            -lo,
        )
        if key > best:
            best, best_start = key, lo
    s = toks[best_start].start()
    e = toks[min(best_start + width, len(toks)) - 1].end()
    return ("…" if s > 0 else "") + text[s:e] + ("…" if e < len(text) else "")


def snippets(
    docs: DataFrame,
    hits: DataFrame,
    query: str,
    *,
    id_col: str = "id",
    text_col: str = "text",
    width: int = 30,
) -> DataFrame:
    """Attach a best-window snippet to each search hit →
    ``(id, score, snippet)``. ``hits`` is a :func:`bm25_search` result
    (columns ``id, score``); ``id_col``/``text_col`` name the DOCS
    frame's columns.

    Scale shape: ``hits`` is a top-k table (bounded by design), so its ids
    are collected and pushed into the docs scan as an ``isin`` parquet
    filter — the corpus is never scanned for a k-row decoration; the
    window selection is one Arrow pass over exactly k documents."""
    import pandas as pd

    terms = sorted(set(search_tokens_py(query)))
    pairs = hits.select("id", "score").collect()
    ids = [r["id"] for r in pairs]
    scores = {r["id"]: r["score"] for r in pairs}
    k = docs.select(
        F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("_t")
    ).filter(F.col("id").isin(ids))

    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "snippet": [snippet_py(t, terms, width) for t in pdf["_t"]],
                }
            )

    snip = k.mapInPandas(kernel, schema="id string, snippet string")
    b = snip.sparkSession.createDataFrame(
        [(i, float(scores[i])) for i in ids], "id string, score double"
    )
    return (
        snip.join(F.broadcast(b), "id")
        .select("id", "score", "snippet")
        .orderBy(F.desc("score"), F.asc("id"))
    )


def _bm25_scores_py(
    docs: dict[str, str], terms: list[str], *, k1: float, b: float
) -> dict[str, float]:
    """Per-doc BM25 scores for ``terms`` over ``{id: text}`` — the shared
    twin core (same tokenizer, idf, tf normalization as the Spark path)."""
    from collections import Counter

    tfs = {i: Counter(search_tokens_py(t)) for i, t in docs.items()}
    dls = {i: sum(c.values()) for i, c in tfs.items()}
    n = len(docs)
    if n == 0:
        return {}
    avgdl = sum(dls.values()) / n
    if avgdl == 0:
        return {}
    dfreq = {t: sum(1 for c in tfs.values() if t in c) for t in terms}
    scores: dict[str, float] = {}
    for i, c in tfs.items():
        s = 0.0
        for t in terms:
            tf = c.get(t, 0)
            if tf == 0 or dfreq[t] == 0:
                continue
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dls[i] / avgdl))
        if s > 0.0:
            scores[i] = s
    return scores


def bm25_search_py(
    docs: dict[str, str],
    query: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> list[tuple[str, float]]:
    """Driver-side BM25 twin over ``{id: text}``, for differential tests
    on small corpora."""
    terms = sorted(set(search_tokens_py(query)))
    scores = _bm25_scores_py(docs, terms, k1=k1, b=b)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


def ranked_search_py(
    docs: dict[str, str],
    query: str,
    ranks: dict[str, float],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    boost: float = 1.0,
    rank_key: str = "host",
) -> list[tuple[str, float]]:
    """Driver-side twin of :func:`ranked_search` — same blend formula,
    host extraction via ``urlparse`` (tests use clean urls where the Java
    and Python host parsers agree)."""
    from urllib.parse import urlparse

    terms = sorted(set(search_tokens_py(query)))
    scores = _bm25_scores_py(docs, terms, k1=k1, b=b)
    mean = sum(ranks.values()) / len(ranks) if ranks else 0.0
    lowered = {str(n).lower(): float(r) for n, r in ranks.items()}
    out = {}
    for id_, s in scores.items():
        if rank_key == "host":
            key = (urlparse(id_).hostname or "").lower()
        else:
            key = id_.lower()
        r = lowered.get(key, 0.0)
        f = 1.0 + boost * math.log1p(r / mean) if mean > 0.0 else 1.0
        out[id_] = s * f
    return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def phrase_match_py(tokens: list[str], phrase: list[str]) -> bool:
    """True when ``phrase`` occurs as adjacent tokens in ``tokens``."""
    n = len(phrase)
    return any(tokens[i : i + n] == phrase for i in range(len(tokens) - n + 1))


def phrase_search_py(
    docs: dict[str, str],
    query: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> list[tuple[str, float]]:
    """Driver-side twin of :func:`phrase_search`: whole-corpus collection
    statistics, phrase adjacency as a filter, BM25 over all query terms."""
    phrases, loose = parse_query_py(query)
    if not phrases:
        return bm25_search_py(docs, query, k=k, k1=k1, b=b)
    terms = sorted(set(loose) | {t for ph in phrases for t in ph})
    scores = _bm25_scores_py(docs, terms, k1=k1, b=b)
    toks = {i: search_tokens_py(t) for i, t in docs.items()}
    kept = {
        i: s
        for i, s in scores.items()
        if all(phrase_match_py(toks[i], ph) for ph in phrases)
    }
    ranked = sorted(kept.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


# ---------------------------------------------------------------------------
# More-like-this (related-document retrieval)
# ---------------------------------------------------------------------------

def _mlt_select_terms(
    tf: dict[str, int],
    dfreq: dict[str, int],
    n_docs: int,
    *,
    max_terms: int,
) -> list[str]:
    """THE term-selection kernel shared by :func:`more_like_this` and
    :func:`more_like_this_py` — score each candidate by
    ``tf_in_source × idf`` (same idf as scoring), keep the top
    ``max_terms`` by (score desc, term asc). Terms absent from the live
    index (df = 0) are dropped — they cannot contribute."""
    scored = []
    for t, f in tf.items():
        df_t = dfreq.get(t, 0)
        if df_t == 0:
            continue
        idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        scored.append((-f * idf, t))
    scored.sort()
    return sorted(t for _, t in scored[:max_terms])


def _mlt_candidates(like_text: str, candidate_pool: int) -> dict[str, int]:
    """Source-text term frequencies, bounded to the ``candidate_pool``
    most frequent terms (tf desc, term asc — deterministic) before any
    index df lookup."""
    from collections import Counter

    tf = Counter(search_tokens_py(like_text or ""))
    top = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:candidate_pool]
    return dict(top)


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    like_text: str,
    *,
    exclude_id: str | None = None,
    max_terms: int = 10,
    candidate_pool: int = 64,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Related documents for a source text (Lucene's MoreLikeThis shape,
    public): pick the source's most informative terms — top
    ``max_terms`` by ``tf × idf`` against the LIVE index — and run them
    as a BM25 OR-query, excluding ``exclude_id`` (the source itself when
    it lives in the corpus). Returns top-``k`` ``(id, score)``.

    Accepting text (not a doc id) keeps the plan index-shaped: the
    postings are term-bucketed, so a doc-id fetch would scan every
    bucket, while the candidate df lookup below rides the same
    bucket-pruned, term-pushed slice as any query — candidates are
    bounded by ``candidate_pool`` (picked from the source's tf alone,
    driver-side, the text is ONE document), their df count is
    ≤ ``candidate_pool`` rows collected, and scoring reuses
    :func:`_scores` unchanged. Out-of-corpus texts (a fresh crawl page,
    a user snippet) work identically."""
    tf = _mlt_candidates(like_text, candidate_pool)
    empty = spark.createDataFrame([], "id string, score double")
    if not tf:
        return empty
    meta = _read_meta(spark, index_dir)
    if meta["n_docs"] == 0 or float(meta["avgdl"]) == 0.0:
        return empty
    tomb = _tombstones(spark, index_dir)
    cand = sorted(tf)
    live = _live(query_postings(spark, index_dir, cand), tomb)
    dfreq = {
        r["term"]: r["_df"]
        for r in live.groupBy("term").agg(F.count("*").alias("_df")).collect()
    }
    terms = _mlt_select_terms(tf, dfreq, meta["n_docs"], max_terms=max_terms)
    if not terms:
        return empty
    scored = _scores(spark, index_dir, terms, tomb, k1=k1, b=b)
    if scored is None:
        return empty
    if exclude_id is not None:
        scored = scored.filter(F.col("id") != F.lit(exclude_id))
    return scored.orderBy(F.desc("score"), F.asc("id")).limit(k)


def more_like_this_py(
    docs: dict[str, str],
    like_text: str,
    *,
    exclude_id: str | None = None,
    max_terms: int = 10,
    candidate_pool: int = 64,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> list[tuple[str, float]]:
    """Driver-side twin of :func:`more_like_this` over ``{id: text}`` —
    same candidate bound, same selection kernel, same BM25 core."""
    tf = _mlt_candidates(like_text, candidate_pool)
    if not tf or not docs:
        return []
    tok = {i: set(search_tokens_py(t)) for i, t in docs.items()}
    dfreq = {t: sum(1 for s in tok.values() if t in s) for t in tf}
    terms = _mlt_select_terms(tf, dfreq, len(docs), max_terms=max_terms)
    if not terms:
        return []
    scores = _bm25_scores_py(docs, terms, k1=k1, b=b)
    if exclude_id is not None:
        scores.pop(exclude_id, None)
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


# ---------------------------------------------------------------------------
# Fuzzy term suggestion (SymSpell deletion neighborhoods)
# ---------------------------------------------------------------------------

def _deletions_py(term: str, max_distance: int) -> set[str]:
    """All strings reachable from ``term`` by ≤ ``max_distance``
    single-character deletions (the term itself included) — the shared
    SymSpell neighborhood kernel (Garbe's symmetric-delete scheme,
    public): two strings within Levenshtein distance d always share a
    member of each other's d-deletion neighborhoods."""
    out = {term}
    frontier = {term}
    for _ in range(max_distance):
        nxt = {
            v[:i] + v[i + 1 :] for v in frontier for i in range(len(v))
        }
        nxt -= out
        out |= nxt
        frontier = nxt
    return out


def _lev_py(a: str, b: str) -> int:
    """Plain Levenshtein distance — the twin of Spark's built-in
    ``levenshtein`` (insert/delete/substitute, no transposition)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _deletions_col(term, max_distance: int):
    """Catalyst twin of :func:`_deletions_py`: repeated one-deletion
    expansion + distinct, entirely JVM-side."""
    one = lambda t: F.transform(  # noqa: E731 — local plan builder
        F.sequence(F.lit(1), F.length(t)),
        lambda i: F.concat(
            F.substring(t, F.lit(1), i - 1),
            F.substring(t, i + 1, F.length(t)),
        ),
    )
    acc = F.array(term)
    frontier_arr = F.array(term)
    for _ in range(max_distance):
        frontier_arr = F.array_distinct(
            F.flatten(F.transform(frontier_arr, one))
        )
        acc = F.array_union(acc, frontier_arr)
    return acc


def build_spell_index(spark: SparkSession, index_dir: str, *, max_distance: int = 1) -> None:
    """Materialize the SymSpell deletion table for an existing
    :func:`build_index` layout → ``<index_dir>/spell`` rows
    ``(variant, term, df, bucket)`` partitioned by
    ``bucket = pmod(xxhash64(variant), num_buckets)`` — the same
    bucket-pruned query shape as the postings themselves. ``df`` is the
    LIVE document frequency at build time (tombstone-masked), the
    suggestion-ranking signal. Size: |vocab| × (avg term length + 1)
    per deletion level — vocabulary-sized, not corpus-sized.

    Build shape: one live-postings scan → per-term df (partial+final
    agg) → one Catalyst deletion expansion + explode → partitioned
    write. Zero Python rows."""
    meta = _read_meta(spark, index_dir)
    nb = meta["num_buckets"]
    live = _live(
        spark.read.parquet(f"{index_dir}/postings"),
        _tombstones(spark, index_dir),
    )
    vocab = live.groupBy("term").agg(F.count("*").alias("df"))
    spell = (
        vocab.select(
            F.explode(
                _deletions_col(F.col("term"), max_distance)
            ).alias("variant"),
            "term",
            "df",
        )
        .withColumn("bucket", _bucket(F.col("variant"), nb))
    )
    spell.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{index_dir}/spell"
    )


def suggest_terms(
    spark: SparkSession,
    index_dir: str,
    term: str,
    *,
    max_distance: int = 1,
    k: int = 3,
) -> DataFrame:
    """Top-``k`` in-vocabulary corrections for ``term`` from the spell
    table — ``(term, df, distance)``, distance asc, df desc, term asc
    (an exact vocabulary hit always ranks first at distance 0).

    Query shape: the query side's deletion neighborhood is generated
    driver-side (ONE term), resolves to ≤ |neighborhood| buckets —
    partition-pruned scan + ``variant IN (...)`` pushdown, exactly the
    postings discipline — then candidates are verified with the JVM
    ``levenshtein`` (the deletion match is a superset at d ≥ 2) and
    ranked. Candidates are neighborhood-bounded; nothing corpus-sized
    moves.

    Distance is PLAIN Levenshtein (the JVM built-in): a transposition
    counts 2, so catching swapped-letter typos needs a
    ``max_distance=2`` spell table — the classic Damerau variant is a
    kernel swap here, not a plan change."""
    meta = _read_meta(spark, index_dir)
    nb = meta["num_buckets"]
    vars_ = sorted(_deletions_py(term, max_distance))
    buckets = sorted(
        {
            r["b"]
            for r in spark.createDataFrame([(v,) for v in vars_], "v string")
            .select(_bucket(F.col("v"), nb).alias("b"))
            .collect()
        }
    )
    cand = (
        spark.read.parquet(f"{index_dir}/spell")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("variant").isin(vars_))
        .select("term", "df")
        .distinct()
        .withColumn("distance", F.levenshtein(F.lit(term), F.col("term")))
        .filter(F.col("distance") <= max_distance)
    )
    return cand.orderBy(
        F.asc("distance"), F.desc("df"), F.asc("term")
    ).limit(k)


def fuzzy_search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    *,
    max_distance: int = 1,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 search with typo tolerance: every query term is replaced by
    its best spell-table suggestion (an in-vocabulary term IS its own
    best suggestion at distance 0 — zero behavior change for clean
    queries); terms with no in-vocabulary neighbor are dropped. Returns
    top-``k`` ``(id, score)`` like :func:`bm25_search`."""
    corrected = []
    for t in sorted(set(search_tokens_py(query))):
        best = suggest_terms(
            spark, index_dir, t, max_distance=max_distance, k=1
        ).collect()
        if best:
            corrected.append(best[0]["term"])
    terms = sorted(set(corrected))
    scored = _scores(
        spark, index_dir, terms, _tombstones(spark, index_dir), k1=k1, b=b
    )
    if scored is None:
        return spark.createDataFrame([], "id string, score double")
    return scored.orderBy(F.desc("score"), F.asc("id")).limit(k)


def suggest_terms_py(
    docs: dict[str, str],
    term: str,
    *,
    max_distance: int = 1,
    k: int = 3,
) -> list[tuple[str, int, int]]:
    """Driver-side twin of :func:`suggest_terms` over ``{id: text}`` —
    ``[(term, df, distance)]``, same neighborhood, verify, and order."""
    from collections import Counter

    dfreq = Counter(
        t for text in docs.values() for t in set(search_tokens_py(text))
    )
    neigh = _deletions_py(term, max_distance)
    out = []
    for v, df_v in dfreq.items():
        if _deletions_py(v, max_distance) & neigh:
            d = _lev_py(term, v)
            if d <= max_distance:
                out.append((v, df_v, d))
    out.sort(key=lambda r: (r[2], -r[1], r[0]))
    return out[:k]


def fuzzy_search_py(
    docs: dict[str, str],
    query: str,
    *,
    max_distance: int = 1,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> list[tuple[str, float]]:
    """Driver-side twin of :func:`fuzzy_search`."""
    corrected = []
    for t in sorted(set(search_tokens_py(query))):
        best = suggest_terms_py(docs, t, max_distance=max_distance, k=1)
        if best:
            corrected.append(best[0][0])
    terms = sorted(set(corrected))
    scores = _bm25_scores_py(docs, terms, k1=k1, b=b)
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


# ---------------------------------------------------------------------------
# Fielded search (BM25F-lite)
# ---------------------------------------------------------------------------

def fielded_search(
    spark: SparkSession,
    fields: dict[str, tuple[str, float]],
    query: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Multi-field ranked retrieval — ``fields`` maps a field name to
    ``(index_dir, weight)`` where each index is a :func:`build_index`
    layout over that field's text (body, title, anchor text, …); the
    document score is ``Σ_field weight × bm25_field`` (the simple linear
    BM25F variant — per-field length normalization, weighted combination;
    Robertson & Zaragoza 2009 §3.4, public). A document scores in every
    field that matches it — title hits float above body-only hits at
    equal term counts, the classic web-ranking win.

    Plan shape: one bucket-pruned, term-pushed, query-bounded score
    frame per field (exactly :func:`bm25_search`'s slice — nothing
    corpus-sized), a union of those tiny frames, ONE partial+final sum
    per id, TakeOrdered top-k."""
    terms = sorted(set(search_tokens_py(query)))
    legs = []
    for name in sorted(fields):
        index_dir, weight = fields[name]
        scored = _scores(
            spark,
            index_dir,
            terms,
            _tombstones(spark, index_dir),
            k1=k1,
            b=b,
        )
        if scored is not None and weight != 0.0:
            legs.append(
                scored.select(
                    "id",
                    (F.col("score") * F.lit(float(weight))).alias("_ws"),
                )
            )
    if not legs:
        return spark.createDataFrame([], "id string, score double")
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionByName(leg)
    return (
        u.groupBy("id")
        .agg(F.sum("_ws").alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def fielded_search_py(
    fields: dict[str, tuple[dict[str, str], float]],
    query: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> list[tuple[str, float]]:
    """Driver-side twin of :func:`fielded_search` — ``fields`` maps a
    field name to ``({id: text}, weight)``. Per-field contributions are
    summed in sorted field order; the engine's partial-agg sum order is
    only commutative, so cross-checks compare at 1e-9, like every other
    float-summing twin here."""
    terms = sorted(set(search_tokens_py(query)))
    totals: dict[str, float] = {}
    for name in sorted(fields):
        docs, weight = fields[name]
        if weight == 0.0:
            continue
        for id_, s in _bm25_scores_py(docs, terms, k1=k1, b=b).items():
            totals[id_] = totals.get(id_, 0.0) + s * weight
    return sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


# ---------------------------------------------------------------------------
# Index verification (maintenance audit)
# ---------------------------------------------------------------------------

def verify_index(spark: SparkSession, index_dir: str) -> list[str]:
    """Audit an index layout's cross-file invariants and return the list
    of violations (empty = healthy). After k incremental updates,
    deletes, and upserts, THESE are the equations that make
    tombstone-masked search provably equal to a rebuild — run this
    before trusting a long-lived index, after a suspected partial write,
    or as the acceptance check following :func:`compact_index`:

    * ``meta.n_docs`` == count of LIVE doclens rows (tombstone-masked);
    * ``meta.sum_dl`` == Σ live ``dl``, and ``avgdl`` == sum/count;
    * every live doc has EXACTLY ONE live doclens generation (an upsert
      that tombstoned nothing would double-count df);
    * live postings' per-doc ``dl`` agrees with the doclens table, and
      per-doc ``Σ tf`` == ``dl`` (token conservation);
    * every postings row sits in the bucket its term hashes to
      (a mispartitioned file would silently vanish from pruned queries);
    * ``meta.gen`` ≥ every stored gen (no writer from the future).

    Scale shape: one pass over doclens (host-sized aggregates), one over
    postings (two partial+final aggs: per-doc and per-bucket-violation
    count); only scalar violation counts reach the driver."""
    failures: list[str] = []
    meta = _read_meta(spark, index_dir)
    tomb = _tombstones(spark, index_dir)
    dl = _live(spark.read.parquet(f"{index_dir}/doclens"), tomb)
    agg = dl.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
        F.count_distinct("id").alias("d"),
        F.coalesce(F.max("gen"), F.lit(0)).alias("g"),
    ).collect()[0]
    if agg["n"] != meta["n_docs"]:
        failures.append(
            f"meta.n_docs={meta['n_docs']} but live doclens rows={agg['n']}"
        )
    if agg["s"] != meta["sum_dl"]:
        failures.append(
            f"meta.sum_dl={meta['sum_dl']} but live dl sum={agg['s']}"
        )
    if meta["n_docs"]:
        want_avg = meta["sum_dl"] / meta["n_docs"]
        if abs(meta["avgdl"] - want_avg) > 1e-9:
            failures.append(
                f"meta.avgdl={meta['avgdl']} != sum_dl/n_docs={want_avg}"
            )
    if agg["d"] != agg["n"]:
        failures.append(
            f"{agg['n'] - agg['d']} live doc(s) carry multiple live "
            "generations (upsert without tombstone?)"
        )
    post = _live(spark.read.parquet(f"{index_dir}/postings"), tomb)
    per_doc = post.groupBy("id", "dl").agg(F.sum("tf").alias("_tfsum"))
    bad_tf = per_doc.filter(F.col("_tfsum") != F.col("dl")).count()
    if bad_tf:
        failures.append(
            f"{bad_tf} live doc(s) where postings Σtf != stored dl"
        )
    bad_dl = per_doc.join(
        dl.select("id", F.col("dl").alias("_dl2")), "id"
    ).filter(F.col("dl") != F.col("_dl2")).count()
    if bad_dl:
        failures.append(
            f"{bad_dl} live doc(s) whose postings dl disagrees with doclens"
        )
    nb = meta["num_buckets"]
    bad_bucket = post.filter(
        F.col("bucket") != _bucket(F.col("term"), nb)
    ).count()
    if bad_bucket:
        failures.append(
            f"{bad_bucket} postings row(s) in the wrong term bucket"
        )
    max_gen = post.agg(F.coalesce(F.max("gen"), F.lit(0))).collect()[0][0]
    if max(max_gen, agg["g"]) > meta["gen"]:
        failures.append(
            f"stored gen {max(max_gen, agg['g'])} exceeds meta.gen {meta['gen']}"
        )
    return failures

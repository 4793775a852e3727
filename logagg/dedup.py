"""Deduplication operators — exact (md5), shingle-Jaccard (exact,
distributed), MinHash-LSH (probabilistic scale path), SimHash (Hamming
near-dup, pigeonhole-exact banding), and embedding-cosine near-dup.

Design for 100 TB:
* exact dedup — one hash-agg on md5(text); Catalyst partial+final.
* exact near-dup — explode K-token shingles, apply the scale-aware
  stop-shingle cut (schemas.df_max_for: template shingles shared by
  thousands of docs carry no signal and make the pair join quadratic),
  equi-join on shingle (fan-out bounded by the cut), count shared shingles
  per pair, integer Jaccard threshold. Every step is a plain
  shuffle-bounded DataFrame op.
* MinHash-LSH — 64 permutations banded 16×4; the stop-shingle set comes
  from a deterministic 1-in-8 document sample (one small aggregation, not
  a full-corpus shingle table); candidate pairs from band-bucket equality;
  verification recomputes shingle sets for CANDIDATE docs only (tens of
  thousands) instead of joining a full exploded shingle table (millions).
  Probabilistic recall; this is the variant that survives corpora where
  even the DF-cut leaves hot keys.

Cache lifecycle: every persisted intermediate is released before the
operator returns. Final results are frozen first (util.materialize) under
one of two modes, threaded through every pair operator:

* ``materialize="local"`` (default) — Arrow round-trip through the driver;
  the oracle-scale convenience, only sane while the pair list is provably
  small.
* ``materialize="path"`` + ``out_path`` — write the result to parquet and
  read it back; nothing rides through the driver, so a template-heavy
  corpus whose pair list is billions of rows still works. This is the mode
  the bench and dup_clusters use; ``out_path`` must be executor-reachable
  storage on a real cluster.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logagg.schemas import (
    JACCARD_DEN,
    JACCARD_NUM,
    MINHASH_LSH_BANDS,
    MINHASH_LSH_ROWS,
    MINHASH_MERSENNE,
    MINHASH_PERMS,
    MINHASH_SEED,
    SIMHASH_BANDS,
    SIMHASH_BITS,
    SIMHASH_MAX_HAMMING,
    STOP_SAMPLE_MOD,
    df_max_for,
)
from logagg import util

# ---------------------------------------------------------------- exact


def exact_dupes(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5(text) → keeper id (min) + group size."""
    return (
        docs.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_md5"))
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n"))
    )


# ------------------------------------------------- exact shingle-Jaccard


def _shingle_batches_fn(stop: frozenset = frozenset(), digest: bool = False):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hashlib import md5

        from logagg import textfns

        for pdf in batches:
            ids: list = []
            shs: list = []
            for did, text in zip(pdf["id"], pdf["text"]):
                if not isinstance(text, str):
                    continue
                ss = textfns.shingle_set(text)
                ss.discard("")
                if stop:
                    ss -= stop
                ids.extend([did] * len(ss))
                if digest:
                    shs.extend(md5(s.encode("utf-8")).digest() for s in ss)
                else:
                    shs.extend(ss)
            yield pd.DataFrame(
                {"id": pd.Series(ids, dtype=object), "shingle": pd.Series(shs, dtype=object)}
            )

    return run


def shingles(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    stop: frozenset = frozenset(),
    digest: bool = False,
) -> DataFrame:
    """(id, shingle) pairs — distinct K-token shingles per doc; short docs
    collapse to one whole-doc shingle (textfns.shingle_set semantics); an
    optional stop-set is dropped inside the same pass.

    Arrow-batched Python, not a Catalyst higher-order expression: measured
    2.7× faster (6 s vs 17 s for 7.5M shingles at sf0.1) — per-element
    string building in transform/slice/array_join generates far more JVM
    garbage than one CPython pass over the tokens.

    ``digest=True`` emits the 16-byte md5 of each shingle instead of the
    string — for consumers that only test shingle EQUALITY (jaccard_pairs:
    the shingle value never reaches its output). The ~45-byte shingle
    strings are the corpus-dominant payload, so digests shrink the Arrow
    hop and the postings shuffle ~3×; 128-bit digests stay collision-free
    at any reachable corpus (10^12 shingles → ~3e-15 collision odds)."""
    src = df.select(F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("text"))
    out = "binary" if digest else "string"
    return src.mapInPandas(_shingle_batches_fn(stop, digest), schema=f"id string, shingle {out}")


def _doc_count(df: DataFrame, n_docs: int | None) -> int:
    # cheap (parquet-metadata) only when the plan is a bare scan; a
    # UDF-backed input re-runs its upstream pipeline for this action, so
    # callers that know the count (or share it across operators) pass
    # n_docs explicitly — dup_clusters → jaccard_pairs and
    # minhash_lsh_dupes → sampled_stop_shingles thread it through
    return df.count() if n_docs is None else n_docs


def sampled_stop_shingles(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    n_docs: int | None = None,
) -> frozenset:
    """Stop-shingle set estimated from a deterministic 1-in-STOP_SAMPLE_MOD
    document sample (crc32(id) — same rule in the pure-Python twin). One
    aggregation over ~12% of the corpus instead of a full shingle table;
    the result is tiny (template shingles) and ships into UDF closures."""
    df_max = df_max_for(_doc_count(df, n_docs))
    # cast through string so numeric ids work too (ANSI forbids a direct
    # bigint→binary cast); identity for the usual string url keys
    sample = df.filter(
        F.pmod(F.crc32(F.col(id_col).cast("string").cast("binary")), F.lit(STOP_SAMPLE_MOD)) == 0
    )
    rows = (
        shingles(sample, id_col, text_col)
        .groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") * STOP_SAMPLE_MOD > df_max)
        .select("shingle")
        .collect()
    )
    return frozenset(r["shingle"] for r in rows)


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    n_docs: int | None = None,
    materialize: str = "local",
    out_path: str | None = None,
) -> DataFrame:
    """Exact near-duplicate pairs with J >= 0.8 after the df_max_for cut.

    Integer-exact output (shared / set sizes) so the result is engine-
    portable with no float tolerance. ``materialize="path"`` (with
    ``out_path``) lands the result — and the id map — in parquet instead of
    the driver; see the module docstring.
    """
    df_max = df_max_for(_doc_count(df, n_docs))
    # digest mode: only shingle equality matters downstream — the postings
    # groupBy shuffles 16-byte keys instead of ~45-byte template strings
    sh = shingles(df, id_col, text_col, digest=True)

    # join-key compression: the pair aggregation is the job's hottest
    # shuffle, and grouping on two ~65-char url strings is most of its
    # cost — remap docs to dense int ids via one broadcast join first and
    # group on a packed (long, long) struct instead. The map is |docs|
    # rows (tiny next to |shingles|); at cluster scale the same remap is a
    # bucketed join against a doc-id dimension instead of a broadcast.
    # materialized (not lazy): monotonically_increasing_id is recompute-
    # unstable — the map is consumed by three joins and must be frozen.
    # In path mode it freezes to parquet: |docs| rows is itself too big for
    # a 100 TB driver.
    id_map = util.materialize(
        df.select(F.col(id_col).alias("_doc")).distinct()
        .withColumn("iid", F.monotonically_increasing_id()),
        materialize,
        f"{out_path}.idmap" if out_path else None,
    )
    sh = (
        sh.join(F.broadcast(id_map), sh["id"] == F.col("_doc"))
        .select("iid", "shingle")
        .persist()  # feeds the df count AND the kept-row join — one Arrow pass
    )

    # Document-frequency cut BEFORE any list is built (guide §2.5): a
    # template shingle shared by half the corpus (measured max df 41k of
    # 60k docs at sf0.1; 24% of all rows sit on df>df_max shingles) would
    # otherwise be collect_list'ed into a df-sized array on ONE task and
    # then discarded by the size filter — unbounded task memory at corpus
    # scale. The count aggregation is partial+final longs (skew-immune);
    # only 2..df_max shingles ever reach collect_list, so every postings
    # list is ≤ df_max elements by construction. df=1 shingles pair with
    # nothing but DO count toward set sizes — sizes come from the kept
    # rows, not the pairable postings.
    dfc = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    sh_kept = sh.join(
        dfc.filter(F.col("_df") <= df_max), "shingle"
    ).persist()  # sizes and postings both consume it
    postings = (
        sh_kept.filter(F.col("_df") >= 2)
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list("iid")).alias("ids"))
    )
    try:
        sizes = sh_kept.groupBy("iid").agg(F.count("*").alias("set_size"))

        # pairwise combinations per postings list, JVM-side: ids are sorted,
        # so (ids[i], y in ids[i+1:]) enumerates each unordered pair once.
        # Replaces a full self-join shuffle of the exploded (id, shingle)
        # table with one explode over df_max-bounded lists.
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
            postings.select(F.explode(combos).alias("p"))
            .groupBy(F.col("p.ia").alias("ia"), F.col("p.ib").alias("ib"))
            .agg(F.count("*").alias("shared"))
        )
        sa = sizes.select(F.col("iid").alias("ia"), F.col("set_size").alias("_sa"))
        sb = sizes.select(F.col("iid").alias("ib"), F.col("set_size").alias("_sb"))
        ma = id_map.select(F.col("iid").alias("ia"), F.col("_doc").alias("_ua"))
        mb = id_map.select(F.col("iid").alias("ib"), F.col("_doc").alias("_ub"))
        resolved = (
            shared.join(F.broadcast(sa), "ia")
            .join(F.broadcast(sb), "ib")
            .filter(
                F.lit(JACCARD_NUM) * F.col("shared")
                >= F.lit(JACCARD_DEN) * (F.col("_sa") + F.col("_sb"))
            )
            .join(F.broadcast(ma), "ia")
            .join(F.broadcast(mb), "ib")
        )
        # output orientation contract: url_a < url_b lexicographically
        # (int-id order is allocation order, not url order)
        swap = F.col("_ua") > F.col("_ub")
        result = resolved.select(
            F.when(swap, F.col("_ub")).otherwise(F.col("_ua")).alias("url_a"),
            F.when(swap, F.col("_ua")).otherwise(F.col("_ub")).alias("url_b"),
            F.col("shared"),
            F.when(swap, F.col("_sb")).otherwise(F.col("_sa")).alias("na"),
            F.when(swap, F.col("_sa")).otherwise(F.col("_sb")).alias("nb"),
        )
        return util.materialize(result, materialize, out_path)
    finally:
        sh_kept.unpersist()
        sh.unpersist()


# ------------------------------------------------------- dup clustering


def dup_clusters(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    pairs: DataFrame | None = None,
    max_iters: int = 20,
    n_docs: int | None = None,
    checkpoint_dir: str | None = None,
    materialize: str = "local",
    out_path: str | None = None,
) -> DataFrame:
    """Connected components over the verified near-dup pairs → per-doc
    cluster id (the lexicographically smallest url in the component — the
    canonical "keeper" a training pipeline retains).

    Fully distributed: labels live in a DataFrame for the whole run — no
    per-iteration driver materialization, so a dup-heavy 100 TB corpus with
    billions of pair endpoints never has to fit the driver. Each iteration
    combines min-label propagation over the edge list with pointer doubling
    (label := label's current label), so iterations needed are O(log
    diameter), not O(diameter) — a 40-hop near-dup chain converges in ~6
    rounds. Per-iteration state lands in parquet through
    :func:`util.scratch`, which truncates the iterative join lineage and
    leaves no cached RDDs behind.

    Convergence is proven, not assumed: the loop exits on a changed-label
    count of 0; exhausting ``max_iters`` first raises (silently-wrong
    cluster ids are worse than a crash).

    Scratch state goes to a fresh subdir of ``checkpoint_dir`` when given,
    else of the session's ``sparkContext`` checkpoint dir when set
    (executor-reachable by contract), else a driver-local temp dir —
    allowed only on a local master, refused otherwise. In the first two
    cases the subdir is left in place and the local-mode result is read
    lazily from it; the temp dir is removed on return, after the bounded
    result is pulled off it. ``materialize="path"`` + ``out_path`` writes
    the final labels to parquet (the 100 TB result shape). All argument
    validation (mode, out_path, checkpoint reachability) runs BEFORE any
    job, and when ``pairs`` is None the internal ``jaccard_pairs`` call
    inherits the materialization mode (path mode lands the from-scratch
    pair list under the scratch dir) — so the expensive pair computation
    can neither be wasted by a late validation failure nor forced through
    the driver.
    """
    spark = df.sparkSession
    # validate EVERYTHING before any job runs: pairs-from-scratch is the
    # expensive step, and failing after it completes wastes the whole
    # computation (the scratch guard raises on entry)
    util.check_materialize(materialize, out_path)
    with util.scratch(spark, "logagg-cc", base=checkpoint_dir) as land:
        if pairs is None:
            # thread the caller's materialization mode through: in path mode
            # the from-scratch pair list lands in parquet under the (already
            # validated, executor-reachable) scratch dir — the driver never
            # holds it
            pairs = jaccard_pairs(
                df,
                id_col,
                text_col,
                n_docs=n_docs,
                materialize=materialize,
                out_path=land.path() if materialize == "path" else None,
            )
        edges = land(
            pairs.select(F.col("url_a").alias("src"), F.col("url_b").alias("dst")).union(
                pairs.select(F.col("url_b").alias("src"), F.col("url_a").alias("dst"))
            )
        )
        labels = land(
            edges.select(F.col("src").alias("id")).distinct().withColumn(
                "label", F.col("id")
            )
        )

        converged = False
        for it in range(max_iters):
            nbr = (
                edges.join(labels.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("label").alias("nbr_min"))
            )
            stepped = labels.join(nbr, "id", "left").select(
                "id",
                F.col("label").alias("_old"),
                F.least("label", F.coalesce("nbr_min", "label")).alias("label"),
            )
            # pointer doubling: jump to the label's own current label. The
            # changed flag is computed IN the step and landed with it, so
            # the convergence check is a flag count over the just-written
            # parquet instead of a new-vs-old label join per iteration.
            hop = labels.select(
                F.col("id").alias("_hid"), F.col("label").alias("_hlabel")
            )
            new_label = F.least("label", F.coalesce("_hlabel", "label"))
            new_labels = land(
                stepped.join(hop, stepped["label"] == hop["_hid"], "left").select(
                    "id",
                    new_label.alias("label"),
                    (new_label != F.col("_old")).alias("_changed"),
                )
            )
            changed = new_labels.filter(F.col("_changed")).count()
            labels = new_labels.select("id", "label")
            if changed == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"dup_clusters did not converge in {max_iters} iterations "
                "(component diameter too large?) — refusing to return "
                "possibly-wrong cluster ids"
            )
        result = labels.select(
            F.col("id").alias(id_col), F.col("label").alias("cluster")
        )
        if materialize == "path":
            # durable landing: write before a temp scratch dir (which backs
            # `labels`) is removed
            return util.materialize(result, "path", out_path)
        if land.kept:
            return result  # parquet-backed in the kept scratch dir
        # bounded-by-design result (≤ 2·|pairs| rows): pull it off the temp
        # scratch dir so the dir can be removed
        return util.materialize_local(result)


# --------------------------------------------------------------- SimHash


def _simhash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import zlib

    from logagg import textfns

    weights = (1 << np.arange(SIMHASH_BITS, dtype=np.uint64)).astype(np.uint64)
    for pdf in batches:
        ids, sims = [], []
        for did, text in zip(pdf["id"], pdf["text"]):
            toks = textfns.tokens(text) if isinstance(text, str) else []
            if not toks:
                continue
            h = np.fromiter(
                (zlib.crc32(t.encode()) | (zlib.crc32(t[::-1].encode()) << 32) for t in set(toks)),
                dtype=np.uint64,
            )
            bits = ((h[:, None] >> np.arange(SIMHASH_BITS, dtype=np.uint64)) & 1).astype(np.int64)
            vote = (2 * bits - 1).sum(axis=0)
            sims.append(int(((vote > 0).astype(np.uint64) * weights).sum()))
            ids.append(did)
        yield pd.DataFrame(
            {"id": pd.Series(ids, dtype=object), "simhash": pd.Series(sims, dtype="uint64").astype("int64")}
        )


def simhash(df: DataFrame, id_col: str = "url", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document (token-set sign-vote, Arrow-batched)."""
    src = df.select(F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("text"))
    return src.mapInPandas(_simhash_batches, schema="id string, simhash long")


def simhash_dupes(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    materialize: str = "local",
    out_path: str | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= 3 between SimHashes.

    Banding (4×16 bits) is exact here by pigeonhole — ≤3 differing bits
    leave at least one band identical — so this finds ALL qualifying pairs
    with bucket-bounded join fan-out (no |corpus|² scan).
    """
    sh = simhash(df, id_col, text_col).persist()  # self-joined below
    try:
        bands = sh.select(
            "id",
            "simhash",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for i in range(SIMHASH_BANDS)
                ])
            ).alias("b"),
        ).select("id", "simhash", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
        a, b = bands.alias("a"), bands.alias("b")
        pairs = (
            a.join(b, ["band", "key"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("url_a"),
                F.col("b.id").alias("url_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
            )
            .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
            .distinct()
        )
        return util.materialize(pairs, materialize, out_path)
    finally:
        sh.unpersist()


# ------------------------------------------- embedding-cosine near-dup


def _gemm_pairs_fn(threshold: float):
    """One input row = one block pair; numpy GEMM inside, threshold pairs out."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_a: list[int] = []
            out_b: list[int] = []
            out_s: list[float] = []
            for blk_a, rows_a, blk_b, rows_b in zip(
                pdf["blk_a"], pdf["rows_a"], pdf["blk_b"], pdf["rows_b"]
            ):
                ids_a = np.array([r["vec_id"] for r in rows_a], dtype=np.int64)
                A = np.array([r["emb"] for r in rows_a], dtype=np.float64)
                if blk_a == blk_b:
                    ids_b, B = ids_a, A
                else:
                    ids_b = np.array([r["vec_id"] for r in rows_b], dtype=np.int64)
                    B = np.array([r["emb"] for r in rows_b], dtype=np.float64)
                denom = np.linalg.norm(A, axis=1)[:, None] * np.linalg.norm(B, axis=1)[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = (A @ B.T) / denom  # zero-norm rows → nan → dropped
                ia, ib = np.nonzero(sims >= threshold)
                if blk_a == blk_b:
                    keep = ids_a[ia] < ids_b[ib]  # upper triangle by ID
                    ia, ib = ia[keep], ib[keep]
                xa, xb = ids_a[ia], ids_b[ib]
                swap = xa > xb  # cross-block pairs: orient id_a < id_b
                out_a.extend(np.where(swap, xb, xa))
                out_b.extend(np.where(swap, xa, xb))
                out_s.extend(np.round(sims[ia, ib], 4))
            yield pd.DataFrame(
                {
                    "id_a": pd.Series(out_a, dtype="int64"),
                    "id_b": pd.Series(out_b, dtype="int64"),
                    "sim": pd.Series(out_s, dtype="float64"),
                }
            )

    return run


def embedding_dupes(
    embeddings: DataFrame, threshold: float = 0.4, block_rows: int = 1024
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold — EXACT, as a
    blocked matrix product.

    Vectors are hash-assigned to ~``block_rows``-sized blocks; every block
    pair (upper triangle incl. the diagonal) becomes one task running a
    float64 GEMM over the two blocks. Exact all-pairs cosine is inherently
    O(n²) FLOPs — what the blocking buys at scale is (a) the O(n²) is BLAS
    inner loops, not a per-pair Catalyst fold over a row crossJoin, and
    (b) per-task memory is bounded by two blocks (~2 MB at 128-dim), so the
    work distributes evenly across any executor count. Beyond ~10^8 vectors
    the FLOPs themselves are the wall — the subquadratic answers are the
    LSH/IVF paths in logagg.similarity (same kernel, bounded buckets).
    """
    import math

    n = embeddings.count()
    nblocks = max(1, math.ceil(n / block_rows))
    base = embeddings.select(
        F.pmod(F.xxhash64("vec_id"), F.lit(nblocks)).cast("int").alias("blk"),
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    # one row per block: ids + vectors ride together (a single collect_list
    # of structs — two parallel collect_lists would not share an order)
    blocks = base.groupBy("blk").agg(F.collect_list(F.struct("vec_id", "emb")).alias("rows"))
    a = blocks.select(F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a"))
    b = blocks.select(F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b"))
    pairs = a.join(b, F.col("blk_a") <= F.col("blk_b"))
    return pairs.mapInPandas(
        _gemm_pairs_fn(threshold), schema="id_a long, id_b long, sim double"
    )


# ----------------------------------------------------------- MinHash-LSH


def _perm_params(n: int = MINHASH_PERMS) -> tuple[np.ndarray, np.ndarray]:
    # a,b < 2^30 and crc32 < 2^32 keep a*x+b < 2^62: no int64 overflow, so
    # the whole signature computes as one vectorized numpy expression.
    rng = np.random.default_rng(MINHASH_SEED)
    a = rng.integers(1, 1 << 30, size=n, dtype=np.int64)
    b = rng.integers(0, 1 << 30, size=n, dtype=np.int64)
    return a, b


def _band_batches_fn(stop: frozenset):
    """(id, text) → LSH band keys, all inside one Arrow pass: tokenize,
    shingle (textfns semantics), drop stop-shingles, crc32, vectorized
    minhash, band split. No explode / collect_list shuffle — the signature
    never leaves Python until it is 16 short band rows per doc.

    The stop-shingle cut here is load-bearing: template shingles give every
    pair of log pages a raw-set Jaccard of ~0.1-0.2, which the banding curve
    turns into millions of false candidates (measured 2.29M at sf0.1; tens
    of thousands after the cut). It also aligns minhash semantics with the
    exact operator's effective sets."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        from logagg import textfns

        a, b = _perm_params()
        band_idx = list(range(MINHASH_LSH_BANDS))
        key_w = MINHASH_LSH_ROWS * 8  # bytes per band key

        # per-doc signature math on purpose: the (64, |shingles|) temporaries
        # are ~64 KB — L2-resident. A chunk-vectorized variant (one reduceat
        # over a (64, 100k) matrix) measured 30% SLOWER and 3× noisier: the
        # 50 MB temporaries are DRAM-bound and blow the cache for the
        # tokenizer running between flushes.
        for pdf in batches:
            ids: list = []
            bands: list[int] = []
            keys: list[bytes] = []
            for did, text in zip(pdf["id"], pdf["text"]):
                sh_set = textfns.shingle_set(text) if isinstance(text, str) else set()
                sh_set.discard("")
                sh_set -= stop
                if not sh_set:
                    continue
                x = np.fromiter(
                    (zlib.crc32(s.encode("utf-8")) for s in sh_set),
                    dtype=np.int64,
                    count=len(sh_set),
                )
                sig = ((a[:, None] * x[None, :] + b[:, None]) % MINHASH_MERSENNE).min(axis=1)
                # band key = 32-byte slice of the little-endian signature
                # buffer: fixed-width encoding of the same ints (equality
                # semantics identical to the int tuple), cheaper to build
                # than 4 str() per band and ~2.5× smaller as a shuffle key
                raw = sig.astype("<i8").tobytes()
                ids.extend([did] * MINHASH_LSH_BANDS)
                bands.extend(band_idx)
                keys.extend(raw[k * key_w : (k + 1) * key_w] for k in band_idx)
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype=object),
                    "band": pd.Series(bands, dtype="int32"),
                    "key": pd.Series(keys, dtype=object),
                }
            )

    return run


def minhash_candidates(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    stop: frozenset = frozenset(),
    materialize: str = "local",
    out_path: str | None = None,
) -> DataFrame:
    """LSH candidate pairs: equal (band, minhash-band-key) → same bucket.

    The band table is persisted only for the duration of the self-join; the
    candidate list is frozen (locally or to ``out_path`` parquet) so the
    cache is released before this returns."""
    src = df.select(F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("text"))
    bands = src.mapInPandas(
        _band_batches_fn(stop), schema="id string, band int, key binary"
    ).persist()  # self-joined: without persist the minhash UDF runs twice
    try:
        a = bands.alias("a")
        b = bands.alias("b")
        cands = (
            a.join(b, ["band", "key"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("url_a"), F.col("b.id").alias("url_b"))
            .distinct()
        )
        return util.materialize(cands, materialize, out_path)
    finally:
        bands.unpersist()


def minhash_lsh_dupes(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    n_docs: int | None = None,
    materialize: str = "local",
    out_path: str | None = None,
) -> DataFrame:
    """Scale-path near-dup: LSH candidates verified with exact Jaccard.

    Join fan-in is |candidates|, not |corpus|² — survives hot templates that
    defeat the exact pair join. Recall < 1 by construction (banding curve);
    precision = 1 because candidates are exactly verified.

    Cost shape (the 100 TB story): one small aggregation over a 1-in-8
    document sample (stop-set), one Arrow pass over the corpus (minhash
    bands), a bucket-bounded self-join, then shingle recomputation for
    candidate docs ONLY — the full corpus shingle table is never built.
    """
    n = _doc_count(df, n_docs)
    stop = sampled_stop_shingles(df, id_col, text_col, n_docs=n)
    cands = minhash_candidates(  # frozen: locally (small) or to parquet
        df, id_col, text_col, stop=stop,
        materialize=materialize,
        out_path=f"{out_path}.cands" if out_path else None,
    )

    return _verify_candidates(df, cands, stop, id_col, text_col, materialize, out_path)


def _verify_candidates(
    docs: DataFrame,
    cands: DataFrame,
    stop: frozenset,
    id_col: str,
    text_col: str,
    materialize: str,
    out_path: str | None,
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs.

    Recomputes (stop-filtered) shingle sets for docs that appear in some
    candidate pair — a semi-join cuts the corpus to tens of thousands of
    rows before the shingle UDF runs. Shared by the batch and incremental
    MinHash operators (``docs`` must cover every id in ``cands``)."""
    cand_ids = (
        cands.select(F.col("url_a").alias("cid"))
        .union(cands.select(F.col("url_b").alias("cid")))
        .distinct()
    )
    cand_docs = docs.join(
        F.broadcast(cand_ids), F.col(id_col) == F.col("cid"), "left_semi"
    )
    # digest mode: the shingle value only ever feeds the equality join
    # below — 16-byte digests shuffle ~3× smaller than the ~45-byte
    # template strings (same jaccard_pairs argument; stop-set is applied
    # to the strings inside the kernel before hashing)
    sh = shingles(cand_docs, id_col, text_col, stop=stop, digest=True).persist()
    try:
        sizes = sh.groupBy("id").agg(F.count("*").alias("set_size"))
        a_sh = sh.select(F.col("id").alias("url_a"), "shingle")
        b_sh = sh.select(F.col("id").alias("url_b"), "shingle")
        shared = (
            cands.join(a_sh, "url_a")
            .join(b_sh, ["url_b", "shingle"])
            .groupBy("url_a", "url_b")
            .agg(F.count("*").alias("shared"))
        )
        sa = sizes.select(F.col("id").alias("url_a"), F.col("set_size").alias("na"))
        sb = sizes.select(F.col("id").alias("url_b"), F.col("set_size").alias("nb"))
        result = (
            shared.join(sa, "url_a")
            .join(sb, "url_b")
            .filter(
                F.lit(JACCARD_NUM) * F.col("shared")
                >= F.lit(JACCARD_DEN) * (F.col("na") + F.col("nb"))
            )
            .select("url_a", "url_b", "shared", "na", "nb")
        )
        return util.materialize(result, materialize, out_path)
    finally:
        sh.unpersist()


# ------------------------------------------- incremental MinHash dedup


def minhash_index_write(
    df: DataFrame,
    index_path: str,
    id_col: str = "url",
    text_col: str = "text",
    n_docs: int | None = None,
    mode: str = "overwrite",
) -> frozenset:
    """Build (or extend) the persistent LSH band index for a corpus.

    Writes ``index_path/bands`` — (id, band, key) parquet — and, on
    ``mode="overwrite"``, freezes the corpus stop-shingle set at
    ``index_path/stop`` so every later increment dedups against the SAME
    effective-shingle semantics (a stop set recomputed per increment would
    silently change which pairs exist). ``mode="append"`` extends the band
    table with new docs and keeps the frozen stop set.

    Returns the stop set in effect. This is the steady-state ingest shape
    at 100 TB: the corpus is never re-shingled; each increment pays one
    Arrow pass over ITS OWN docs plus a band-key equi-join against the
    index."""
    spark = df.sparkSession
    if mode == "overwrite":
        stop = sampled_stop_shingles(df, id_col, text_col, n_docs=n_docs)
        spark.createDataFrame(
            [(s,) for s in sorted(stop)], "shingle string"
        ).write.mode("overwrite").parquet(f"{index_path}/stop")
    elif mode == "append":
        stop = _read_index_stop(spark, index_path)
    else:
        raise ValueError(f"unknown index mode {mode!r} (expected 'overwrite' or 'append')")
    src = df.select(F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("text"))
    src.mapInPandas(
        _band_batches_fn(stop), schema="id string, band int, key binary"
    ).write.mode("overwrite" if mode == "overwrite" else "append").parquet(
        f"{index_path}/bands"
    )
    return stop


def _read_index_stop(spark, index_path: str) -> frozenset:
    return frozenset(
        r["shingle"] for r in spark.read.parquet(f"{index_path}/stop").collect()
    )


def minhash_lsh_dupes_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    index_path: str,
    id_col: str = "url",
    text_col: str = "text",
    materialize: str = "local",
    out_path: str | None = None,
) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch, against an indexed corpus.

    The production increment shape: a new crawl slice arrives and must be
    deduplicated against everything already ingested WITHOUT re-shingling
    the corpus. Candidates = (new × corpus) via a band-key equi-join
    against the persisted index, plus (new × new) via a self-join;
    verification recomputes exact Jaccard for candidate docs only (same
    helper as the batch operator, over corpus ∪ new). Returns the same
    (url_a, url_b, shared, na, nb) contract, url_a < url_b; pairs wholly
    inside the old corpus are by definition absent (they were reported
    when THEIR batch arrived).

    A probe: it never writes the index. The caller folds the docs it
    keeps into it (``minhash_index_write(..., mode="append")``, or
    :func:`logagg.curate.commit_increment_state`), so the next increment
    sees them as corpus. New doc ids must not already exist in the index
    (re-ingest would self-pair). ``corpus_docs`` must contain the text of
    every indexed doc (it is only touched via a candidate-id semi-join)."""
    spark = new_docs.sparkSession
    stop = _read_index_stop(spark, index_path)
    src = new_docs.select(F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("text"))
    new_bands = src.mapInPandas(
        _band_batches_fn(stop), schema="id string, band int, key binary"
    ).persist()
    try:
        idx = spark.read.parquet(f"{index_path}/bands")
        n = new_bands.alias("n")
        cross = (
            n.join(idx.alias("i"), ["band", "key"])
            .filter(F.col("n.id") != F.col("i.id"))
            .select(
                F.least("n.id", "i.id").alias("url_a"),
                F.greatest("n.id", "i.id").alias("url_b"),
            )
        )
        a = new_bands.alias("a")
        b = new_bands.alias("b")
        self_ = (
            a.join(b, ["band", "key"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("url_a"), F.col("b.id").alias("url_b"))
        )
        cands = util.materialize(
            cross.union(self_).distinct(),
            materialize,
            f"{out_path}.cands" if out_path else None,
        )
        all_docs = corpus_docs.select(
            F.col(id_col), F.col(text_col)
        ).unionByName(new_docs.select(F.col(id_col), F.col(text_col)))
        return _verify_candidates(
            all_docs, cands, stop, id_col, text_col, materialize, out_path
        )
    finally:
        new_bands.unpersist()


# ------------------------------------------------- benchmark decontamination


def _ngram_digest_batches_fn(n: int):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hashlib import md5

        from logagg import textfns

        for pdf in batches:
            ids: list = []
            grams: list = []
            totals: list = []
            for did, text in zip(pdf["id"], pdf["text"]):
                ss = textfns.ngram_set(text, n) if isinstance(text, str) else set()
                ids.extend([did] * len(ss))
                grams.extend(md5(g.encode("utf-8")).digest() for g in ss)
                totals.extend([len(ss)] * len(ss))
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype=object),
                    "gram": pd.Series(grams, dtype=object),
                    "n_grams": pd.Series(totals, dtype="int64"),
                }
            )

    return run


def ngram_digests(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 13
) -> DataFrame:
    """(id, gram, n_grams): per doc, each DISTINCT token n-gram as a
    16-byte md5 digest plus the doc's distinct-gram count (repeated per
    row so downstream aggregation never needs a second corpus pass).
    Same Arrow-batched kernel shape as :func:`shingles`; digests only —
    consumers test equality, never read the gram text."""
    id_type = df.schema[id_col].dataType.simpleString()
    src = df.select(F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("text"))
    return src.mapInPandas(
        _ngram_digest_batches_fn(n), schema=f"id {id_type}, gram binary, n_grams long"
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """Benchmark decontamination report: which training docs share at
    least one token ``n``-gram with an evaluation/benchmark corpus
    (GPT-3 appendix C / Llama style, default 13-grams).

    Returns (id_col, n_contaminated, n_grams, contaminated_frac) for
    contaminated docs ONLY — clean docs never leave the join.

    100 TB shape: the benchmark side is distinct-digested and BROADCAST
    (eval suites are MBs of n-grams vs a 100 TB corpus), so the corpus
    pays one Arrow scan + a map-side hash-join probe and only hit rows
    reach the (tiny) per-doc aggregation — no corpus-scale shuffle. Pass
    ``broadcast=False`` only if the benchmark itself is huge, which
    degrades to a digest-keyed shuffle join."""
    btext = bench_text_col or text_col
    bench = benchmark.select(F.lit(0).alias("bid"), F.col(btext).alias("text"))
    bench_grams = (
        ngram_digests(bench, id_col="bid", text_col="text", n=n).select("gram").distinct()
    )
    if broadcast:
        bench_grams = F.broadcast(bench_grams)
    doc_grams = ngram_digests(docs, id_col=id_col, text_col=text_col, n=n)
    return (
        doc_grams.join(bench_grams, "gram")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_contaminated"),
            F.first("n_grams").alias("n_grams"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_contaminated",
            "n_grams",
            (F.col("n_contaminated") / F.col("n_grams")).alias("contaminated_frac"),
        )
    )


def filter_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Training docs with every benchmark-contaminated doc removed
    (>= ``min_hits`` shared n-grams). The contaminated-id set is small by
    construction (bounded by benchmark overlap), so the anti-join
    broadcasts — the corpus is never shuffled."""
    bad = (
        decontaminate(docs, benchmark, n=n, id_col=id_col, text_col=text_col,
                      bench_text_col=bench_text_col)
        .filter(F.col("n_contaminated") >= min_hits)
        .select(id_col)
    )
    return docs.join(F.broadcast(bad), id_col, "left_anti")


# --------------------------------------- exact-substring (repeated n-gram) dedup


def _pos_ngram_batches_fn(n: int):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hashlib import md5

        from logagg import textfns

        for pdf in batches:
            ids: list = []
            poss: list = []
            grams: list = []
            for did, text in zip(pdf["id"], pdf["text"]):
                if not isinstance(text, str):
                    continue
                ts = textfns.tokens(text)
                for p in range(len(ts) - n + 1):
                    ids.append(did)
                    poss.append(p)
                    grams.append(md5(" ".join(ts[p : p + n]).encode("utf-8")).digest())
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype=object),
                    "pos": pd.Series(poss, dtype="int64"),
                    "gram": pd.Series(grams, dtype=object),
                }
            )

    return run


def positional_ngrams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 50
) -> DataFrame:
    """(id, pos, gram): EVERY token position's ``n``-gram as a 16-byte md5
    digest — the positional table exact-substring dedup runs on. One row
    per token (minus n-1 per doc): linear in corpus size, one Arrow pass."""
    src = df.select(F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("text"))
    return src.mapInPandas(_pos_ngram_batches_fn(n), schema="id string, pos long, gram binary")


def repeated_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring dedup, Spark-shaped (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): per doc, the merged token
    spans [span_start, span_end) covered by an ``n``-token run occurring
    >= ``min_count`` times corpus-wide (all positions counted, within-doc
    repeats included).

    The reference algorithm builds one suffix array over the concatenated
    corpus — inherently single-machine. The distributed equivalent at a
    fixed minimum match length n: positional n-gram digests (one Arrow
    pass, linear), a digest-keyed partial+final count, a semi-join of
    positions against the repeated digests (AQE skew-join absorbs hot
    template grams), then a per-doc gaps-and-islands window (partitioned
    by doc — bounded by document length, never corpus length) to merge
    overlapping hits into maximal spans. Every stage is shuffle-bounded
    and scales with tokens, not tokens²."""
    from pyspark.sql import Window

    pos = positional_ngrams(df, id_col, text_col, n)
    repeated = (
        pos.groupBy("gram").agg(F.count("*").alias("_c")).filter(F.col("_c") >= min_count)
    )
    hits = pos.join(repeated.select("gram"), "gram").select("id", "pos")

    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        hits.withColumn("_new", (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int"))
        .withColumn("_island", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        islands.groupBy("id", "_island")
        .agg(F.min("pos").alias("span_start"), (F.max("pos") + n).alias("span_end"))
        .select(F.col("id").alias(id_col), "span_start", "span_end")
    )


def cut_repeated_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove the given token spans from each document's text (the cut
    step of exact-substring dedup; docs with no spans pass through
    unchanged). Spans ride a per-doc array through one broadcast-or-
    shuffle join and the cut itself is one Arrow pass; all non-text
    columns are preserved."""
    span_arr = (
        spans.groupBy(F.col(id_col).cast("string").alias("_sid"))
        .agg(F.collect_list(F.struct("span_start", "span_end")).alias("_spans"))
    )
    joined = df.join(span_arr, F.col(id_col).cast("string") == F.col("_sid"), "left")

    cols = list(df.columns)
    tpos = cols.index(text_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from logagg import textfns

        for pdf in batches:
            texts = []
            for text, sp in zip(pdf[text_col], pdf["_spans"]):
                # unmatched left-join rows surface as None (or NaN, float)
                if sp is None or isinstance(sp, float) or len(sp) == 0 or not isinstance(text, str):
                    texts.append(text)
                else:
                    texts.append(
                        textfns.cut_spans_py(
                            text, [(s["span_start"], s["span_end"]) for s in sp]
                        )
                    )
            out = pdf[cols].copy()
            out[text_col] = texts
            yield out

    return joined.mapInPandas(run, schema=df.schema)


# ------------------------------------------------- paragraph-level dedup


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style paragraph deduplication (Wenzek et al. 2020 §3.1: hash
    every paragraph, drop duplicate paragraphs corpus-wide keeping one
    occurrence — the single most effective boilerplate killer for web
    crawls, since headers/footers/cookie banners repeat across pages of a
    site while full documents don't).

    Contract: paragraphs split on blank lines (``\\n\\n+``, empties
    skipped); the kept occurrence of each distinct paragraph is the one
    with the smallest (md5("<id>:<idx>"), id, idx) — content-independent
    and reproducible across runs, engines, and partitionings. Surviving
    paragraphs re-join with "\\n\\n" in original order (the pinned
    paragraph-boundary normalization, same spirit as the token re-join of
    the substring cut). Documents whose every paragraph was dropped come
    back with empty text. Returns ``docs`` with ``text_col`` rewritten
    and ``n_paras_kept`` / ``n_paras_dropped`` accounting columns.

    Scale shape — all Catalyst, skew-proof: posexplode (1→N, narrow) →
    the keeper per paragraph-hash comes from ``min_by``-style
    ``min(struct(...))`` in ONE partial+final hash agg (map-side combine
    absorbs hot hashes — the cookie-banner paragraph repeated 10^9 times
    partial-aggregates to one row per map task; a row_number window here
    would serialize that hash onto one task) → broadcast-free semi-join
    of kept (id, idx) → per-doc re-assembly under one hash agg
    (array_agg + array_sort; groups are doc-sized, never corpus-sized).
    Twin: :func:`logagg.textfns.dedup_paragraphs_py`."""
    ids = F.col(id_col).cast("string")
    paras = (
        docs.select(
            ids.alias("_pid"),
            F.posexplode(F.split(F.col(text_col), r"\n\n+")).alias("_idx", "_para"),
        )
        .filter(F.col("_para") != "")
    )
    okey = F.md5(
        F.concat(F.col("_pid"), F.lit(":"), F.col("_idx").cast("string")).cast("binary")
    )
    tagged = paras.select(
        "_pid", "_idx", "_para", F.md5(F.col("_para").cast("binary")).alias("_h"),
        okey.alias("_okey"),
    )
    # the keeper struct is unique per occurrence, so joining on it alone
    # suffices (its equality implies the hash-group match); a left_semi on
    # the three fields keeps the plan a plain hash join, no self-join
    # attribute aliasing needed
    keepers = (
        tagged.groupBy("_h")
        .agg(F.min(F.struct("_okey", "_pid", "_idx")).alias("_keep"))
        .select("_keep._okey", "_keep._pid", "_keep._idx")
    )
    kept = tagged.join(keepers, ["_okey", "_pid", "_idx"], "left_semi").select(
        "_pid", "_idx", "_para"
    )
    rebuilt = kept.groupBy("_pid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_para"))),
                lambda s: s["_para"],
            ),
            "\n\n",
        ).alias("_new_text"),
        F.count("*").alias("n_paras_kept"),
    )
    totals = paras.groupBy("_pid").agg(F.count("*").alias("_n_paras"))
    out = (
        docs.join(rebuilt, ids == rebuilt["_pid"], "left")
        .drop("_pid")
        .join(totals, ids == totals["_pid"], "left")
        .drop("_pid")
    )
    return out.select(
        *[c for c in docs.columns if c != text_col],
        F.coalesce(F.col("_new_text"), F.lit("")).alias(text_col),
        F.coalesce(F.col("n_paras_kept"), F.lit(0)).cast("int").alias("n_paras_kept"),
        (F.coalesce(F.col("_n_paras"), F.lit(0)) - F.coalesce(F.col("n_paras_kept"), F.lit(0)))
        .cast("int")
        .alias("n_paras_dropped"),
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    stop: frozenset = frozenset(),
    materialize: str = "local",
    out_path: str | None = None,
) -> DataFrame:
    """Fuzzy benchmark decontamination: training docs NEAR-duplicate to an
    evaluation document (shingle Jaccard >= ``threshold``), found via the
    MinHash-LSH banding used for corpus dedup. Complements
    :func:`decontaminate` (exact 13-gram overlap, GPT-3 style): paraphrased
    or partially-copied eval material shares few verbatim 13-grams but
    keeps a high shingle Jaccard.

    Returns one row per contaminated (doc, benchmark item) pair:
    (id_col, bench_id, shared, na, nb) with ``bench_id`` =
    md5(benchmark text). Precision is exact (candidates are verified with
    integer-exact Jaccard); recall follows the 16x4 banding curve.

    100 TB shape: the benchmark band table is tiny and BROADCAST, so the
    corpus pays one Arrow band pass + a map-side candidate probe; exact
    shingles are then recomputed for CANDIDATE docs only (semi-join cut)
    and for the benchmark side. No corpus-scale shuffle, no self-join.
    ``stop`` should be the corpus stop-shingle set when dedup already
    computed one — both sides must use the SAME set (effective-shingle
    semantics are defined jointly)."""
    from fractions import Fraction

    frac = Fraction(str(threshold))
    p, q = frac.numerator, frac.denominator  # J >= p/q <=> (p+q)*shared >= p*(na+nb)

    btext = bench_text_col or text_col
    bench = (
        benchmark.select(
            F.md5(F.col(btext).cast("binary")).alias("id"),
            F.col(btext).alias("text"),
        )
        .dropDuplicates(["id"])
    )
    bench_bands = bench.mapInPandas(
        _band_batches_fn(stop), schema="id string, band int, key binary"
    ).select(F.col("id").alias("bid"), "band", "key")

    src = docs.select(
        F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("text")
    )
    doc_bands = src.mapInPandas(
        _band_batches_fn(stop), schema="id string, band int, key binary"
    )
    cands = (
        doc_bands.join(F.broadcast(bench_bands), ["band", "key"])
        .select("id", "bid")
        .distinct()
        .persist()  # reused for the semi-join AND the verify join
    )
    try:
        cand_docs = src.join(
            F.broadcast(cands.select("id").distinct()), "id", "left_semi"
        )
        sh_d = shingles(cand_docs, "id", "text", stop=stop)
        sh_b = shingles(bench, "id", "text", stop=stop).select(
            F.col("id").alias("bid"), "shingle"
        )
        sizes_d = sh_d.groupBy("id").agg(F.count("*").alias("na"))
        sizes_b = sh_b.groupBy("bid").agg(F.count("*").alias("nb"))
        shared = (
            cands.join(sh_d, "id")
            .join(F.broadcast(sh_b), ["bid", "shingle"])
            .groupBy("id", "bid")
            .agg(F.count("*").alias("shared"))
        )
        out = (
            shared.join(sizes_d, "id")
            .join(F.broadcast(sizes_b), "bid")
            .filter(
                F.lit(p + q) * F.col("shared") >= F.lit(p) * (F.col("na") + F.col("nb"))
            )
            .select(
                F.col("id").alias(id_col),
                F.col("bid").alias("bench_id"),
                "shared",
                "na",
                "nb",
            )
        )
        return util.materialize(out, materialize, out_path)
    finally:
        cands.unpersist()


def filter_contaminated_fuzzy(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    stop: frozenset = frozenset(),
) -> DataFrame:
    """Docs with fuzzy-contaminated rows removed (anti-join on the bounded
    contaminated-id set)."""
    bad = decontaminate_fuzzy(
        docs,
        benchmark,
        threshold=threshold,
        id_col=id_col,
        text_col=text_col,
        bench_text_col=bench_text_col,
        stop=stop,
    ).select(id_col).distinct()
    return docs.join(F.broadcast(bad), id_col, "left_anti")


def decontaminate_passages(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    k: int = 5,
    w: int = 4,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """Passage-level benchmark leak report via winnowed fingerprints —
    the middle member of the decontamination family: :func:`decontaminate`
    catches verbatim ``n``-grams, :func:`decontaminate_fuzzy` catches
    whole-document paraphrase overlap, and this catches a SHORT VERBATIM
    PASSAGE embedded in an otherwise-clean document at a fraction of the
    n-gram table's size (winnowing keeps ~2/(w+1) of grams, and the MOSS
    guarantee — any shared run ≥ k + w − 1 tokens shares a fingerprint —
    bounds what can slip through: nothing longer than k + w − 2 tokens).

    Returns ``(id_col, n_shared_fps, positions array<int>)`` for flagged
    docs only — the positions localize the leaked passage for review,
    which the count-only n-gram report cannot do.

    Same 100 TB shape as :func:`decontaminate`: the benchmark's
    fingerprint set is distinct + BROADCAST, the corpus pays one Arrow
    winnowing pass and a map-side semi-probe; only hit rows reach the
    tiny per-doc aggregation."""
    from logagg import textstats

    btext = bench_text_col or text_col
    bench_fps = (
        textstats.winnow_fingerprints(
            benchmark.select(F.lit("b").alias("_bid"), F.col(btext).alias("text")),
            k=k, w=w, id_col="_bid", text_col="text",
        )
        .select("fp")
        .distinct()
    )
    if broadcast:
        bench_fps = F.broadcast(bench_fps)
    doc_fps = textstats.winnow_fingerprints(
        docs, k=k, w=w, id_col=id_col, text_col=text_col
    )
    hits = doc_fps.join(bench_fps, "fp")
    return (
        hits.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").alias("n_shared_fps"),
            F.array_sort(F.collect_list("pos")).alias("positions"),
        )
        .filter(F.col("n_shared_fps") >= min_shared)
    )


def filter_contaminated_passages(
    docs: DataFrame,
    benchmark: DataFrame,
    **kwargs,
) -> DataFrame:
    """Drop every doc :func:`decontaminate_passages` flags (anti-join on
    the string-cast id, same contract as :func:`filter_contaminated`)."""
    id_col = kwargs.get("id_col", "doc_id")
    bad = decontaminate_passages(docs, benchmark, **kwargs).select(
        F.col(id_col).alias("_bad_id")
    )
    return docs.join(
        bad, docs[id_col].cast("string") == bad["_bad_id"], "left_anti"
    )

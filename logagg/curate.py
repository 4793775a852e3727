"""End-to-end training-data curation: the composed pipeline a webtext user
actually runs, built from the repo's individual operators.

    raw documents
      → domain blocklist         (mix.filter_blocklist, broadcast hash join)
      → PII redaction            (textstats.redact_pii, Catalyst)
      → host boilerplate cut     (textstats.strip_host_boilerplate, Catalyst)
      → C4 line/doc filters      (textstats.c4_filters, Raffel et al., Catalyst)
      → paragraph dedup          (dedup.dedup_paragraphs, CCNet-style, Catalyst)
      → language filter          (textstats.with_lang_pred, Catalyst)
      → quality filter           (textstats.quality_score, Catalyst)
      → LM perplexity filter     (lm.doc_perplexity ppl_max cutoff, or CCNet
                                  ppl_bucket_keep terciles via lm.ppl_buckets)
      → classifier filter        (classify.score_quality, map-only MLlib scoring)
      → repetition filter        (textstats.repetition_stats, one Arrow pass)
      → exact dedup              (dedup.exact_dupes, one hash agg)
      → near dedup               (dedup.minhash_lsh_dupes + dup_clusters)
      → exact-substring cut      (dedup.repeated_ngram_spans + cut, Lee et al.)
      → benchmark decontamination(dedup.filter_contaminated, broadcast probe)
      → per-domain cap           (textstats.cap_per_domain, salted rank)
      → sequence packing         (textstats.pack_sequences, bucketed window)

Every stage is optional and independently tested elsewhere; this module adds
the composition, a per-stage accounting manifest (rows in/out/dropped — the
curation report every data team publishes next to a training set), and
optional per-stage parquet materialization (``materialize_dir``) so a
100 TB run truncates lineage at each stage, survives restarts (``resume``),
and never recomputes a finished stage.

Scale shape: each filter is either pure Catalyst, a single Arrow pass, or an
already-scale-shaped dedup operator; the only driver-side values are the
per-stage row counts in the manifest (scalars from distributed counts).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logagg import dedup, textstats, util


@dataclass
class CurationResult:
    docs: DataFrame  # surviving (and possibly packed) documents
    manifest: list[dict] = field(default_factory=list)
    # probe_increment only: the state update that commit_increment_state
    # folds in — {"md5": accepted text hashes (lineage-free), "survivors":
    # the docs frame}
    pending: dict | None = None

    def unpersist(self) -> None:
        """Release the final stage's cache (in-memory mode only; parquet-
        landed runs hold no cache). Call once `docs` has been consumed."""
        self.docs.unpersist()

    def manifest_df(self, spark) -> DataFrame:
        return spark.createDataFrame(
            [
                (m["stage"], m["rows_in"], m["rows_out"], m["rows_in"] - m["rows_out"])
                for m in self.manifest
            ],
            "stage string, rows_in long, rows_out long, dropped long",
        )


# Gopher-style default repetition ceilings (Rae et al. 2021 table A1 spirit;
# keys must be columns of textstats.repetition_stats)
DEFAULT_REPETITION_LIMITS = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top2_char_frac": 0.20,
    "top3_char_frac": 0.18,
    "top4_char_frac": 0.16,
    "dup10_char_frac": 0.10,
}


def curate(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
    blocklist: list[str] | None = None,
    redact: bool = False,
    host_boilerplate: bool = False,
    host_boilerplate_share: float = 0.5,
    c4: bool = False,
    c4_min_sentences: int = 5,
    paragraph_dedup: bool = False,
    langs: tuple[str, ...] | None = None,
    quality_min: float | None = None,
    ppl_lm=None,
    ppl_max: float | None = None,
    ppl_bucket_keep: tuple[str, ...] | None = None,
    ppl_bucket_lang_col: str | None = None,
    quality_model=None,
    quality_prob_min: float | None = None,
    repetition_limits: dict[str, float] | None = None,
    exact_dedup: bool = True,
    near_dedup: bool = False,
    substring_n: int | None = None,
    benchmark: DataFrame | None = None,
    ngram_n: int = 13,
    fuzzy_decontaminate: bool = False,
    fuzzy_threshold: float = 0.8,
    passage_decontaminate: bool = False,
    domain_cap: int | None = None,
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    sample_k: int | None = None,
    sample_seed: str = "curate-wrs",
    pack_capacity: int | None = None,
    materialize_dir: str | None = None,
    resume: bool = False,
) -> CurationResult:
    """Run the configured stages in order; every ``None``/``False`` knob
    skips its stage. Returns the surviving docs plus the stage manifest.

    With ``materialize_dir`` each stage lands in
    ``<dir>/<idx>_<stage>/`` parquet and the next stage reads from disk —
    lineage is truncated per stage (no 9-stage recompute on a failure) and
    ``resume=True`` skips any stage whose output already exists (Spark's
    committed ``_SUCCESS`` marker is the done flag). Counts for skipped
    stages are re-read from the landed parquet (metadata-cheap)."""
    spark = docs.sparkSession
    manifest: list[dict] = []
    cur = docs
    n_cur = None  # lazily counted; each stage's rows_in = prior rows_out
    idx = 0

    def land(stage: str, out: DataFrame) -> DataFrame:
        if materialize_dir is None:
            # pipelined persist: without parquet landing, every stage
            # count would otherwise re-run the WHOLE upstream lineage
            # (the repetition Arrow pass once per later stage — measured
            # 42 s vs 9 s for a 6-stage run on 5k docs). Each stage is
            # cached, and its predecessor released as soon as the stage
            # is counted (see step()); the final stage stays persisted
            # for the caller — CurationResult.unpersist() releases it.
            return out.persist()
        path = f"{materialize_dir}/{idx:02d}_{stage}"
        out.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def existing(stage: str) -> DataFrame | None:
        if not (resume and materialize_dir):
            return None
        path = f"{materialize_dir}/{idx:02d}_{stage}"
        # _SUCCESS check: only a fully committed stage counts
        fs, success = util.hadoop_path(spark, f"{path}/_SUCCESS")
        return util.read_parquet_or_none(spark, path) if fs.exists(success) else None

    def step(stage: str, fn) -> None:
        nonlocal cur, n_cur, idx
        rows_in = cur.count() if n_cur is None else n_cur
        done = existing(stage)
        out = done if done is not None else land(stage, fn(cur))
        rows_out = out.count()
        if materialize_dir is None and cur is not docs:
            cur.unpersist()  # predecessor no longer referenced
        manifest.append({"stage": stage, "rows_in": rows_in, "rows_out": rows_out})
        cur, n_cur = out, rows_out
        idx += 1

    if blocklist is not None:
        if url_col is None:
            raise ValueError("blocklist requires url_col")
        from logagg import mix

        # first stage: a domain drop costs one broadcast hash join — run
        # it before anything that touches the text
        step("blocklist", lambda d: mix.filter_blocklist(d, blocklist, url_col=url_col))
    if redact:
        step("redact_pii", lambda d: d.withColumn(text_col, textstats.redact_pii(F.col(text_col))))
    if host_boilerplate:
        # host-frequency line cut BEFORE the corpus-level paragraph dedup:
        # site furniture is per-host evidence, and removing it first keeps
        # cross-host paragraph collisions meaningful. Needs url-keyed docs.
        if url_col is None:
            raise ValueError("host_boilerplate requires url_col")
        step(
            "host_boilerplate",
            lambda d: textstats.strip_host_boilerplate(
                d,
                url_col=url_col,
                text_col=text_col,
                min_share=host_boilerplate_share,
            ).drop("n_lines_dropped"),
        )
    if c4:
        # C4 line/doc heuristics AFTER the host cut (furniture first — a
        # cookie banner that happens to end in '.' would otherwise survive
        # as a "sentence") and BEFORE paragraph dedup / LM judgments, same
        # reasoning as host_boilerplate. Line-rewrites text, drops docs.
        step(
            "c4_filters",
            lambda d: textstats.c4_filters(
                d, text_col=text_col, min_sentences=c4_min_sentences
            ).drop("n_lines_dropped", "n_sentences"),
        )
    if paragraph_dedup:
        # CCNet order: paragraph-level boilerplate removal comes BEFORE
        # language/quality/LM judgments — headers and cookie banners skew
        # every downstream signal. Transform-only (rows survive with
        # rewritten text); the accounting columns are dropped here, the
        # manifest carries the stage's row identity
        step(
            "paragraph_dedup",
            lambda d: dedup.dedup_paragraphs(d, id_col=id_col, text_col=text_col).drop(
                "n_paras_kept", "n_paras_dropped"
            ),
        )
    if langs is not None:
        step(
            "language_filter",
            lambda d: textstats.with_lang_pred(d, text_col=text_col)
            .filter(F.col("lang_pred").isin(*langs))
            .drop("lang_pred"),
        )
    if quality_min is not None:
        step(
            "quality_filter",
            lambda d: d.filter(
                textstats.quality_score(F.col(text_col), F.length(text_col)) >= quality_min
            ),
        )
    if ppl_lm is not None:
        if (ppl_max is None) == (ppl_bucket_keep is None):
            raise ValueError("ppl_lm requires exactly one of ppl_max / ppl_bucket_keep")
        from logagg import lm as lmmod

        if ppl_max is not None:

            def ppl_stage(d: DataFrame) -> DataFrame:
                # CCNet-style LM quality gate: score every doc in one Arrow
                # pass (broadcast model, zero shuffles), keep low-perplexity
                # docs. Zero-token docs score NULL and drop here (nothing to
                # keep). The keep-list semi-join is on the string-cast id —
                # Arrow kernels carry ids as strings.
                scored = lmmod.doc_perplexity(d, ppl_lm, id_col=id_col, text_col=text_col)
                keep = scored.filter(F.col("ppl") <= ppl_max).select("id")
                return d.join(
                    keep, F.col(id_col).cast("string") == keep["id"], "left_semi"
                )

            step("perplexity_filter", ppl_stage)
        else:
            keep_set = tuple(ppl_bucket_keep)
            if not keep_set or not set(keep_set) <= {"head", "middle", "tail"}:
                raise ValueError("ppl_bucket_keep must be a non-empty subset of head/middle/tail")

            def ppl_bucket_stage(d: DataFrame) -> DataFrame:
                # CCNet bucket gate (relative, not absolute: terciles of
                # the corpus itself, per language when a lang column is
                # configured) — keep the configured buckets and drop the
                # scoring/bucket columns so the stage is schema-preserving
                tagged = lmmod.ppl_buckets(
                    d, ppl_lm, id_col=id_col, text_col=text_col,
                    lang_col=ppl_bucket_lang_col,
                )
                return tagged.filter(F.col("ppl_bucket").isin(*keep_set)).drop(
                    "ppl", "ppl_bucket"
                )

            step("ppl_bucket_filter", ppl_bucket_stage)
    if quality_model is not None:
        if quality_prob_min is None:
            raise ValueError("quality_model requires quality_prob_min")
        from logagg import classify

        def clf_stage(d: DataFrame) -> DataFrame:
            # fastText-style trained gate: map-only scoring (broadcast
            # coefficients), keep-list semi-join on the string-cast id
            scored = classify.score_quality(
                d, quality_model, id_col=id_col, text_col=text_col
            )
            keep = scored.filter(F.col("quality_prob") >= quality_prob_min).select("id")
            return d.join(
                keep, F.col(id_col).cast("string") == keep["id"], "left_semi"
            )

        step("classifier_filter", clf_stage)
    if repetition_limits is not None:
        limits = repetition_limits

        def rep_stage(d: DataFrame) -> DataFrame:
            stats = textstats.repetition_stats(d, id_col=id_col, text_col=text_col)
            cond = None
            for col, mx in limits.items():
                c = F.col(col) <= mx
                cond = c if cond is None else (cond & c)
            # keep-list semi-join on the string-cast id — Arrow kernels
            # carry ids as strings (url-keyed corpora work unchanged)
            keep = stats.filter(cond).select("id")
            return d.join(
                keep, F.col(id_col).cast("string") == keep["id"], "left_semi"
            )

        step("repetition_filter", rep_stage)
    if exact_dedup:

        def exact_stage(d: DataFrame) -> DataFrame:
            groups = dedup.exact_dupes(d, id_col=id_col, text_col=text_col)
            return (
                d.withColumn("_md5", F.md5(F.col(text_col).cast("binary")))
                .join(groups.select(F.col("text_md5").alias("_md5"), "keeper"), "_md5")
                .filter(F.col(id_col) == F.col("keeper"))
                .drop("_md5", "keeper")
            )

        step("exact_dedup", exact_stage)
    if near_dedup:

        def near_stage(d: DataFrame) -> DataFrame:
            # with a materialize_dir, pair/cluster intermediates land in
            # parquet too (driver-free path mode — the 100 TB shape);
            # without one, the bounded pair list is driver-materialized
            mat = "path" if materialize_dir else "local"
            pfx = f"{materialize_dir}/{idx:02d}_near_dedup" if materialize_dir else None
            pairs = dedup.minhash_lsh_dupes(
                d, id_col=id_col, text_col=text_col,
                materialize=mat, out_path=f"{pfx}.pairs" if pfx else None,
            )
            clusters = dedup.dup_clusters(
                d, id_col=id_col, text_col=text_col, pairs=pairs,
                materialize=mat, out_path=f"{pfx}.clusters" if pfx else None,
            )
            # keep one representative per component — the MIN id in the
            # id column's native order. (The cluster label itself is the
            # STRING-min, because ids ride the Arrow pair kernels as
            # strings: "34" < "4" — wrong keeper for numeric ids.)
            cl = clusters.select(F.col(id_col).cast("string").alias("_cid"), "cluster")
            ids = d.select(
                F.col(id_col).alias("_orig"), F.col(id_col).cast("string").alias("_cid")
            )
            joined = cl.join(ids, "_cid")
            keepers = joined.groupBy("cluster").agg(F.min("_orig").alias("_keep"))
            losers = (
                joined.join(keepers, "cluster")
                .filter(F.col("_orig") != F.col("_keep"))
                .select(F.col("_cid").alias("_loser"))
            )
            return d.join(
                F.broadcast(losers),
                F.col(id_col).cast("string") == F.col("_loser"),
                "left_anti",
            )

        step("near_dedup", near_stage)
    if substring_n is not None:

        def substr_stage(d: DataFrame) -> DataFrame:
            spans = dedup.repeated_ngram_spans(
                d, id_col=id_col, text_col=text_col, n=substring_n
            )
            return dedup.cut_repeated_spans(d, spans, id_col=id_col, text_col=text_col)

        # transform-only (Lee et al. cut spans and KEEP the documents)
        step("substring_dedup", substr_stage)
    if benchmark is not None:
        step(
            "decontaminate",
            lambda d: dedup.filter_contaminated(
                d, benchmark, n=ngram_n, id_col=id_col, text_col=text_col
            ),
        )
        if fuzzy_decontaminate:
            # second pass for paraphrased/partial eval material the exact
            # 13-gram probe misses (near-dup by shingle Jaccard)
            step(
                "decontaminate_fuzzy",
                lambda d: dedup.filter_contaminated_fuzzy(
                    d,
                    benchmark,
                    threshold=fuzzy_threshold,
                    id_col=id_col,
                    text_col=text_col,
                ),
            )
        if passage_decontaminate:
            # third mode: short verbatim benchmark passages inside
            # otherwise-clean docs (winnowed-fingerprint probe)
            step(
                "decontaminate_passages",
                lambda d: dedup.filter_contaminated_passages(
                    d, benchmark, id_col=id_col, text_col=text_col
                ),
            )
    if domain_cap is not None:
        if url_col is None:
            raise ValueError("domain_cap requires url_col")
        step(
            "domain_cap",
            lambda d: textstats.cap_per_domain(d, cap=domain_cap, id_col=url_col).drop("host"),
        )
    if dsir_target is not None:
        if dsir_k is None:
            raise ValueError("dsir_target requires dsir_k")

        def dsir_stage(d: DataFrame) -> DataFrame:
            from logagg import dsir as dsirmod

            # selection LAST (before packing): importance weights should be
            # fit on the CLEANED pool, not raw crawl noise (the DSIR paper
            # fits after its quality filter for the same reason)
            return dsirmod.dsir_select(
                d, dsir_target, k=dsir_k, id_col=id_col, text_col=text_col
            ).drop("logw", "key")

        step("dsir_select", dsir_stage)
    if sample_k is not None:

        def sample_stage(d: DataFrame) -> DataFrame:
            from logagg import mix

            # alternative selection tail to DSIR: exact-k quality-weighted
            # sampling (A-ES) — weights from the pinned quality expression
            # over the CLEANED pool, so "keep the best-skewed k" composes
            # with every upstream filter. TakeOrdered plan, no global sort.
            weighted = d.withColumn(
                "_w",
                textstats.quality_score(F.col(text_col), F.length(text_col))
                + F.lit(1e-9),  # floor: zero-quality docs stay sampleable
            )
            return mix.weighted_sample(
                weighted, "_w", sample_k, id_col=id_col, seed=sample_seed
            ).drop("_w")

        step("quality_sample", sample_stage)
    if pack_capacity is not None:

        def pack_stage(d: DataFrame) -> DataFrame:
            toks = d.select(
                F.col(id_col), textstats.token_count(F.col(text_col)).alias("n_tokens")
            )
            packed = textstats.pack_sequences(
                toks, id_col=id_col, tokens_col="n_tokens", capacity=pack_capacity
            )
            return d.join(packed, id_col)

        step("pack_sequences", pack_stage)

    return CurationResult(docs=cur, manifest=manifest)


def curate_pages(
    pages: DataFrame,
    *,
    min_tokens: int = 8,
    max_link_density: float = 0.5,
    url_col: str = "url",
    html_col: str = "html",
    **curate_kwargs,
) -> CurationResult:
    """The full crawl-to-training-text path: main-content extraction over
    the ``html`` binary column (``extract.extract_main_content``, one
    map-only Arrow pass) feeding :func:`curate` keyed by url. Pages whose
    extraction yields no content blocks drop here (nothing to train on);
    the manifest's first row accounts for them. All downstream curation
    knobs pass through (the url doubles as id and domain key)."""
    from logagg import extract

    n_pages = pages.count()
    docs = (
        extract.extract_main_content(
            pages,
            min_tokens=min_tokens,
            max_link_density=max_link_density,
            url_col=url_col,
            html_col=html_col,
        )
        .filter(F.col("content") != "")
        .select(F.col("url"), F.col("content").alias("text"))
    )
    res = curate(docs, id_col="url", text_col="text", url_col="url", **curate_kwargs)
    first_in = res.manifest[0]["rows_in"] if res.manifest else docs.count()
    res.manifest.insert(
        0, {"stage": "extract_content", "rows_in": n_pages, "rows_out": first_in}
    )
    return res


def curate_increment(
    new_docs: DataFrame,
    state_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus: DataFrame | None = None,
    near_dedup: bool = False,
    **filter_kwargs,
) -> CurationResult:
    """Continuous-ingest curation: run the stateless filter stages on a
    NEW batch only, then deduplicate it against everything previously
    accepted via persistent indexes under ``state_dir`` — the steady-state
    crawl-ingestion shape at 100 TB, where the corpus is never re-read,
    let alone re-shingled.

    State layout: ``state_dir/md5`` = parquet set of accepted text
    hashes (exact dedup = one anti-join against it); ``state_dir/minhash``
    = the frozen-stop-set LSH band index (``dedup.minhash_index_write``).
    First increment bootstraps both. ``corpus`` (text of previously
    accepted docs) is required for near-dup verification from the second
    increment on — it is only touched via a candidate-id semi-join.

    Keeper semantics: first-increment-wins across batches (the already-
    accepted doc survives; within a batch the min id survives) — matches
    the batch pipeline whenever earlier batches carry smaller ids.
    All ``curate`` filter knobs pass through (``exact_dedup``/
    ``near_dedup`` knobs of the batch pipeline are managed here).

    The increment is :func:`probe_increment` (reads the state, never
    writes it) followed by :func:`commit_increment_state` (the only
    writer of the state) — the same two halves
    :func:`logagg.streaming.run_streaming_curate` runs with a landing
    between them. The returned docs stay valid after the commit."""
    res = probe_increment(
        new_docs, state_dir, id_col=id_col, text_col=text_col, corpus=corpus,
        near_dedup=near_dedup, **filter_kwargs,
    )
    md5, survivors = res.pending["md5"], res.pending["survivors"]
    commit_increment_state(
        new_docs.sparkSession, state_dir, md5, survivors,
        id_col=id_col, text_col=text_col, near_dedup=near_dedup,
    )
    md5.unpersist()
    return CurationResult(docs=res.docs, manifest=res.manifest)


def probe_increment(
    new_docs: DataFrame,
    state_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus: DataFrame | None = None,
    near_dedup: bool = False,
    **filter_kwargs,
) -> CurationResult:
    """The probe half of :func:`curate_increment` (same arguments): the
    filters and both dedup probes, reading ``state_dir`` and never
    writing it. The would-be state update is returned on
    ``CurationResult.pending`` for :func:`commit_increment_state`.
    Keeping every write out of the probe is what makes a replay sound: a
    probe re-run AFTER a partial md5 append would see the batch's own
    hashes and silently drop the whole batch."""
    spark = new_docs.sparkSession
    res = curate(
        new_docs,
        id_col=id_col,
        text_col=text_col,
        exact_dedup=False,
        near_dedup=False,
        **filter_kwargs,
    )
    cur = res.docs
    manifest = res.manifest
    n_cur = manifest[-1]["rows_out"] if manifest else cur.count()

    # ---- exact dedup: within-batch keeper, then anti-join the md5 index
    rows_in = n_cur
    groups = dedup.exact_dupes(cur, id_col=id_col, text_col=text_col)
    within = (
        cur.withColumn("_md5", F.md5(F.col(text_col).cast("binary")))
        .join(groups.select(F.col("text_md5").alias("_md5"), "keeper"), "_md5")
        .filter(F.col(id_col) == F.col("keeper"))
        .drop("keeper")
    )
    md5_idx = util.read_parquet_or_none(spark, f"{state_dir}/md5")
    accepted = (
        within.join(
            md5_idx, within["_md5"] == md5_idx["text_md5"], "left_anti"
        )
        if md5_idx is not None
        else within
    )
    # LINEAGE CUT, not a mere persist: the commit's append of this batch's
    # md5s to the index makes Spark invalidate every cached plan that
    # READS that path — a persisted `accepted` would silently recompute
    # against the updated index and anti-join ITSELF away (observed:
    # second increment returns 0 rows). localCheckpoint materializes the
    # rows and truncates the plan, so no later index write can re-derive
    # this frame.
    accepted = accepted.localCheckpoint()
    n_acc = accepted.count()
    manifest.append(
        {"stage": "exact_dedup_incremental", "rows_in": rows_in, "rows_out": n_acc}
    )
    # eager checkpoint: pending["md5"] must survive accepted's unpersist
    # below (the commit reads it after this returns)
    new_md5 = (
        accepted.select(F.col("_md5").alias("text_md5")).distinct().localCheckpoint()
    )
    out = accepted.drop("_md5")

    # ---- near dedup against the persistent band index
    if near_dedup:
        if util.read_parquet_or_none(spark, f"{state_dir}/minhash/bands") is None:
            # bootstrap: dedup within the first batch with the batch
            # operator; the commit freezes the stop set from the survivors
            pairs = dedup.minhash_lsh_dupes(out, id_col=id_col, text_col=text_col)
        else:
            if corpus is None:
                raise ValueError(
                    "near_dedup increments need `corpus` (text of accepted docs)"
                )
            pairs = dedup.minhash_lsh_dupes_incremental(
                out,
                corpus,
                f"{state_dir}/minhash",
                id_col=id_col,
                text_col=text_col,
            )
        # Pairwise drop policy (slightly more conservative than the batch
        # pipeline's connected-components keeper on CHAIN clusters, the
        # right call incrementally): a new doc drops iff it near-matches
        # an accepted doc, or it is the native-order-larger side of a
        # within-batch pair. Native order matters — pair columns are
        # strings and "34" < "4".
        new_ids = out.select(F.col(id_col).cast("string").alias("_nid"))
        p = pairs.select("url_a", "url_b")
        a_new = p.join(new_ids, p["url_a"] == new_ids["_nid"], "left_semi")
        b_new = p.join(new_ids, p["url_b"] == new_ids["_nid"], "left_semi")
        both_new = a_new.intersect(b_new)
        ids_map = out.select(
            F.col(id_col).alias("_orig"), F.col(id_col).cast("string").alias("_cid")
        )
        bn = (
            both_new.join(ids_map, both_new["url_a"] == ids_map["_cid"])
            .select("url_a", "url_b", F.col("_orig").alias("_oa"))
            .join(ids_map, F.col("url_b") == ids_map["_cid"])
            .select("url_a", "url_b", "_oa", F.col("_orig").alias("_ob"))
        )
        within_losers = bn.select(
            F.when(F.col("_oa") <= F.col("_ob"), F.col("url_b"))
            .otherwise(F.col("url_a"))
            .alias("_loser")
        )
        cross_losers = (
            a_new.exceptAll(both_new).select(F.col("url_a").alias("_loser"))
            .union(b_new.exceptAll(both_new).select(F.col("url_b").alias("_loser")))
        )
        losers = cross_losers.union(within_losers).distinct()
        survivors = out.join(
            losers, F.col(id_col).cast("string") == losers["_loser"], "left_anti"
        ).persist()
        n_sur = survivors.count()
        manifest.append(
            {"stage": "near_dedup_incremental", "rows_in": n_acc, "rows_out": n_sur}
        )
        accepted.unpersist()
        out = survivors

    return CurationResult(
        docs=out, manifest=manifest, pending={"md5": new_md5, "survivors": out}
    )


def commit_increment_state(
    spark,
    state_dir: str,
    md5: DataFrame | None,
    survivors: DataFrame | None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dedup: bool = False,
) -> None:
    """Fold one increment into the persistent dedup state — the only
    writer of ``state_dir/md5`` and ``state_dir/minhash``, and IDEMPOTENT,
    so a replay after any crash converges to the same state. ``md5`` and ``survivors`` are the
    ``pending`` frames of :func:`probe_increment`, or their landed copies
    read back (:func:`logagg.streaming.run_streaming_curate`); ``None`` is
    an empty landing, with nothing to fold.

    * md5 set: only hashes not already in ``state_dir/md5`` are appended
      (anti-join first — a re-commit after a half-done append adds
      nothing twice). The to-append frame is localCheckpoint'd before the
      write: its lineage reads the same path it appends to, and Spark's
      recache-by-path would otherwise re-derive it mid-write.
    * band index (``near_dedup``): bootstrap = ``mode="overwrite"`` from
      the survivors (idempotent by construction; freezes the stop set);
      thereafter only survivors whose id is absent from
      ``state_dir/minhash/bands`` are appended. Parquet job commits are
      all-or-nothing per attempt, so a doc's bands never half-exist.

    State that exists but cannot be read raises (``util.
    read_parquet_or_none``) instead of being rebuilt from this batch."""
    if md5 is not None:
        idx = util.read_parquet_or_none(spark, f"{state_dir}/md5")
        todo = md5.join(idx, "text_md5", "left_anti") if idx is not None else md5
        todo = todo.localCheckpoint()
        if todo.count():
            todo.write.mode("append").parquet(f"{state_dir}/md5")
        todo.unpersist()

    if near_dedup and survivors is not None:
        bands = util.read_parquet_or_none(spark, f"{state_dir}/minhash/bands")
        if bands is None:
            dedup.minhash_index_write(
                survivors, f"{state_dir}/minhash", id_col=id_col,
                text_col=text_col, mode="overwrite",
            )
        else:
            known = bands.select("id").distinct()
            missing = survivors.join(
                known, F.col(id_col).cast("string") == known["id"], "left_anti"
            ).localCheckpoint()
            if missing.count():
                dedup.minhash_index_write(
                    missing, f"{state_dir}/minhash", id_col=id_col,
                    text_col=text_col, mode="append",
                )
            missing.unpersist()

"""Structured Streaming variant of the pipeline.

The reference is strictly batch (one asyncio run, aggregator/main.py:147-151)
— this module is the engine's forward path for continuous ingestion: the
same vectorized parse stage (``mapInPandas`` is stateless, so it lifts to a
streaming DataFrame unchanged) feeding a watermarked windowed aggregate.

Sources: file-based (parquet dir) here — a Kafka source is the same code
with ``readStream.format("kafka")`` + a payload-decode select.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from logagg import parse, route, util
from logagg.checkpoint import StageLedger
from logagg.schemas import PAGES_SCHEMA


def _file_stream(
    spark: SparkSession,
    src_dir: str,
    max_files_per_trigger: int = 8,
    schema: StructType | None = None,
) -> DataFrame:
    """Parquet file stream over ``src_dir``. File streams need a fixed
    schema: the caller's, else the one a batch read of the source infers."""
    return (
        spark.readStream.schema(schema or spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def _drain(writer: DataStreamWriter) -> None:
    """Start the query, run all currently available input (the
    deterministic barrier), then stop it."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def streaming_sink_agg(pages_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-sink aggregate over 1-hour event-time windows with late-data
    handling via watermark on ``warc_ts``."""
    parsed = parse.parsed_records(pages_stream)
    return (
        parsed.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", "1 hour").alias("win"),
            "host",
            "lang",
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.length("message")).alias("total_msg_chars"),
        )
        .select(
            F.col("win.start").alias("bucket"), "host", "lang", "n_rows", "total_msg_chars"
        )
    )


def _drive_to_memory(
    df: DataFrame, output_mode: str, query_name: str, final_sql: str
) -> DataFrame:
    """Shared test/bench drive loop: memory sink, drained, then the
    final-state SQL over the sink table."""
    _drain(df.writeStream.outputMode(output_mode).format("memory").queryName(query_name))
    return df.sparkSession.sql(final_sql)


def streaming_dedup(pages_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Continuous exact dedup: first occurrence of each ``md5(text)`` wins,
    duplicates arriving within the watermark horizon are dropped.

    ``dropDuplicatesWithinWatermark`` is the 100 TB-stream shape: state per
    key is EVICTED once the watermark passes it, so state size is bounded
    by the duplicate-arrival horizon instead of the corpus (an unbounded
    ``dropDuplicates`` on a trillion-key stream eventually owns a
    trillion-entry state store). Batch equivalence: with a watermark wider
    than the corpus' event-time span this equals ``dedup.exact_dupes``'
    keeper-count exactly (tested); production picks the horizon as the
    SLA for how late a duplicate may arrive."""
    keyed = pages_stream.withColumn(
        "text_md5", F.md5(F.col("text").cast("binary"))
    ).withWatermark("warc_ts", watermark)
    return keyed.dropDuplicatesWithinWatermark(["text_md5"])


def run_streaming_dedup_to_memory(
    spark: SparkSession, pages_dir: str, watermark: str = "2 hours",
    query_name: str = "stream_dedup",
) -> DataFrame:
    """Drive the streaming dedup over all available files (append mode —
    each kept row is emitted exactly once)."""
    deduped = streaming_dedup(_file_stream(spark, pages_dir, schema=PAGES_SCHEMA), watermark)
    return _drive_to_memory(
        deduped.select("url", "text_md5"),
        "append",
        query_name,
        f"SELECT url, text_md5 FROM {query_name}",
    )


def run_streaming_route_multiplex(
    spark: SparkSession,
    pages_dir: str,
    outdir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
) -> dict[str, int]:
    """Streaming form of the north-star fan-out: parse each micro-batch,
    stamp the routing key, append partition-aware to the multiplexed sink
    layout (node/log_type), and accumulate per-sink row counts — the
    streaming twin of ``route.multiplex_write`` (routed-row-set equality
    with the batch writer is pytest-pinned).

    ``foreachBatch`` is the right shape here: the partitioned write fans a
    micro-batch out to all N sinks in ONE job (per-sink counts come from the
    footers of the files it committed), and the sink-side append is
    keyed by batch_id through the commit ledger (:class:`logagg.checkpoint.
    StageLedger` on ``<outdir>/_batch_ledger/``, one ``batch-<id>.json``
    marker ``{"rows", "sinks"}`` per micro-batch): a batch whose marker
    exists is SKIPPED on replay and its per-route counts are read back from
    the marker, so re-delivery after a post-commit failure (the common
    foreachBatch retry window: sink committed, checkpoint offset not yet)
    neither duplicates sink rows nor double-counts. The marker is written
    AFTER the append succeeds, so a crash mid-append still replays that
    batch — at-least-once across that narrower window; closing it needs a
    transactional table format (the Iceberg branch in logagg.catalog,
    batch-id watermark in snapshot metadata). Runs all currently available
    input and returns the per-route counts, replay-stable.
    """
    counts: dict[str, int] = {}
    ledger = StageLedger(Path(outdir) / "_batch_ledger")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        def _append() -> dict:
            sinks, _ = route.multiplex_write(batch_df, outdir)
            return {"rows": sum(sinks.values()), "sinks": sinks}

        marker, _ = ledger.run_stage(f"batch-{batch_id}", "route", _append)
        for rte, n in marker["sinks"].items():
            counts[rte] = counts.get(rte, 0) + n

    parsed = parse.parsed_records(
        _file_stream(spark, pages_dir, max_files_per_trigger, PAGES_SCHEMA)
    )
    _drain(parsed.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint_dir))
    return counts


def stateful_host_counts(pages_stream: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-host record count kept in
    explicit group state (``applyInPandasWithState``) — the pattern for
    operators Spark's built-in aggregates can't express (per-key custom
    state machines). Emits the cumulative count on every update."""
    import pandas as pd

    parsed = parse.parsed_records(pages_stream)  # stamps host (with_url_meta)

    def update(key, pdfs, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"host": [key[0]], "n_rows": [total]})

    return parsed.groupBy("host").applyInPandasWithState(
        update,
        outputStructType="host string, n_rows long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def run_stateful_to_memory(
    spark: SparkSession, pages_dir: str, query_name: str = "stateful_counts"
) -> DataFrame:
    """Drive the stateful counter over all available files; the last update
    per host is the final count (updates append per micro-batch → max)."""
    agg = stateful_host_counts(_file_stream(spark, pages_dir, schema=PAGES_SCHEMA))
    return _drive_to_memory(
        agg,
        "update",
        query_name,
        f"SELECT host, max(n_rows) AS n_rows FROM {query_name} GROUP BY host",
    )


def run_stream_to_memory(
    spark: SparkSession, pages_dir: str, query_name: str = "stream_agg"
) -> DataFrame:
    """Drive the stream over all currently-available files and return the
    final aggregate as a DataFrame."""
    agg = streaming_sink_agg(_file_stream(spark, pages_dir, schema=PAGES_SCHEMA))
    return _drive_to_memory(agg, "complete", query_name, f"SELECT * FROM {query_name}")


def streaming_session_windows(
    events_stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Event-time sessionization on a stream: the native ``session_window``
    gap-merge under a watermark. Append mode emits a session only once the
    watermark passes its end — the late-data contract: an event arriving
    within ``watermark`` of the session's close still merges; later ones
    are dropped rather than corrupting an already-emitted session.

    Watermarks require an instant-typed event time (TIMESTAMP, not NTZ) —
    the cast is the wall-clock identity because the session TZ is pinned
    UTC (logagg.session)."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def user_sessions_tws(events_stream: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user session counting via ``transformWithStateInPandas`` — the
    Spark 4 successor to applyInPandasWithState (typed state handles, timer
    support, RocksDB-backed): a ValueState of (last_ts_us, n_sessions) per
    user; a row more than ``gap_minutes`` after the previous one opens a new
    session. Emits the cumulative count on every update.

    Ordering contract: rows are sorted by ts inside each micro-batch; exact
    equality with the batch sessionizer therefore holds when a user's rows
    do not interleave out of order ACROSS batches (true here — one input
    file; production uses event-time timers + watermark for stragglers).
    """
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_us = gap_minutes * 60 * 1_000_000

    class SessionCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("sess", "last_us long, n long")

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                last_us, n = self._state.get()
            else:
                last_us, n = None, 0
            ts = pd.concat([pdf["ts"] for pdf in rows]).sort_values()
            for t_us in ts.to_numpy().astype("datetime64[us]").astype("int64"):
                if last_us is None or t_us - last_us > gap_us:
                    n += 1
                last_us = int(t_us)
            self._state.update((last_us, n))
            yield pd.DataFrame({"user_id": [key[0]], "n_sessions": [n]})

        def close(self) -> None:
            pass

    return events_stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionCounter(),
        outputStructType="user_id long, n_sessions long",
        outputMode="Update",
        timeMode="None",
    )


def run_sessions_tws_to_memory(
    spark: SparkSession, events_dir: str, query_name: str = "tws_sessions"
) -> DataFrame:
    """Drive the transformWithState sessionizer over all available input
    (RocksDB state store — required by transformWithState).

    Environment gate: Spark's transformWithState driver worker talks proto
    over a local socket and needs the ``google.protobuf`` Python package —
    absent in this container, present on any real Spark 4 cluster. Raises
    ImportError when unavailable (callers/tests skip).
    """
    import os
    import tempfile

    from google.protobuf import descriptor  # noqa: F401  (availability gate)

    if os.path.isfile(events_dir):  # file streams need a directory source
        staged = tempfile.mkdtemp(prefix="logagg-events-stream-")
        os.symlink(os.path.abspath(events_dir), os.path.join(staged, "part-00000.parquet"))
        events_dir = staged
    stream = _file_stream(spark, events_dir)
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        return _drive_to_memory(
            user_sessions_tws(stream),
            "update",
            query_name,
            f"SELECT user_id, max(n_sessions) AS n_sessions FROM {query_name} "
            "GROUP BY user_id",
        )
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def run_streaming_heavy_hitters(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    key_col: str = "url",
    capacity: int = 256,
    max_files_per_trigger: int = 8,
) -> dict[str, int]:
    """Continuously maintained Misra-Gries heavy-hitter summary over a
    parquet file stream — the streaming form of
    ``aggregate.heavy_hitters``'s candidate pass. Each micro-batch is
    folded distributed (``aggregate.mg_summary``: map-only Arrow pass +
    bounded keywise merge), then the ≤ capacity-row state is updated
    driver-side with the same single-source merge kernel
    (``refsketch.misra_gries_update_py``) and committed as the ``state``
    of the batch's :class:`logagg.checkpoint.StageLedger` marker in
    ``state_dir`` (the highest committed batch holds the current state):
    one marker is both the state write and the replay marker, so the state
    transition is exactly-once (contrast run_streaming_route_multiplex,
    whose sink append and marker are two steps, at-least-once between).

    The MG error contract survives streaming: state(after batches B1..Bn)
    is a valid MG(capacity) summary of the concatenated stream, every
    counter underestimating by ≤ N_total/(capacity+1); with capacity ≥
    total distinct keys the counts are exact and equal the batch operator
    (pytest-pinned). Returns the final summary dict."""
    from logagg import aggregate
    from logagg.refsketch import misra_gries_update_py

    ledger = StageLedger(state_dir)

    def _current_state() -> dict[str, int]:
        ids = ledger.batch_ids()
        return ledger.completed(f"batch-{ids[-1]}", "heavy_hitters")["state"] if ids else {}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        def _fold() -> dict:
            batch_counts = {
                r["key"]: r["cnt"]
                for r in aggregate.mg_summary(batch_df, key_col, capacity).collect()
            }
            return {"state": misra_gries_update_py(_current_state(), batch_counts, capacity)}

        ledger.run_stage(f"batch-{batch_id}", "heavy_hitters", _fold)
        # prune: every marker doubles as a replay marker, so keep a
        # GENEROUS tail (64 batches) — old enough to outlive any plausible
        # replay window while the directory stays O(capacity x 64) bytes
        for old in ledger.batch_ids()[:-64]:
            ledger.invalidate(f"batch-{old}")

    stream = _file_stream(spark, src_dir, max_files_per_trigger)
    _drain(stream.writeStream.foreachBatch(_apply).option("checkpointLocation", checkpoint_dir))
    return _current_state()


def run_streaming_frontier(
    spark: SparkSession,
    urls_dir: str,
    seen_dir: str,
    outdir: str,
    checkpoint_dir: str,
    *,
    url_col: str = "url",
    n_bits: int = 1 << 20,
    n_hashes: int = 7,
    max_files_per_trigger: int = 8,
) -> dict[int, int]:
    """Continuous-crawl seen-set: stream discovered-URL files, emit each
    micro-batch's not-yet-seen URLs to ``<outdir>/batch_id=<id>/`` and
    fold them into the persistent exact-index + bloom-sketch store that
    :func:`logagg.frontier.filter_unseen_bloom` maintains — the streaming
    twin of calling it per batch (pinned by test).

    Exactly-once OUTPUT, ordered around the crash windows foreachBatch
    actually has:

    1. probe (:func:`logagg.frontier.unseen_in_batch` — NO side effects)
    2. land the fresh rows at the deterministic per-batch path with
       ``mode("overwrite")`` — a replay that dies mid-write simply
       overwrites, so the landed dir is all-or-nothing per attempt
    3. commit the store from the LANDED frame
       (:func:`logagg.frontier.commit_seen` — idempotent: duplicate
       canonical keys are absorbed by the anti-join, duplicate bits by
       the OR), reading it back from parquet so the frame has no lineage
       through the index it appends to
    4. commit the ledger marker (:class:`logagg.checkpoint.StageLedger`,
       ``<seen_dir>/_batch_ledger/batch-<id>.json``)

    Replay decision table: marker present → fully committed, skip (count
    read back). Marker absent, landed ``_SUCCESS`` present → the store
    commit may have half-happened; re-commit from the landed output
    (NOT a re-probe — re-probing after a partial index append would find
    nothing fresh and overwrite the landed output with an empty frame,
    silently LOSING the batch). Neither → first attempt, full path.

    Output files carry the original columns plus ``_canon``; reading
    ``outdir`` whole adds the hive ``batch_id`` column. Returns
    {batch_id: fresh_rows}, replay-stable."""
    from logagg import frontier

    counts: dict[int, int] = {}
    ledger = StageLedger(Path(seen_dir) / "_batch_ledger")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        def _commit() -> dict:
            land = f"{outdir}/batch_id={batch_id}"
            if not (Path(land) / "_SUCCESS").exists():
                fresh = frontier.unseen_in_batch(
                    batch_df, seen_dir, url_col=url_col,
                    n_bits=n_bits, n_hashes=n_hashes,
                )
                fresh.write.mode("overwrite").parquet(land)
            landed = spark.read.parquet(land)
            frontier.commit_seen(landed, seen_dir, n_bits=n_bits, n_hashes=n_hashes)
            return {"n": landed.count()}

        marker, _ = ledger.run_stage(f"batch-{batch_id}", "frontier", _commit)
        counts[batch_id] = marker["n"]

    stream = _file_stream(spark, urls_dir, max_files_per_trigger)
    _drain(stream.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint_dir))
    return counts


def run_streaming_bottomk(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "url",
    k: int = 1024,
    max_files_per_trigger: int = 8,
) -> int:
    """Maintain the coordinated bottom-k sample of everything ever seen
    on a stream — the continuously-updated foundation for
    :func:`logagg.aggregate.sampled_quantiles` (streaming quantiles) and
    :func:`logagg.aggregate.bottomk_overlap` (live cross-corpus overlap)
    without ever rescanning history.

    The state protocol needs NO batch ledger: bottom-k is exactly
    mergeable AND idempotent under re-merge (bottomk(S ∪ B) ==
    bottomk(bottomk(S) ∪ B), and re-merging rows already in S changes
    nothing), so a replayed micro-batch converges to the same k rows.
    The only machinery required is an atomic state swap: each merge
    replaces ``<state_dir>`` through :func:`logagg.util.swap_dir` (which
    also heals a swap that crashed midway). Each micro-batch does one
    bounded-k union + TakeOrdered — state never grows past k rows.

    Returns the final state row count (≤ k). Read the sample back with
    ``spark.read.parquet(state_dir)``; it equals
    ``aggregate.bottomk_sample`` over the full batch input (pinned by
    test)."""
    import os

    from logagg import aggregate

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        with util.swap_dir(state_dir) as tmp:
            if os.path.exists(state_dir):
                # dropDuplicates on the id BEFORE the rank cut: a replayed
                # row already in state would otherwise occupy two of the k
                # slots and silently evict the tail — the dedup is what
                # makes the merge idempotent (rows with equal ids are
                # identical here)
                prev = spark.read.parquet(state_dir)
                batch_df = prev.unionByName(batch_df).dropDuplicates([id_col])
            # this write EXECUTES the read of the old state before the swap
            sample = aggregate.bottomk_sample(batch_df, id_col, k)
            sample.coalesce(1).write.mode("overwrite").parquet(tmp)

    stream = _file_stream(spark, src_dir, max_files_per_trigger)
    _drain(stream.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint_dir))
    return spark.read.parquet(state_dir).count()


def run_streaming_curate(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    outdir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dedup: bool = False,
    max_files_per_trigger: int = 8,
    **filter_kwargs,
) -> dict[int, dict]:
    """Continuous-ingest curation as a stream: each micro-batch of new
    documents runs the stateless filter stages, deduplicates against
    everything previously accepted (persistent md5 set + frozen-stop-set
    MinHash band index under ``state_dir``), lands its survivors at
    ``<outdir>/batch_id=<id>/``, and folds its hashes/bands into the
    state — the streaming twin of calling :func:`logagg.curate.
    curate_increment` per batch (pinned by test).

    Exactly-once OUTPUT via the :func:`run_streaming_frontier` ordering,
    with the two halves of :func:`logagg.curate.curate_increment` and a
    landing between them:

    1. :func:`logagg.curate.probe_increment` (NO state writes — a probe
       replayed after a partial md5 append would see its own hashes and
       silently drop the whole batch, the frontier lesson)
    2. land the accepted-set md5s at ``<state_dir>/_pending/batch-<id>``
       and the survivors at the per-batch outdir, both ``overwrite``
       (all-or-nothing per attempt)
    3. :func:`logagg.curate.commit_increment_state` on the LANDED
       parquet, read back with :func:`logagg.util.read_parquet_or_none`
       (a zero-row landing reads as ``None``) — idempotent: md5s and band
       rows already in the state are anti-joined away, so a re-commit
       after any crash adds nothing
    4. commit the ledger marker (:class:`logagg.checkpoint.StageLedger`,
       ``<state_dir>/_batch_ledger/batch-<id>.json``, carrying the stage
       manifest)

    Replay decision table: marker → fully committed, skip. No marker but
    BOTH landed ``_SUCCESS`` present → re-commit from the landed output
    (never re-probe). Otherwise → full fresh path (any partial landing
    is overwritten; state is untouched until both are landed, so the
    probe is still sound). The near-dup verification corpus is the union
    of COMMITTED batches' survivors (enumerated from the ledger — never
    a half-landed dir). Returns {batch_id: ledger marker}, each marker
    carrying {"n": survivors, "manifest": [...] | None, "recovered":
    bool}."""
    from logagg import curate as curatemod

    counts: dict[int, dict] = {}
    ledger = StageLedger(Path(state_dir) / "_batch_ledger")
    schema = spark.read.parquet(docs_dir).schema

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        def _commit() -> dict:
            land_surv = f"{outdir}/batch_id={batch_id}"
            land_md5 = f"{state_dir}/_pending/batch-{batch_id}"
            landed = all((Path(d) / "_SUCCESS").exists() for d in (land_surv, land_md5))
            manifest = None
            if not landed:
                committed = ledger.batch_ids()
                corpus = (
                    spark.read.schema(schema).parquet(
                        *[f"{outdir}/batch_id={b}" for b in committed]
                    ).select(id_col, text_col)
                    if committed
                    else None
                )
                res = curatemod.probe_increment(
                    batch_df,
                    state_dir,
                    id_col=id_col,
                    text_col=text_col,
                    corpus=corpus,
                    near_dedup=near_dedup,
                    **filter_kwargs,
                )
                res.pending["md5"].write.mode("overwrite").parquet(land_md5)
                res.docs.write.mode("overwrite").parquet(land_surv)
                manifest = res.manifest
                res.pending["md5"].unpersist()
                res.unpersist()
            curatemod.commit_increment_state(
                spark, state_dir,
                util.read_parquet_or_none(spark, land_md5),
                util.read_parquet_or_none(spark, land_surv),
                id_col=id_col, text_col=text_col, near_dedup=near_dedup,
            )
            n = spark.read.schema(schema).parquet(land_surv).count()
            return {"n": n, "manifest": manifest, "recovered": manifest is None}

        counts[batch_id], _ = ledger.run_stage(f"batch-{batch_id}", "curate", _commit)

    stream = _file_stream(spark, docs_dir, max_files_per_trigger, schema)
    _drain(stream.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint_dir))
    return counts

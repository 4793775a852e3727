"""Streaming parse+aggregate must equal the batch plan on the same input."""

import pytest
from pyspark.sql import functions as F

from logagg import aggregate, parse, streaming


def test_streaming_agg_equals_batch(spark, pages_cache):
    pages_dir = str(pages_cache / "pages.parquet")
    got = streaming.run_stream_to_memory(spark, pages_dir).collect()

    batch = (
        aggregate.sink_agg_hourly(
            parse.parsed_records(spark.read.parquet(pages_dir))
        )
        .select(
            F.col("bucket"), "host", "lang", "n_rows", "total_msg_chars"
        )
        .collect()
    )
    key = lambda r: (r["bucket"], r["host"], r["lang"])  # noqa: E731
    got_map = {key(r): (r["n_rows"], r["total_msg_chars"]) for r in got}
    batch_map = {key(r): (r["n_rows"], r["total_msg_chars"]) for r in batch}
    assert got_map == batch_map
    assert len(got_map) > 100


def test_stateful_host_counts_equals_batch(spark, pages_cache):
    pages_dir = str(pages_cache / "pages.parquet")
    got = {
        r["host"]: r["n_rows"]
        for r in streaming.run_stateful_to_memory(spark, pages_dir).collect()
    }
    batch = {
        r["host"]: r["n"]
        for r in parse.parsed_records(spark.read.parquet(pages_dir))
        .groupBy("host")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch and len(got) > 50


def test_tws_sessions_equal_batch(spark):
    # transformWithStateInPandas sessionizer == the batch window sessionizer
    # (needs google.protobuf, which Spark's TWS driver worker imports —
    # gate like any missing-native dependency)
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    import __spark_entry__ as entrymod

    got = {
        r["user_id"]: r["n_sessions"]
        for r in streaming.run_sessions_tws_to_memory(
            spark, "/root/testdata/sf0.001/events.parquet"
        ).collect()
    }
    batch = {
        r["user_id"]: r["n_sessions"]
        for r in entrymod.queries()["user_sessions"](spark, "/root/testdata/sf0.001").collect()
    }
    assert got == batch and len(got) > 20


def test_streaming_dedup_equals_batch(spark, pages_cache):
    """dropDuplicatesWithinWatermark with a horizon wider than the corpus'
    event-time span must keep exactly one row per distinct text (== batch
    exact_dupes group count), and the corpus does contain duplicates."""
    from logagg import dedup

    pages_dir = str(pages_cache / "pages.parquet")
    got = streaming.run_streaming_dedup_to_memory(
        spark, pages_dir, watermark="3650 days"
    ).collect()
    pages = spark.read.parquet(pages_dir)
    batch_groups = dedup.exact_dupes(pages, id_col="url", text_col="text").collect()
    assert len(got) == len(batch_groups)  # one keeper per distinct text
    assert len(got) < pages.count()  # synth injects exact copies
    assert {r["text_md5"] for r in got} == {r["text_md5"] for r in batch_groups}


def test_streaming_session_windows_equal_batch(spark, tmp_path):
    """Native session_window on a STREAM == the batch sessionizer: events
    process first, then a far-future sentinel file advances the watermark
    past every window so append mode flushes all sessions (the late-data
    lifecycle: emit only when the watermark passes a session's end)."""
    import os
    import shutil
    import time

    import pandas as pd

    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.01"
    src = tmp_path / "events_stream"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-0001.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    sentinel = pd.DataFrame(
        {
            "event_id": [10**12],
            "ts": pd.Series([max_ts + pd.Timedelta(days=365)], dtype="datetime64[us]"),
            "user_id": [10**9],  # off-corpus user; excluded from the compare
            "event_type": ["view"],
            "value": [0.0],
            "props": ["{}"],
        }
    )
    spark.createDataFrame(sentinel, schema=events.schema).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "sentinel"))
    part = next((tmp_path / "sentinel").glob("part-*.parquet"))
    shutil.copy(part, src / "part-0002.parquet")
    now = time.time()
    os.utime(src / "part-0001.parquet", (now - 100, now - 100))  # processed first
    os.utime(src / "part-0002.parquet", (now, now))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got_df = streaming._drive_to_memory(
        streaming.streaming_session_windows(stream),
        "append",
        "stream_sessions",
        "SELECT * FROM stream_sessions WHERE user_id < 1000000000",
    )
    key = lambda r: (r["user_id"], r["session_start"], r["session_end"], r["n_events"])  # noqa: E731
    got = {key(r) for r in got_df.collect()}
    batch = {
        (r["user_id"], pd.Timestamp(r["session_start"]), pd.Timestamp(r["session_end"]), r["n_events"])
        for r in entrymod._user_session_windows(spark, sf_dir).collect()
    }
    got_norm = {(u, pd.Timestamp(s), pd.Timestamp(e), n) for u, s, e, n in got}
    assert got_norm == batch
    assert len(batch) > 1000


def test_streaming_route_multiplex_equals_batch(spark, pages_cache, tmp_path):
    """The streaming fan-out writer must produce the SAME routed row sets
    and per-sink counts as the batch multiplexing writer (north-star
    routed-row equality, streaming form)."""
    from logagg import route

    pages_dir = str(pages_cache / "pages.parquet")
    counts = streaming.run_streaming_route_multiplex(
        spark,
        pages_dir,
        str(tmp_path / "routed"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,  # force multiple micro-batches through the sink
    )
    batch_parsed = parse.parsed_records(spark.read.parquet(pages_dir))
    expected = {r["route"]: r["n"] for r in route.route_counts(batch_parsed).collect()}
    assert counts == expected

    streamed = spark.read.parquet(str(tmp_path / "routed"))
    # physical fan-out layout exists (one dir per routing key prefix)
    assert list((tmp_path / "routed").glob("node=*")), "partitioned sink layout missing"
    # routed-row-set equality on the record identity (url, record_idx)
    a = streamed.select("url", "record_idx")
    b = batch_parsed.select("url", "record_idx")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    # replay idempotency via the batch-id ledger: wipe the checkpoint so the
    # file source re-delivers ALL input as batches 0..N again (same listing
    # order, same maxFilesPerTrigger → same batch grouping); every batch's
    # commit marker is present, so the sink must skip each append and read
    # counts back from the ledger — no duplicate rows, identical counts
    import shutil

    total_before = streamed.count()
    shutil.rmtree(tmp_path / "ckpt")
    counts2 = streaming.run_streaming_route_multiplex(
        spark,
        pages_dir,
        str(tmp_path / "routed"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    assert counts2 == expected
    assert spark.read.parquet(str(tmp_path / "routed")).count() == total_before


def test_streaming_route_ledger_one_marker_per_batch(spark, pages_cache, tmp_path):
    """The route sink's ledger contract, as readers of the sink see it: one
    ``<outdir>/_batch_ledger/batch-<id>.json`` marker per micro-batch, each
    shaped like the batch route marker ({"rows", "sinks"}), and the markers'
    per-sink counts sum to the returned counts."""
    import json
    from collections import Counter

    src = tmp_path / "pages3"
    spark.read.parquet(str(pages_cache / "pages.parquet")).repartition(3).write.parquet(str(src))
    n_files = len(list(src.glob("*.parquet")))
    assert n_files == 3
    out = tmp_path / "routed"
    counts = streaming.run_streaming_route_multiplex(
        spark, str(src), str(out), str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    markers = [json.loads(p.read_text()) for p in (out / "_batch_ledger").glob("batch-*.json")]
    assert sorted(m["stage"] for m in markers) == [f"batch-{i}" for i in range(n_files)]
    summed: Counter = Counter()
    for m in markers:
        assert m["rows"] == sum(m["sinks"].values()) > 0
        summed.update(m["sinks"])
    assert dict(summed) == counts


def test_streaming_route_replay_after_compaction(spark, pages_cache, tmp_path):
    """Compaction rewrites the sink but must keep its ``_batch_ledger``: a
    replay after compaction (checkpoint lost) still skips every committed
    batch — same returned counts, no duplicate rows."""
    import shutil

    from logagg import catalog

    pages_dir = str(pages_cache / "pages.parquet")
    sink, ckpt = tmp_path / "routed", tmp_path / "ckpt"
    counts = streaming.run_streaming_route_multiplex(
        spark, pages_dir, str(sink), str(ckpt), max_files_per_trigger=1
    )
    n_rows = spark.read.parquet(str(sink)).count()
    catalog.compact_parquet_dir(spark, str(sink), partition_cols=("node", "log_type"))
    assert list((sink / "_batch_ledger").glob("batch-*.json"))
    shutil.rmtree(ckpt)
    replayed = streaming.run_streaming_route_multiplex(
        spark, pages_dir, str(sink), str(ckpt), max_files_per_trigger=1
    )
    assert replayed == counts
    assert spark.read.parquet(str(sink)).count() == n_rows


def test_streaming_route_replay_after_crashed_compaction(spark, pages_cache, tmp_path, monkeypatch):
    """Compaction killed after it carried the sink's sidecars, at its first
    step on the live sink itself: the sink still holds its
    ``_batch_ledger``, so a replay (checkpoint lost) adds no rows, and the
    next compaction completes."""
    import os
    import shutil

    from logagg import catalog

    pages_dir = str(pages_cache / "pages.parquet")
    sink, ckpt = tmp_path / "routed", tmp_path / "ckpt"
    counts = streaming.run_streaming_route_multiplex(
        spark, pages_dir, str(sink), str(ckpt), max_files_per_trigger=1
    )
    n_rows = spark.read.parquet(str(sink)).count()

    def killed_on_sink(real):
        def fn(path, *args, **kwargs):
            if os.fspath(path) == str(sink):
                raise OSError("killed mid-compaction")
            return real(path, *args, **kwargs)

        return fn

    monkeypatch.setattr(os, "rename", killed_on_sink(os.rename))
    monkeypatch.setattr(shutil, "rmtree", killed_on_sink(shutil.rmtree))
    with pytest.raises(OSError, match="killed"):
        catalog.compact_parquet_dir(spark, str(sink), partition_cols=("node", "log_type"))
    monkeypatch.undo()

    shutil.rmtree(ckpt)
    replayed = streaming.run_streaming_route_multiplex(
        spark, pages_dir, str(sink), str(ckpt), max_files_per_trigger=1
    )
    assert replayed == counts
    assert spark.read.parquet(str(sink)).count() == n_rows
    catalog.compact_parquet_dir(spark, str(sink), partition_cols=("node", "log_type"))
    assert spark.read.parquet(str(sink)).count() == n_rows
    assert list((sink / "_batch_ledger").glob("batch-*.json"))


def test_streaming_heavy_hitters_equals_batch_and_replays(spark, tmp_path):
    """With capacity >= total distinct keys the streamed MG state is exact,
    so it must equal the batch groupBy counts; a full replay (fresh
    checkpoint, same state dir) must not change the state — every batch id
    hits its ledger marker."""
    import json

    from pyspark.sql import functions as F

    from logagg import streaming as st

    src = tmp_path / "keys_stream"
    src.mkdir()
    rows = []
    for i, mult in enumerate((5, 3, 1)):
        batch = [(f"host{j % 10}.example",) for j in range(40 * mult)]
        spark.createDataFrame(batch, "url string").coalesce(1).write.parquet(
            str(src / f"part{i}"), mode="overwrite"
        )
        rows += batch
    # NOTE: each part dir is a separate parquet "file tree"; point the
    # stream at the glob so every part arrives as its own file set
    state1 = st.run_streaming_heavy_hitters(
        spark,
        f"{src}/part*",
        str(tmp_path / "state"),
        str(tmp_path / "ckpt1"),
        key_col="url",
        capacity=64,
        max_files_per_trigger=1,
    )
    true = {}
    for (k,) in rows:
        true[k] = true.get(k, 0) + 1
    assert state1 == true  # capacity covers the key space -> exact
    # replay from scratch: fresh checkpoint, batch ids restart at 0 and
    # every one must be skipped by its marker
    state2 = st.run_streaming_heavy_hitters(
        spark,
        f"{src}/part*",
        str(tmp_path / "state"),
        str(tmp_path / "ckpt2"),
        key_col="url",
        capacity=64,
        max_files_per_trigger=1,
    )
    assert state2 == state1
    markers = sorted((tmp_path / "state").glob("batch-*.json"))
    assert len(markers) >= 2  # one atomic commit per applied batch
    assert json.loads(markers[-1].read_text())["state"] == true


def test_streaming_heavy_hitters_error_bound_small_capacity(spark, tmp_path):
    from logagg import streaming as st

    src = tmp_path / "skew_stream"
    src.mkdir()
    rows = [("hot",)] * 300 + [(f"t{i}",) for i in range(200)]
    spark.createDataFrame(rows, "url string").coalesce(2).write.parquet(
        str(src / "part0"), mode="overwrite"
    )
    state = st.run_streaming_heavy_hitters(
        spark,
        f"{src}/part*",
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        key_col="url",
        capacity=8,
    )
    assert len(state) <= 8
    n = len(rows)
    assert "hot" in state and 300 - n / 9 <= state["hot"] <= 300


def test_stateless_curation_ops_lift_to_streams(spark, tmp_path):
    """The map-only curation operators (langid, quality, PII redaction,
    LM perplexity — pure projections or stateless Arrow passes) run on a
    streaming DataFrame UNCHANGED and produce exactly the batch result:
    the claim that the curate stages port to continuous ingest is a
    structural fact, pinned here on one micro-batched stream."""
    from logagg import lm as lmmod
    from logagg import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    src_dir = str(tmp_path / "docs")
    docs.repartition(4).write.parquet(src_dir)
    model = lmmod.train_lm(docs.limit(60), top_k=2000, max_bigrams=20000)

    def curate_cols(df):
        scored = textstats.with_lang_pred(lmmod.with_perplexity(df, model))
        return scored.select(
            "doc_id",
            F.col("lang_pred").alias("lang"),
            textstats.quality_score(F.col("text"), F.length("text")).alias("q"),
            textstats.redact_pii(F.col("text")).alias("clean"),
            "ppl",
        )

    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        curate_cols(stream)
        .writeStream.format("memory")
        .queryName("curate_lift")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["lang"], r["q"], r["clean"], r["ppl"])
        for r in spark.sql("SELECT * FROM curate_lift").collect()
    }
    want = {
        r["doc_id"]: (r["lang"], r["q"], r["clean"], r["ppl"])
        for r in curate_cols(spark.read.parquet(src_dir)).collect()
    }
    assert got == want and len(got) == 500


def test_streaming_bottomk_equals_batch_and_replays(spark, tmp_path):
    """The continuously-merged bottom-k state == the batch sample over
    the whole input; a replay with a fresh checkpoint converges to the
    SAME state (idempotent merge, no ledger needed); the simulated
    half-swap crash (state dir gone, committed tmp present) recovers;
    sampled quantiles off the state equal the batch rule exactly."""
    import os
    import shutil

    from logagg import aggregate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"), "n_chars"
    )
    src = str(tmp_path / "src")
    docs.repartition(5).write.parquet(src)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    n = streaming.run_streaming_bottomk(
        spark, src, state, ckpt, k=64, max_files_per_trigger=1
    )
    assert n == 64
    want = {
        r["url"]
        for r in aggregate.bottomk_sample(docs, "url", 64).collect()
    }
    got = {r["url"] for r in spark.read.parquet(state).collect()}
    assert got == want

    # replay from scratch: same state, no growth
    shutil.rmtree(ckpt)
    streaming.run_streaming_bottomk(
        spark, src, state, ckpt, k=64, max_files_per_trigger=1
    )
    assert {r["url"] for r in spark.read.parquet(state).collect()} == want

    # half-swap crash: state gone, committed tmp present → recovered on
    # the next run and the final state is unchanged
    os.rename(state, state + "__next")
    shutil.rmtree(ckpt)
    streaming.run_streaming_bottomk(
        spark, src, state, ckpt, k=64, max_files_per_trigger=1
    )
    assert {r["url"] for r in spark.read.parquet(state).collect()} == want

    # streaming quantiles: type-1 ranks over the state == the batch rule
    sq = aggregate.sampled_quantiles(docs, "n_chars", "url", k=64)
    state_df = spark.read.parquet(state)
    sq_state = aggregate.sampled_quantiles(state_df, "n_chars", "url", k=64)
    assert sq_state == sq

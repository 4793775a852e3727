"""Bloom membership sketch: register bit-exactness vs the Python twin,
the no-false-negative contract, mergeability, measured FPR vs theory,
plan shapes (bounded-shuffle build, shuffle-free probe), and the
frontier accelerator's equivalence to the exact seen-set anti-join."""

import pytest

from pyspark.sql import functions as F

from logagg import aggregate, frontier
from logagg.refsketch import bloom_build_py, bloom_contains_py, bloom_hash_py

M, K = 1 << 12, 5

KEYS = [f"http://h{i % 7}.example.com/p/{i}" for i in range(200)] + [
    "ª-unicode-key",
    "tab\tand space",
]


def _keys_df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "key string")


def test_bloom_build_registers_twin_exact(spark):
    # duplicates and nulls: OR is idempotent, nulls are skipped
    df = _keys_df(spark, KEYS + KEYS[:13]).unionByName(
        spark.sql("SELECT CAST(NULL AS STRING) AS key")
    )
    got = {
        (r["word"], r["bits"])
        for r in aggregate.bloom_build(df, "key", n_bits=M, n_hashes=K).collect()
    }
    want = set(bloom_build_py(KEYS, M, K).items())
    assert got == want


def test_bloom_probe_no_false_negatives_and_fpr(spark):
    regs = aggregate.bloom_collect(
        aggregate.bloom_build(_keys_df(spark, KEYS), "key", n_bits=M, n_hashes=K),
        n_bits=M,
    )
    # every inserted key probes true — the load-bearing guarantee
    hits = aggregate.bloom_probe(
        _keys_df(spark, KEYS), "key", regs, n_bits=M, n_hashes=K
    )
    assert hits.filter(~F.col("bloom_hit")).count() == 0

    # disjoint probe set: Spark verdict == twin verdict per key, and the
    # measured FPR is in the right ballpark of the analytic rate
    others = [f"http://other{i}.example.net/q" for i in range(2000)]
    probed = aggregate.bloom_probe(
        _keys_df(spark, others), "key", regs, n_bits=M, n_hashes=K
    ).collect()
    twin = {k: bloom_contains_py(regs, k, M, K) for k in others}
    assert all(r["bloom_hit"] == twin[r["key"]] for r in probed)
    fpr = sum(r["bloom_hit"] for r in probed) / len(others)
    theory = aggregate.bloom_fpr(M, K, len(KEYS))
    assert fpr <= 3 * theory + 0.01
    # null keys probe false, not null
    nulls = aggregate.bloom_probe(
        spark.sql("SELECT CAST(NULL AS STRING) AS key"),
        "key", regs, n_bits=M, n_hashes=K,
    ).collect()
    assert [r["bloom_hit"] for r in nulls] == [False]


def test_bloom_merge_equals_union_build(spark):
    a, b = KEYS[:100], KEYS[100:]
    merged = aggregate.bloom_merge(
        aggregate.bloom_build(_keys_df(spark, a), "key", n_bits=M, n_hashes=K),
        aggregate.bloom_build(_keys_df(spark, b), "key", n_bits=M, n_hashes=K),
    )
    whole = aggregate.bloom_build(_keys_df(spark, KEYS), "key", n_bits=M, n_hashes=K)
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in whole.collect()}


def test_bloom_bit63_signed_convention(spark):
    # find a key whose hash 0 lands on bit 63 of some word: the mask is
    # Long.MIN_VALUE — the signed-64 edge both engines must agree on
    key = next(
        f"k{i}" for i in range(10_000) if bloom_hash_py(0, f"k{i}", M) % 64 == 63
    )
    df = _keys_df(spark, [key])
    rows = {
        (r["word"], r["bits"])
        for r in aggregate.bloom_build(df, "key", n_bits=M, n_hashes=1).collect()
    }
    assert rows == set(bloom_build_py([key], M, 1).items())
    assert any(b < 0 for _, b in rows)
    regs = [0] * (M // 64)
    for w, b in rows:
        regs[w] = b
    got = aggregate.bloom_probe(df, "key", regs, n_bits=M, n_hashes=1).collect()
    assert got[0]["bloom_hit"] is True


def test_bloom_validation():
    with pytest.raises(ValueError):
        aggregate.bloom_build(None, "key", n_bits=100)  # not a power of two
    with pytest.raises(ValueError):
        aggregate.bloom_build(None, "key", n_bits=M, n_hashes=0)
    with pytest.raises(ValueError):
        aggregate.bloom_probe(None, "key", [0] * 3, n_bits=M, n_hashes=K)
    assert aggregate.bloom_fpr(M, K, 0) == 0.0


def test_bloom_plan_shapes(spark):
    df = _keys_df(spark, KEYS)
    build_plan = (
        aggregate.bloom_build(df, "key", n_bits=M, n_hashes=K)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one partial+final bit_or agg — the only shuffle, bounded by n_bits/64
    assert build_plan.count("Exchange hashpartitioning") == 1
    assert "partial_bit_or" in build_plan

    regs = [0] * (M // 64)
    probe_plan = (
        aggregate.bloom_probe(df, "key", regs, n_bits=M, n_hashes=K)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # map-only above the scan: registers are a plan literal — no join of
    # any kind, no shuffle, no Python
    assert "Exchange" not in probe_plan
    assert "Join" not in probe_plan
    assert "BatchEvalPython" not in probe_plan and "ArrowEvalPython" not in probe_plan


# ---------------------------------------------------------------------------
# frontier accelerator
# ---------------------------------------------------------------------------

BATCHES = [
    [
        "http://A.example.com/p?utm_source=x",
        "http://a.example.com/p",  # same canonical → one kept
        "http://a.example.com/q",
    ],
    [
        "http://a.example.com/p#frag",  # seen in batch 1
        "http://a.example.com/r",
        "http://b.example.com/1",
    ],
    [  # nothing new
        "http://a.example.com/q",
        "http://b.example.com/1?utm_medium=y",
    ],
]


def _urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def test_filter_unseen_bloom_equals_frontier_increment(spark, tmp_path):
    """Batch-by-batch, the accelerated path returns exactly the exact
    path's rows — tiny n_bits (64) forces false positives, so the
    verify-join branch is genuinely exercised."""
    exact_dir, bloom_dir = str(tmp_path / "exact"), str(tmp_path / "bloom")
    for batch in BATCHES:
        want = sorted(
            r["url"]
            for r in frontier.frontier_increment(
                _urls_df(spark, batch), exact_dir
            ).collect()
        )
        got = sorted(
            r["url"]
            for r in frontier.filter_unseen_bloom(
                _urls_df(spark, batch), bloom_dir, n_bits=64, n_hashes=2
            ).collect()
        )
        assert got == want


def test_filter_unseen_bloom_bootstraps_from_existing_index(spark, tmp_path):
    """A seen-dir built by the exact path upgrades in place: the first
    accelerated call still anti-joins everything, then sketches the WHOLE
    index so batch 3 probes correctly."""
    seen = str(tmp_path / "seen")
    frontier.frontier_increment(_urls_df(spark, BATCHES[0]), seen)
    got2 = sorted(
        r["url"]
        for r in frontier.filter_unseen_bloom(
            _urls_df(spark, BATCHES[1]), seen
        ).collect()
    )
    assert got2 == ["http://a.example.com/r", "http://b.example.com/1"]
    got3 = frontier.filter_unseen_bloom(_urls_df(spark, BATCHES[2]), seen).count()
    assert got3 == 0
    # geometry is pinned at bootstrap
    with pytest.raises(ValueError, match="refusing to probe"):
        frontier.filter_unseen_bloom(
            _urls_df(spark, ["http://c.example.com/x"]), seen, n_bits=1 << 10
        )


def test_frontier_increment_leaves_no_stale_sketch(spark, tmp_path):
    """An exact increment on an accelerated seen dir must not leave a
    sketch that lacks its keys: the bloom probe reads a sketch miss as
    provably unseen and never checks the index for it. The exact
    increment never probes the sketch, so its geometry does not matter."""
    seen = str(tmp_path / "seen")
    frontier.filter_unseen_bloom(
        _urls_df(spark, ["http://a.com/1", "http://a.com/2"]), seen,
        n_bits=M, n_hashes=K,
    )
    frontier.frontier_increment(_urls_df(spark, ["http://x.com/new"]), seen)
    probe = _urls_df(spark, ["http://x.com/new", "http://a.com/1"])
    assert frontier.unseen_in_batch(probe, seen, n_bits=M, n_hashes=K).count() == 0
    # the next accelerated call rebuilds the sketch from the whole index
    got = frontier.filter_unseen_bloom(
        _urls_df(spark, ["http://x.com/new", "http://y.com/1"]), seen,
        n_bits=M, n_hashes=K,
    )
    assert [r["url"] for r in got.collect()] == ["http://y.com/1"]
    assert frontier.unseen_in_batch(probe, seen, n_bits=M, n_hashes=K).count() == 0


def test_commit_seen_crash_leaves_no_stale_sketch(spark, tmp_path, monkeypatch):
    """A commit killed after its key append and before the sketch rewrite
    leaves an index without a sketch (rebuilt by the next call), never
    the old sketch beside an index that holds keys it lacks."""
    seen = str(tmp_path / "seen")
    geo = {"n_bits": M, "n_hashes": K}
    frontier.filter_unseen_bloom(_urls_df(spark, ["http://a.com/1"]), seen, **geo)

    def killed(*args, **kwargs):
        raise RuntimeError("killed before the sketch rewrite")

    monkeypatch.setattr(aggregate, "bloom_build", killed)
    with pytest.raises(RuntimeError, match="killed"):
        frontier.filter_unseen_bloom(_urls_df(spark, ["http://x.com/new"]), seen, **geo)
    monkeypatch.undo()
    probe = _urls_df(spark, ["http://x.com/new", "http://a.com/1"])
    assert frontier.unseen_in_batch(probe, seen, **geo).count() == 0
    assert frontier.filter_unseen_bloom(probe, seen, **geo).count() == 0
    assert frontier.unseen_in_batch(probe, seen, **geo).count() == 0


def test_streaming_frontier_equals_batch_and_replays(spark, tmp_path):
    """The streaming seen-set == filter_unseen_bloom applied batch-by-batch
    in file order; replay with every marker present skips cleanly; a
    simulated crash between store-commit and marker (marker deleted) must
    RE-COMMIT from the landed output instead of re-probing — the landed
    batch output survives byte-identical instead of being clobbered by an
    empty re-probe."""
    import json
    import os
    import shutil

    from logagg import streaming

    in_dir = tmp_path / "in"
    seen_s = str(tmp_path / "seen_stream")
    seen_b = str(tmp_path / "seen_batch")
    out = str(tmp_path / "fresh")
    ckpt = str(tmp_path / "ckpt")

    ordered_parts = []
    for i, batch in enumerate(BATCHES):
        before = set(in_dir.glob("part-*")) if in_dir.exists() else set()
        _urls_df(spark, batch).coalesce(1).write.mode("append").parquet(str(in_dir))
        (new_part,) = set(in_dir.glob("part-*")) - before
        os.utime(new_part, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
        ordered_parts.append(new_part)

    counts = streaming.run_streaming_frontier(
        spark, str(in_dir), seen_s, out, ckpt,
        n_bits=256, n_hashes=3, max_files_per_trigger=1,
    )
    # batch twin, same per-file batches in mtime order
    expected = []
    for part in ordered_parts:
        fresh = frontier.filter_unseen_bloom(
            spark.read.parquet(str(part)), seen_b, n_bits=256, n_hashes=3
        )
        expected.append(sorted(r["url"] for r in fresh.collect()))
    assert [counts[i] for i in sorted(counts)] == [len(e) for e in expected]
    streamed = spark.read.parquet(out)
    got_total = sorted(r["url"] for r in streamed.select("url").collect())
    assert got_total == sorted(u for e in expected for u in e)

    # full replay, all markers present: counts identical, no new rows
    shutil.rmtree(ckpt)
    counts2 = streaming.run_streaming_frontier(
        spark, str(in_dir), seen_s, out, ckpt,
        n_bits=256, n_hashes=3, max_files_per_trigger=1,
    )
    assert counts2 == counts
    assert spark.read.parquet(out).count() == len(got_total)

    # crash window: marker gone, landed output present → re-commit path.
    # Batch 0 had fresh rows; deleting its marker and replaying must
    # neither lose nor duplicate them, and the seen index must still
    # filter everything (nothing new on a re-run of the same input).
    marker = tmp_path / "seen_stream" / "_batch_ledger" / "batch-0.json"
    n0 = json.loads(marker.read_text())["n"]
    assert n0 > 0
    marker.unlink()
    shutil.rmtree(ckpt)
    counts3 = streaming.run_streaming_frontier(
        spark, str(in_dir), seen_s, out, ckpt,
        n_bits=256, n_hashes=3, max_files_per_trigger=1,
    )
    assert counts3 == counts
    assert (
        sorted(r["url"] for r in spark.read.parquet(out).select("url").collect())
        == got_total
    )
    # geometry stays pinned through the streaming path too — a replay of
    # committed batches never probes (markers short-circuit), so feed a
    # genuinely NEW batch under the wrong geometry; the probe raises
    # inside foreachBatch and surfaces through the streaming query
    before = set(in_dir.glob("part-*"))
    _urls_df(spark, ["http://new.example.com/z"]).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))
    (new_part,) = set(in_dir.glob("part-*")) - before
    os.utime(new_part, (1_000_000 + 9000, 1_000_000 + 9000))
    with pytest.raises(Exception, match="refusing to probe"):
        streaming.run_streaming_frontier(
            spark, str(in_dir), seen_s, out, str(tmp_path / "ckpt2"),
            n_bits=1 << 10, n_hashes=3, max_files_per_trigger=1,
        )


def test_streaming_frontier_output_survives_compaction(spark, tmp_path):
    """Operational composition: after a quiesced streaming run, compacting
    the fragmented fresh-URL output (hive batch_id layout preserved) must
    keep the row set identical AND leave replay semantics intact — the
    ledger markers under seen_dir short-circuit every committed batch, so
    the rewritten output is never clobbered."""
    import os
    import shutil

    from logagg import catalog, streaming

    in_dir = tmp_path / "in"
    seen = str(tmp_path / "seen")
    out = str(tmp_path / "fresh")
    ckpt = str(tmp_path / "ckpt")
    for i, batch in enumerate(BATCHES):
        before = set(in_dir.glob("part-*")) if in_dir.exists() else set()
        _urls_df(spark, batch).coalesce(1).write.mode("append").parquet(str(in_dir))
        (new_part,) = set(in_dir.glob("part-*")) - before
        os.utime(new_part, (2_000_000 + i * 1000, 2_000_000 + i * 1000))
    counts = streaming.run_streaming_frontier(
        spark, str(in_dir), seen, out, ckpt, max_files_per_trigger=1
    )
    rows_before = {
        tuple(r) for r in spark.read.parquet(out).select("url", "batch_id").collect()
    }
    stats = catalog.compact_parquet_dir(spark, out, partition_cols=("batch_id",))
    assert stats["files_after"] <= stats["files_before"]
    rows_after = {
        tuple(r) for r in spark.read.parquet(out).select("url", "batch_id").collect()
    }
    assert rows_after == rows_before
    # replay after compaction: markers present → every batch skipped,
    # counts identical, compacted output untouched
    shutil.rmtree(ckpt)
    counts2 = streaming.run_streaming_frontier(
        spark, str(in_dir), seen, out, ckpt, max_files_per_trigger=1
    )
    assert counts2 == counts
    rows_replay = {
        tuple(r) for r in spark.read.parquet(out).select("url", "batch_id").collect()
    }
    assert rows_replay == rows_before

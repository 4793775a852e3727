"""End-to-end pipeline + checkpoint/resume tests (kill-and-resume model)."""

import json
from pathlib import Path

from logagg.pipeline import run_pipeline
from tests.conftest import SF_SMOKE


def test_pipeline_end_to_end(spark, pages_cache, tmp_path):
    out = tmp_path / "out"
    results = run_pipeline(spark, SF_SMOKE, str(out))
    # parse rows match the oracle expected table
    import pyarrow.parquet as pq

    n_expected = pq.read_metadata(pages_cache / "expected_parsed.parquet").num_rows
    assert results["parse"]["rows"] == n_expected
    # routed rows conserved across the fan-out
    assert results["route"]["rows"] == n_expected
    assert len(results["route"]["sinks"]) > 50  # node x log_type fan-out
    # physical layout is partitioned by the routing keys
    assert any(p.name.startswith("node=") for p in (out / "routed").iterdir())
    # routed-row-set equality per sink: read one partition back and compare
    sinks = results["route"]["sinks"]
    some_route = sorted(sinks)[0]
    node, log_type = some_route.split("/")
    part = spark.read.parquet(str(out / "routed")).filter(
        f"node = '{node}' and log_type = '{log_type}'"
    )
    assert part.count() == sinks[some_route]
    # severity invariant flows through to the aggregate stage
    assert set(results["aggregate"]["severity_counts"]) >= {"INFO", "WARN", "ERROR"}


def test_pipeline_resume_skips_completed(spark, tmp_path):
    out = tmp_path / "out"
    run_pipeline(spark, SF_SMOKE, str(out))
    # second run: all markers match → no stage re-executes (same metrics,
    # identical completed_at timestamps prove fn() never ran)
    before = {
        p.name: json.loads(p.read_text())["completed_at"]
        for p in (out / "_meta").glob("*.json")
    }
    run_pipeline(spark, SF_SMOKE, str(out))
    after = {
        p.name: json.loads(p.read_text())["completed_at"]
        for p in (out / "_meta").glob("*.json")
    }
    assert before == after


def test_pipeline_resume_reruns_invalidated_stage(spark, tmp_path):
    out = tmp_path / "out"
    run_pipeline(spark, SF_SMOKE, str(out))
    # simulate a crash after stage 1: later markers lost → only they rerun
    (out / "_meta" / "route.json").unlink()
    (out / "_meta" / "aggregate.json").unlink()
    parse_before = json.loads((out / "_meta" / "parse.json").read_text())["completed_at"]
    results = run_pipeline(spark, SF_SMOKE, str(out))
    parse_after = json.loads((out / "_meta" / "parse.json").read_text())["completed_at"]
    assert parse_before == parse_after  # parse stage skipped
    assert (out / "_meta" / "route.json").exists()  # route re-ran
    assert results["route"]["rows"] == results["parse"]["rows"]


def test_pipeline_heals_partial_sink(spark, tmp_path):
    """Crash mid-write model: sink data exists but its marker was never
    committed → the stage reruns and the overwrite-mode write replaces the
    partial output (no double-append)."""
    out = tmp_path / "out"
    first = run_pipeline(spark, SF_SMOKE, str(out))
    # simulate: route stage wrote half its files, then the job died before
    # the marker landed
    (out / "_meta" / "route.json").unlink()
    (out / "_meta" / "aggregate.json").unlink()
    routed = out / "routed"
    victims = [p for p in routed.rglob("*.parquet")][:5]
    for v in victims:
        v.unlink()
    second = run_pipeline(spark, SF_SMOKE, str(out))
    assert second["route"]["rows"] == first["route"]["rows"]
    assert second["route"]["sinks"] == first["route"]["sinks"]
    n = spark.read.parquet(str(routed)).count()
    assert n == first["route"]["rows"]


def test_pipeline_resumes_mid_stage(spark, tmp_path):
    """Crash MID-parse model: one bucket's marker+sink lost → only that
    bucket re-executes; the others keep their identical markers (per-
    partition lineage, north-star 'resumable mid-stage' contract)."""
    out = tmp_path / "out"
    sf_dir = "/root/testdata/sf0.01"  # 3 part files -> 3 buckets (sf0.001 has 1)
    first = run_pipeline(spark, sf_dir, str(out))
    assert first["parse"]["n_buckets"] > 1
    victim = out / "_meta" / "parse.b001.json"
    for rel in json.loads(victim.read_text())["manifest"]:
        (out / "routed" / rel).unlink()
    victim.unlink()
    (out / "_meta" / "parse.json").unlink()  # rollup is re-derived
    # downstream stages read the healed parse output → must also rerun
    (out / "_meta" / "route.json").unlink()
    (out / "_meta" / "aggregate.json").unlink()
    before = {
        p.name: json.loads(p.read_text())["completed_at"]
        for p in (out / "_meta").glob("parse.b*.json")
    }
    second = run_pipeline(spark, sf_dir, str(out))
    after = {
        p.name: json.loads(p.read_text())["completed_at"]
        for p in (out / "_meta").glob("parse.b*.json")
    }
    assert victim.name in after
    unchanged = {k for k in before if k in after and before[k] == after[k]}
    assert unchanged == set(before) - {victim.name}  # only the victim re-ran
    assert second["parse"]["rows"] == first["parse"]["rows"]
    assert second["route"]["rows"] == first["route"]["rows"]


def test_pipeline_drops_stale_bucket_dirs(spark, tmp_path):
    """A rerun whose bucket layout shrank must not let the files of old
    buckets (b >= n_buckets) survive in the routed table — that silently
    feeds duplicate/stale rows downstream (ADVICE r2)."""
    out = tmp_path / "out"
    run_pipeline(spark, SF_SMOKE, str(out))
    routed = out / "routed"
    # forge a file a hypothetical wider previous layout left behind in one
    # partition dir, which readers of the routed table would pick up
    src = next(routed.rglob("*.parquet"))
    stale = src.with_name("part-99999-stale-bucket.c000.snappy.parquet")
    stale.write_bytes(src.read_bytes())
    # invalidate ALL markers so every stage actually reruns — with only the
    # parse markers gone, route would be replayed from its old marker and
    # the downstream row-count assert below would be vacuous
    for m in (out / "_meta").glob("*.json"):
        m.unlink()
    results = run_pipeline(spark, SF_SMOKE, str(out))
    assert not stale.exists()
    import pyarrow.parquet as pq

    from logagg import synth

    cache = synth.ensure_cache(SF_SMOKE)
    n_expected = pq.read_metadata(cache / "expected_parsed.parquet").num_rows
    assert results["route"]["rows"] == n_expected  # no duplicate rows downstream


def test_pipeline_fingerprint_tracks_file_names(spark, tmp_path):
    """Same file COUNT but different file NAMES must invalidate the parse
    markers (a renamed/replaced input remaps files to buckets)."""
    from logagg import pipeline as pl

    fp_a = pl._fingerprint("v3", "p", 1, ["a.parquet", "b.parquet"])
    fp_b = pl._fingerprint("v3", "p", 1, ["a.parquet", "c.parquet"])
    assert fp_a != fp_b


def test_routed_layout_prunes_partitions(spark, tmp_path):
    """The routed table layout (partitionBy node/log_type) is the engine's
    point-lookup accelerator: a node-filtered read must prune at PLANNING
    time — PartitionFilters on the scan, and only that node's files read —
    which at 100 TB is the difference between scanning one directory and
    scanning the corpus."""
    import io
    from contextlib import redirect_stdout

    out = tmp_path / "out"
    run_pipeline(spark, SF_SMOKE, str(out))
    routed = spark.read.parquet(str(out / "routed"))
    picked = routed.filter("node = 'n05'")
    buf = io.StringIO()
    with redirect_stdout(buf):
        picked.explain("formatted")
    plan = buf.getvalue()
    # planning-time proof: the node predicate lands in PartitionFilters on
    # the scan (directory-level pruning), NOT as a post-scan data Filter
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "n05" in pf
    # row provenance: every produced row comes from the node=n05 directory,
    # and reading that directory alone yields the identical row count
    from pyspark.sql import functions as F

    files = {
        r[0]
        for r in picked.select(F.input_file_name()).distinct().collect()
    }
    assert files and all("node=n05" in f for f in files)
    direct = spark.read.parquet(str(out / "routed" / "node=n05")).count()
    assert picked.count() == direct > 0


def _oracle_rows() -> int:
    import pyarrow.parquet as pq

    from logagg import synth

    return pq.read_metadata(synth.ensure_cache(SF_SMOKE) / "expected_parsed.parquet").num_rows


def test_pipeline_guard_drops_unlisted_routed_file(spark, tmp_path):
    """A data file that no bucket marker lists (a crashed write's leftover)
    is deleted before the rerun, with its now-empty partition dirs, so the
    routed table again holds exactly the committed rows."""
    out = tmp_path / "out"
    run_pipeline(spark, SF_SMOKE, str(out))
    src = next((out / "routed").rglob("*.parquet"))
    stray_dir = out / "routed" / "node=X" / "log_type=Y"
    stray_dir.mkdir(parents=True)
    stray = stray_dir / src.name
    stray.write_bytes(src.read_bytes())
    results = run_pipeline(spark, SF_SMOKE, str(out))
    assert not stray.exists() and not (out / "routed" / "node=X").exists()
    assert results["route"]["rows"] == _oracle_rows()
    assert spark.read.parquet(str(out / "routed")).count() == _oracle_rows()


def test_pipeline_guard_reruns_bucket_of_truncated_file(spark, tmp_path):
    """A listed file whose size no longer matches its marker invalidates
    that one bucket: it reruns, the other buckets keep their markers, and
    the route and aggregate stages downstream of it rerun."""
    out = tmp_path / "out"
    sf_dir = "/root/testdata/sf0.01"  # 3 part files -> 3 buckets
    first = run_pipeline(spark, sf_dir, str(out))
    meta = out / "_meta"
    victim = meta / "parse.b001.json"
    rel = next(iter(json.loads(victim.read_text())["manifest"]))
    with open(out / "routed" / rel, "r+b") as f:
        f.truncate(16)
    before = {p.name: json.loads(p.read_text())["completed_at"] for p in meta.glob("*.json")}
    second = run_pipeline(spark, sf_dir, str(out))
    after = {p.name: json.loads(p.read_text())["completed_at"] for p in meta.glob("*.json")}
    rerun = {k for k in before if before[k] != after[k]}
    assert {k for k in rerun if k.startswith("parse.b")} == {victim.name}
    # route and aggregate read the rerun bucket's new files, so they rerun
    assert {"route.json", "aggregate.json"} <= rerun
    assert second["parse"]["rows"] == first["parse"]["rows"]
    assert spark.read.parquet(str(out / "routed")).count() == first["route"]["rows"]


def test_pipeline_upgrades_staged_layout(spark, tmp_path):
    """An outdir of the older two-copy layout (a ``parsed/`` staging dir,
    v3 markers, a routed table no v4 marker lists) reruns from scratch to
    the oracle counts and keeps no ``parsed/``."""
    from logagg import parse, route, synth

    out = tmp_path / "out"
    run_pipeline(spark, SF_SMOKE, str(out))
    src = next((out / "routed").rglob("*.parquet"))
    (out / "parsed" / "bucket=0").mkdir(parents=True)
    (out / "parsed" / "bucket=0" / src.name).write_bytes(src.read_bytes())
    for p in (out / "_meta").glob("*.json"):
        m = json.loads(p.read_text())
        m["fingerprint"] = m["fingerprint"].replace('"v4"', '"v3"', 1)
        m.pop("manifest", None)
        p.write_text(json.dumps(m))
    results = run_pipeline(spark, SF_SMOKE, str(out))
    assert not (out / "parsed").exists()
    assert results["parse"]["rows"] == results["route"]["rows"] == _oracle_rows()
    pages = spark.read.parquet(str(synth.ensure_cache(SF_SMOKE) / "pages.parquet"))
    want = {r["route"]: r["n"] for r in route.route_counts(parse.parsed_records(pages)).collect()}
    assert results["route"]["sinks"] == want
    assert spark.read.parquet(str(out / "routed")).count() == _oracle_rows()


def test_ensure_cache_rejects_unknown_sf_dir(tmp_path, monkeypatch):
    """A mistyped ``--sf-dir`` names no scale tag: it raises, naming the
    directory, instead of generating a stand-in corpus under the cache."""
    import pytest

    from logagg import synth

    root = tmp_path / "cache"
    monkeypatch.setattr(synth, "CACHE_ROOT", root)
    sf_dir = tmp_path / "nonexistent-x"
    sf_dir.mkdir()
    with pytest.raises(ValueError, match="nonexistent-x"):
        synth.ensure_cache(str(sf_dir))
    assert not root.exists()
    assert synth.n_pages_for("sf0.5") == 300_000  # sf<float> still sizes a corpus

"""The benchmark's workloads: one closed-loop client calling the program's
public entry points, one op at a time, each op checked against the oracle.

An op returns a dict of measurements and a list of check failures; it may
also raise, which counts as a failed op. Only the program calls sit inside
the timed windows; the checks run between them.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
import time
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import logagg.__main__ as cli
from logagg import aggregate, catalog, grok, parse, pipeline, streaming

from perfbench import hoststat
from perfbench.corpus import ERROR_CODE_EXPR, Corpus, view_lines


def tree_files(path: Path) -> tuple[int, int]:
    """(data files, bytes of every file) under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            size += os.path.getsize(os.path.join(root, f))
            n += f.endswith(".parquet")
    return n, size


def _intervals_ms(markers: list[Path]) -> list[float]:
    """Intervals between consecutive commit markers, in commit order."""
    mt = [p.stat().st_mtime_ns for p in markers]
    return [(b - a) / 1e6 for a, b in zip(mt, mt[1:])]


def _rows(path: str) -> int:
    """Rows of a parquet table, counted by pyarrow outside the Spark session
    (like Spark, it skips files and directories named ``_*`` and ``.*``)."""
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def _expect(errors: list[str], what: str, got, want) -> None:
    if got != want:
        errors.append(f"{what}: got {str(got)[:200]} want {str(want)[:200]}")


class Timer:
    """Wall time and process-tree CPU time of the timed phases of one op,
    plus their epoch windows (used to pick this op's jobs out of the Spark
    event log). ``phase(out, key)`` adds the wall seconds to ``out[key]``
    and the CPU seconds to ``out["cpu_s"][key]``."""

    def __init__(self) -> None:
        self.windows: list[tuple[float, float]] = []

    @contextlib.contextmanager
    def phase(self, out: dict, key: str):
        w0, t0, c0 = time.time(), time.monotonic(), hoststat.tree_cpu_s()
        try:
            yield
        finally:
            out[key] = out.get(key, 0.0) + time.monotonic() - t0
            cpu = out.setdefault("cpu_s", {})
            cpu[key] = cpu.get(key, 0.0) + hoststat.tree_cpu_s() - c0
            self.windows.append((w0, time.time()))


class BatchIngest:
    """One op: a cold ``run_pipeline`` into a fresh outdir, then a resume
    after invalidating a seeded 1 of the 2 parse-bucket markers plus the
    route and aggregate markers."""

    name = "batch_ingest"
    pages_per_file = 4000  # 2 input files -> 2 parse buckets
    invalidated_buckets = 1

    def __init__(self, spark: SparkSession, corpus: Corpus, rng: random.Random, work: Path):
        self.spark, self.corpus, self.rng = spark, corpus, rng
        self.outdir = work / "out" / self.name

    def _digest(self) -> tuple[list, list]:
        """Per-sink count, message-length and record-index sums of the
        routed table, and the hourly aggregate table row for row. Read with
        pyarrow, outside the program's Spark session."""
        routed = ds.dataset(self.outdir / "routed", format="parquet", partitioning="hive").to_table(
            columns=["node", "log_type", "record_idx", "message"]
        )
        per_sink = (
            routed.append_column("len", pc.utf8_length(routed["message"]))
            .group_by(["node", "log_type"])
            .aggregate([("record_idx", "count"), ("len", "sum"), ("record_idx", "sum")])
            .to_pylist()
        )
        hourly = ds.dataset(self.outdir / "aggregates" / "hourly", format="parquet").to_table()
        return (
            sorted(tuple(r.values()) for r in per_sink),
            sorted(tuple(r.values()) for r in hourly.to_pylist()),
        )

    def _check_ledger(self, res: dict, errors: list[str], label: str) -> None:
        o = self.corpus.oracle
        _expect(errors, f"{label} parsed rows", res["parse"]["rows"], o["n_records"])
        _expect(errors, f"{label} per-sink counts", res["route"]["sinks"], o["per_sink"])
        _expect(errors, f"{label} severity counts", res["aggregate"]["severity_counts"], o["per_severity"])

    def op(self, timer: Timer) -> tuple[dict, list[str]]:
        out: dict = {"records": self.corpus.oracle["n_records"]}
        errors: list[str] = []
        shutil.rmtree(self.outdir, ignore_errors=True)
        with timer.phase(out, "ingest_s"):
            res = pipeline.run_pipeline(self.spark, self.corpus.sf_dir, str(self.outdir))
        self._check_ledger(res, errors, "cold")
        meta = self.outdir / "_meta"
        buckets = sorted(meta.glob("parse.b*.json"))
        out["bucket_commit_ms"] = _intervals_ms(buckets)
        out["route_files"], out["route_bytes"] = tree_files(self.outdir / "routed")
        out["stored_bytes"] = tree_files(self.outdir)[1]
        cold = self._digest()

        k = self.invalidated_buckets
        for b in self.rng.sample(range(len(buckets)), k):
            buckets[b].unlink()
        (meta / "route.json").unlink()
        (meta / "aggregate.json").unlink()
        kept = {p: p.stat().st_mtime_ns for p in buckets if p.exists()}
        with timer.phase(out, "followup_s"):
            res = pipeline.run_pipeline(self.spark, self.corpus.sf_dir, str(self.outdir))
        self._check_ledger(res, errors, "resume")
        rerun = len(buckets) - sum(p.stat().st_mtime_ns == m for p, m in kept.items())
        out["rerun_ratio"] = rerun / k
        _expect(errors, "resumed output equals cold output", self._digest(), cold)
        return out, errors


class StreamQuery:
    """One op: drain the corpus directory through
    ``run_streaming_route_multiplex`` into a fresh sink and checkpoint,
    compact the sink, then run one round of seeded queries over the sink
    and the raw pages."""

    name = "stream_query"
    pages_per_file = 4000  # 2 input files
    max_files_per_trigger = 1  # -> 2 micro-batches

    def __init__(self, spark: SparkSession, corpus: Corpus, rng: random.Random, work: Path):
        self.spark, self.corpus, self.rng = spark, corpus, rng
        self.base = work / "out" / self.name
        self.cpus = os.environ["SPARK_GRAFT_CPUS"]
        self.grok_pat = grok.GrokPattern(ERROR_CODE_EXPR)

    def _cli(self, *argv: str) -> tuple[int, list[str]]:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(["--cpus", self.cpus, *argv])
        return rc, buf.getvalue().splitlines()

    def _query_round(self, sink: str, out: dict, errors: list[str], timer: Timer) -> None:
        o, spark = self.corpus.oracle, self.spark
        nodes = sorted(o["per_node"])
        find_node, hourly_node = self.rng.choice(nodes), self.rng.choice(nodes)
        want_view: list[str] = []
        while not want_view:  # a page whose every line was dropped has no view
            page = self.rng.randrange(len(self.corpus.urls))
            url = self.corpus.urls[page]
            want_view = view_lines(url, self.corpus.texts[page])
        q: dict[str, float] = {}

        with timer.phase(q, "find"):
            rc, lines = self._cli("find", "--sf-dir", self.corpus.sf_dir, "--node", find_node)
        _expect(errors, f"find {find_node}", (rc, lines), (0, o["find_lines"][find_node]))

        with timer.phase(q, "view"):
            rc, lines = self._cli(
                "view", "--sf-dir", self.corpus.sf_dir, "--url-suffix", "/" + url.rsplit("/", 1)[1]
            )
        _expect(errors, f"view {url}", (rc, sorted(lines)), (0, want_view))

        with timer.phase(q, "error_codes"):
            pat = self.grok_pat
            pages = spark.read.parquet(self.corpus.pages_dir).filter(grok.pushdown_filter("text", pat))
            recs = (
                parse.parsed_records(pages, columns=["record_idx", "message"])
                .select("url", "record_idx", "message")
                .filter(F.col("message").contains(pat.required_literal))
            )
            rows = (
                grok.grok_extract_vectorized(recs, "message", pat)
                .filter(F.col("code") != "")
                .groupBy("code")
                .count()
                .collect()
            )
        _expect(errors, "error codes", {r["code"]: r["count"] for r in rows}, o["error_codes"])

        routed = spark.read.parquet(sink)
        with timer.phase(q, "sink_hourly"):
            rows = aggregate.sink_agg_hourly(routed.filter(F.col("node") == hourly_node)).collect()
        totals = [sum(r["n_rows"] for r in rows), sum(r["total_msg_chars"] for r in rows)]
        _expect(errors, f"hourly totals {hourly_node}", totals, o["per_node"][hourly_node])

        with timer.phase(q, "severity"):
            rows = aggregate.severity_counts(routed).collect()
        _expect(errors, "severity counts", {r["severity"]: r["n"] for r in rows}, o["per_severity"])

        with timer.phase(q, "host_salted"):
            rows = aggregate.host_agg_salted(routed).collect()
        _expect(
            errors,
            "salted host aggregate",
            {r["host"]: [r["n_rows"], r["total_msg_chars"]] for r in rows},
            o["per_host"],
        )
        q_cpu = q.pop("cpu_s")
        out["query_ms"] = {k: v * 1000 for k, v in q.items()}
        out["followup_s"] = sum(q.values())
        out["cpu_s"]["followup_s"] = sum(q_cpu.values())

    def op(self, timer: Timer) -> tuple[dict, list[str]]:
        o = self.corpus.oracle
        out: dict = {"records": o["n_records"]}
        errors: list[str] = []
        shutil.rmtree(self.base, ignore_errors=True)
        sink, ckpt = str(self.base / "sink"), str(self.base / "checkpoint")

        with timer.phase(out, "ingest_s"):
            counts = streaming.run_streaming_route_multiplex(
                self.spark, self.corpus.pages_dir, sink, ckpt,
                max_files_per_trigger=self.max_files_per_trigger,
            )
        _expect(errors, "stream per-sink counts", counts, o["per_sink"])
        markers = sorted(
            (self.base / "sink" / "_batch_ledger").glob("batch-*.json"),
            key=lambda p: int(p.stem.split("-")[1]),
        )
        out["batch_commit_ms"] = _intervals_ms(markers)
        out["batches"] = len(markers)
        out["files_per_batch"] = len(list(Path(self.corpus.pages_dir).glob("*.parquet"))) / max(1, len(markers))
        out["route_files"], out["route_bytes"] = tree_files(self.base / "sink")
        rows_before = _rows(sink)

        with timer.phase(out, "compact_s"):
            stats = catalog.compact_parquet_dir(self.spark, sink, partition_cols=("node", "log_type"))
        out["ingest_s"] += out["compact_s"]
        out["cpu_s"]["ingest_s"] += out["cpu_s"]["compact_s"]
        out["files_before"], out["files_after"] = stats["files_before"], stats["files_after"]
        out["stored_bytes"] = tree_files(self.base / "sink")[1]
        rows_after = _rows(sink)
        _expect(errors, "rows before/after compaction", (rows_before, rows_after), (o["n_records"],) * 2)

        self._query_round(sink, out, errors, timer)
        return out, errors

    def pushdown_keep_frac(self) -> float:
        pages = self.spark.read.parquet(self.corpus.pages_dir)
        kept = pages.filter(grok.pushdown_filter("text", self.grok_pat)).count()
        return kept / pages.count()


WORKLOADS = {w.name: w for w in (BatchIngest, StreamQuery)}

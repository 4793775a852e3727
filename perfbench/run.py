#!/usr/bin/env python3
"""logagg benchmark: one closed-loop client, one workload per run.

    python3 perfbench/run.py --workload batch_ingest --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. The run generates (or reuses) the
seeded corpus, starts a Spark session, then times ops from the session's
first one on until ``--seconds`` is spent, checking every op against the
refparse oracle. The last line of stdout is one JSON object; the lines
before it describe the environment and each op. With ``--trace 1`` the run
wraps the program's public calls in spans, enables the Spark event log and
reports the per-layer metrics instead of the end-to-end ones. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import env, hoststat  # noqa: E402

N_PAGES = 8000
DEADLINE_S = 150  # stop starting ops here; a run must end within 180 s

# The op timings are CPU seconds of the run's process tree (Python driver,
# JVM, Python workers), not wall seconds: on a shared VM the hypervisor
# steals 0.3-0.9 of the 4 vCPUs while a run is busy, which moves an op's
# wall time by 20-30 % from run to run and its CPU time by 5-8 %. The wall
# times are printed next to them.
E2E_UNITS = {
    "setup_s": "s",
    "ingest_records_per_cpu_s": "records/cpu-s",
    "followup_cpu_s": "cpu-s",
    "stored_bytes_per_input_byte": "ratio",
}
HIGHER_IS_BETTER = {"ingest_records_per_cpu_s"}
QUERY_TYPES = {
    "find": "view.find_ms",
    "view": "view.view_ms",
    "error_codes": "grok.error_codes_ms",
    "sink_hourly": "aggregate.sink_hourly_ms",
    "severity": "aggregate.severity_ms",
    "host_salted": "aggregate.host_salted_ms",
}


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _med(outs: list[dict], key: str) -> float:
    """Median of ``key`` over the ops that report it (0 if none)."""
    return _median([o[key] for o in outs if key in o])


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for all
    of them to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    me = os.getpid()
    for grace_s in (20, 5):
        deadline = time.monotonic() + grace_s
        while hoststat.descendants(me) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in hoststat.descendants(me):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


class RssSampler(threading.Thread):
    """Peak RSS of the process tree, sampled every 0.25 s."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.25):
            self.peak_mb = max(self.peak_mb, hoststat.tree_rss_mb())

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _measure(wl, tracer, seconds: float) -> tuple[list[dict], float]:
    """Run ops until the next one would end past ``seconds`` (at least
    one). The first op runs in the fresh session, as a batch job launched
    from the command line does; a warm-up op before it would cost a run
    another 20-30 s. Returns the op records and the monotonic time the
    first op started."""
    from perfbench import workloads

    ops: list[dict] = []

    def run_op(i: int) -> dict:
        timer = workloads.Timer()
        if tracer:
            tracer.op = f"op{i}"
        load = hoststat.LoadWindow()
        t0 = time.monotonic()
        try:
            out, errors = wl.op(timer)
        except Exception as e:  # a failing op is counted and the loop goes on
            traceback.print_exc()
            out, errors = None, [f"raised {type(e).__name__}: {e}"]
        rec = {
            "i": i,
            "wall_s": time.monotonic() - t0,
            "foreign_cores": load.foreign_cores(),
            "out": out,
            "errors": errors,
            "windows": timer.windows,
        }
        ops.append(rec)
        brief = {k: round(v, 4) for k, v in (out or {}).items() if isinstance(v, float)}
        cpu = {k: round(v, 4) for k, v in (out or {}).get("cpu_s", {}).items()}
        print(
            f"op {i}: wall={rec['wall_s']:.3f}s "
            f"foreign_cores={rec['foreign_cores']:.2f} wall_s={json.dumps(brief)} "
            f"cpu_s={json.dumps(cpu)} errors={errors}",
            flush=True,
        )
        return rec

    t_measure = time.monotonic()
    i = 0
    while True:
        rec = run_op(i)
        i += 1
        now = time.monotonic()
        if now - t_measure + rec["wall_s"] > seconds or now - T_START > DEADLINE_S:
            return ops, t_measure


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    pinned = env.pin()
    try:
        from perfbench import corpus, trace, workloads
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl_cls = workloads.WORKLOADS[args.workload]
    traced = bool(args.trace)
    print("env:", json.dumps(pinned, sort_keys=True), flush=True)

    from logagg.session import get_spark

    conf = {**env.spark_conf(), "spark.ui.showConsoleProgress": "false"}
    event_dir = env.WORK / "eventlog"
    tracer = trace.Tracer() if traced else None
    sampler = RssSampler() if traced else None
    if traced:
        shutil.rmtree(event_dir, ignore_errors=True)
        event_dir.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        tracer.install()
        sampler.start()

    def stage() -> tuple:
        t = time.monotonic()
        return (*corpus.stage(args.seed, N_PAGES, wl_cls.pages_per_file), time.monotonic() - t)

    # the corpus is generated while the JVM starts: generation is the load
    # generator's work, so it is kept out of setup_s and out of the run's time
    with ThreadPoolExecutor(1) as pool:
        staged = pool.submit(stage)
        t = time.monotonic()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_start_s = time.monotonic() - t
        t = time.monotonic()
    corpus_wait_s = time.monotonic() - t
    try:
        corp, generated, corpus_s = staged.result()
        print(
            f"corpus: seed={args.seed} pages={N_PAGES} records={corp.oracle['n_records']} "
            f"input_bytes={corp.input_bytes} text_bytes={sum(map(len, corp.texts))} "
            f"generated={generated} in {corpus_s:.2f}s (waited {corpus_wait_s:.2f}s after the session start)",
            flush=True,
        )
        jvm_heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
        # unified memory: (heap - 300 MiB reserved) * memory.fraction(0.6) * storageFraction(0.5)
        storage_mem = (jvm_heap - 300 * 2**20) * 0.6 * 0.5
        print(
            f"session: {session_start_s:.2f}s heap={jvm_heap} storage_memory={storage_mem:.0f} "
            f"corpus/storage={corp.input_bytes / storage_mem:.4f} (parquet) "
            f"{sum(map(len, corp.texts)) / storage_mem:.4f} (text)",
            flush=True,
        )
        wl = wl_cls(spark, corp, random.Random(args.seed * 7919 + 17), env.WORK)
        ops, t_measure = _measure(wl, tracer, args.seconds)
        keep_frac = wl.pushdown_keep_frac() if traced and hasattr(wl, "pushdown_keep_frac") else 0.0
    finally:
        _stop_spark(spark)
        if sampler:
            sampler.stop()
    setup_s = t_measure - T_START - corpus_wait_s

    attempted = len(ops)
    failed = sum(1 for r in ops if r["errors"])
    # the metrics are the first op's: every run measures the same thing, a
    # batch job's first op in a fresh session, however fast ops get. Later
    # ops, when --seconds leaves room for them, are checked but not timed.
    good = [ops[0]] if ops[0]["out"] is not None else []
    if not good:
        print("perfbench: the first op did not complete", file=sys.stderr)
        return 1
    outs = [r["out"] for r in good]
    e2e = {
        "setup_s": setup_s,
        "ingest_records_per_cpu_s": _median([o["records"] / o["cpu_s"]["ingest_s"] for o in outs]),
        "followup_cpu_s": _median([o["cpu_s"]["followup_s"] for o in outs]),
        "stored_bytes_per_input_byte": _med(outs, "stored_bytes") / corp.input_bytes,
    }
    print(
        f"summary: workload={args.workload} seed={args.seed} ops={attempted} "
        f"completed={len(good)} op_error_rate={failed / attempted:.4f} (ratio) "
        + " ".join(f"{k}={v:.6g} ({E2E_UNITS[k]})" for k, v in e2e.items())
        + f" | wall: ingest_records_per_s={_median([o['records'] / o['ingest_s'] for o in outs]):.6g}"
        f" (records/s) followup_s={_med(outs, 'followup_s'):.6g} (s)",
        flush=True,
    )
    results_dir = env.WORK / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    if not traced:
        (results_dir / f"{args.workload}-{args.seed}.json").write_text(json.dumps(e2e))
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    else:
        metrics = per_layer_metrics(
            tracer, outs, good, session_start_s, sampler.peak_mb, keep_frac, event_dir
        )
        metrics.update(tracing_overhead(results_dir, args, e2e))
        tracer.dump(env.WORK / "trace" / f"{args.workload}-{args.seed}.jsonl")
    shutil.rmtree(event_dir, ignore_errors=True)

    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


def tracing_overhead(results_dir: Path, args, e2e: dict) -> dict:
    """How much worse each end-to-end metric reads in this traced run than
    in the untraced run of the same workload (same seed if there is one,
    else the latest), as a share of the untraced value."""
    same_seed = results_dir / f"{args.workload}-{args.seed}.json"
    runs = sorted(results_dir.glob(f"{args.workload}-*.json"), key=lambda p: p.stat().st_mtime)
    ref_path = same_seed if same_seed.exists() else (runs[-1] if runs else None)
    print(f"trace: untraced reference {ref_path.name if ref_path else 'missing; overhead reported as 0'}")
    ref = json.loads(ref_path.read_text()) if ref_path else None
    out = {}
    for k in E2E_UNITS:
        if ref is None:
            worse = 0.0
        elif k in HIGHER_IS_BETTER:
            worse = ref[k] / e2e[k] - 1
        else:
            worse = e2e[k] / ref[k] - 1
        out[f"overhead.{k}"] = {"value": worse, "unit": "ratio"}
    return out


def per_layer_metrics(tracer, outs, good, session_start_s, peak_rss_mb, keep_frac, event_dir):
    from perfbench import trace

    def m(value: float, unit: str) -> dict:
        return {"value": value, "unit": unit}

    cold_parse, skew, agg_stage, enrich_calls, route_write = [], [], [], [], []
    for r in good:
        op = f"op{r['i']}"
        enrich_calls.append(len(tracer.of(op, "enrich.enrich")))
        runs = tracer.of(op, "pipeline.run_pipeline")
        if runs:
            cold = runs[0]

            def within(s, c=cold) -> bool:
                return c["start"] <= s["start"] and s["end"] <= c["end"]

            buckets = [s["end"] - s["start"] for s in tracer.of(op, "checkpoint.parse.b") if within(s)]
            cold_parse.append(sum(buckets))
            skew.append(max(buckets) / statistics.median(buckets))
            agg_stage.extend(s["end"] - s["start"] for s in tracer.of(op, "checkpoint.aggregate") if within(s))
        route_write.append(sum(s["end"] - s["start"] for s in tracer.of(op, "route.multiplex_write")))

    windows = [w for r in good for w in r["windows"]]
    spark_stats = trace.spark_event_stats(event_dir, windows)
    n = len(good)
    metrics = {
        "session.start_s": m(session_start_s, "s"),
        "session.peak_rss_mb": m(peak_rss_mb, "MB"),
        "checkpoint.parse_stage_s": m(_median(cold_parse), "s"),
        "checkpoint.parse_bucket_skew": m(_median(skew), "ratio"),
        "checkpoint.aggregate_stage_s": m(_median(agg_stage), "s"),
        "checkpoint.rerun_ratio": m(_med(outs, "rerun_ratio"), "ratio"),
        "checkpoint.bucket_commit_ms": m(_median([ms for o in outs for ms in o.get("bucket_commit_ms", ())]), "ms"),
        "enrich.calls": m(_median(enrich_calls), "count"),
        "route.write_s": m(_median(route_write), "s"),
        "route.files_written": m(_med(outs, "route_files"), "count"),
        "route.bytes_written": m(_med(outs, "route_bytes"), "bytes"),
        "grok.pushdown_keep_frac": m(keep_frac, "ratio"),
        "streaming.batches": m(_med(outs, "batches"), "count"),
        "streaming.files_per_batch": m(_med(outs, "files_per_batch"), "count"),
        "streaming.batch_p50_ms": m(_median([ms for o in outs for ms in o.get("batch_commit_ms", ())]), "ms"),
        "catalog.compact_s": m(_med(outs, "compact_s"), "s"),
        "catalog.files_before": m(_med(outs, "files_before"), "count"),
        "catalog.files_after": m(_med(outs, "files_after"), "count"),
        "spark.jobs": m(spark_stats["jobs"] / n, "count"),
        "spark.tasks": m(spark_stats["tasks"] / n, "count"),
        "spark.shuffle_write_bytes": m(spark_stats["shuffle_write_bytes"] / n, "bytes"),
        "spark.spill_bytes": m(spark_stats["spill_bytes"] / n, "bytes"),
        "spark.gc_frac": m(spark_stats["gc_frac"], "ratio"),
    }
    for q, name in QUERY_TYPES.items():
        metrics[name] = m(_median([o["query_ms"][q] for o in outs if "query_ms" in o]), "ms")
    return metrics


if __name__ == "__main__":
    sys.exit(main())

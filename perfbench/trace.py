"""Tracing for the traced run: spans around the program's public calls and
the Spark event log.

Spans are recorded from the benchmark's side by wrapping module attributes
(the program itself carries no tracing). Each span has a name, start, end,
the id of the span that caused it and the id of the op it belongs to. They
are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from pathlib import Path
from typing import Any, Callable


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def _wrap(self, owner: Any, attr: str, name: Callable[..., str]) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name(*args, **kwargs)):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the public calls of every layer the workloads reach."""
        import logagg.__main__ as cli
        from logagg import aggregate, catalog, checkpoint, enrich, grok, parse, pipeline, route, streaming

        def fixed(label: str) -> Callable[..., str]:
            return lambda *a, **k: label

        self._wrap(pipeline, "run_pipeline", fixed("pipeline.run_pipeline"))
        self._wrap(
            checkpoint.StageLedger, "run_stage", lambda _self, stage, *a, **k: f"checkpoint.{stage}"
        )
        self._wrap(route, "multiplex_write", fixed("route.multiplex_write"))
        self._wrap(enrich, "enrich", fixed("enrich.enrich"))
        self._wrap(parse, "parsed_records", fixed("parse.parsed_records"))
        self._wrap(streaming, "run_streaming_route_multiplex", fixed("streaming.route_multiplex"))
        self._wrap(catalog, "compact_parquet_dir", fixed("catalog.compact_parquet_dir"))
        for fn in ("sink_agg_hourly", "severity_counts", "host_agg_salted"):
            self._wrap(aggregate, fn, fixed(f"aggregate.{fn}"))
        self._wrap(grok, "pushdown_filter", fixed("grok.pushdown_filter"))
        self._wrap(grok, "grok_extract_vectorized", fixed("grok.grok_extract_vectorized"))
        self._wrap(cli, "cmd_find", fixed("view.cli_find"))
        self._wrap(cli, "cmd_view", fixed("view.cli_view"))

    def of(self, op: str, prefix: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["op"] == op and s["name"].startswith(prefix)]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def spark_event_stats(log_dir: Path, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Jobs, tasks, shuffle-write bytes, spilled bytes and GC share of
    executor run time, over the jobs submitted inside ``windows`` (epoch
    seconds). Reads the uncompressed JSON event log of the run."""
    jobs = tasks = shuffle = spill = gc_ms = run_ms = 0

    def inside(ms: int) -> bool:
        t = ms / 1000
        return any(a <= t <= b for a, b in windows)

    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart" and inside(ev["Submission Time"]):
                    jobs += 1
                elif kind == "SparkListenerTaskEnd" and inside(ev["Task Info"]["Launch Time"]):
                    tasks += 1
                    m = ev.get("Task Metrics") or {}
                    shuffle += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    run_ms += m.get("Executor Run Time", 0)
    return {
        "jobs": jobs,
        "tasks": tasks,
        "shuffle_write_bytes": shuffle,
        "spill_bytes": spill,
        "gc_frac": gc_ms / run_ms if run_ms else 0.0,
    }

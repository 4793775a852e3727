"""Checkpoint / lineage store — resumable stage execution with metrics.

The one commit-marker protocol of the engine: write the sink, then commit a
JSON marker for the stage (atomically, via tmp+rename). A rerun skips any
stage whose marker matches the current input fingerprint and reads its
metrics back. The batch pipeline keeps its markers in ``<out>/_meta``
(mid-pipeline kill and resume is a test case); every exactly-once streaming
writer keeps one marker per micro-batch, ``batch-<id>.json``: the route,
frontier and curate sinks in their ``_batch_ledger``, heavy hitters (the
summary rides in the marker) in its state directory.

Iceberg snapshot properties are the production home for this metadata; the
sandbox ships no Iceberg runtime jar, so the same contract is kept in a
sidecar directory. Marker contents double as the lineage/metrics record:
row counts and per-partition (route) counts per stage. The ledger IO runs
on the driver, so plain posix IO is correct for any driver-visible
directory; an object-store directory would swap it for the Hadoop
FileSystem API, same protocol.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path
from typing import Any, Callable


class StageLedger:
    def __init__(self, marker_dir: str | Path):
        self.marker_dir = Path(marker_dir)
        self.marker_dir.mkdir(parents=True, exist_ok=True)

    def _marker(self, stage: str) -> Path:
        return self.marker_dir / f"{stage}.json"

    def completed(self, stage: str, fingerprint: str) -> dict | None:
        """Return the marker if the stage already ran against this input."""
        p = self._marker(stage)
        if not p.exists():
            return None
        try:
            meta = json.loads(p.read_text())
        except (ValueError, OSError):
            return None
        if meta.get("fingerprint") != fingerprint:
            return None  # input changed → stage must rerun
        return meta

    def batch_ids(self) -> list[int]:
        """Ids of the committed ``batch-<id>`` micro-batches, ascending."""
        markers = self.marker_dir.glob("batch-*.json")
        return sorted(int(p.stem.removeprefix("batch-")) for p in markers)

    def invalidate(self, stage: str) -> None:
        """Drop the stage's marker, so the next run reruns the stage."""
        self._marker(stage).unlink(missing_ok=True)

    def record(self, stage: str, fingerprint: str, metrics: dict[str, Any]) -> dict:
        meta = {
            "stage": stage,
            "fingerprint": fingerprint,
            "completed_at": time.time(),
            **metrics,
        }
        tmp = self._marker(stage).with_suffix(".json.tmp")
        tmp.write_text(json.dumps(meta, indent=1))
        os.replace(tmp, self._marker(stage))  # atomic commit of the marker
        return meta

    def run_stage(
        self,
        stage: str,
        fingerprint: str,
        fn: Callable[[], dict[str, Any]],
    ) -> tuple[dict, bool]:
        """Execute ``fn`` unless a matching marker exists.

        ``fn`` must do its own (idempotent) sink writes and return metrics.
        Returns (marker, ran): ran=False means the stage was skipped from
        checkpoint. Sinks are written before the marker — a crash between
        the two reruns the stage, so an overwrite-mode sink makes the retry
        idempotent (no double-append) and an append-mode sink is
        at-least-once across that window, unless the caller first deletes
        the files no marker lists (the batch pipeline's guard does).
        """
        existing = self.completed(stage, fingerprint)
        if existing is not None:
            return existing, False
        metrics = fn()
        return self.record(stage, fingerprint, metrics), True

    def run_stage_buckets(
        self,
        stage: str,
        fingerprint: str,
        n_buckets: int,
        fn: Callable[[int], dict[str, Any]],
    ) -> tuple[dict, int]:
        """Mid-stage-resumable execution: the stage is split into
        ``n_buckets`` independently-checkpointed sub-stages (one marker —
        and one idempotent sink partition — per bucket), so a crash loses
        only the in-flight bucket, not the whole stage. Markers double as
        per-partition lineage: each records its bucket's metrics. The
        rollup carries each bucket's scalar metrics only; collections (a
        file manifest, per-sink counts) stay in the bucket's own marker.

        Returns (rollup marker, number of buckets actually executed)."""
        ran = 0
        bucket_metrics: list[dict] = []
        for b in range(n_buckets):
            marker, did = self.run_stage(f"{stage}.b{b:03d}", fingerprint, lambda b=b: fn(b))
            ran += int(did)
            bucket_metrics.append(marker)
        if ran == 0:
            existing = self.completed(stage, fingerprint)
            if existing is not None:
                return existing, 0  # full skip: rollup marker untouched
        rollup = {
            "n_buckets": n_buckets,
            "rows": sum(m.get("rows", 0) for m in bucket_metrics),
            "buckets": [
                {
                    k: v
                    for k, v in m.items()
                    if k != "fingerprint" and not isinstance(v, (dict, list))
                }
                for m in bucket_metrics
            ],
        }
        return self.record(stage, fingerprint, rollup), ran

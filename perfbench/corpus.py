"""Seeded corpus generator and refparse oracle for the benchmark.

The corpus is a pages table ``(url, warc_ts, html, text, lang)`` drawn from
the ``logagg.synth`` page grammar with the benchmark's own
``random.Random(seed)``: Zipf-skewed hosts, uniform nodes and log types.
It is staged where ``logagg.synth.ensure_cache`` looks for it
(``$LOGAGG_CACHE_DIR/<name>/`` with a matching ``_meta.json``), so
``run_pipeline`` and the CLI verbs read it without any program change.

The oracle parses every page with ``logagg.refparse`` and keeps the counts
the workloads check against: per sink (``node/log_type``), per node, per
severity, per host, the newest records of each node (for ``find``) and the
error-code grok matches. Corpus and oracle are cached together, keyed on
(seed, size, ``synth.GEN_VERSION``).
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
from collections import Counter, defaultdict
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from logagg import refparse, synth

# error-code grok: the same expression the sink_queries workload compiles,
# restated as a plain regex so the oracle does not depend on logagg.grok
ERROR_CODE_EXPR = r"ErrorCode = %{INT:code} for %{PATH:err_path}"
_ERROR_CODE_RE = re.compile(r"ErrorCode = ([+-]?\d+) for ((?:/[\w.-]+)+)")
FIND_LIMIT = 20
_EPOCH = datetime(1970, 1, 1)


def _url_parts(url: str) -> tuple[str, str, str]:
    host, node, log_type = url.split("/")[2:5]
    return host, node, log_type


def render_line(url: str, r: dict, node: str) -> str:
    """The CLI's record line, rendered independently of ``logagg.view``."""

    def cell(v) -> str:
        return "None" if v is None else str(v)

    parts = [
        f"{url}#{r['record_idx']}",
        node,
        r["severity"],
        cell(r["jvm"]),
        r["datetime"].strftime("%Y-%m-%d %H:%M:%S"),
        cell(r["source"]),
        cell(r["type"]),
        r["message"],
    ]
    return "| " + "\t| ".join(parts) + "\t|"


def generate(seed: int, n_pages: int) -> dict[str, list]:
    rng = random.Random(seed)
    hosts = synth._hosts()
    host_idx = rng.choices(range(synth.N_HOSTS), weights=synth._host_weights(), k=n_pages)
    cols: dict[str, list] = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    for i in range(n_pages):
        lang = rng.choices(synth.LANGS, weights=synth.LANG_W)[0]
        node = synth.NODES[rng.randrange(len(synth.NODES))]
        log_type = synth.LOG_TYPES[rng.randrange(len(synth.LOG_TYPES))]
        text = synth._page_text(rng, lang)
        cols["url"].append(f"https://{hosts[host_idx[i]]}/{node}/{log_type}/{i:08d}")
        cols["warc_ts"].append(synth.BASE_WARC + timedelta(seconds=7 * i))
        cols["html"].append(b"<html><body><pre>" + text.encode() + b"</pre></body></html>")
        cols["text"].append(text)
        cols["lang"].append(lang)
    return cols


def build_oracle(cols: dict[str, list]) -> dict:
    per_sink: Counter = Counter()
    per_severity: Counter = Counter()
    per_host_rows: Counter = Counter()
    per_host_chars: Counter = Counter()
    per_node_rows: Counter = Counter()
    per_node_chars: Counter = Counter()
    error_codes: Counter = Counter()
    newest: dict[str, list] = defaultdict(list)
    n_error_pages = 0
    for url, text in zip(cols["url"], cols["text"]):
        host, node, log_type = _url_parts(url)
        if "ErrorCode" in text:
            n_error_pages += 1
        for r in refparse.parse_text(text):
            chars = len(r["message"])
            per_sink[f"{node}/{log_type}"] += 1
            per_severity[r["severity"]] += 1
            per_host_rows[host] += 1
            per_host_chars[host] += chars
            per_node_rows[node] += 1
            per_node_chars[node] += chars
            m = _ERROR_CODE_RE.search(r["message"])
            if m:
                error_codes[m.group(1)] += 1
            key = (-(r["datetime"] - _EPOCH).total_seconds(), url, r["record_idx"])
            newest[node].append((key, render_line(url, r, node)))
    find_lines = {
        node: [line for _, line in sorted(recs)[:FIND_LIMIT]] for node, recs in newest.items()
    }
    return {
        "n_pages": len(cols["url"]),
        "n_records": sum(per_sink.values()),
        "n_error_pages": n_error_pages,
        "per_sink": dict(per_sink),
        "per_severity": dict(per_severity),
        "per_host": {h: [per_host_rows[h], per_host_chars[h]] for h in per_host_rows},
        "per_node": {n: [per_node_rows[n], per_node_chars[n]] for n in per_node_rows},
        "error_codes": dict(error_codes),
        "find_lines": find_lines,
    }


def view_lines(url: str, text: str) -> list[str]:
    _, node, _ = _url_parts(url)
    return sorted(render_line(url, r, node) for r in refparse.parse_text(text))


class Corpus:
    """A staged corpus: ``sf_dir`` for the program, ``pages_dir`` for the
    streaming source, the oracle, and the pages themselves for ``view``."""

    def __init__(self, cache_dir: Path, oracle: dict, urls: list[str], texts: list[str]):
        self.sf_dir = str(cache_dir)  # ensure_cache keys on the basename only
        self.pages_dir = str(cache_dir / "pages.parquet")
        self.oracle = oracle
        self.urls = urls
        self.texts = texts

    @property
    def input_bytes(self) -> int:
        return sum(p.stat().st_size for p in Path(self.pages_dir).glob("*.parquet"))


def stage(seed: int, n_pages: int, pages_per_file: int) -> tuple[Corpus, bool]:
    """Generate (or reuse) the corpus for ``seed`` under $LOGAGG_CACHE_DIR.
    Returns (corpus, generated)."""
    name = f"perf-s{seed}-n{n_pages}-f{pages_per_file}-v{synth.GEN_VERSION}"
    cdir = Path(os.environ["LOGAGG_CACHE_DIR"]) / name
    oracle_path = cdir / "_oracle.json"
    generated = False
    if not oracle_path.exists():
        generated = True
        tmp = cdir.with_name(name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        (tmp / "pages.parquet").mkdir(parents=True)
        cols = generate(seed, n_pages)
        table = pa.table(
            {
                "url": pa.array(cols["url"], pa.string()),
                "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us")),
                "html": pa.array(cols["html"], pa.binary()),
                "text": pa.array(cols["text"], pa.string()),
                "lang": pa.array(cols["lang"], pa.string()),
            }
        )
        for part, start in enumerate(range(0, n_pages, pages_per_file)):
            pq.write_table(
                table.slice(start, pages_per_file),
                tmp / "pages.parquet" / f"part-{part:05d}.parquet",
                compression="zstd",
            )
        host_geo, lang_locale = synth._lookup_tables()
        pq.write_table(host_geo, tmp / "host_geo.parquet", compression="zstd")
        pq.write_table(lang_locale, tmp / "lang_locale.parquet", compression="zstd")
        (tmp / "_meta.json").write_text(
            json.dumps({"version": synth.GEN_VERSION, "n_pages": n_pages, "expected": False})
        )
        (tmp / "_oracle.json").write_text(json.dumps(build_oracle(cols)))
        shutil.rmtree(cdir, ignore_errors=True)
        os.rename(tmp, cdir)
    pages = pq.read_table(cdir / "pages.parquet", columns=["url", "text"])
    corpus = Corpus(
        cdir,
        json.loads(oracle_path.read_text()),
        pages.column("url").to_pylist(),
        pages.column("text").to_pylist(),
    )
    return corpus, generated

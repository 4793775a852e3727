"""Deterministic synthetic pages corpus + oracle ("expected") tables.

The task's input shape (BASELINE.json ``input_hint``) is a Common-Crawl-style
pages table ``(url, warc_ts, html, text, lang)`` whose ``text`` embeds the
reference log grammar (FIXTURES.md §1/§3). No driver-provided table has that
shape, so we synthesize it — seeded and versioned, cached under
``<repo>/.cache/pages/<sf>`` — and, for correctness scales, also materialize
*expected* tables computed by the pure-Python oracles (``logagg.refparse``,
``logagg.textfns``) that DuckDB can read for the driver's differential check.

Skew is generated on purpose: hosts are drawn Zipf-style (a few hot hosts)
so the salted-aggregation path has something real to fix; exact and near
duplicate pages are injected so dedup operators have real positives.
"""

from __future__ import annotations

import json
import os
import random
import re
import zlib
from collections import Counter, defaultdict
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from logagg import refparse, textfns
from logagg.schemas import HOST_RE, LANG_MARKERS, LOGTYPE_RE, NODE_RE

def _cache_root() -> Path:
    env = os.environ.get("LOGAGG_CACHE_DIR")
    if env:
        return Path(env)
    base = Path(__file__).resolve().parent.parent
    if base.is_dir():  # source checkout
        return base / ".cache" / "pages"
    # zipimport (spark-submit --py-files logagg.zip): __file__ sits inside
    # the archive — fall back to a per-user cache
    return Path.home() / ".cache" / "logagg" / "pages"


CACHE_ROOT = _cache_root()
GEN_VERSION = 13  # v13: expected_dsir twin (v12: pagerank, v11: outlink footers)
PAGES_ROWS_PER_FILE = 2000  # multi-file layout → natural scan parallelism

N_PAGES = {"sf0.001": 600, "sf0.01": 6000, "sf0.1": 60000}

SEVERITIES = ("INFO", "WARN", "ERROR")
SEV_W = (0.70, 0.20, 0.10)
SOURCES = ("ttl.test", "org.connect", "com.fan.api", "net.io.smb", "sys.core")
TYPES = ("SMB", "async", "event", "process", "kernel")
NODES = tuple(f"n{i:02d}" for i in range(1, 21))
LOG_TYPES = ("fanapiservice", "smb3", "kernel", "auth", "netio")
LANGS = ("en", "de", "fr", "es", "pt", "it")
LANG_W = (0.50, 0.15, 0.12, 0.10, 0.08, 0.05)
GEOS = ("emea", "amer", "apac", "latam")
LOCALES = {"en": "en_US", "de": "de_DE", "fr": "fr_FR", "es": "es_ES", "pt": "pt_BR", "it": "it_IT"}
WORDS = (
    "connect retry socket timeout thread pool queue flush cache index "
    "replica shard commit rollback lease session token handshake buffer "
    "stream packet frame digest snapshot compact merge spill probe scan"
).split()
PADS = ("    ", "\t", " ", "   ")
BASE_WARC = datetime(2022, 7, 11, 0, 0, 0)
BASE_LOG = datetime(2022, 7, 1, 0, 0, 0)
N_HOSTS = 200


def _hosts() -> list[str]:
    tlds = (".com", ".net", ".org", ".io")
    return [f"h{i:03d}.example{tlds[i % 4]}" for i in range(N_HOSTS)]


def _host_weights() -> list[float]:
    w = [1.0 / (i**1.15) for i in range(1, N_HOSTS + 1)]
    s = sum(w)
    return [x / s for x in w]


def n_pages_for(sf_name: str) -> int:
    """Corpus size for a scale tag: a key of ``N_PAGES`` or ``sf<float>``."""
    if sf_name in N_PAGES:
        return N_PAGES[sf_name]
    m = re.fullmatch(r"sf(\d*\.?\d+)", sf_name)
    if m is None:
        raise ValueError(f"{sf_name!r} is not a scale tag (sf<float>, e.g. sf0.01)")
    return max(200, int(600_000 * float(m[1])))


def _message(rng: random.Random, lang: str) -> str:
    toks = rng.choices(WORDS, k=rng.randrange(4, 10))
    markers = LANG_MARKERS[lang]
    for _ in range(2):
        toks.insert(rng.randrange(0, len(toks) + 1), markers[rng.randrange(len(markers))])
    return " ".join(toks)


def _stacktrace(rng: random.Random) -> list[str]:
    word = WORDS[rng.randrange(len(WORDS))]
    lines = [
        f"java.io.IOException: org.Exception: ErrorCode = {rng.randrange(100, 999)} for /{word}"
    ]
    for _ in range(rng.randrange(3, 8)):
        pkg = SOURCES[rng.randrange(len(SOURCES))]
        fn = WORDS[rng.randrange(len(WORDS))]
        jfile = WORDS[rng.randrange(len(WORDS))]
        lines.append(f"\tat {pkg}.{fn}({jfile}.java:{rng.randrange(1, 999)})")
    if rng.random() < 0.5:
        lines.append(f"\t... {rng.randrange(1, 9)} more")
    return lines


def _severity(rng: random.Random) -> str:
    u = rng.random()
    return "INFO" if u < 0.70 else ("WARN" if u < 0.90 else "ERROR")


def _page_text(rng: random.Random, lang: str) -> str:
    t = BASE_LOG + timedelta(seconds=rng.randrange(0, 30 * 86400))
    lines: list[str] = []
    for _ in range(rng.randrange(3, 11)):
        t += timedelta(seconds=rng.randrange(1, 120))
        sev = _severity(rng)
        pad = PADS[rng.randrange(len(PADS))]
        jvm = f"jvm {rng.randrange(1, 5)}"
        ts = t.strftime("%Y/%m/%d %H:%M:%S")
        u_ts = rng.random()
        if u_ts < 0.02:  # malformed timestamp → row must be dropped
            ts = ts[:8] + "x" + ts[9:]
        elif u_ts < 0.03:  # non-padded form: strptime accepts, fast path defers
            ts = f"{t.year}/{t.month}/{t.day} {t.hour}:{t.minute}:{t.second}"
        src = SOURCES[rng.randrange(len(SOURCES))]
        typ = TYPES[rng.randrange(len(TYPES))]
        msg = _message(rng, lang)
        u = rng.random()
        if u < 0.08:  # 4-field monitor line → field-shift rule
            word = WORDS[rng.randrange(len(WORDS))]
            num = rng.randrange(10**9, 10**13)
            line = f"{sev}{pad}| {jvm} | {ts} | SecondaryMonitor -> {{path: /path/{word}, number: {num}}}"
        elif u < 0.10:  # 5-field line: message None → dropped by validation
            line = f"{sev}{pad}| {jvm} | {ts} | {src} | {typ}"
        elif u < 0.13:  # >6 fields: extras silently dropped
            extra = WORDS[rng.randrange(len(WORDS))]
            line = f"{sev}{pad}| {jvm} | {ts} | {src} | {typ} | {msg} | extra {extra} | {rng.randrange(0, 999)}"
        else:
            line = f"{sev}{pad}| {jvm} | {ts} | {src} | {typ} | {msg}"
        lines.append(line)
        if sev == "ERROR" and rng.random() < 0.5:
            lines.extend(_stacktrace(rng))
        if rng.random() < 0.08:
            lines.append("")
    return "\n".join(lines)


def _mutate_one_token(rng: random.Random, text: str) -> str:
    toks = text.split(" ")
    alpha = [i for i, tk in enumerate(toks) if tk.isalpha() and len(tk) > 2]
    if not alpha:
        return text
    i = alpha[rng.randrange(len(alpha))]
    toks[i] = f"mut{rng.randrange(0, 10**6)}"
    return " ".join(toks)


def generate_pages(sf_name: str) -> dict[str, list]:
    """Generate the raw page rows (columnar dict) for a scale tag."""
    rng = random.Random(zlib.crc32(sf_name.encode()) ^ 0xC0FFEE)
    n = n_pages_for(sf_name)
    hosts = _hosts()
    host_idx = rng.choices(range(N_HOSTS), weights=_host_weights(), k=n)
    node_idx = rng.choices(range(len(NODES)), k=n)
    lt_idx = rng.choices(range(len(LOG_TYPES)), k=n)
    lang_idx = rng.choices(range(len(LANGS)), weights=LANG_W, k=n)

    # urls first (index-only), so the link footer below can point anywhere
    urls = [
        f"https://{hosts[host_idx[i]]}/{NODES[node_idx[i]]}/{LOG_TYPES[lt_idx[i]]}/{i:08d}"
        for i in range(n)
    ]
    warc: list[datetime] = []
    htmls: list[bytes] = []
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        lang = LANGS[lang_idx[i]]
        u = rng.random()
        if i > 10 and u < 0.02:  # exact duplicate of an earlier page
            text = texts[rng.randrange(i)]
        elif i > 10 and u < 0.05:  # near duplicate (one token mutated)
            text = _mutate_one_token(rng, texts[rng.randrange(i)])
        else:
            text = _page_text(rng, lang)
        warc.append(BASE_WARC + timedelta(seconds=7 * i))
        htmls.append(
            b'<!DOCTYPE html><html><head><meta charset="utf-8"></head><body><pre>'
            + text.encode("utf-8")
            + b"</pre>"
            + _link_footer(i, urls).encode("utf-8")
            + b"</body></html>"
        )
        texts.append(text)
        langs.append(lang)
    return {"url": urls, "warc_ts": warc, "html": htmls, "text": texts, "lang": langs}


def _link_footer(i: int, urls: list[str]) -> str:
    """Deterministic outlink footer for page ``i`` (v11): 0-3 anchors whose
    targets are arithmetic in the page index (cross-host reach comes from the
    independent host assignment of the targets), exercising absolute hrefs,
    fragment stripping, relative-path resolution, whitespace-normalized
    anchors, and one non-http href every linking page (must be dropped)."""
    n = len(urls)
    k = i % 4
    if k == 0:
        return ""
    parts = ["<nav>"]
    for t in range(k):
        j = (i * 7 + 13 * t + 3) % n
        if t == 0:
            href, anchor = urls[j], f"log {j:08d}"
        elif t == 1:
            href, anchor = urls[j] + "#frag", f"  Read\n{j % 100}  "
        else:
            href, anchor = f"/r/{j:08d}", f"rel {j % 10}"
        parts.append(f'<a href="{href}">{anchor}</a>')
    parts.append('<a href="mailto:ops@example.invalid">contact</a></nav>')
    return "".join(parts)


def _write(path: Path, table: pa.Table) -> None:
    pq.write_table(table, path, compression="zstd")


def _write_chunked(dir_path: Path, table: pa.Table, rows_per_file: int = PAGES_ROWS_PER_FILE) -> None:
    """Write a table as a directory of parquet part-files (like any real
    distributed table) so Spark gets one scan split per file."""
    import shutil

    if dir_path.exists():
        shutil.rmtree(dir_path)
    dir_path.mkdir(parents=True)
    n = table.num_rows
    part = 0
    for start in range(0, n, rows_per_file):
        chunk = table.slice(start, rows_per_file)
        pq.write_table(chunk, dir_path / f"part-{part:05d}.parquet", compression="zstd")
        part += 1


def _pages_table(cols: dict[str, list]) -> pa.Table:
    return pa.table(
        {
            "url": pa.array(cols["url"], pa.string()),
            "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us")),
            "html": pa.array(cols["html"], pa.binary()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
        }
    )


def _lookup_tables() -> tuple[pa.Table, pa.Table]:
    hosts = _hosts()
    hg_host = [h for i, h in enumerate(hosts) if i % 5 != 0]  # 20% missing → left-join nulls
    hg_geo = [GEOS[i % 4] for i, h in enumerate(hosts) if i % 5 != 0]
    host_geo = pa.table({"host": pa.array(hg_host), "geo": pa.array(hg_geo)})
    lang_locale = pa.table(
        {"lang": pa.array(list(LOCALES)), "locale": pa.array([LOCALES[k] for k in LOCALES])}
    )
    return host_geo, lang_locale


def _re1(pattern: str, s: str) -> str:
    m = re.search(pattern, s)
    return m.group(1) if m else ""


def _expected_parsed_table(cols: dict[str, list]) -> pa.Table:
    out: dict[str, list] = defaultdict(list)
    for url, warc_ts, text, lang in zip(cols["url"], cols["warc_ts"], cols["text"], cols["lang"]):
        node = _re1(NODE_RE, url)
        log_type = _re1(LOGTYPE_RE, url)
        host = _re1(HOST_RE, url)
        for r in refparse.parse_text(text):
            out["url"].append(url)
            out["lang"].append(lang)
            out["warc_ts"].append(warc_ts)
            out["record_idx"].append(r["record_idx"])
            out["extracted_text"].append(r["extracted_text"])
            out["severity"].append(r["severity"])
            out["jvm"].append(r["jvm"])
            out["datetime"].append(r["datetime"])
            out["source"].append(r["source"])
            out["type"].append(r["type"])
            out["message"].append(r["message"])
            out["node"].append(node)
            out["log_type"].append(log_type)
            out["host"].append(host)
    return pa.table(
        {
            "url": pa.array(out["url"], pa.string()),
            "lang": pa.array(out["lang"], pa.string()),
            "warc_ts": pa.array(out["warc_ts"], pa.timestamp("us")),
            "record_idx": pa.array(out["record_idx"], pa.int32()),
            "extracted_text": pa.array(out["extracted_text"], pa.string()),
            "severity": pa.array(out["severity"], pa.string()),
            "jvm": pa.array(out["jvm"], pa.string()),
            "datetime": pa.array(out["datetime"], pa.timestamp("us")),
            "source": pa.array(out["source"], pa.string()),
            "type": pa.array(out["type"], pa.string()),
            "message": pa.array(out["message"], pa.string()),
            "node": pa.array(out["node"], pa.string()),
            "log_type": pa.array(out["log_type"], pa.string()),
            "host": pa.array(out["host"], pa.string()),
        }
    )


def _expected_dupes_table(cols: dict[str, list]) -> pa.Table:
    """Exact all-pairs shingle-Jaccard >= 0.8 via an inverted index, after
    the scale-aware stop-shingle cut (schemas.df_max_for) — mirrors the
    Spark operator in logagg.dedup exactly."""
    from logagg.schemas import df_max_for

    urls = cols["url"]
    df_max = df_max_for(len(urls))
    raw_sets = [textfns.shingle_set(t) for t in cols["text"]]
    df: Counter = Counter()
    for s in raw_sets:
        df.update(s)
    sets = [{sh for sh in s if df[sh] <= df_max} for s in raw_sets]
    postings: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(sets):
        for sh in s:
            postings[sh].append(i)
    shared: Counter = Counter()
    for ids in postings.values():
        if len(ids) < 2:
            continue
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                shared[(ids[ai], ids[bi])] += 1
    rows = {"url_a": [], "url_b": [], "shared": [], "na": [], "nb": []}
    for (a, b), sh in shared.items():
        na, nb = len(sets[a]), len(sets[b])
        if textfns.jaccard_ge_threshold(sh, na, nb):
            ua, ub = sorted((urls[a], urls[b]))
            # na/nb follow the url sort so both engines agree column-wise
            if ua == urls[a]:
                xa, xb = na, nb
            else:
                xa, xb = nb, na
            rows["url_a"].append(ua)
            rows["url_b"].append(ub)
            rows["shared"].append(sh)
            rows["na"].append(xa)
            rows["nb"].append(xb)
    return pa.table(
        {
            "url_a": pa.array(rows["url_a"], pa.string()),
            "url_b": pa.array(rows["url_b"], pa.string()),
            "shared": pa.array(rows["shared"], pa.int64()),
            "na": pa.array(rows["na"], pa.int64()),
            "nb": pa.array(rows["nb"], pa.int64()),
        }
    )


def _expected_langid_table(cols: dict[str, list]) -> pa.Table:
    preds = [textfns.lang_id(t) for t in cols["text"]]
    return pa.table({"url": pa.array(cols["url"], pa.string()), "lang_pred": pa.array(preds, pa.string())})


def _expected_doc_fp_table(sf_dir: str) -> pa.Table:
    docs = pq.read_table(Path(sf_dir) / "documents.parquet", columns=["doc_id", "text"])
    ids = docs.column("doc_id").to_pylist()
    fps = [textfns.fingerprint(t or "") for t in docs.column("text").to_pylist()]
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "fp": pa.array(fps, pa.int64())})


def _expected_clusters_table(dupes: pa.Table) -> pa.Table:
    """Union-find over the expected dup pairs → (url, cluster) — the oracle
    for the iterative connected-components operator."""
    from logagg import refsketch

    pairs = list(zip(dupes.column("url_a").to_pylist(), dupes.column("url_b").to_pylist()))
    comp = refsketch.connected_components(pairs)
    urls = sorted(comp)
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "cluster": pa.array([comp[u] for u in urls], pa.string()),
        }
    )


def _expected_minhash_table(cols: dict[str, list]) -> pa.Table:
    from logagg import refsketch

    rows = refsketch.expected_minhash_pairs(cols["url"], cols["text"])
    return pa.table(
        {
            "url_a": pa.array(rows["url_a"], pa.string()),
            "url_b": pa.array(rows["url_b"], pa.string()),
            "shared": pa.array(rows["shared"], pa.int64()),
            "na": pa.array(rows["na"], pa.int64()),
            "nb": pa.array(rows["nb"], pa.int64()),
        }
    )


def _expected_simhash_table(cols: dict[str, list]) -> pa.Table:
    from logagg import refsketch

    rows = refsketch.expected_simhash_pairs(cols["url"], cols["text"])
    return pa.table(
        {
            "url_a": pa.array(rows["url_a"], pa.string()),
            "url_b": pa.array(rows["url_b"], pa.string()),
            "hamming": pa.array(rows["hamming"], pa.int32()),
        }
    )


_LINK_A_RE = re.compile(r'<a\s+href="([^"]*)"\s*>(.*?)</a>', re.S)


def _expected_links_table(cols: dict[str, list]) -> pa.Table:
    """Independent (regex-based, vs the engine's HTMLParser) extraction twin
    of logagg.linkgraph.extract_links over the well-formed synthetic html:
    resolve against the page url, strip fragments, keep http(s) only,
    whitespace-collapse + cap anchors."""
    from urllib.parse import urljoin

    out = {"url": [], "dst_url": [], "anchor": []}
    for url, html in zip(cols["url"], cols["html"]):
        for m in _LINK_A_RE.finditer(bytes(html).decode("utf-8")):
            try:
                dst = urljoin(url, m.group(1).strip())
            except ValueError:
                continue
            dst = dst.split("#", 1)[0]
            if not dst.startswith(("http://", "https://")):
                continue
            out["url"].append(url)
            out["dst_url"].append(dst)
            out["anchor"].append(re.sub(r"\s+", " ", m.group(2)).strip()[:200])
    return pa.table(
        {
            "url": pa.array(out["url"], pa.string()),
            "dst_url": pa.array(out["dst_url"], pa.string()),
            "anchor": pa.array(out["anchor"], pa.string()),
        }
    )


def _expected_pagerank_table(links: pa.Table) -> pa.Table:
    """Host-graph PageRank twin over the expected links: hosts via
    urllib (independent of the engine's try_parse_url path), distinct
    unweighted edges, self-loops dropped, ranks from the dense numpy
    twin run to its 1e-12 fixpoint (the fixpoint is unique, so the
    engine's distributed iteration at the same tolerance agrees to
    rounding)."""
    from urllib.parse import urlparse

    from logagg.linkgraph import pagerank_py

    pairs = set()
    for u, d in zip(links["url"].to_pylist(), links["dst_url"].to_pylist()):
        s = (urlparse(u).hostname or "").lower()
        t = (urlparse(d).hostname or "").lower()
        if s and t and s != t:
            pairs.add((s, t))
    ranks = pagerank_py(
        [(s, t, 1.0) for s, t in sorted(pairs)], tol=1e-12, max_iter=500
    )
    nodes = sorted(ranks)
    return pa.table(
        {
            "node": pa.array(nodes, pa.string()),
            "rank": pa.array([ranks[v] for v in nodes], pa.float64()),
        }
    )


def _expected_dsir_table(sf_dir: str) -> pa.Table:
    """DSIR selection twin over the documents table: target = md5-parity
    (< '4') slice, raw = everything; selection from logagg.dsir.
    dsir_select_py (kernels single-sourced with the Spark path — the
    equality is bit-for-bit, see COVERAGE.md)."""
    import hashlib

    from logagg.dsir import dsir_select_py

    t = pq.read_table(
        str(Path(sf_dir) / "documents.parquet"), columns=["doc_id", "text"]
    )
    ids = t["doc_id"].to_pylist()
    texts = t["text"].to_pylist()
    raw = [(str(i), x or "") for i, x in zip(ids, texts)]
    target = [
        x or ""
        for i, x in zip(ids, texts)
        if hashlib.md5(str(i).encode("utf-8")).hexdigest()[0] < "4"
    ]
    rows = dsir_select_py(raw, target, k=100)
    return pa.table(
        {
            "doc_id": pa.array([int(i) for i, _, _ in rows], pa.int64()),
            "logw": pa.array([w for _, w, _ in rows], pa.float64()),
            "key": pa.array([k for _, _, k in rows], pa.float64()),
        }
    )


def _expected_media_table(cols: dict[str, list]) -> pa.Table:
    from logagg import refsketch

    rows = refsketch.expected_media(cols["url"], cols["html"])
    return pa.table(
        {
            "url": pa.array(rows["url"], pa.string()),
            "media_kind": pa.array(rows["media_kind"], pa.string()),
            "byte_len": pa.array(rows["byte_len"], pa.int64()),
            "magic": pa.array(rows["magic"], pa.string()),
            "width": pa.array(rows["width"], pa.int32()),
            "height": pa.array(rows["height"], pa.int32()),
            "feature0": pa.array(rows["feature0"], pa.float64()),
            "feature1": pa.array(rows["feature1"], pa.float64()),
        }
    )


def _ann_table(rows: dict[str, list]) -> pa.Table:
    return pa.table(
        {
            "qid": pa.array(rows["qid"], pa.int64()),
            "nid": pa.array(rows["nid"], pa.int64()),
            "rank": pa.array(rows["rank"], pa.int32()),
        }
    )


def _expected_ann_tables(sf_dir: str) -> tuple[pa.Table, pa.Table]:
    import numpy as np

    from logagg import refsketch

    tbl = pq.read_table(Path(sf_dir) / "embeddings.parquet", columns=["vec_id", "embedding"])
    vec_ids = tbl.column("vec_id").to_pylist()
    emb32 = np.array(tbl.column("embedding").to_pylist(), dtype=np.float32)
    lsh = _ann_table(refsketch.expected_ann_lsh(vec_ids, emb32))
    ivf = _ann_table(refsketch.expected_ann_ivf(vec_ids, emb32))
    return lsh, ivf


def cache_dir_for(sf_dir: str) -> Path:
    return CACHE_ROOT / Path(sf_dir.rstrip("/")).name


def ensure_cache(sf_dir: str, expected: bool = True) -> Path:
    """Materialize (once) the pages corpus + lookups (+ expected tables) for
    the scale tag implied by ``sf_dir``'s basename. Idempotent and cheap when
    the cache is already present. Without a staged cache, a basename that is
    not a scale tag raises ``ValueError`` before anything is created."""
    cdir = cache_dir_for(sf_dir)
    meta_path = cdir / "_meta.json"
    if meta_path.exists():
        meta = json.loads(meta_path.read_text())
        if meta.get("version") == GEN_VERSION and (meta.get("expected") or not expected):
            return cdir
    sf_name = cdir.name
    try:
        n_pages_for(sf_name)
    except ValueError as e:
        raise ValueError(f"sf_dir {sf_dir!r} has no staged corpus at {cdir}: {e}") from None
    cdir.mkdir(parents=True, exist_ok=True)
    cols = generate_pages(sf_name)
    _write_chunked(cdir / "pages.parquet", _pages_table(cols))
    host_geo, lang_locale = _lookup_tables()
    _write(cdir / "host_geo.parquet", host_geo)
    _write(cdir / "lang_locale.parquet", lang_locale)
    if expected:
        _write(cdir / "expected_parsed.parquet", _expected_parsed_table(cols))
        dupes = _expected_dupes_table(cols)
        _write(cdir / "expected_dupes.parquet", dupes)
        _write(cdir / "expected_clusters.parquet", _expected_clusters_table(dupes))
        _write(cdir / "expected_langid.parquet", _expected_langid_table(cols))
        _write(cdir / "expected_minhash.parquet", _expected_minhash_table(cols))
        _write(cdir / "expected_simhash.parquet", _expected_simhash_table(cols))
        _write(cdir / "expected_media.parquet", _expected_media_table(cols))
        links_tbl = _expected_links_table(cols)
        _write(cdir / "expected_links.parquet", links_tbl)
        _write(cdir / "expected_pagerank.parquet", _expected_pagerank_table(links_tbl))
        if (Path(sf_dir) / "documents.parquet").exists():
            _write(cdir / "expected_doc_fp.parquet", _expected_doc_fp_table(sf_dir))
            _write(cdir / "expected_dsir.parquet", _expected_dsir_table(sf_dir))
        if (Path(sf_dir) / "embeddings.parquet").exists():
            lsh, ivf = _expected_ann_tables(sf_dir)
            _write(cdir / "expected_ann_lsh.parquet", lsh)
            _write(cdir / "expected_ann_ivf.parquet", ivf)
    meta_path.write_text(
        json.dumps({"version": GEN_VERSION, "n_pages": len(cols["url"]), "expected": expected})
    )
    return cdir

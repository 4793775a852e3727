"""Vectorized parse stage — Arrow-batched ``mapInPandas`` over the pages table.

Spark-first layout: the only work Python does is the byte-identity-critical
record extraction (multi-line coalesce + csv field split + strptime — the
semantics pinned by the reference, see ``logagg.refparse`` docstring for the
spec and citations). Everything relational — node/log_type/host derivation,
enrichment joins, routing, aggregation — stays JVM-side in Catalyst.

This is a separate implementation from the ``refparse`` oracle (batch-loop
style, column accumulators) so the two can be differentially tested; both
must match the reference-pinned goldens.

Scale posture: one input partition ≈ one Arrow batch stream; no shuffle is
introduced here (parse is a narrow 1→N flatMap). Drop accounting is exposed
as an aggregate, not a side effect.
"""

from __future__ import annotations

import csv
import re
from datetime import datetime
from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logagg.schemas import HOST_RE, LOGTYPE_RE, NODE_RE, PARSED_DDL, PARSED_FIELDS
from logagg.refparse import FIELD_NAMES, RECORD_JOINER, SEVERITY_PREFIXES, TS_FORMAT

_N_FIELDS = len(FIELD_NAMES)
_SEV_I, _JVM_I, _DT_I, _SRC_I, _TYP_I, _MSG_I = range(_N_FIELDS)

# fast path for the canonical zero-padded timestamp shape. For strings of
# this shape, strptime("%Y/%m/%d %H:%M:%S") parses the same six ints and
# applies the same datetime() range validation — so fast path and fallback
# are behaviorally identical (fuzz-tested against the strptime oracle).
_TS_FAST = re.compile(r"^(\d{4})/(\d{2})/(\d{2}) (\d{2}):(\d{2}):(\d{2})$")


def _parse_ts(raw: str) -> datetime | None:
    m = _TS_FAST.match(raw)
    if m:
        try:
            return datetime(
                int(m.group(1)), int(m.group(2)), int(m.group(3)),
                int(m.group(4)), int(m.group(5)), int(m.group(6)),
            )
        except ValueError:
            return None
    try:
        return datetime.strptime(raw, TS_FORMAT)  # lenient non-padded forms
    except ValueError:
        return None


def _extract_records(text: str) -> list[str]:
    """Severity-anchored multi-line coalesce (record boundaries)."""
    out: list[str] = []
    buf: list[str] = []
    for raw in text.split("\n"):
        line = raw.strip()
        if not line:
            continue
        if buf and line.startswith(SEVERITY_PREFIXES):
            out.append(RECORD_JOINER.join(buf))
            buf = []
        buf.append(line)
    if buf:
        out.append(RECORD_JOINER.join(buf))
    return out


def _csv_rows(records: list[str], has_cr: bool) -> Iterator[tuple[list[str], str]]:
    """csv-module field split with file-round-trip semantics (universal
    newlines, blank-row skip, default '\"' quoting). Yields (fields, source
    record text) pairs; fields is the raw csv row (variable length)."""
    if not has_cr:
        lines = records  # no \r anywhere → newline translation is identity
    else:
        payload = "".join(r + "\n" for r in records)
        payload = payload.replace("\r\n", "\n").replace("\r", "\n")
        lines = payload.split("\n")
        if lines and lines[-1] == "":
            lines.pop()
    it = iter(lines)
    consumed: list[str] = []

    def _tracking() -> Iterator[str]:
        for ln in it:
            consumed.append(ln)
            yield ln

    for row in csv.reader(_tracking(), delimiter="|"):
        src = "\n".join(consumed)
        consumed.clear()
        if row:
            yield row, src


def _parse_batch(pdf: pd.DataFrame, columns: list[str] | None = None) -> pd.DataFrame:
    """Parse one Arrow batch of pages into parsed-record rows. ``columns``
    subsets the OUTPUT (validation always evaluates every field)."""
    import itertools

    urls: list[str] = []
    langs: list[str | None] = []
    warcs: list = []
    idxs: list[int] = []
    texts: list[str] = []
    sevs: list[str] = []
    jvms: list[str | None] = []
    dts: list[datetime] = []
    srcs: list[str | None] = []
    typs: list[str | None] = []
    msgs: list[str] = []

    col_url = pdf["url"].to_numpy()
    col_lang = pdf["lang"].to_numpy() if "lang" in pdf.columns else itertools.repeat(None)
    col_warc = pdf["warc_ts"].to_numpy() if "warc_ts" in pdf.columns else itertools.repeat(None)
    col_text = pdf["text"].to_numpy()

    for url, lang, warc, text in zip(col_url, col_lang, col_warc, col_text):
        if not isinstance(text, str) or not text:
            continue
        idx = -1
        # fast path: with no quotechar anywhere, csv's only behavior is the
        # delimiter split (quoting engages only on '"' at field start), and
        # with no \r the newline round-trip is the identity — so plain
        # str.split('|') is exactly csv-equivalent (fuzz-tested, both paths)
        if '"' not in text and "\r" not in text:
            rows_iter = (
                (rec.split("|"), rec) for rec in _extract_records(text)
            )
        else:
            rows_iter = _csv_rows(_extract_records(text), "\r" in text)
        for row, src_text in rows_iter:
            idx += 1
            f = [row[i].strip() if i < len(row) else None for i in range(_N_FIELDS)]
            if f[_MSG_I] is None and f[_TYP_I] is None and f[_SRC_I] is not None:
                f[_MSG_I], f[_SRC_I] = f[_SRC_I], None
            raw_dt = f[_DT_I]
            if raw_dt is None:
                continue  # missing timestamp → drop (reference TypeError path)
            dt = _parse_ts(raw_dt)
            if dt is None:
                continue  # malformed timestamp → drop
            if f[_SEV_I] is None or f[_MSG_I] is None:
                continue  # required-field validation → drop
            urls.append(url)
            langs.append(lang)
            warcs.append(warc)
            idxs.append(idx)
            texts.append(src_text)
            sevs.append(f[_SEV_I])
            jvms.append(f[_JVM_I])
            dts.append(dt)
            srcs.append(f[_SRC_I])
            typs.append(f[_TYP_I])
            msgs.append(f[_MSG_I])

    series = {
        "url": lambda: pd.Series(urls, dtype=object),
        "lang": lambda: pd.Series(langs, dtype=object),
        "warc_ts": lambda: pd.Series(warcs, dtype="datetime64[us]"),
        "record_idx": lambda: pd.Series(idxs, dtype="int32"),
        "extracted_text": lambda: pd.Series(texts, dtype=object),
        "severity": lambda: pd.Series(sevs, dtype=object),
        "jvm": lambda: pd.Series(jvms, dtype=object),
        "datetime": lambda: pd.Series(dts, dtype="datetime64[us]"),
        "source": lambda: pd.Series(srcs, dtype=object),
        "type": lambda: pd.Series(typs, dtype=object),
        "message": lambda: pd.Series(msgs, dtype=object),
    }
    keep = columns if columns is not None else list(series)
    return pd.DataFrame({c: series[c]() for c in keep})


def _parse_partition_fn(columns: list[str] | None):
    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _parse_batch(pdf, columns)

    return run


def _decode_html_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Binary-payload decode (the reference's zip-member extract analog,
    aggregator/extract.py:70-104): utf-8 decode the html bytes and cut the
    payload out of the fixed <pre> wrapper. Runs in the same Arrow batch
    stream as the parser — one Python hop, not two."""
    for pdf in batches:
        texts = []
        for payload in pdf["html"]:
            if payload is None:
                texts.append(None)
                continue
            b = bytes(payload)
            lo = b.find(b"<pre>")
            hi = b.rfind(b"</pre>")
            texts.append(b[lo + 5 : hi].decode("utf-8") if 0 <= lo < hi else None)
        out = pdf[["url", "lang", "warc_ts"]].copy()
        out["text"] = texts
        yield _parse_batch(out)


def parse_pages(pages: DataFrame, source: str = "text", columns: list[str] | None = None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → parsed records.

    ``source="text"``: only (url, lang, warc_ts, text) cross the Arrow
    boundary — ``html`` is never deserialized (Catalyst prunes it at the
    scan). ``source="html"``: the records are extracted from the binary
    column instead (decode inside the same UDF pass); output is identical
    when html wraps text — the binary-path byte-identity check.

    ``columns`` prunes the UDF OUTPUT (and the lang/warc_ts inputs when
    unused): Catalyst cannot prune through an opaque mapInPandas, and
    Arrow-shipping wide string columns (extracted_text, message) for 10^12
    records an aggregate never reads is real bandwidth — callers that know
    their downstream projection pass it explicitly. Validation semantics
    (which rows parse/drop) are unaffected.
    """
    if columns is None:
        cols = list(PARSED_FIELDS)
    else:
        bad = set(columns) - set(PARSED_FIELDS)
        if bad:
            raise KeyError(f"unknown parsed columns: {sorted(bad)}")
        cols = [c for c in PARSED_FIELDS if c in set(columns)]  # canonical order
    ddl = ", ".join(f"{c} {PARSED_FIELDS[c]}" for c in cols)
    if source == "html":
        if columns is not None:
            raise ValueError("columns pruning is text-path only (html path is the byte-identity check)")
        pruned = pages.select("url", "lang", "warc_ts", "html")
        return pruned.mapInPandas(_decode_html_batches, schema=PARSED_DDL)
    in_cols = ["url", "text"] + [c for c in ("lang", "warc_ts") if c in cols]
    return pages.select(*in_cols).mapInPandas(_parse_partition_fn(cols), schema=ddl)


def with_url_meta(df: DataFrame) -> DataFrame:
    """Stamp node / log_type / host derived from the url (JVM-side regex —
    the analog of the reference's filename→node/log_type extraction;
    regexp_extract returns "" on no-match, same contract)."""
    return (
        df.withColumn("node", F.regexp_extract("url", NODE_RE, 1))
        .withColumn("log_type", F.regexp_extract("url", LOGTYPE_RE, 1))
        .withColumn("host", F.regexp_extract("url", HOST_RE, 1))
    )


def parsed_records(pages: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Full parse stage: vectorized extraction + JVM-side url metadata.

    ``columns`` (parsed-field subset; url is always kept for the url-meta
    stamp) prunes what crosses the Arrow boundary — see parse_pages."""
    if columns is not None:
        columns = sorted(set(columns) | {"url"})
    return with_url_meta(parse_pages(pages, columns=columns))

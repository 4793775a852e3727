"""Emulate the driver's correctness gate locally.

For every ``queries()`` entry: run the Spark DataFrame and (when present)
the DuckDB oracle SQL at sf0.01, then compare row count, column names, and
an order-insensitive canonicalized value multiset. Each query's ``seconds``
covers the Spark plan build and ``collect()`` only, not the oracle. Usage:

    python tools/selfcheck.py [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from datetime import date, datetime
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _canon_rows(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["\x01".join(_canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main(only: list[str]) -> int:
    import json

    json_path = None
    if "--json" in only:
        i = only.index("--json")
        if i + 1 >= len(only):  # ADVICE r5: usage message, not IndexError
            print("usage: python tools/selfcheck.py [query ...] [--json PATH]")
            return 2
        json_path = only[i + 1]
        only = only[:i] + only[i + 2 :]
    unknown = [q for q in only if q.startswith("--")]
    if unknown:
        print(f"unknown flag(s): {' '.join(unknown)}")
        print("usage: python tools/selfcheck.py [query ...] [--json PATH]")
        return 2
    results: dict[str, dict] = {}

    import __spark_entry__ as entrymod
    from logagg.session import get_spark

    spark = get_spark(app_name="selfcheck", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = only or list(qs)
    failures = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            srows = sdf.collect()
            # engine-only seconds: the clock stops before the oracle runs
            seconds = round(time.time() - t0, 2)
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            results[name] = {"status": "fail", "err": f"spark: {type(e).__name__}"}
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, {seconds:.1f}s)")
            results[name] = {"status": "rows_only", "rows": len(srows), "seconds": seconds}
            continue
        try:
            res = con.sql(oracles[name])
            ocols = list(res.columns)
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            results[name] = {"status": "fail", "err": f"duckdb: {type(e).__name__}"}
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns {sorted(scols)} != {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if not problems:
            sc = _canon_rows(scols, [tuple(r) for r in srows])
            oc = _canon_rows(ocols, orows)
            if sc != oc:
                ndiff = sum(1 for a, b in zip(sc, oc) if a != b)
                problems.append(f"value mismatch ({ndiff} differing rows of {len(sc)})")
                for a, b in list(zip(sc, oc))[:2000]:
                    if a != b:
                        print(f"  spark : {a[:300]}")
                        print(f"  oracle: {b[:300]}")
                        break
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            results[name] = {"status": "fail", "err": "; ".join(problems)}
            failures += 1
        else:
            print(f"PASS  {name} ({len(srows)} rows, {seconds:.1f}s)")
            results[name] = {"status": "pass", "rows": len(srows), "seconds": seconds}
    print(f"\n{len(names) - failures}/{len(names)} ok")
    if json_path:
        Path(json_path).write_text(
            json.dumps({"sf_dir": SF_DIR, "n_pass": len(names) - failures,
                        "n_total": len(names), "queries": results}, indent=1)
        )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

"""Command-line entry — the reference's main() lifecycle as a Spark CLI.

The reference (aggregator/main.py:123-151) runs extract → convert → insert
then find/display; here the same verbs run over the Spark engine:

    python -m logagg run   --sf-dir /root/testdata/sf0.001 --out /tmp/out
    python -m logagg find  --sf-dir ... --node n05 [--limit 20]
    python -m logagg view  --sf-dir ... --url-suffix /00000042

`run` executes the resumable batch pipeline (logagg.pipeline) and prints the
stage ledger; `find`/`view` are the reference's query/display verbs
(aggregator/view.py) rendered via logagg.view.render_lines. Timing lives
outside the CLI: perfbench, ``bench.py`` (the N→4N scaling proxy) and
``tools/selfcheck.py``.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F


def _spark(cpus: int | None):
    from logagg.session import get_spark

    return get_spark(app_name="logagg-cli", master=None if cpus is None else f"local[{cpus}]")


def cmd_run(args) -> int:
    from logagg.pipeline import run_pipeline

    spark = _spark(args.cpus)
    results = run_pipeline(spark, args.sf_dir, args.out)
    print(json.dumps(results, indent=2, default=str))
    return 0


def _parsed(spark, sf_dir: str):
    from logagg import parse, synth

    cache = synth.ensure_cache(sf_dir, expected=False)
    return parse.parsed_records(spark.read.parquet(str(cache / "pages.parquet")))


def cmd_find(args) -> int:
    from logagg import view

    spark = _spark(args.cpus)
    recs = (
        _parsed(spark, args.sf_dir)
        .filter(F.col("node") == args.node)
        .orderBy(F.col("datetime").desc(), "url", "record_idx")
        .limit(args.limit)
    )
    for r in view.render_lines(recs).collect():
        print(r["line"])
    return 0


def cmd_view(args) -> int:
    from logagg import view

    spark = _spark(args.cpus)
    recs = _parsed(spark, args.sf_dir).filter(F.col("url").endswith(args.url_suffix))
    rows = view.render_lines(recs).collect()
    for r in rows:
        print(r["line"])
    return 0 if rows else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="logagg")
    ap.add_argument(
        "--cpus", type=int, default=None,
        help="local cores (default: $SPARK_GRAFT_CPUS, else every core this process may use)",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("run", help="parse → enrich → route → aggregate (resumable)")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_run)

    p = sub.add_parser("find", help="records for a node, newest first (rendered)")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--node", required=True)
    p.add_argument("--limit", type=int, default=20)
    p.set_defaults(fn=cmd_find)

    p = sub.add_parser("view", help="render one page's records by url suffix")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--url-suffix", required=True)
    p.set_defaults(fn=cmd_view)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())

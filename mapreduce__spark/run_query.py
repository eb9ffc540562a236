"""Run any registry query from the command line.

    python -m mapreduce__spark.run_query <query> [--sf-dir DIR] [--limit N]
                                         [--format table|csv|json] [--explain]
                                         [--list]

`--list` prints the registry (name + check kind + first doc line). Output
goes to stdout; plans stay lazy until the single collect at the end.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mapreduce__spark.run_query", description=__doc__)
    p.add_argument("query", nargs="?", help="registry query name")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--limit", type=int, default=20,
                   help="max rows to print (0 = all; the table format sends the "
                        "collected rows back to Spark to render them)")
    p.add_argument("--format", choices=("table", "csv", "json"), default="table")
    p.add_argument("--list", action="store_true", help="list available queries")
    p.add_argument("--explain", action="store_true", help="print the executed physical plan after the rows")
    args = p.parse_args(argv)

    from mapreduce__spark.plans import REGISTRY, ordered_names

    if args.list or not args.query:
        for name in ordered_names():
            q = REGISTRY[name]
            kind = "oracle" if q.oracle else "rows-only"
            doc = q.doc.splitlines()[0] if q.doc else ""
            print(f"{name:32s} {kind:9s} {doc}")
        return 0

    if args.query not in REGISTRY:
        print(f"unknown query {args.query!r}; use --list", file=sys.stderr)
        return 1

    from mapreduce__spark.session import get_spark

    spark = get_spark(app_name=f"mapreduce__spark-{args.query}")
    spark.sparkContext.setLogLevel("ERROR")
    df = REGISTRY[args.query].fn(spark, args.sf_dir)
    if args.limit:
        df = df.limit(args.limit)
    rows = df.collect()
    if args.format == "table":
        # show() would run its own derived plan; render the collected rows
        spark.createDataFrame(rows, df.schema).show(n=len(rows), truncate=40)
    else:
        dicts = [r.asDict(recursive=True) for r in rows]
        if args.format == "json":
            for r in dicts:
                print(json.dumps(r, default=str))
        else:
            cols = df.columns
            print(",".join(cols))
            for r in dicts:
                print(",".join(str(r[c]) for c in cols))
    if args.explain:
        # after the action, so an adaptive plan prints its final form
        df.explain(mode="formatted")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

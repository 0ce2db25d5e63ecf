"""CLI: run, list, and explain the registered queries.

The switch-over surface for a reference user: the 14 Cypher benchmark
queries (and every extension) are runnable by name against any testdata
directory without writing code —

    python -m neo4j_dynagraph_spark list [substr]
    python -m neo4j_dynagraph_spark run q10_degree /root/testdata/sf0.01
    python -m neo4j_dynagraph_spark explain q1_time_range /root/testdata/sf0.01
    python -m neo4j_dynagraph_spark oracle q_curate

`run` prints up to --limit rows (default 20, the driver never holds
more); `explain` prints the formatted physical plan (the same text the
plans_audit/ gate pins, un-normalized); `oracle` prints the DuckDB SQL
the parity gate grades a query against (no Spark session needed).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m neo4j_dynagraph_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("substr", nargs="?", default="")
    sub.add_parser("oracle", help="print a query's DuckDB SQL").add_argument("query")

    for name in ("run", "explain"):
        p = sub.add_parser(name)
        p.add_argument("query")
        p.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
        if name == "run":
            p.add_argument("--limit", type=int, default=20)

    args = ap.parse_args(argv)

    from neo4j_dynagraph_spark.queries import REGISTRY

    if args.cmd == "list":
        for qname in sorted(REGISTRY):
            if args.substr in qname:
                doc = (REGISTRY[qname].doc or "").split("\n")[0]
                oracle = "oracle" if REGISTRY[qname].oracle else "rows-only"
                print(f"{qname:28s} [{oracle}] {doc}")
        return 0

    if args.query not in REGISTRY:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    if args.cmd == "oracle":
        print(REGISTRY[args.query].oracle or "(no SQL oracle — rows-only check)")
        return 0

    from neo4j_dynagraph_spark import get_spark

    spark = get_spark("dynagraph-cli")
    spark.sparkContext.setLogLevel("ERROR")
    df = REGISTRY[args.query].fn(spark, args.sf_dir)
    if args.cmd == "explain":
        df.explain("formatted")
    else:
        df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())

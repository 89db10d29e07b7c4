"""CLI entry point — the `hadoop jar ...` / Streaming-CLI analog
(reference StreamJob.java:283: options-driven job assembly).

    python -m hadoop_fcfs_spark list
    python -m hadoop_fcfs_spark run <query> [--sf DIR] [--limit N]
                                   [--explain] [--out PATH [--format fmt]]
    python -m hadoop_fcfs_spark sql "<statement>" [same flags as run]
    python -m hadoop_fcfs_spark profile <table> [--sf DIR] [--exact]
    python -m hadoop_fcfs_spark verify <query>|--all [--sf DIR]
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="hadoop_fcfs_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)
    sf = argparse.ArgumentParser(add_help=False)
    sf.add_argument("--sf", default="/root/testdata/sf0.01", help="table directory")
    output = argparse.ArgumentParser(add_help=False)
    output.add_argument("--limit", type=int, default=20, help="rows to show (stdout mode)")
    output.add_argument("--explain", action="store_true", help="print the physical plan")
    output.add_argument("--out", default=None, help="write results here instead of showing")
    output.add_argument("--format", default="parquet", help="output format for --out")

    sub.add_parser("list", help="list registered queries")

    runp = sub.add_parser("run", parents=[sf, output], help="run a registered query")
    runp.add_argument("query")

    profp = sub.add_parser("profile", parents=[sf], help="one-pass column profile of a table")
    profp.add_argument("table", help="table name (region/nation/.../documents)")
    profp.add_argument("--exact", action="store_true", help="exact distincts (Expand cost)")

    verp = sub.add_parser("verify", parents=[sf], help="run a gate AND its DuckDB oracle, compare")
    verp.add_argument("query", nargs="?", default=None)
    verp.add_argument("--all", action="store_true", help="verify every gate")

    sqlp = sub.add_parser("sql", parents=[sf, output],
                          help="run ad-hoc SQL over the registered tables")
    sqlp.add_argument("statement")

    args = parser.parse_args(argv)

    from hadoop_fcfs_spark.registry import all_queries

    queries = all_queries()

    if args.cmd == "list":
        for name, spec in sorted(queries.items()):
            oracle = "oracle" if spec.oracle else "rows-only"
            print(f"{name:24s} [{oracle}] {spec.doc}")
        return 0

    from hadoop_fcfs_spark.session import get_spark

    if args.cmd == "verify":
        from hadoop_fcfs_spark.caching import release_waypoints
        from hadoop_fcfs_spark.verify import compare, duck_views

        names = list(queries) if args.all else [args.query]
        if not args.all and args.query not in queries:
            print(f"unknown query {args.query!r}; `list` shows the inventory", file=sys.stderr)
            return 2
        spark = get_spark("cli:verify")
        failed = 0
        with duck_views(args.sf) as con:
            for name in names:
                spec = queries[name]
                try:
                    spark_pd = spec.spark_fn(spark, args.sf).toPandas()
                    reason = compare(spark_pd, con.execute(spec.oracle).df(), args.sf)
                except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
                    print(f"{name:28s} ERROR {type(e).__name__}: {e}", file=sys.stderr)
                    reason = "error"
                else:
                    status = "OK" if reason is None else f"MISMATCH {reason}"
                    print(f"{name:28s} rows={len(spark_pd):<7d} {status}")
                failed += reason is not None
                release_waypoints()
        return 1 if failed else 0

    if args.cmd == "profile":
        from hadoop_fcfs_spark.ops.validate import profile_table
        from hadoop_fcfs_spark.tables import t

        spark = get_spark("cli:profile")
        profile_table(t(spark, args.sf, args.table), exact=args.exact).show(100, False)
        return 0

    if args.cmd == "sql":
        from hadoop_fcfs_spark.tables import register_views

        spark = get_spark("cli:sql")
        register_views(spark, args.sf)
        df = spark.sql(args.statement)
    else:
        if args.query not in queries:
            print(f"unknown query {args.query!r}; `list` shows the inventory", file=sys.stderr)
            return 2
        spark = get_spark(f"cli:{args.query}")
        df = queries[args.query].spark_fn(spark, args.sf)
    if args.explain:
        df.explain("formatted")
    if args.out:
        df.write.mode("overwrite").format(args.format).save(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)

    from hadoop_fcfs_spark.caching import release_waypoints

    release_waypoints()  # operator-internal persists are query-scoped here
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""CLI entry point: run any registered query, or ad-hoc SQL, against a
fixture directory and print JSON rows.

    python -m fitness_data_ingest_spark --list
    python -m fitness_data_ingest_spark --query tpch_q1 [--sf-dir DIR] [--limit N]
    python -m fitness_data_ingest_spark --sql "SELECT count(*) FROM lineitem"
    python -m fitness_data_ingest_spark --query tpch_q1 --explain
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="fitness_data_ingest_spark")
    p.add_argument("--query", help="registered query key (see --list)")
    p.add_argument("--sql", help="ad-hoc SQL over the fixture views")
    p.add_argument("--list", action="store_true", help="list query keys")
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    p.add_argument("--limit", type=int, default=20, help="max rows printed")
    p.add_argument(
        "--demo-pipeline",
        metavar="SINK_DIR",
        help="run the reference-shaped ingest pipeline end-to-end "
        "(cold + warm incremental pass) against --sf-dir, sinking "
        "partitioned parquet to SINK_DIR; prints one JSON report",
    )
    p.add_argument("--explain", action="store_true", help="print the plan only")
    p.add_argument(
        "--master",
        help="Spark master (default: local[SPARK_GRAFT_CPUS], else "
        "local[<cores available to this process>])",
    )
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    """Runs one CLI action; ``spark`` is injectable for tests."""
    from .registry import all_queries

    args = build_parser().parse_args(argv)
    queries = all_queries()
    if args.list:
        for name, q in queries.items():
            print(f"{name}\toracle={'yes' if q.sql else 'rows-only'}")
        return 0
    if args.demo_pipeline:
        from .pipeline_demo import run_demo

        if spark is None:
            from .session import get_spark

            spark = get_spark(app_name="fdis-demo", master=args.master)
        print(json.dumps(run_demo(spark, args.sf_dir, args.demo_pipeline)))
        return 0
    if not args.query and not args.sql:
        print("one of --query/--sql/--list is required", file=sys.stderr)
        return 2
    if args.query and args.query not in queries:
        print(f"unknown query {args.query!r}; see --list", file=sys.stderr)
        return 2
    if spark is None:
        from .session import get_spark

        spark = get_spark(app_name="fdis-cli", master=args.master)
    if args.sql:
        from .sql import run_sql

        df = run_sql(spark, args.sf_dir, args.sql)
    else:
        df = queries[args.query].spark(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())

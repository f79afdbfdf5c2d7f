"""Admin CLI (SURVEY.md §2.11) — parity with the reference's
`python src/scripts/init_db.py --reset --schema --stats -v` and the ETL
entry points' `--file --dry-run -v` (reference: src/scripts/init_db.py:80-120,
src/etl/waste_items.py:432-453, src/etl/facilities.py:146-166).

Usage:
    python -m graph_etl_pipeline_spark.cli stats  [--sf-dir DIR]
    python -m graph_etl_pipeline_spark.cli schema --warehouse DIR
    python -m graph_etl_pipeline_spark.cli query  "SELECT ..." [--sf-dir DIR]
    python -m graph_etl_pipeline_spark.cli explain NAME [--sf-dir DIR]
    python -m graph_etl_pipeline_spark.cli profile TABLE [--sf-dir DIR]
    python -m graph_etl_pipeline_spark.cli import-facilities --file F [--dry-run]
    python -m graph_etl_pipeline_spark.cli import-waste-items --file F --facilities-file J [--dry-run]
"""

from __future__ import annotations

import argparse
import json
import logging
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="graph-etl-pipeline-spark")
    p.add_argument("-v", "--verbose", action="store_true")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("stats", help="table counts (reference --stats)")
    sp.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    sc = sub.add_parser("schema", help="apply schema registry (reference --schema)")
    sc.add_argument("--warehouse", required=True)

    sr = sub.add_parser("reset", help="wipe a graph warehouse (reference --reset)")
    sr.add_argument("--warehouse", required=True)
    sr.add_argument("--yes", action="store_true", help="skip interactive confirm")

    sq = sub.add_parser("query", help="run SQL against the registered tables")
    sq.add_argument("sql")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    se = sub.add_parser("explain", help="print a registered query's physical plan")
    se.add_argument("name")
    se.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    sr2 = sub.add_parser("run", help="execute a registered query, print JSON rows")
    sr2.add_argument("name")
    sr2.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sr2.add_argument("--limit", type=int, default=20)

    sub.add_parser("list", help="list registered queries with their tags")

    pf = sub.add_parser(
        "profile", help="per-column completeness/cardinality report (one scan)"
    )
    pf.add_argument("table", help="table name under --sf-dir")
    pf.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    fi = sub.add_parser("import-facilities")
    fi.add_argument("--file", required=True)
    fi.add_argument("--dry-run", action="store_true")

    wi = sub.add_parser("import-waste-items")
    wi.add_argument("--file", required=True)
    wi.add_argument("--facilities-file", required=True)
    wi.add_argument("--dry-run", action="store_true")

    args = p.parse_args(argv)
    logging.basicConfig(level=logging.DEBUG if args.verbose else logging.INFO)

    from graph_etl_pipeline_spark.session import get_spark, is_connected

    spark = get_spark(app_name="graph-etl-cli")
    if not is_connected(spark):  # reference init_db.py:138-146 exit-nonzero
        print("ERROR: Spark session failed health check", file=sys.stderr)
        return 1

    if args.cmd == "stats":
        from graph_etl_pipeline_spark.catalog import get_stats

        print(json.dumps(get_stats(spark, args.sf_dir), indent=2))
    elif args.cmd == "schema":
        from graph_etl_pipeline_spark.schema import apply_schema

        print(json.dumps(apply_schema(args.warehouse)))
    elif args.cmd == "reset":
        # interactive confirm like the reference (init_db.py:149-155);
        # CLI state lives in the warehouse (a fresh session has no temp
        # views to drop — catalog.clear_all covers the in-session case)
        if not args.yes:
            answer = input(
                f"Wipe ALL tables under {args.warehouse}? [y/N] "
            ).strip().lower()
            if answer != "y":
                print("aborted")
                return 1
        from graph_etl_pipeline_spark.schema import clear_warehouse

        print(json.dumps({"removed_tables": clear_warehouse(args.warehouse)}))
    elif args.cmd == "query":
        from graph_etl_pipeline_spark.catalog import query, register_tables

        register_tables(spark, args.sf_dir)
        for row in query(spark, args.sql):
            print(json.dumps(row, default=str))
    elif args.cmd == "explain":
        from graph_etl_pipeline_spark.registry import all_queries

        spec = all_queries()[args.name]
        spec.fn(spark, args.sf_dir).explain("formatted")
    elif args.cmd == "run":
        from graph_etl_pipeline_spark.registry import all_queries

        spec = all_queries()[args.name]
        rows = spec.fn(spark, args.sf_dir).limit(args.limit).collect()
        for row in rows:
            print(json.dumps(row.asDict(recursive=True), default=str))
    elif args.cmd == "list":
        from graph_etl_pipeline_spark.registry import all_queries

        for name, spec in all_queries().items():
            print(json.dumps({"name": name, "tags": list(spec.tags),
                              "oracle": spec.oracle is not None}))
    elif args.cmd == "profile":
        from graph_etl_pipeline_spark.io import table
        from graph_etl_pipeline_spark.queries.relational import profile_columns

        for row in profile_columns(table(spark, args.sf_dir, args.table)).collect():
            print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "import-facilities":
        from graph_etl_pipeline_spark.etl.facilities import import_facilities

        merged, stats = import_facilities(spark, args.file, dry_run=args.dry_run)
        print(json.dumps(stats.asDict()))
        if merged is not None:
            print(f"facilities total: {merged.count()}")
    elif args.cmd == "import-waste-items":
        from graph_etl_pipeline_spark.etl.facilities import import_facilities
        from graph_etl_pipeline_spark.etl.waste_items import import_waste_items

        facilities, _ = import_facilities(spark, args.facilities_file)
        items, edges, stats = import_waste_items(
            spark, args.file, facilities, dry_run=args.dry_run
        )
        print(json.dumps(stats.asDict()))
        if items is not None:
            print(f"items: {items.count()}  edges: {edges.count()}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""CLI entry point — the reference's ``run(argv)`` twin (P11,
dataflow_pipeline.py:102-148 / local_directrunner_pipeline.py:75-103).

Same argument surface (--input CSV, --output table) plus the Spark-side
knobs that replace PipelineOptions. The BigQuery table argument works
against the real connector when present, else the local parquet
warehouse (sources/bigquery.py).

    python -m cloud_dataflow_batch_processing_spark.cli \
        --input /path/AB_NYC_2019.csv --output dataset.table \
        --schema resources/schema.json --key neighbourhood \
        --value calculated_host_listings_count
"""

from __future__ import annotations

import argparse
import sys

from cloud_dataflow_batch_processing_spark.schema import bq_schema_file_to_struct
from cloud_dataflow_batch_processing_spark.session import cds_state, get_spark, worker_pyspark
from cloud_dataflow_batch_processing_spark.workload import run_reference_pipeline


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="input CSV path (local/hdfs/s3a/gs)")
    p.add_argument("--output", required=True, help="output table as dataset.table")
    p.add_argument("--schema", required=True, help="BigQuery JSON schema file")
    p.add_argument("--key", default="neighbourhood", help="group-by column")
    p.add_argument(
        "--value", default="calculated_host_listings_count", help="summed column"
    )
    p.add_argument("--warehouse", default=None, help="local warehouse dir (fallback sink)")
    p.add_argument("--master", default=None, help="Spark master (default local[$SPARK_GRAFT_CPUS])")
    return p


def _session(app_name: str, master: str | None):
    """The tuned session; how its driver JVM started and where its
    Python workers import pyspark from go to stderr, so stdout's last
    line stays the command's result."""
    spark = get_spark(app_name=app_name, master=master)
    print(f"cold start: {cds_state(spark)}; workers: {worker_pyspark(spark)}", file=sys.stderr)
    return spark


def run_query(argv: list[str]) -> None:
    """``query`` subcommand: run any registered query by name against a
    testdata directory — the user-facing surface over the same registry
    the driver gates (list with ``--list``)."""
    import os

    from cloud_dataflow_batch_processing_spark.queries import REGISTRY, queries

    p = argparse.ArgumentParser(prog="cloud_dataflow_batch_processing_spark.cli query")
    p.add_argument("--name", default=None, help="registered query name")
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="table directory (TESTDATA.md layout)",
    )
    p.add_argument("--limit", type=int, default=20, help="rows to show")
    p.add_argument("--output", default=None, help="write full result as parquet here")
    p.add_argument("--list", action="store_true", help="list registered queries")
    p.add_argument("--explain", action="store_true", help="print the formatted physical plan")
    p.add_argument("--oracle", action="store_true", help="print the DuckDB oracle SQL and exit")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    queries()
    if args.list:
        for q in REGISTRY.values():
            first = (q.doc or "").strip().splitlines()[:1]
            print(f"{q.name}\t{first[0] if first else ''}")
        return
    if not args.name or args.name not in REGISTRY:
        raise SystemExit(
            f"unknown query {args.name!r}; use --list to see the {len(REGISTRY)} registered"
        )
    if args.oracle:
        print((REGISTRY[args.name].oracle or "-- no oracle registered --").strip())
        return
    spark = _session(f"cdbp-query-{args.name}", args.master)
    df = REGISTRY[args.name].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
    else:
        df.show(args.limit, truncate=40)


def run_sql(argv: list[str]) -> None:
    """``sql`` subcommand: run ad-hoc ANSI SQL against the engine
    tables (sql.py façade) — the SQL surface the reference never had.

        python -m cloud_dataflow_batch_processing_spark.cli sql \\
            "SELECT l_returnflag, COUNT(*) n FROM lineitem GROUP BY 1"
    """
    import os

    from cloud_dataflow_batch_processing_spark.sql import sql as engine_sql

    p = argparse.ArgumentParser(prog="cloud_dataflow_batch_processing_spark.cli sql")
    p.add_argument("query", help="ANSI SQL over the engine tables")
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="table directory (TESTDATA.md layout)",
    )
    p.add_argument("--limit", type=int, default=20, help="rows to show")
    p.add_argument("--output", default=None, help="write full result as parquet here")
    p.add_argument("--explain", action="store_true", help="print the formatted physical plan")
    p.add_argument(
        "--dialect",
        choices=("spark", "duckdb"),
        default="spark",
        help="duckdb = mechanically translate DuckDB SQL first (sql_dialect.py)",
    )
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    query = args.query
    if args.dialect == "duckdb":
        from cloud_dataflow_batch_processing_spark.sql_dialect import translate_duckdb

        query = translate_duckdb(query)
    spark = _session("cdbp-sql", args.master)
    df = engine_sql(spark, query, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
    else:
        df.show(args.limit, truncate=40)


def run(argv: list[str] | None = None) -> None:
    if argv is None:
        argv = sys.argv[1:]
    argv = list(argv)
    if argv and argv[0] == "query":
        return run_query(argv[1:])
    if argv and argv[0] == "sql":
        return run_sql(argv[1:])
    args = build_parser().parse_args(argv)
    spark = _session("cdbp-reference-pipeline", args.master)
    st = bq_schema_file_to_struct(args.schema)
    raw, transformed = run_reference_pipeline(
        spark,
        args.input,
        args.output,
        schema=st,
        warehouse=args.warehouse,
        key=args.key,
        value=args.value,
    )
    print(f"raw rows written: {raw.count()}; groups written: {transformed.count()}")


if __name__ == "__main__":
    run()

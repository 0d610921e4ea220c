"""The reference workload, end to end: CSV → raw sink + group-by-sum
sink (dataflow_pipeline.py:150-223 / local_directrunner_pipeline.py).

This is the 4-step ETL from the reference README:3-6 re-expressed
Spark-first: the hand-rolled line parser (dataflow_pipeline.py:57-99)
becomes the native CSV reader; the Map/GroupByKey/Map chain
(:199-206) becomes one groupBy().agg(); BigQuery sinks become the
disposition-mapped writer (sources/bigquery.py). The reference reads
and parses the CSV once and fans the parsed rows out to both sinks
(:153-222); here the raw table is landed first and the group-by reads
the landed table, so the CSV is parsed once per run. Fidelity quirks kept
(SURVEY.md §0): values read as strings ("data is not transformed"),
the aggregate is a SUM despite the name, and the output total is a
*string* column (dataflow_pipeline.py:190 ``unicode(n)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from cloud_dataflow_batch_processing_spark.schema import bq_schema_to_struct
from cloud_dataflow_batch_processing_spark.sources.bigquery import (
    WriteDisposition,
    write_table,
)
from cloud_dataflow_batch_processing_spark.sources.text import read_csv


def group_sum_transform(
    rows: DataFrame,
    key: str = "neighbourhood",
    value: str = "calculated_host_listings_count",
    out: str = "count_listings",
) -> DataFrame:
    """The 'Group By' transform (README:5): project → key+int-cast →
    group → sum → stringify (dataflow_pipeline.py:199-206,187-190)."""
    return (
        rows.select(key, value)
        .groupBy(key)
        .agg(F.sum(F.col(value).cast("long")).alias("__s"))
        .select(key, F.col("__s").cast("string").alias(out))
    )


def run_reference_pipeline(
    spark: SparkSession,
    input_csv: str,
    output_table: str,
    schema_fields: list[dict] | None = None,
    schema: T.StructType | None = None,
    warehouse: str | None = None,
    key: str = "neighbourhood",
    value: str = "calculated_host_listings_count",
    multi_line: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Run both sinks (raw + transform), mirroring run() at
    dataflow_pipeline.py:102-223. Returns the landed (raw, transformed)
    tables as lazy frames over the sinks.

    The reference parses the CSV once and fans the rows out to both
    sinks. Spark would parse it once per action, so the raw table is
    written first and the group-by-sum is built on the landed raw
    table: the CSV is parsed exactly once per run, and the aggregate
    scans two parquet columns instead of re-parsing every CSV field.

    ``multi_line=True`` parses quoted fields with embedded newlines —
    the case the reference's ReadFromText+parse_method pair corrupts
    (textio splits on raw newlines BEFORE csv.reader runs,
    dataflow_pipeline.py:87 / SURVEY.md §0). Scale caveat: Spark's
    multiLine CSV mode reads each file whole (records may span line
    splits, so files stop being byte-splittable) — at 100 TB, keep
    multiline corpora in many files of a few hundred MB, or re-land as
    parquet at ingest; leave it False for newline-free CSVs to keep
    in-file split parallelism."""
    st = schema if schema is not None else bq_schema_to_struct(schema_fields or [])
    csv_rows = read_csv(spark, input_csv, schema=st, all_strings=True, multi_line=multi_line)
    raw = write_table(
        csv_rows,
        f"{output_table}_raw",
        write_disposition=WriteDisposition.WRITE_TRUNCATE,
        warehouse=warehouse,
    )
    transformed = write_table(
        group_sum_transform(raw, key=key, value=value),
        f"{output_table}_transform",
        write_disposition=WriteDisposition.WRITE_TRUNCATE,
        warehouse=warehouse,
    )
    return raw, transformed

"""Reference-fidelity test (SURVEY.md §5 item 2): a synthetic
AB_NYC_2019-schema CSV run through the full two-sink pipeline,
asserting the golden-output *semantics* (not bytes): string-typed
aggregate, SUM-not-COUNT, both dispositions honored."""

from __future__ import annotations

import csv
import os

import pytest

from cloud_dataflow_batch_processing_spark.pipeline import Pipeline, label, sink
from cloud_dataflow_batch_processing_spark.workload import (
    group_sum_transform,
    run_reference_pipeline,
)
from tests.test_schema import NYC_FIELDS


@pytest.fixture()
def nyc_csv(tmp_path):
    """60 rows over 3 neighbourhoods with known listing-count sums."""
    path = tmp_path / "AB_NYC_mini.csv"
    fieldnames = [f["name"] for f in NYC_FIELDS]
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=fieldnames)
        w.writeheader()
        for i in range(60):
            hood = ["Bath Beach", "Theater District", "East Village"][i % 3]
            w.writerow(
                {
                    "id": i,
                    "name": f'Listing, "quoted" #{i}',  # embedded comma+quotes
                    "host_id": 1000 + i,
                    "host_name": "Host",
                    "neighbourhood_group": "G",
                    "neighbourhood": hood,
                    "latitude": "40.6",
                    "longtiude": "-73.9",
                    "room_type": "Private room",
                    "price": 100,
                    "minimum_nights": 1,
                    "number_of_reviews": 0,
                    "last_review": "2019-10-01",
                    "reviews_per_month": "1.0",
                    "calculated_host_listings_count": i % 7,
                    "availability_365": 365,
                }
            )
    return str(path)


def _expected_sums():
    sums = {}
    for i in range(60):
        hood = ["Bath Beach", "Theater District", "East Village"][i % 3]
        sums[hood] = sums.get(hood, 0) + (i % 7)
    return sums


def test_reference_pipeline_two_sinks(spark, nyc_csv, tmp_path):
    warehouse = str(tmp_path / "wh")
    raw, transformed = run_reference_pipeline(
        spark,
        nyc_csv,
        "nyc.listings",
        schema_fields=NYC_FIELDS,
        warehouse=warehouse,
    )
    # Raw sink: all 16 columns, string-typed ("data is not transformed",
    # dataflow_pipeline.py:64-66), quoted fields parsed correctly.
    raw_back = spark.read.parquet(os.path.join(warehouse, "nyc", "listings_raw"))
    assert raw_back.count() == 60
    assert all(t == "string" for _, t in raw_back.dtypes)
    assert raw_back.filter("id = '1'").head().name == 'Listing, "quoted" #1'

    # Transform sink: SUM (not COUNT) per neighbourhood, stringified
    # (dataflow_pipeline.py:187-190).
    t_back = spark.read.parquet(os.path.join(warehouse, "nyc", "listings_transform"))
    got = {r.neighbourhood: r.count_listings for r in t_back.collect()}
    assert got == {k: str(v) for k, v in _expected_sums().items()}
    assert dict(t_back.dtypes)["count_listings"] == "string"


def test_reference_transform_reads_landed_raw_table(spark, nyc_csv, tmp_path, monkeypatch):
    """The CSV is parsed once per run: only the raw sink's write scans
    it, the group-by is built on the landed raw table, and the returned
    frames read the landed tables."""
    from cloud_dataflow_batch_processing_spark import workload
    from cloud_dataflow_batch_processing_spark.plans.inspect import count_plan_nodes

    csv_scans_per_write = []
    real_write_table = workload.write_table

    def counting_write_table(df, *args, **kwargs):
        csv_scans_per_write.append(count_plan_nodes(df, "Scan csv"))
        return real_write_table(df, *args, **kwargs)

    monkeypatch.setattr(workload, "write_table", counting_write_table)
    raw, transformed = run_reference_pipeline(
        spark,
        nyc_csv,
        "nyc.once",
        schema_fields=NYC_FIELDS,
        warehouse=str(tmp_path / "wh"),
    )
    assert csv_scans_per_write == [1, 0]
    for df in (raw, transformed):
        assert count_plan_nodes(df, "Scan csv") == 0
        assert count_plan_nodes(df, "Scan parquet") == 1
    assert raw.count() == 60
    got = {r.neighbourhood: r.count_listings for r in transformed.collect()}
    assert got == {k: str(v) for k, v in _expected_sums().items()}


@pytest.fixture()
def nyc_csv_multiline(tmp_path):
    """An adversarial AB_NYC_2019-schema CSV at the golden output's
    cardinality: 221 neighbourhoods (result2 has 221 lines, SURVEY §0),
    every record's free-text fields carrying the parse hazards the
    reference's ReadFromText+parse_method pair corrupts — quoted
    embedded newlines (LF and CRLF), embedded commas, doubled-quote
    escapes, and astral-plane unicode."""
    path = tmp_path / "AB_NYC_adversarial.csv"
    fieldnames = [f["name"] for f in NYC_FIELDS]
    hoods = [f"Hood {i:03d}" for i in range(221)]
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=fieldnames)
        w.writeheader()
        for i in range(221 * 3):
            w.writerow(
                {
                    "id": i,
                    "name": (
                        f'Apt #{i}, "cozy"\nsecond line\r\nthird, line '
                        "\U0001F600\U0010FFFF café"
                    ),
                    "host_id": 1000 + i,
                    "host_name": 'O"Brien,\nJr.',
                    "neighbourhood_group": "G",
                    "neighbourhood": hoods[i % 221],
                    "latitude": "40.6",
                    "longtiude": "-73.9",
                    "room_type": "Private room",
                    "price": 100,
                    "minimum_nights": 1,
                    "number_of_reviews": 0,
                    "last_review": "2019-10-01",
                    "reviews_per_month": "1.0",
                    "calculated_host_listings_count": i % 7,
                    "availability_365": 365,
                }
            )
    return str(path)


def test_reference_pipeline_multiline_quoted_csv(spark, nyc_csv_multiline, tmp_path):
    """VERDICT r8 #7: the full two-sink pipeline over multiline-quoted
    records. The reference corrupts these (textio splits on raw
    newlines before csv.reader runs — dataflow_pipeline.py:87); the
    engine parses them exactly, and the aggregate hits the golden
    221-group cardinality."""
    warehouse = str(tmp_path / "wh")
    run_reference_pipeline(
        spark,
        nyc_csv_multiline,
        "nyc.adv",
        schema_fields=NYC_FIELDS,
        warehouse=warehouse,
        multi_line=True,
    )

    # Raw sink: one row per RECORD (not per physical line), all 16
    # columns string-typed, hazard fields byte-exact.
    raw_back = spark.read.parquet(os.path.join(warehouse, "nyc", "adv_raw"))
    assert raw_back.count() == 221 * 3
    assert all(t == "string" for _, t in raw_back.dtypes)
    # Pinned: Spark's multiLine parser (univocity) NORMALIZES line
    # endings inside quoted fields — the embedded CRLF reads back as
    # LF. Every other byte (quotes, commas, astral unicode) is exact.
    r1 = raw_back.filter("id = '1'").head()
    assert r1.name == (
        'Apt #1, "cozy"\nsecond line\nthird, line \U0001F600\U0010FFFF café'
    )
    assert r1.host_name == 'O"Brien,\nJr.'

    # Transform sink: exactly 221 groups (the golden result2 line
    # count), each the stringified SUM of its listing counts.
    t_back = spark.read.parquet(os.path.join(warehouse, "nyc", "adv_transform"))
    got = {r.neighbourhood: r.count_listings for r in t_back.collect()}
    assert len(got) == 221
    want: dict[str, int] = {}
    for i in range(221 * 3):
        h = f"Hood {i % 221:03d}"
        want[h] = want.get(h, 0) + (i % 7)
    assert got == {k: str(v) for k, v in want.items()}


def test_pipeline_facade_runs_same_workload(spark, nyc_csv, tmp_path):
    """The Beam-shaped façade builds the identical flow."""
    from cloud_dataflow_batch_processing_spark.schema import bq_schema_to_struct
    from cloud_dataflow_batch_processing_spark.sources.text import read_csv

    st = bq_schema_to_struct(NYC_FIELDS)
    out = {}
    with Pipeline(spark) as p:
        rows = p | label("read") >> (
            lambda s: read_csv(s, nyc_csv, schema=st, all_strings=True)
        )
        agg = rows | label("group sum") >> group_sum_transform
        agg | label("collect") >> sink(
            lambda df: out.update({r.neighbourhood: r.count_listings for r in df.collect()})
        )
    assert out == {k: str(v) for k, v in _expected_sums().items()}

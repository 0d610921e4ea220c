"""CLI entry test — the reference's run(argv) surface (P11,
dataflow_pipeline.py:102-148)."""

from __future__ import annotations

import json
import os

from cloud_dataflow_batch_processing_spark.cli import run
from tests.test_schema import NYC_FIELDS


def test_cli_runs_reference_pipeline(spark, tmp_path, capsys):
    schema_path = tmp_path / "schema.json"
    schema_path.write_text(json.dumps(NYC_FIELDS))
    csv_path = tmp_path / "in.csv"
    header = ",".join(f["name"] for f in NYC_FIELDS)
    lines = [header]
    for i in range(6):
        row = ["" for _ in NYC_FIELDS]
        row[0] = str(i)
        row[5] = ["A", "B"][i % 2]  # neighbourhood
        row[14] = str(i)  # calculated_host_listings_count
        lines.append(",".join(row))
    csv_path.write_text("\n".join(lines) + "\n")
    wh = str(tmp_path / "wh")

    run(
        [
            "--input", str(csv_path),
            "--output", "nyc.t",
            "--schema", str(schema_path),
            "--warehouse", wh,
        ]
    )
    captured = capsys.readouterr()
    assert captured.out.splitlines()[-1] == "raw rows written: 6; groups written: 2"
    assert "cold start: " in captured.err
    t = spark.read.parquet(os.path.join(wh, "nyc", "t_transform"))
    got = {r.neighbourhood: r.count_listings for r in t.collect()}
    assert got == {"A": str(0 + 2 + 4), "B": str(1 + 3 + 5)}


def test_cli_query_subcommand(tmp_path, capsys):
    from cloud_dataflow_batch_processing_spark.cli import run

    run(["query", "--list"])
    out = capsys.readouterr().out
    assert "flagship_group_sum" in out and "asof_join_events" in out

    dest = str(tmp_path / "q")
    run([
        "query", "--name", "partition_route",
        "--sf-dir", "/root/testdata/sf0.001", "--output", dest,
    ])
    import pyarrow.parquet as pq

    assert pq.read_table(dest).num_rows == 3


def test_cli_query_unknown_name_errors():
    import pytest as _pytest

    from cloud_dataflow_batch_processing_spark.cli import run

    with _pytest.raises(SystemExit):
        run(["query", "--name", "no_such_query"])


def test_cli_query_oracle_flag(capsys):
    from cloud_dataflow_batch_processing_spark.cli import run

    run(["query", "--name", "q1_pricing_summary", "--oracle"])
    out = capsys.readouterr().out
    assert "SELECT" in out and "lineitem" in out


def test_cli_query_explain_flag(capsys):
    from cloud_dataflow_batch_processing_spark.cli import run

    run(["query", "--name", "partition_route", "--sf-dir", "/root/testdata/sf0.001",
         "--explain"])
    out = capsys.readouterr().out
    assert "Physical Plan" in out


def test_get_spark_does_not_mutate_existing_session(spark):
    """Library citizenship: get_spark() with defaults must return the
    host's session UNCHANGED — builder.config on an existing session
    mutates shared runtime SQL conf, which is how cli.run() inside the
    8-shuffle test session used to reset shuffle.partitions to 32 for
    every later test (shifting downstream partial-agg work profiles).
    Explicitly-requested settings still apply."""
    from cloud_dataflow_batch_processing_spark.session import get_spark

    before = spark.conf.get("spark.sql.shuffle.partitions")
    s = get_spark(app_name="some-other-app")  # defaults would say 32
    assert s is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    s = get_spark(shuffle_partitions=int(before), extra_conf={
        "spark.sql.session.timeZone": spark.conf.get("spark.sql.session.timeZone")
    })  # explicit asks are applied (values chosen = current, a no-op)
    assert s is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_get_spark_conflicting_master_raises(spark):
    """ADVICE r7: an explicitly passed master that conflicts with the
    active session must raise, not be silently ignored."""
    import pytest

    from cloud_dataflow_batch_processing_spark.session import get_spark

    with pytest.raises(RuntimeError, match="conflicts with the active"):
        get_spark(master="local[1]")
    # matching master is fine
    assert get_spark(master=spark.sparkContext.master) is spark


def test_cli_sql_subcommand(spark, tmp_path, capsys):
    from cloud_dataflow_batch_processing_spark.cli import run

    out = str(tmp_path / "sql_out")
    run([
        "sql",
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1",
        "--sf-dir", "/root/testdata/sf0.001",
        "--output", out,
    ])
    assert f"wrote {out}" in capsys.readouterr().out
    got = {(r.l_returnflag, r.n) for r in spark.read.parquet(out).collect()}
    assert len(got) == 3 and all(n > 0 for _, n in got)


def test_cli_sql_duckdb_dialect(spark, tmp_path, capsys):
    """--dialect duckdb routes the query through translate_duckdb: a
    query full of DuckDB-isms (list literal, 1-based subscript, len,
    //) runs on Catalyst."""
    from cloud_dataflow_batch_processing_spark.cli import run

    out = str(tmp_path / "sql_duck_out")
    run([
        "sql",
        "SELECT l_returnflag, len([1, 2, 3]) AS l, ['a', 'b'][1] AS e, "
        "COUNT(*) // 2 AS half FROM lineitem GROUP BY 1",
        "--sf-dir", "/root/testdata/sf0.001",
        "--dialect", "duckdb",
        "--output", out,
    ])
    assert f"wrote {out}" in capsys.readouterr().out
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    assert all(r.l == 3 and r.e == "a" and r.half >= 0 for r in rows)

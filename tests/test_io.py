"""Source/sink layer tests: textio semantics (skip_header per file,
shards), CSV parse modes, Create, disposition mapping, local BigQuery
fallback (SURVEY.md §2.1 P1/P2/P8/P9/P10)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cloud_dataflow_batch_processing_spark.sources import (
    CreateDisposition,
    WriteDisposition,
    create,
    disposition_to_mode,
    read_csv,
    read_table,
    read_text,
    write_table,
    write_text,
)
from cloud_dataflow_batch_processing_spark.sources.text import rows_as_repr_lines


def test_read_text_skip_header_per_file(spark, tmp_path):
    d = tmp_path / "txt"
    d.mkdir()
    for i in range(3):
        (d / f"f{i}.txt").write_text(f"HEADER{i}\nline_a_{i}\nline_b_{i}\n")
    out = read_text(spark, str(d / "*.txt"), skip_header_lines=1)
    vals = sorted(r.value for r in out.collect())
    assert vals == sorted(f"line_{x}_{i}" for i in range(3) for x in "ab")
    assert not any(v.startswith("HEADER") for v in vals)


def test_read_text_skip_multiline_header_uneven_files(spark, tmp_path):
    """Scale-safe multi-line skip (VERDICT r1 #5): one distributed read,
    N>1 header lines, files of very different sizes (exercises the
    per-file-contiguity assumption of the global index), and a file
    shorter than the header."""
    d = tmp_path / "txt2"
    d.mkdir()
    sizes = {0: 50, 1: 3, 2: 0}  # body lines per file; file 2 is header-only
    for i, body in sizes.items():
        lines = [f"H{i}_1", f"H{i}_2"] + [f"body_{i}_{j}" for j in range(body)]
        (d / f"g{i}.txt").write_text("\n".join(lines) + "\n")
    out = read_text(spark, str(d / "*.txt"), skip_header_lines=2)
    vals = sorted(r.value for r in out.collect())
    want = sorted(f"body_{i}_{j}" for i, body in sizes.items() for j in range(body))
    assert vals == want


def test_read_text_plain(spark, tmp_path):
    p = tmp_path / "a.txt"
    p.write_text("x\ny\n")
    assert read_text(spark, str(p)).count() == 2


def test_write_text_shards(spark, tmp_path):
    df = create(spark, [f"row{i}" for i in range(20)]).select(
        F.col("value").cast("string")
    )
    out = str(tmp_path / "out")
    write_text(df, out, num_shards=2)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 2
    assert spark.read.text(out).count() == 20


def test_write_text_header_per_shard(spark, tmp_path):
    """Beam WriteToText(header=...) writes the header at the start of
    EVERY shard file (textio.py:540,575)."""
    df = create(spark, [f"row{i}" for i in range(10)]).select(
        F.col("value").cast("string")
    )
    out = str(tmp_path / "hdr_out")
    write_text(df, out, num_shards=2, header="col_a")
    parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    assert len(parts) == 2
    for part in parts:
        with open(os.path.join(out, part)) as fh:
            assert fh.readline().rstrip("\n") == "col_a"
    # roundtrip: per-file header skip removes exactly the two headers
    back = read_text(spark, out, skip_header_lines=1)
    assert sorted(r.value for r in back.collect()) == sorted(
        f"row{i}" for i in range(10)
    )
    # overwrite replaces; errorifexists refuses
    write_text(df, out, num_shards=1, header="col_a", mode="overwrite")
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        write_text(df, out, header="col_a", mode="errorifexists")


def test_rows_as_repr_lines(spark):
    df = create(spark, [("a", 1)], schema=["k", "v"])
    line = rows_as_repr_lines(df).head().value
    assert '"k":"a"' in line and '"v":1' in line


def test_read_csv_quoted_multiline(spark, tmp_path):
    p = tmp_path / "q.csv"
    p.write_text('k,v\n"with, comma",1\n"multi\nline",2\n')
    df = read_csv(spark, str(p), multi_line=True)
    got = {r.k: r.v for r in df.collect()}
    assert got == {"with, comma": "1", "multi\nline": "2"}


def test_disposition_mapping():
    assert disposition_to_mode(WriteDisposition.WRITE_TRUNCATE) == "overwrite"
    assert disposition_to_mode(WriteDisposition.WRITE_APPEND) == "append"
    assert disposition_to_mode(WriteDisposition.WRITE_EMPTY) == "errorifexists"
    with pytest.raises(ValueError):
        disposition_to_mode("nope")


def test_bigquery_local_fallback_roundtrip(spark, tmp_path):
    wh = str(tmp_path / "wh")
    df = create(spark, [(1, "a"), (2, "b")], schema=["id", "s"])
    landed = write_table(
        df, "ds.t", write_disposition=WriteDisposition.WRITE_TRUNCATE, warehouse=wh
    )
    assert {(r.id, r.s) for r in landed.collect()} == {(1, "a"), (2, "b")}
    assert landed.schema == df.schema
    back = read_table(spark, table="ds.t", warehouse=wh)
    assert {(r.id, r.s) for r in back.collect()} == {(1, "a"), (2, "b")}

    # Warehouse encoding: zstd, no dictionary pages, on every column
    # chunk. Repeated values, so a dictionary-on writer would keep its
    # dictionary instead of falling back to plain pages.
    import pyarrow.parquet as pq

    rep = create(spark, [(1, "a"), (2, "b")] * 50, schema=["id", "s"])
    write_table(rep, "ds.rep", write_disposition=WriteDisposition.WRITE_TRUNCATE, warehouse=wh)
    chunks = []
    for frag in pq.ParquetDataset(os.path.join(wh, "ds", "rep")).fragments:
        md = frag.metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            chunks += [rg.column(c) for c in range(rg.num_columns)]
    assert chunks
    for col in chunks:
        assert col.compression == "ZSTD", col
        assert not col.has_dictionary_page, col
        assert not any("DICTIONARY" in e for e in col.encodings), col

    # WRITE_EMPTY on existing table must fail (beam dispositions :271-274)
    with pytest.raises(Exception):
        write_table(df, "ds.t", write_disposition=WriteDisposition.WRITE_EMPTY, warehouse=wh)

    # CREATE_NEVER on missing table must fail (:255-263)
    with pytest.raises(RuntimeError):
        write_table(
            df,
            "ds.missing",
            create_disposition=CreateDisposition.CREATE_NEVER,
            write_disposition=WriteDisposition.WRITE_TRUNCATE,
            warehouse=wh + "_none",
        )

    # query mode over the warehouse views
    got = read_table(spark, query="SELECT COUNT(*) AS n FROM t", warehouse=wh).head().n
    assert got == 2


def test_bigquery_create_never_through_filesystem_uri(spark, tmp_path):
    """CREATE_NEVER onto an existing table of a ``file://`` warehouse:
    the existence check goes through the path's Hadoop FileSystem."""
    wh = f"file://{tmp_path}/wh"
    df = create(spark, [(1, "a"), (2, "b")], schema=["id", "s"])
    write_table(df, "ds.t", write_disposition=WriteDisposition.WRITE_TRUNCATE, warehouse=wh)
    never = dict(create_disposition=CreateDisposition.CREATE_NEVER, warehouse=wh)
    landed = write_table(df, "ds.t", write_disposition=WriteDisposition.WRITE_APPEND, **never)
    assert landed.count() == 4
    with pytest.raises(RuntimeError, match="does not exist"):
        write_table(df, "ds.missing", write_disposition=WriteDisposition.WRITE_TRUNCATE, **never)


def test_bigquery_query_mode_through_filesystem_uri(spark, tmp_path):
    """Query mode over a ``file://`` warehouse lists its tables through
    the path's Hadoop FileSystem."""
    wh = f"file://{tmp_path}/wh"
    for table, rows in (("ds.a", [(1,), (2,)]), ("ds2.b", [(3,)])):
        write_table(create(spark, rows, schema=["id"]), table, warehouse=wh)
    got = read_table(
        spark, query="SELECT (SELECT SUM(id) FROM a) + (SELECT SUM(id) FROM b) AS n", warehouse=wh
    ).head().n
    assert got == 6


def test_class_on_classpath_lookup(spark):
    from cloud_dataflow_batch_processing_spark.sources.bigquery import _class_on_classpath

    assert _class_on_classpath(spark, "org.apache.spark.sql.SparkSession")
    assert not _class_on_classpath(spark, "com.example.no.such.Provider")


def test_read_avro_falls_back_without_jar(spark, tmp_path):
    """No spark-avro jar in this container: read_avro must fall back to
    the pure-Python OCF codec (not raise), and surface a clear error for
    an empty glob rather than a raw AnalysisException."""
    from cloud_dataflow_batch_processing_spark.sources.files import read_avro, write_avro

    df = spark.range(10).withColumnRenamed("id", "v")
    out = str(tmp_path / "fallback")
    write_avro(df, out)  # jar attempt fails -> python codec writes OCF
    assert read_avro(spark, out + "/*.avro").count() == 10

    bad = str(tmp_path / "bad")
    import os

    os.makedirs(bad)
    with open(os.path.join(bad, "nope.avro"), "wb") as f:
        f.write(b"not an avro file")
    with pytest.raises(ValueError, match="bad magic"):
        read_avro(spark, bad + "/*.avro")

    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_avro(spark, str(tmp_path / "missing") + "/*.avro")


def test_orc_roundtrip_and_pushdown(spark, tables, tmp_path):
    """ORC write→read preserves values, and the ORC scan takes pushed
    filters + pruned columns exactly like parquet (Spark-native
    vectorized reader)."""
    from cloud_dataflow_batch_processing_spark.plans import (
        assert_pushed_filters,
        assert_read_schema_pruned,
    )
    from cloud_dataflow_batch_processing_spark.sources.files import read_orc, write_orc
    from pyspark.sql import functions as F

    src = tables["nation"].select("n_nationkey", "n_name", "n_regionkey")
    out = str(tmp_path / "orc_rt")
    write_orc(src, out, compression="zlib")
    back = read_orc(spark, out)
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in src.collect()
    )
    scan = read_orc(spark, out, columns=["n_nationkey", "n_name"]).filter(
        F.col("n_nationkey") < 5
    )
    assert_pushed_filters(scan, "LessThan(n_nationkey,5)")
    assert_read_schema_pruned(scan, "nation", 2)


def test_json_roundtrip_gzip_and_partitioned(spark, tables, tmp_path):
    """JSONL sink: gzip'd files carry the .gz suffix (codec actually
    applied), a partitioned write lays out partition directories, and
    the schema'd read restores typed values exactly."""
    import os

    from cloud_dataflow_batch_processing_spark.sources.files import read_json, write_json

    src = tables["nation"].select("n_nationkey", "n_name", "n_regionkey")
    out = str(tmp_path / "json_gz")
    write_json(src, out, compression="gzip")
    assert any(f.endswith(".json.gz") for f in os.listdir(out))
    back = read_json(spark, out, schema=src.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))

    part_out = str(tmp_path / "json_part")
    write_json(src, part_out, partition_by=["n_regionkey"])
    assert any(d.startswith("n_regionkey=") for d in os.listdir(part_out))
    back2 = read_json(
        spark, part_out, schema=src.select("n_nationkey", "n_name").schema
    )
    assert back2.count() == src.count()
    # Partition-pruned read: only one directory's files are listed.
    pruned = spark.read.schema(src.schema).json(part_out).filter("n_regionkey = 1")
    assert pruned.count() == src.filter("n_regionkey = 1").count()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution: a dataset whose later files add a column reads
    as the UNION schema under merge_schema=True (older rows NULL-fill),
    while the default read may see only one footer's schema — the knob
    exists precisely because evolved datasets need the union."""
    from pyspark.sql import functions as F

    from cloud_dataflow_batch_processing_spark.sources.files import (
        read_parquet,
        write_parquet,
    )

    base = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v1 string").write.mode(
        "overwrite"
    ).parquet(base)
    spark.createDataFrame([(2, "b", 9.5)], "id long, v1 string, v2 double").write.mode(
        "append"
    ).parquet(base)

    merged = read_parquet(spark, base, merge_schema=True)
    assert set(merged.columns) == {"id", "v1", "v2"}
    rows = {r["id"]: (r["v1"], r["v2"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    # and the evolved column is filterable (NULL-safe predicate)
    assert merged.filter(F.col("v2").isNotNull()).count() == 1


def test_csv_malformed_row_policies(spark, tmp_path):
    """Ingestion hygiene: PERMISSIVE quarantines bad rows into the
    corrupt-record column (dead-letter routing), DROPMALFORMED drops
    them, FAILFAST refuses the load."""
    import pytest
    from pyspark.sql import types as T

    from cloud_dataflow_batch_processing_spark.sources.text import read_csv

    p = tmp_path / "dirty.csv"
    p.write_text("id,qty\n1,10\nbad_row_no_comma_number,\n3,30\n2,not_a_number\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("qty", T.LongType())]
    )

    perm = read_csv(
        spark, str(p), schema=schema, mode="PERMISSIVE", corrupt_record_col="_bad"
    ).cache()
    rows = perm.collect()
    assert len(rows) == 4
    quarantined = [r["_bad"] for r in rows if r["_bad"] is not None]
    assert any("not_a_number" in q for q in quarantined)
    good = {r["id"]: r["qty"] for r in rows if r["_bad"] is None}
    assert good == {1: 10, 3: 30}
    perm.unpersist()

    dropped = read_csv(spark, str(p), schema=schema, mode="DROPMALFORMED")
    assert {r["id"] for r in dropped.collect()} == {1, 3}

    with pytest.raises(Exception):
        read_csv(spark, str(p), schema=schema, mode="FAILFAST").collect()

"""Columnar / container-file sources: parquet, JSON, Avro, binary.

Reference surface: ReadFromAvro / WriteToAvro (beam/io/avroio.py:66,380),
generic Read/Write over BoundedSource/Sink (beam/io/iobase.py:829,879),
FileBasedSource glob+split (beam/io/filebasedsource.py:53-299). All of
that is Spark's FileScan machinery; these wrappers only pin options.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """``merge_schema=True`` reconciles files written under EVOLVED
    schemas (new columns appear over a dataset's lifetime): the read
    schema is the union across file footers, rows from older files get
    NULLs for columns they predate. The footer union costs one extra
    pass over file metadata at planning time — only ask for it on
    datasets that actually evolved (on a stable 100 TB layout the
    default single-footer schema is the cheap path)."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(path)
    return df.select(*columns) if columns else df


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_orc(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """ORC scan (Spark-native reader: predicate pushdown, column
    pruning, and vectorized decode all apply exactly as for parquet)."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "zlib",
) -> None:
    """ORC sink via the native committer; ``compression`` in
    {none, snappy, zlib, lzo, zstd, lz4}."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = None,
) -> None:
    """JSON-lines sink (one JSON object per line, the interchange
    format most text-corpus releases use). ``compression`` in
    {None, gzip, bzip2, snappy, zstd, ...} — gzip'd JSONL is the
    common corpus-drop layout; note gzip files are NOT splittable on
    read, so at 100 TB keep individual files bounded (repartition
    before writing) or prefer zstd."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def _avro_source_missing(exc: Exception) -> bool:
    """True only for the 'spark-avro jar not deployed' AnalysisException
    (error condition _LEGACY_ERROR_TEMP_1139 / message 'Failed to find
    data source: avro'). Any other failure from the JVM path — corrupt
    file, schema mismatch, permissions, partial write — must propagate:
    silently falling back would mask it (ADVICE r2 #1)."""
    try:
        from pyspark.errors import AnalysisException
    except ImportError:  # very old pyspark layout
        return "Failed to find data source: avro" in str(exc)
    if not isinstance(exc, AnalysisException):
        return False
    return "Failed to find data source: avro" in str(exc)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Beam twin: ReadFromAvro (beam/io/avroio.py:66).

    Prefers the spark-avro JVM reader (vectorized, block-splittable —
    the right engine on a real cluster); when the jar is absent
    (this container) falls back to the self-contained pure-Python OCF
    codec (``avro_codec.py``): whole files via binaryFile, parsed in an
    Arrow-batched mapInPandas — the same shape as the TFRecord reader.
    Only the jar-missing AnalysisException triggers the fallback; real
    read errors propagate.
    """
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:
        if not _avro_source_missing(exc):
            raise

    import io
    from collections.abc import Iterator

    import pandas as pd

    from cloud_dataflow_batch_processing_spark.sources import avro_codec as A

    # Schema discovery: read the header of one file driver-side (the OCF
    # header is self-describing; only the metadata block is parsed).
    files_df = spark.read.format("binaryFile").load(path).select("path", "content")
    first = files_df.select("content").head()
    if first is None:
        raise RuntimeError(f"no avro files matched {path!r}")
    schema_json, _, _ = A._container_header(io.BytesIO(bytes(first["content"])))
    struct = A.avro_schema_to_struct(schema_json)
    field_names = [f.name for f in struct.fields]

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Columnar decode (read_container_columns): the schema is
            # compiled to specialized closures once per task and field
            # values land directly in per-column lists — no per-record
            # dict build, no per-column dict re-walk (guide §4).
            parts: dict[str, list] = {n: [] for n in field_names}
            for content in pdf["content"]:
                _, cols = A.read_container_columns(bytes(content))
                # A file written under an older schema may lack fields
                # of the discovered read schema — NULL-fill, matching
                # the previous row-dict .get(name) behavior.
                nrows = len(next(iter(cols.values()))) if cols else 0
                for n in field_names:
                    parts[n].extend(cols.get(n, [None] * nrows))
            yield pd.DataFrame(parts, columns=field_names)

    return files_df.mapInPandas(parse, schema=struct)


def write_avro(df: DataFrame, out_dir: str, codec: str = "deflate") -> None:
    """Beam twin: WriteToAvro (beam/io/avroio.py:380). One .avro OCF per
    partition (Beam writes one per bundle/shard). JVM writer when the
    spark-avro jar is present, pure-Python codec otherwise.

    Fallback discipline (ADVICE r2 #1/#2): only the jar-missing
    AnalysisException falls through — a genuine JVM write failure
    (schema mismatch, permissions, partial commit) re-raises. The
    fallback clears ``out_dir`` first so leftover JVM part files can't
    mix with python part files under the ``*.avro`` read glob, and it
    refuses to run on a non-local master: its executor-side ``open()``
    is only correct when executors share the driver filesystem — on a
    real cluster it would silently scatter partitions across
    executor-local disks. Deploy the spark-avro jar there instead.
    """
    try:
        df.write.mode("overwrite").format("avro").save(out_dir)
        return
    except Exception as exc:
        if not _avro_source_missing(exc):
            raise

    import os
    import shutil

    from cloud_dataflow_batch_processing_spark.sources import avro_codec as A

    master = df.sparkSession.sparkContext.master or ""
    if not master.startswith("local"):
        raise RuntimeError(
            "write_avro python fallback requires a shared driver/executor "
            f"filesystem (local master); got master={master!r}. Deploy the "
            "spark-avro jar for cluster writes."
        )

    schema = A.struct_to_avro_schema(df.schema)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(batches):
        # Arrow batches, not df.rdd: the Row-pickle boundary
        # (JVM->pickle Row + asDict(recursive=True) per row) cost more
        # than the Avro encode itself (guide §4). RecordBatch.to_pylist
        # yields exactly the shapes encode_value accepts: None for
        # nulls, datetime/date for temporals, bytes for binary, dict
        # for structs, list for arrays.
        from pyspark import TaskContext

        records: list[dict] = []
        for batch in batches:
            records.extend(batch.to_pylist())
        if records:
            idx = TaskContext.get().partitionId()
            blob = A.write_container(records, schema, codec=codec)
            with open(os.path.join(out_dir, f"part-{idx:05d}.avro"), "wb") as f:
                f.write(blob)
        return iter(())

    df.mapInArrow(write_partition, schema="part int").count()
    if not any(f.endswith(".avro") for f in os.listdir(out_dir)):
        # Empty dataset: still commit one header-only OCF so the output
        # is a READABLE empty avro dataset (schema preserved), matching
        # what the JVM writer does — otherwise a downstream read of the
        # written glob dies with PATH_NOT_FOUND instead of yielding 0
        # rows.
        with open(os.path.join(out_dir, "part-00000.avro"), "wb") as f:
            f.write(A.write_container([], schema, codec=codec))


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Opaque file ingestion for multimodal columns: (path, modificationTime,
    length, content: binary). SURVEY.md §2.3 multimodal plan.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)

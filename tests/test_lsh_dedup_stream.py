"""Streaming MinHash-LSH near-dup filter (streaming/lsh_dedup.py):
store-all semantics, redelivery idempotence, and streaming == the
registry oracle's two-phase replay (the oracle itself is certified
against DuckDB in the parity suites)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cloud_dataflow_batch_processing_spark.streaming.lsh_dedup import (
    process_lsh_dedup_batch,
    read_survivors,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = "the quick brown fox jumps over the lazy dog again and again " * 8


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "store"), str(tmp_path / "out")


@pytest.mark.slowsweep
def test_batch_side_loses_and_store_is_all_docs(spark, dirs):
    store, out = dirs
    b0 = _docs(spark, [(10, BASE), (11, BASE + " tail"), (99, "totally different words " * 30)])
    process_lsh_dedup_batch(b0, 0, "doc_id", "text", store, out)
    s0 = {r.doc_id for r in read_survivors(spark, out).collect()}
    # 10 and 11 near-dup: greater id (11) loses within the batch
    assert s0 == {10, 99}
    # a re-arrival near-dupping the DROPPED 11 must still be dropped
    # (store-all: dedup against everything seen, not just survivors)
    b1 = _docs(spark, [(5, BASE + " tail"), (200, "other corpus entirely " * 30)])
    process_lsh_dedup_batch(b1, 1, "doc_id", "text", store, out)
    s_all = {r.doc_id for r in read_survivors(spark, out).collect()}
    # 5 pairs with 10/11 (old) -> the batch side (5) loses despite 5 < 10
    assert s_all == {10, 99, 200}


@pytest.mark.slowsweep
def test_redelivery_is_idempotent(spark, dirs):
    store, out = dirs
    b0 = _docs(spark, [(1, BASE), (2, BASE + " x")])
    process_lsh_dedup_batch(b0, 0, "doc_id", "text", store, out)
    b1 = _docs(spark, [(3, BASE + " y"), (4, "unrelated text here " * 30)])
    process_lsh_dedup_batch(b1, 1, "doc_id", "text", store, out)
    first = sorted(r.doc_id for r in read_survivors(spark, out).collect())
    # redeliver batch 1 (a post-write crash): the store read excludes
    # batch>=1, so the verdicts recompute against the pre-batch store
    # and the partition overwrites to the identical state
    process_lsh_dedup_batch(b1, 1, "doc_id", "text", store, out)
    again = sorted(r.doc_id for r in read_survivors(spark, out).collect())
    assert again == first == [1, 4]
    # store holds every seen doc exactly once
    import glob

    store_ids = sorted(
        r["__id"]
        for r in spark.read.parquet(*glob.glob(store + "/batch=*")).collect()
    )
    assert store_ids == [1, 2, 3, 4]


def test_empty_stream_reports_none(spark, dirs):
    store, out = dirs
    assert read_survivors(spark, out) is None


def test_single_query_batch_boundary(spark, tmp_path):
    """r12 (VERDICT r11 #3): ONE availableNow query with
    maxFilesPerTrigger must preserve the b0-fully-before-b1 micro-batch
    semantics — the file source picks unread files oldest-mtime-first,
    so with b0's files strictly older than b1's and maxFilesPerTrigger
    = |b0 files|, micro-batch 0 is exactly b0. Pinned two ways: the
    store's batch=0 partition holds exactly b0's ids (batch membership,
    not just final survivors), and the survivor set equals the
    sequential two-call reference."""
    import glob
    import os
    import time

    from cloud_dataflow_batch_processing_spark.streaming.lsh_dedup import (
        process_lsh_dedup_batch,
        run_streaming_lsh_dedup,
    )

    rows0 = [(10, BASE), (11, BASE + " tail"), (99, "totally different words " * 30)]
    rows1 = [(5, BASE + " tail"), (200, "other corpus entirely " * 30)]
    b0, b1 = _docs(spark, rows0), _docs(spark, rows1)

    src = str(tmp_path / "src")
    n_files = 2
    base_t = time.time() - 120.0
    for i, batch in enumerate([b0, b1]):
        batch.repartition(n_files, F.col("doc_id")).write.mode("overwrite").parquet(
            os.path.join(src, f"b{i}")
        )
        for p in glob.glob(os.path.join(src, f"b{i}", "*.parquet")):
            os.utime(p, (base_t + 60.0 * i, base_t + 60.0 * i))
    n0 = len(glob.glob(os.path.join(src, "b0", "*.parquet")))
    assert n0 == n_files  # staging produced the bounded file count

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    sdf = (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", n0)
        .parquet(os.path.join(src, "b*"))
    )
    run_streaming_lsh_dedup(
        sdf, "doc_id", "text", store, str(out), str(tmp_path / "ckpt"), threshold=0.8
    )

    # Micro-batch MEMBERSHIP: the store's batch=N partition is written
    # by foreachBatch batch N — batch 0 must be exactly b0's ids.
    ids0 = sorted(r["__id"] for r in spark.read.parquet(store + "/batch=0").collect())
    ids1 = sorted(r["__id"] for r in spark.read.parquet(store + "/batch=1").collect())
    assert ids0 == sorted(r[0] for r in rows0)
    assert ids1 == sorted(r[0] for r in rows1)

    # Survivors identical to the sequential two-call reference.
    got = sorted(r.doc_id for r in read_survivors(spark, out).collect())
    store_ref = str(tmp_path / "store_ref")
    out_ref = str(tmp_path / "out_ref")
    process_lsh_dedup_batch(b0, 0, "doc_id", "text", store_ref, out_ref)
    process_lsh_dedup_batch(b1, 1, "doc_id", "text", store_ref, out_ref)
    want = sorted(r.doc_id for r in read_survivors(spark, out_ref).collect())
    assert got == want == [10, 99, 200]


def test_batch_id_regression_raises(spark, dirs):
    """A batch_id below the store's latest committed version (a fresh
    checkpoint against an old store) must not dedup against nothing and
    overwrite the old batch=0 signatures — it raises before any work."""
    store, out = dirs
    for b in (0, 1):
        spark.range(1).write.parquet(f"{store}/batch={b}")
    with pytest.raises(ValueError, match="checkpoint lineage"):
        process_lsh_dedup_batch(_docs(spark, [(1, BASE)]), 0, "doc_id", "text", store, out)
    assert spark.read.parquet(f"{store}/batch=0").count() == 1  # untouched


def test_read_survivors_ignores_uncommitted_version(spark, dirs):
    """A survivors directory without its ``_SUCCESS`` (a write that died
    before the job commit) is invisible; committed ones keep their
    ``batch`` partition column."""
    import os

    _, out = dirs
    for b in (0, 1, 2):
        _docs(spark, [(b, "x")]).write.parquet(f"{out}/batch={b}")
    os.remove(f"{out}/batch=1/_SUCCESS")
    got = sorted((r.doc_id, r.batch) for r in read_survivors(spark, out).collect())
    assert got == [(0, 0), (2, 2)]
    os.remove(f"{out}/batch=0/_SUCCESS")
    os.remove(f"{out}/batch=2/_SUCCESS")
    assert read_survivors(spark, out) is None


@pytest.mark.slowsweep
def test_store_works_through_filesystem_uri(spark, tmp_path):
    """Store and survivor sink through ``file://`` URIs — the Hadoop-FS
    path an s3a/gs/hdfs store takes — with a redelivered batch."""
    store, out = f"file://{tmp_path}/store", f"file://{tmp_path}/out"
    b0 = _docs(spark, [(10, BASE), (11, BASE + " tail")])
    b1 = _docs(spark, [(5, BASE + " tail"), (200, "other corpus entirely " * 30)])
    process_lsh_dedup_batch(b0, 0, "doc_id", "text", store, out)
    process_lsh_dedup_batch(b1, 1, "doc_id", "text", store, out)
    process_lsh_dedup_batch(b1, 1, "doc_id", "text", store, out)
    got = sorted((r.doc_id, r.batch) for r in read_survivors(spark, out).collect())
    assert got == [(10, 0), (200, 1)]

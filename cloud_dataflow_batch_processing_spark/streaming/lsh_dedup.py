"""Streaming MinHash-LSH near-dup FILTER against a durable signature
store — the ingestion-edge twin of the batch incremental pipeline
(``extensions/dedup.py::incremental_near_dups``).

``streaming/neardup.py`` suppresses NEAR-EXACT duplicates (16-lane
signature equality) with in-query state; this operator applies the full
banded-LSH + Jaccard-threshold semantics (``jaccard >= threshold``,
the ``dedup_minhash_pairs`` contract) across micro-batches, which
cannot live in query state: the candidate check needs the shingle sets
of every previously seen document. The state is therefore the
SIGNATURE STORE — the same (__id, __sh, mh0..15) parquet frame the
batch incremental path persists — written once per micro-batch under
``store_dir/batch=N``.

Per micro-batch (``foreachBatch``):

1. signatures of the batch (one Arrow tokenize pass),
2. ``incremental_near_dups(store, batch)`` — probe side is ONLY the
   batch, the store contributes one scan; old x old pairs are never
   generated (the 100 TB property of the batch path, unchanged here),
3. drop verdict per pair: the batch-side document loses (a new copy of
   anything already SEEN — survivor or not — must not re-enter the
   corpus); within-batch pairs drop the greater id (the
   ``dedup_minhash_pairs`` survivor rule),
4. survivors append to ``out_dir/batch=N``; ALL batch signatures
   append to the store (store-all semantics, see 3).

Exactly-once across failures: the store and the survivor sink are
``streaming/batch_store.py`` stores, both written with
``mode=overwrite`` under ``batch=N`` and committed by Spark's
``_SUCCESS`` marker. The store read is every committed version below
``batch_id``, so a redelivered micro-batch recomputes against exactly
the pre-batch store and overwrites its own partial output (same
versioned-store discipline as ``streaming/triggers.py``'s pane
baseline); a ``batch_id`` below the latest committed store version (a
fresh checkpoint against an old store) raises. Every path resolves
through the Hadoop FileSystem Spark writes it with (file:, hdfs:,
s3a:, ...).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cloud_dataflow_batch_processing_spark.extensions.dedup import (
    incremental_near_dups,
    minhash_signatures,
)
from cloud_dataflow_batch_processing_spark.streaming import batch_store


def process_lsh_dedup_batch(
    bdf: DataFrame,
    batch_id: int,
    id_col: str,
    text_col: str,
    store_dir: str,
    out_dir: str,
    threshold: float = 0.8,
    max_bucket_size: int = 1000,
) -> None:
    """One micro-batch of the streaming LSH dedup (module-level so
    redelivery is directly testable). Idempotent per ``batch_id``."""
    spark = bdf.sparkSession
    prior = batch_store.begin(spark, store_dir, batch_id)
    sigs = minhash_signatures(bdf, id_col, text_col).localCheckpoint(eager=True)
    if prior:
        store = batch_store.read(spark, store_dir, prior)
    else:
        from cloud_dataflow_batch_processing_spark.sources.create import local_df

        store = local_df(spark, [], sigs.schema)  # empty JVM frame, no Python RDD
    pairs = incremental_near_dups(
        store, sigs, threshold=threshold, max_bucket_size=max_bucket_size
    )
    new_ids = sigs.select(F.col("__id").alias("doc_b"), F.lit(True).alias("__b_new"))
    drops = (
        pairs.join(F.broadcast(new_ids), "doc_b", "left")
        .select(
            F.when(F.col("__b_new").isNotNull(), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("__drop_id")
        )
        .distinct()
    )
    survivors = bdf.join(
        drops, bdf[id_col] == drops["__drop_id"], "left_anti"
    )
    batch_store.write(survivors, out_dir, batch_id)
    batch_store.write(sigs, store_dir, batch_id)


def run_streaming_lsh_dedup(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    max_bucket_size: int = 1000,
) -> None:
    """Drive ``stream_df`` (a streaming frame carrying ``id_col``/
    ``text_col``) through the LSH dedup filter to exhaustion
    (availableNow). Survivors land under ``out_dir/batch=N`` — read
    the whole sink with ``spark.read.parquet(out_dir)``."""

    def _process(bdf: DataFrame, batch_id: int) -> None:
        process_lsh_dedup_batch(
            bdf, batch_id, id_col, text_col, store_dir, out_dir,
            threshold=threshold, max_bucket_size=max_bucket_size,
        )

    q = (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_survivors(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The committed survivor versions (partition column ``batch``), or
    None when no batch has ever committed (an all-empty stream)."""
    done = batch_store.committed(spark, out_dir)
    if not done:
        return None
    return spark.read.option("basePath", out_dir).parquet(
        *(batch_store.version_path(out_dir, b) for b in done)
    )

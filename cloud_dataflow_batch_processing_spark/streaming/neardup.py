"""Streaming near-duplicate suppression at the ingestion edge.

The batch MinHash-LSH pipeline (``extensions/dedup.py``) is the
recall path: ANY colliding band makes a candidate pair, which an exact
Jaccard verify then scores. A stream cannot afford the verify join per
micro-batch, so the streaming policy inverts the trade: suppress a
document only when ALL bands collide with an earlier document inside
the watermark window. With the repo's 16-lane / 4-band construction,
all-bands collision is exactly equality of the full 16-lane signature
— each band hashes 4 lanes, so 4 colliding bands pin all 16 lanes —
i.e. an estimated Jaccard of 16/16. That makes the streaming operator
a single ``dropDuplicatesWithinWatermark`` on one computed signature
column: one stateful operator, state bounded by the watermark, no
joins, and a precision argument straight from the LSH AND-construction
(false suppression requires a 16-lane minhash collision).

Documents too short to shingle (< SHINGLE_K tokens) cannot be
fingerprinted — every lane would collapse to the sentinel and all
short docs would wrongly dedupe together. They fall back to EXACT
suppression: their dedup key is the rolling hash of the full text
(tagged into a disjoint key space), so identical short docs still
suppress and distinct ones always pass.

Lower-threshold near-dups (Jaccard 0.8–0.99) deliberately pass
through: they are the batch side's job — run the stream's output
through ``incremental_near_dups`` against the signature store on the
daily increment (queries_dedup.py::dedup_incremental_minhash), which
generates new-vs-old candidates only.

Reference surface: streaming RemoveDuplicates
(beam/transforms/util.py:189) composed with the repo's MinHash
signature family — Beam 2.5 has no streaming near-dup operator either;
this is the composition its users build by hand.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cloud_dataflow_batch_processing_spark.extensions.dedup import (
    minhash_from_shingles,
    shingles_from_token_hashes,
)
from cloud_dataflow_batch_processing_spark.functions.text import rolling_hash


def with_near_exact_key(df: DataFrame, text_col: str, key_col: str = "__sig") -> DataFrame:
    """Attach the near-exact dedup key: ``[0, lane0..lane15]`` for
    fingerprintable docs, ``[1, rolling_hash(text)]`` for docs too
    short to shingle (disjoint key spaces — lanes are nonnegative).
    Staged through materialized columns because Spark does not CSE the
    shingle subtree across the 16 lanes (NOTES.md invariant 6). Token
    hashes come from the Arrow-batched twin (functions/text_fast.py,
    value-identical to the HOF fold)."""
    from cloud_dataflow_batch_processing_spark.functions.text_fast import (
        token_hashes_fast,
    )

    staged = df.withColumn("__th", token_hashes_fast(F.col(text_col))).withColumn(
        "__sh", shingles_from_token_hashes(F.col("__th"))
    )
    lanes = F.array(*minhash_from_shingles(F.col("__sh")))
    sig = F.when(
        F.size("__sh") > 0, F.concat(F.array(F.lit(0).cast("long")), lanes)
    ).otherwise(F.array(F.lit(1).cast("long"), rolling_hash(F.col(text_col))))
    return staged.withColumn(key_col, sig).drop("__th", "__sh")


def near_exact_key_sql() -> str:
    """DuckDB twin of the key over CTE columns ``sh`` (shingle list)
    and ``text`` — kept adjacent to the Column builder so the two
    can't drift."""
    from cloud_dataflow_batch_processing_spark.extensions.dedup import (
        minhash_signature_sql,
    )
    from cloud_dataflow_batch_processing_spark.functions.text import rolling_hash_sql

    return (
        f"CASE WHEN len(sh) > 0 THEN list_prepend(CAST(0 AS BIGINT), {minhash_signature_sql()}) "
        f"ELSE [CAST(1 AS BIGINT), {rolling_hash_sql('text')}] END"
    )


def suppress_near_exact_stream(
    df: DataFrame,
    text_col: str,
    ts_col: str,
    delay: str = "10 minutes",
) -> DataFrame:
    """Emit only the FIRST document per 16-lane minhash signature seen
    within the watermark window; later docs whose full signature
    matches (near-exact duplicates: retemplated boilerplate, trivially
    re-whitespaced copies, exact re-sends) are suppressed. State is one
    row per distinct signature inside the window and expires with the
    watermark — bounded regardless of stream length (the same state
    discipline as ``remove_duplicates_stream``).

    The signature pipeline is STAGED through materialized columns
    (token hashes → shingles → lanes) because Spark does not CSE a
    repeated expression subtree across the 16 lanes (NOTES.md
    invariant 6); Arrow-batched token hashing — pandas UDFs
    run fine inside Structured Streaming micro-batches.

    Works identically on batch frames (plain dropDuplicates on the
    same key), which is how the unit tests cross-check streaming
    results against a batch model; the key semantics themselves are
    oracle-certified by the deterministic batch twin
    (queries_dedup.py::dedup_near_exact_keep)."""
    keyed = with_near_exact_key(df, text_col)
    if df.isStreaming:
        out = keyed.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(["__sig"])
    else:
        out = keyed.dropDuplicates(["__sig"])
    return out.drop("__sig")

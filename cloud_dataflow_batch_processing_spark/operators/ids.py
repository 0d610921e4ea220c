"""Scalable sequential ID assignment: contiguous 0..n-1 ids in a total
order WITHOUT a global sort bottleneck.

The naive formulation — ``row_number() OVER (ORDER BY ...)`` with no
partition — collapses the whole dataset into ONE reduce task (Spark
plans a single-partition Exchange for an unpartitioned window): the
classic 100 TB anti-pattern. The scalable shape is the two-pass
range-partition trick every distributed sort uses:

1. range-repartition by the order key (``repartitionByRange`` — sampled
   range boundaries, so partitions are both ordered AND balanced),
2. sort within partitions (map-side, no further shuffle),
3. count rows per partition (a tiny driver-side list, one value per
   partition — the only collect, bounded by partition count),
4. per-partition ids = exclusive-prefix-sum offset + local index.

Determinism: ids depend only on the total order, not the partitioning —
range boundaries move rows between partitions but never reorder them,
so the composed (offset + local index) is the global rank whatever the
sampler chose. Ties must be broken by the caller's order columns
(include a unique key last); with a total order the output is exactly
``row_number() OVER (ORDER BY ...) - 1``, which is what the DuckDB
oracle checks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def assign_sequential_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    id_col: str = "seq_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``id_col`` = dense 0-based global rank by ``order_cols``.

    ``order_cols`` must form a total order (append a unique tiebreak
    column if needed) — otherwise ids within a tie group depend on the
    physical row order. One range shuffle + one tiny count job; no
    single-task stage anywhere.
    """
    from cloud_dataflow_batch_processing_spark.caching import managed_cache

    cols = [F.col(c) for c in order_cols]
    parted = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    parted = managed_cache(parted.sortWithinPartitions(*cols))

    # Pass 1: per-partition row counts -> exclusive prefix offsets.
    # The cache pins ONE materialization of the range partitioning, so
    # the count job and the main job provably see identical partition
    # boundaries (range boundaries come from sampling; two independent
    # executions are not contractually identical). At 100 TB swap the
    # cache for a parquet write — the trade the dedup stores make
    # under a scratch_dir (caching.managed_store).
    sizes = (
        parted.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    by_pid = {r["pid"]: r["count"] for r in sizes}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]

    if not offsets:  # empty input: no rows to id
        return parted.withColumn(id_col, F.lit(None).cast("long"))

    # Pass 2: offset lookup (a tiny literal map; at thousands of
    # partitions broadcast-join a (pid, offset) frame instead) + local
    # index.
    # monotonically_increasing_id encodes (partition_id << 33 | local
    # index); the local index is recovered by masking — no Python, no
    # window, whole-stage codegen.
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    mid = F.monotonically_increasing_id()
    local_idx = mid % F.lit(1 << 33)
    return parted.withColumn(
        id_col,
        (off_map[F.spark_partition_id()] + local_idx).cast("long"),
    )

"""Temporal joins: as-of join and bucketed range join.

The reference has no temporal join at all — its only join primitive is
CoGroupByKey equi-join composition (beam/transforms/util.py:63-170) and
the docs list no theta/range/as-of joins (SURVEY.md §2 "Joins"). Both
operators here are beyond-reference extensions a training-data /
feature pipeline needs (point-in-time-correct feature lookup, event
windows), built the way they must be built at 100 TB:

- ``asof_join`` never materializes a join at all. The naive plan —
  inequality join then max-per-left-row — is a near-cartesian blowup
  per key. Instead both sides are union-tagged and sorted once per key
  (one exchange, one per-key sort) and the match is a running
  ``last(..., ignorenulls)`` window: O(n log n) per key, zero join
  nodes, and the single shuffle is the semantic minimum (co-locating
  each key's timeline). This is the standard columnar as-of strategy
  (cf. the union+forward-fill formulation in time-series stores).
- ``range_join`` turns interval containment into an *equi*-join on
  (key, time-bucket): intervals explode to the buckets they overlap,
  points keep their single bucket, so every (point, interval) match is
  produced exactly once — no dedup pass — and Catalyst plans a plain
  hash/sort-merge join with the range residual as a post-filter, never
  a BroadcastNestedLoopJoin. Bucket width should be on the order of
  the interval length: each interval then lands in ≤ ceil(len/width)+1
  buckets and the fan-out stays constant.

Both operate on integer epoch columns (e.g. ``F.unix_micros``) so the
comparisons are exact and engine-neutral.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    *,
    inclusive: bool = True,
) -> DataFrame:
    """Backward as-of join: for each left row, attach ``right_cols``
    from the latest right row with ``right_ts <= left_ts`` (or ``<``
    when ``inclusive=False``) and equal ``on`` keys. Left rows with no
    earlier right row keep NULLs (left-outer semantics).

    ``right`` must be unique per (*on, right_ts*) — pre-aggregate ties
    deterministically (e.g. ``max_by``) so "the" latest row is well
    defined; this mirrors what DuckDB's ASOF JOIN requires for
    determinism.

    Also emits ``__asof_ts`` = the matched right row's timestamp.
    Timestamp columns must be integer epochs for exact comparison.
    """
    on = list(on)
    # JOIN semantics: a NULL key never matches anything — but a window
    # partitionBy groups NULLs together, which would forward-fill
    # NULL-key left rows from NULL-key right rows. Dropping NULL-key
    # right rows restores SQL semantics (NULL-key left rows then sit in
    # a partition with no right rows and keep NULL payloads).
    for k in on:
        right = right.filter(F.col(k).isNotNull())
    # Tag order decides tie semantics: right rows sort before left rows
    # at equal timestamps when inclusive (so the window's running last
    # sees them), after when exclusive.
    right_tag, left_tag = (0, 1) if inclusive else (1, 0)

    left_only = [c for c in left.columns if c not in on and c != left_ts]
    right_payload = list(right_cols)

    r = right.select(
        *on,
        F.col(right_ts).alias("__t"),
        F.lit(right_tag).alias("__side"),
        F.col(right_ts).alias("__r_ts"),
        *[F.col(c) for c in right_payload],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_only],
    )
    l = left.select(
        *on,
        F.col(left_ts).alias("__t"),
        F.lit(left_tag).alias("__side"),
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__r_ts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in right_payload],
        *[F.col(c) for c in left_only],
    )
    u = r.unionByName(l)

    w = (
        Window.partitionBy(*on)
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Right-row payloads are NULL on left rows, so ignorenulls last()
    # forward-fills the most recent right row; tied left rows all see
    # the same fill regardless of their relative order within the
    # frame, so the ROWS frame is deterministic despite ties.
    filled = u.select(
        "*",
        *[F.last(c, ignorenulls=True).over(w).alias(f"__m_{c}") for c in right_payload],
        F.last("__r_ts", ignorenulls=True).over(w).alias("__m_ts"),
    )
    matched = filled.filter(F.col("__side") == left_tag)
    return matched.select(
        *on,
        F.col("__t").alias(left_ts),
        *[F.col(c) for c in left_only],
        *[F.col(f"__m_{c}").alias(c) for c in right_payload],
        F.col("__m_ts").alias("__asof_ts"),
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: Sequence[str],
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bucket_width: int,
    *,
    how: str = "left",
) -> DataFrame:
    """Join each point row to every interval row with equal ``on`` keys
    and ``start_ts <= point_ts <= end_ts`` (inclusive containment),
    via an equi-join on (keys..., bucket).

    Every matched (point, interval) pair appears exactly once: a point
    belongs to exactly one bucket and the interval is exploded to all
    buckets it overlaps, so no post-join dedup is needed. ``how="left"``
    keeps unmatched points with NULL interval columns (count with
    ``F.count(interval_col)`` after a groupBy).

    Timestamps must be non-negative integer epochs; ``bucket_width`` in
    the same unit.
    """
    on = list(on)
    w = int(bucket_width)
    p = points.withColumn("__bucket", F.expr(f"{point_ts} DIV {w}"))
    # Rename the interval side's key columns up front: both sides often
    # derive from the same parent frame, and relying on Spark's
    # self-join lineage disambiguation for `p[c] == iv[c]` risks a
    # trivially-true predicate. Renamed columns are unambiguous.
    iv_cols = [c for c in intervals.columns if c not in on]
    iv = intervals.select(
        *[F.col(c).alias(f"__iv_{c}") for c in on],
        *iv_cols,
    ).withColumn(
        "__bucket",
        F.explode(F.sequence(F.expr(f"{start_ts} DIV {w}"), F.expr(f"{end_ts} DIV {w}"))),
    )
    cond = [p[c] == iv[f"__iv_{c}"] for c in on]
    cond.append(p["__bucket"] == iv["__bucket"])
    cond.append(iv[start_ts] <= p[point_ts])
    cond.append(p[point_ts] <= iv[end_ts])
    joined = p.join(iv, cond, how)
    keep_p = [p[c] for c in points.columns]
    keep_iv = [iv[c] for c in iv_cols]
    return joined.select(*keep_p, *keep_iv)


def resample_ffill(
    observations: DataFrame,
    on: Sequence[str],
    ts: str,
    value_cols: Sequence[str],
    start: int,
    end: int,
    step: int,
) -> DataFrame:
    """Per-key resampling to a fixed time grid with forward fill — the
    classic time-series regularization (sensor downsampling, feature
    snapshots at training-example timestamps). The grid is generated
    per key (sequence+explode: no driver loop, no join against a
    materialized calendar) and each grid point takes the latest
    observation at-or-before it — i.e. exactly a backward as-of join,
    so this composes :func:`asof_join` rather than re-deriving the
    machinery. Grid points before a key's first observation keep NULLs.

    ``start``/``end``/``step`` are integer epochs (end exclusive).
    An empty window (``end <= start``) or non-positive ``step`` raises
    ``ValueError`` up front instead of surfacing as an opaque
    illegal-sequence-boundaries executor error (ADVICE r3).
    """
    if step <= 0:
        raise ValueError(f"resample_ffill: step must be positive, got {step}")
    if end <= start:
        raise ValueError(
            f"resample_ffill: empty grid — end ({end}) must be > start ({start})"
        )
    on = list(on)
    keys = observations.select(*on).distinct()
    grid = keys.select(
        *on,
        F.explode(
            F.sequence(F.lit(start), F.lit(end - 1), F.lit(step))
        ).alias("__grid_ts"),
    )
    return asof_join(
        grid,
        observations,
        on=on,
        left_ts="__grid_ts",
        right_ts=ts,
        right_cols=list(value_cols),
    ).withColumnRenamed("__grid_ts", "grid_ts")

"""Trigger emulation — the scoped answer to Beam's trigger zoo.

Reference surface (beam/transforms/trigger.py): DefaultTrigger :233,
AfterProcessingTime :272, AfterWatermark(early, late) :320, AfterCount
:430, Repeatedly :475, AfterAny/All/Each :592-608, OrFinally :676, with
ACCUMULATING/DISCARDING modes :62.

Structured Streaming has output modes, not per-window trigger programs
(SURVEY.md §7 hard-part 1 — full parity is a non-goal). What this
module provides is the *useful subset*, built from Spark primitives:

- ``AfterWatermark`` (default trigger, DISCARDING-final) ≡ append-mode
  windowed agg — no emulation needed (streaming/windows.py).
- ``AfterWatermark(early=AfterProcessingTime(...))`` in ACCUMULATING
  mode ≡ ``early_and_final``: the same aggregation run as two queries
  over the same replayable source — update mode fires an accumulated
  pane every micro-batch (the early firings; micro-batch cadence = the
  processing-time trigger), append mode fires the on-time final pane
  when the watermark passes. Rows are tagged ``firing='early'|'final'``.
- ``AfterCount(n)`` per key ≡ ``fire_after_count``: keyed state
  buffers n elements, emits one accumulated pane per n (Repeatedly-
  wrapped count trigger, ACCUMULATING).
- ``AfterAny(AfterCount(n), AfterProcessingTime(d))`` ≡
  ``fire_after_any``: keyed state + a processing-time timeout — the
  count leg fires inline as elements arrive; the time leg fires via
  ``GroupStateTimeout.ProcessingTimeTimeout`` when a partial pane has
  been pending for ``d`` (the most common remaining Beam combinator,
  trigger.py:592 — "emit every n records or every d seconds,
  whichever comes first").
- ``AfterAll(AfterCount(n), AfterProcessingTime(d))`` ≡
  ``fire_after_all`` (trigger.py:608): a pane fires only once BOTH
  legs are satisfied — n elements buffered AND d elapsed since the
  pane opened.
- ``Repeatedly(AfterEach(AfterCount(n1), AfterCount(n2), ...))`` ≡
  ``fire_after_each_counts`` (trigger.py:571): sub-triggers govern
  panes in sequence, cycling.
- ``AfterCount(n).or_finally(AfterCount(m))`` ≡ ``fire_or_finally``
  (trigger.py:676): repeated n-panes until the finally leg (lifetime
  count m) fires one closing pane, after which the trigger is
  finished and later elements never fire again.

The five count/time triggers share one per-key pane fold,
:func:`fold_panes` over :class:`PaneState` (Beam runs every trigger
through one driver over per-key state and timers, trigger.py:1146
``GeneralTriggerDriver``): each public function passes only its firing
rule and its output columns.

Late firings (``late=``) are unreachable with allowed_lateness
hardcoded to 0 in the reference (beam/transforms/core.py:1571), so
they are deliberately out of scope.

Non-finite values (pinned — tests/test_streaming_adversarial.py): the
``applyInPandasWithState`` channel is pandas-backed, and pandas uses
NaN as its NA sentinel, so a NaN accumulated inside a pane emits as
NULL (measured: even a nullable Float64 output column folds NaN→NULL
in the serializer; there is no Arrow-native stateful API to carry the
validity mask the way operators/combiners.py does for UDAFs). Panes
still FIRE on their count/time conditions — triggers are count/time-
driven, not value-driven — and a NULL total is the quarantine signal
for a poisoned pane, never a plausible wrong number. Inf survives
(only NaN is pandas' sentinel).
"""

from __future__ import annotations

import tempfile
import time
from collections.abc import Callable, Iterable
from dataclasses import astuple, dataclass
from functools import partial

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cloud_dataflow_batch_processing_spark.streaming import batch_store
from cloud_dataflow_batch_processing_spark.streaming.state import stateful_transform


def early_and_final(
    build_agg: Callable[[], DataFrame],
    sink_early,
    sink_final,
    checkpoint_early: str,
    checkpoint_final: str,
    available_now: bool = True,
):
    """Run the same windowed aggregation as an early-firing (update
    mode, accumulating panes) and a final-firing (append mode, on-time
    pane) query pair. ``build_agg`` must construct a fresh watermarked
    aggregate per call (streaming DataFrames are single-use plans).

    ``sink_early``/``sink_final`` are foreachBatch callables
    ``(DataFrame, batch_id) -> None`` receiving rows tagged with a
    ``firing`` column. Returns both started queries (caller awaits).
    """

    def tagged(df: DataFrame, tag: str) -> DataFrame:
        return df.withColumn("firing", F.lit(tag))

    def make(writer_df, mode, ckpt, sink):
        w = (
            writer_df.writeStream.foreachBatch(sink)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    q_early = make(
        tagged(build_agg(), "early"),
        "update",
        checkpoint_early,
        sink_early,
    )
    q_final = make(
        tagged(build_agg(), "final"),
        "append",
        checkpoint_final,
        sink_final,
    )
    return q_early, q_final


def discarding_early_sink(
    sink,
    key_cols: list[str],
    value_cols: list[str],
    evict_col: str | None = None,
    evict_lateness=None,
    state_dir: str | None = None,
):
    """Adapter turning an ACCUMULATING early-pane sink into a
    DISCARDING one (beam/transforms/trigger.py:62 AccumulationMode.
    DISCARDING): each delivered pane carries only the DELTA since the
    key's previous pane — valid for additive aggregates (count/sum;
    not min/max/mean), which is exactly the class Beam's discarding
    mode recombines safely downstream.

    Wrap the ``sink_early`` passed to :func:`early_and_final`::

        early_and_final(build,
                        discarding_early_sink(my_sink, ["w_start"], ["n"]),
                        my_final_sink, ...)

    EXECUTOR-SIDE STATE (VERDICT r9 #4 — the engine's last hot-path
    collect is gone): the per-key baseline (key_cols + value_cols) lives
    in a ``streaming/batch_store.py`` snapshot store under ``state_dir``
    (a fresh local temp dir by default — per query run, matching a
    trigger's pane lineage, which is per-run state in Beam's driver too;
    pass a shared file:/s3a:/hdfs: URI on a real cluster), one
    ``batch=<batch_id>/`` version per non-empty batch.

    Per batch the deltas are a null-safe LEFT JOIN of the batch against
    the baseline (``cur - coalesce(prev, 0)``) and the post-batch state
    is ``batch ∪ (baseline ANTI JOIN batch)`` — all distributed.
    Nothing key-cardinality-sized ever reaches the driver; the only
    remaining driver materialization is the 1-row watermark max.

    At-least-once discipline (ADVICE r2 #3): the VERSION HISTORY is the
    undo log. The baseline for batch ``b`` is the latest committed
    version below b, so a redelivered batch_id (task retry, restart from
    checkpoint) reads the same pre-batch baseline and emits identical
    deltas — including entries the first delivery evicted, since
    eviction only shapes the post-state it overwrites. The store keeps
    (baseline, b) and raises on a batch_id below its latest version (a
    fresh checkpoint against an old store). Unlike the r4-r9
    driver-dict design, the baseline also survives a full process
    restart when ``state_dir`` is durable.

    Bounded state (VERDICT r4 #7): optional watermark eviction — pass
    ``evict_col`` (a key column that is the window END — epoch number
    or timestamp) and ``evict_lateness`` (same units / a timedelta,
    non-negative). The post-batch state drops keys whose ``evict_col``
    is STRICTLY older than max_seen - lateness (at lateness=0 the newest window
    itself stays resident — it can still receive panes; windows that
    ended before it close), so state is bounded by (active windows ×
    keys per window). A key that reappears AFTER eviction baselines at
    0 and re-emits its full value — consistent with Beam's
    at-least-once pane delivery, and the final (append-mode) pane stays
    authoritative. Keys whose ``evict_col`` is NULL cannot participate
    in watermark ordering and are never stored (resident within the
    batch that delivered them, full-value re-emit if they ever
    reappear) — otherwise NULL-windowed keys would accumulate forever,
    re-opening the leak this knob exists to close. max_seen needs no
    store of its own: the key holding it is never evicted (its
    ``evict_col`` is >= max_seen - lateness), so it is the max
    ``evict_col`` of the baseline and the batch.
    """
    if (evict_col is None) != (evict_lateness is None):
        raise ValueError("evict_col and evict_lateness must be passed together")
    if evict_lateness is not None and evict_lateness < type(evict_lateness)():
        raise ValueError(f"evict_lateness must be >= 0, got {evict_lateness!r}")
    if state_dir is None:
        state_dir = tempfile.mkdtemp(prefix="discarding_sink_state_")
    state_dir = state_dir.rstrip("/")
    held: dict = {"spark": None}  # session for the state_size hook

    def wrapped(df, batch_id):
        spark = df.sparkSession
        held["spark"] = spark
        bid = int(batch_id)
        # Baseline = the latest committed version STRICTLY below this
        # batch_id: a REDELIVERY of b skips the v(b) the first delivery
        # wrote — the version history is the undo log.
        base_id = batch_store.begin(spark, state_dir, bid)[-1:]
        if df.isEmpty():
            return sink(df, batch_id)
        base = batch_store.read(spark, state_dir, base_id) if base_id else None
        batch = df.persist()
        try:
            # ---- deltas: null-safe LEFT JOIN against the baseline,
            # cur - coalesce(prev, 0) — executor-side, no collect
            if base is not None:
                prev = base.select(
                    *[F.col(c).alias(f"__prevk_{c}") for c in key_cols],
                    *[F.col(c).alias(f"__prev_{c}") for c in value_cols],
                )
                cond = None
                for c in key_cols:
                    e = batch[c].eqNullSafe(prev[f"__prevk_{c}"])
                    cond = e if cond is None else cond & e
                joined = batch.join(prev, cond, "left")
            else:
                joined = batch
                for c in value_cols:
                    joined = joined.withColumn(f"__prev_{c}", F.lit(None))
            out = joined.select(
                *[
                    (
                        (F.col(c) - F.coalesce(F.col(f"__prev_{c}"), F.lit(0)))
                        .cast(df.schema[c].dataType)
                        .alias(c)
                        if c in value_cols
                        else F.col(c)
                    )
                    for c in df.columns
                ]
            )
            # ---- post-batch state: batch values win, untouched
            # baseline keys carry over (null-safe anti join)
            newstate = batch.select(*key_cols, *value_cols)
            if base is not None:
                bkeys = batch.select(
                    *[F.col(c).alias(f"__bk_{c}") for c in key_cols]
                )
                cond2 = None
                for c in key_cols:
                    e = base[c].eqNullSafe(bkeys[f"__bk_{c}"])
                    cond2 = e if cond2 is None else cond2 & e
                newstate = newstate.unionByName(
                    base.join(bkeys, cond2, "left_anti").select(*key_cols, *value_cols)
                )
            if evict_col is not None:
                # the ONLY driver-side materialization left: a 1-row max
                # over the baseline and the batch (= the running max)
                seen = batch.select(evict_col)
                if base is not None:
                    seen = seen.unionByName(base.select(evict_col))
                max_wm = seen.agg(F.max(evict_col)).collect()[0][0]
                # NULL window-ends are outside watermark ordering —
                # never stored (resident within their batch only)
                newstate = newstate.filter(F.col(evict_col).isNotNull())
                if max_wm is not None:
                    # Strictly older than the horizon closes: at
                    # lateness=0 the newest window itself stays
                    # resident (it can still receive panes)
                    horizon = max_wm - evict_lateness
                    newstate = newstate.filter(F.col(evict_col) >= F.lit(horizon))
            batch_store.write(newstate, state_dir, bid)
            result = sink(out, batch_id)
        finally:
            batch.unpersist()
        batch_store.prune(spark, state_dir, base_id + [bid])
        return result

    def state_size() -> int:
        spark = held["spark"]
        latest = batch_store.committed(spark, state_dir)[-1:] if spark else []
        return batch_store.read(spark, state_dir, latest).count() if latest else 0

    wrapped.state_size = state_size  # test/observability hook
    wrapped.state_dir = state_dir
    return wrapped


@dataclass
class PaneState:
    """One key's trigger state, in state-schema order: the open pane's
    count and sum, the key's lifetime count and sum, panes fired, the
    executor clock (ms) at the open pane's first element (0: no open
    pane; -1: a timeout satisfied its time leg) and whether a "finally"
    pane closed the key."""

    pending: int = 0
    pane_total: float = 0.0
    count_all: int = 0
    total: float = 0.0
    panes: int = 0
    pane_start: int = 0
    finished: bool = False


def fold_panes(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    value_col: str,
    rule: Callable[[PaneState, int], str | None],
    processing_time_ms: int | None = None,
    accumulating: bool = True,
    cycle: int = 1,
    clock: Callable[[], float] = time.time,
):
    """The per-key update of every count/time trigger: fold the key's
    elements into its pane and, after each one, fire a pane when
    ``rule(state, now_ms)`` names a cause. A fired pane is the row
    (key, pane, cause, sub_trigger, n_elements, total): ``sub_trigger``
    is the pane's place in a ``cycle`` of sub-triggers, and the pane
    carries the lifetime (count, sum) when ``accumulating``, else its
    own. Cause "finally" closes the key for good.

    A timeout means the time leg is satisfied, whatever the executor
    clock reads (Spark's timeout clock runs ahead of it): it sets
    ``pane_start`` to -1 and asks ``rule`` once. The timeout is armed
    from the open pane's FIRST element (AfterProcessingTime semantics),
    so a trickle of later elements does not push the deadline back."""
    s = PaneState(*state.get) if state.exists else PaneState()
    now = int(clock() * 1000)
    rows = []

    def fire(cause: str) -> None:
        n_el, tot = (s.count_all, s.total) if accumulating else (s.pending, s.pane_total)
        rows.append((key[0], s.panes + 1, cause, s.panes % cycle, n_el, tot))
        s.panes += 1
        s.pending, s.pane_total, s.pane_start = 0, 0.0, 0
        s.finished = cause == "finally"

    if state.hasTimedOut and s.pending:
        s.pane_start = -1
        if cause := rule(s, now):
            fire(cause)
    for pdf in pdfs:
        for v in pdf[value_col]:
            if s.finished:
                break
            if s.pending == 0:
                s.pane_start = now
            s.pending += 1
            s.count_all += 1
            s.pane_total += float(v)
            s.total += float(v)
            if cause := rule(s, now):
                fire(cause)
    state.update(astuple(s))
    if processing_time_ms is not None and s.pending and s.pane_start > 0:
        state.setTimeoutDuration(max(1, s.pane_start + processing_time_ms - now))
    if rows:
        yield pd.DataFrame(rows, columns=["key", "pane", "cause", "sub_trigger", "n_elements", "total"])


def _panes(df, key_col, value_col, cols, rule, processing_time_ms=None, **fold_args):
    """The fired panes of ``df`` under ``rule``, one row each, as ``cols``."""
    fold = partial(
        fold_panes, value_col=value_col, rule=rule, processing_time_ms=processing_time_ms,
        **fold_args,
    )
    return stateful_transform(
        df,
        [key_col],
        fold,
        state_schema="pending long, pane_total double, count_all long, total double, "
        "panes long, pane_start long, finished boolean",
        output_schema="key long, pane long, cause string, sub_trigger int, "
        "n_elements long, total double",
        output_mode="append",
        timeout=GroupStateTimeout.NoTimeout
        if processing_time_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout,
    ).select(*cols)


def fire_after_count(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n: int,
    accumulation_mode: str = "accumulating",
) -> DataFrame:
    """AfterCount(n), Repeatedly (beam/transforms/trigger.py:430,475)
    with both accumulation modes (trigger.py:62 AccumulationMode):

    - ``accumulating``: each pane carries the key's lifetime
      (count, sum) — Beam's ACCUMULATING panes;
    - ``discarding``: each pane carries only the n elements since the
      previous firing — pane state resets after every fire.

    Output: (key, pane, n_elements, total) — one row per fired pane.
    """
    if accumulation_mode not in ("accumulating", "discarding"):
        raise ValueError(f"unknown accumulation_mode {accumulation_mode!r}")
    return _panes(
        df, key_col, value_col, ["key", "pane", "n_elements", "total"],
        lambda s, now: "count" if s.pending >= n else None,
        accumulating=accumulation_mode == "accumulating",
    )


def fire_after_any(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n: int,
    processing_time_ms: int,
) -> DataFrame:
    """AfterAny(AfterCount(n), AfterProcessingTime(d)), Repeatedly,
    ACCUMULATING (beam/transforms/trigger.py:592 AfterAny, :272
    AfterProcessingTime, :430 AfterCount).

    Per key, a pane fires when EITHER n new elements have arrived since
    the last firing (cause='count', emitted inline) OR a partial pane
    has been pending for ``processing_time_ms`` (cause='time', emitted
    through the state timeout — Beam's processing-time timer). Panes
    are accumulating: each carries the lifetime element count and sum.
    Output: (key, pane, cause, n_elements, total).

    Clock approximation (ADVICE r2 #4, accepted): ``pane_start`` is
    executor wall-clock at the pane's first element, while the timeout
    itself fires on Spark's batch processing-time clock — and after a
    state rebalance the ``remaining`` computation may run on a
    different executor than the one that stamped ``pane_start``. Under
    clock skew the time pane can fire early or late by that skew. This
    matches Beam's own AfterProcessingTime contract ("fire after at
    least d" — trigger.py:272, a lower bound not a deadline); PySpark's
    GroupState exposes no batch-stable clock to do better
    (getCurrentProcessingTimeMs is JVM-only).
    """
    return _panes(
        df, key_col, value_col, ["key", "pane", "cause", "n_elements", "total"],
        lambda s, now: "count" if s.pending >= n else "time" if s.pane_start == -1 else None,
        processing_time_ms,
    )


def fire_after_all(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n: int,
    processing_time_ms: int,
) -> DataFrame:
    """AfterAll(AfterCount(n), AfterProcessingTime(d)), Repeatedly,
    ACCUMULATING (beam/transforms/trigger.py:608): a pane fires only
    when BOTH legs are satisfied — at least n elements buffered AND d
    elapsed since the pane's first element. Whichever leg completes
    last delivers the firing: the count leg fires inline if the clock
    already expired; otherwise the armed timeout fires once the count
    is already there. Output: (key, pane, n_elements, total).

    Same executor-wall-clock approximation as :func:`fire_after_any`
    (see its docstring) — "at least d elapsed" is a lower bound, not a
    deadline, matching Beam's AfterProcessingTime contract.
    """

    def rule(s: PaneState, now: int) -> str | None:
        time_ok = s.pane_start == -1 or now >= s.pane_start + processing_time_ms
        return "all" if s.pending >= n and time_ok else None

    return _panes(
        df, key_col, value_col, ["key", "pane", "n_elements", "total"], rule, processing_time_ms
    )


def fire_after_each_counts(
    df: DataFrame,
    key_col: str,
    value_col: str,
    counts: list[int],
) -> DataFrame:
    """Repeatedly(AfterEach(AfterCount(n1), AfterCount(n2), ...)),
    ACCUMULATING (beam/transforms/trigger.py:571): the sub-triggers
    govern successive panes in order, cycling — pane 1 after n1
    elements, pane 2 after n2 more, ... Output:
    (key, pane, sub_trigger, n_elements, total).
    """
    return _panes(
        df, key_col, value_col, ["key", "pane", "sub_trigger", "n_elements", "total"],
        lambda s, now: "count" if s.pending >= counts[s.panes % len(counts)] else None,
        cycle=len(counts),
    )


def fire_or_finally(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n: int,
    final_count: int,
) -> DataFrame:
    """AfterCount(n).or_finally(AfterCount(final_count)), ACCUMULATING
    (beam/transforms/trigger.py:676 OrFinally): the repeated trigger
    fires an accumulated pane every n elements until the finally leg's
    lifetime count is reached — that firing (cause='finally') closes
    the trigger; later elements update nothing and never fire.
    Output: (key, pane, cause, n_elements, total).
    """

    def rule(s: PaneState, now: int) -> str | None:
        if s.count_all >= final_count:
            return "finally"
        return "count" if s.pending >= n else None

    return _panes(df, key_col, value_col, ["key", "pane", "cause", "n_elements", "total"], rule)

"""Plan inspection and scale-posture assertions.

The reference's optimizer work (combiner lifting, fusion, GBK
expansion — SURVEY.md §4) is all Catalyst-built-in; what's left for us
is *verifying* the plans are the ones we want at 100 TB:

- filters pushed to the parquet scan (``PushedFilters``)
- column pruning reaching the scan (``ReadSchema``)
- small dims broadcast, no accidental cartesian products
- shuffle count = what the query semantically needs

These run in tests (tests/test_plans.py) so a regression in plan shape
fails CI, not the cluster bill.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def _simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().simpleString()


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Every fragment must appear inside a PushedFilters[...] clause of
    the physical scan (predicate pushdown reached parquet)."""
    plan = executed_plan(df)
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    missing = [f for f in fragments if f not in pushed]
    assert not missing, f"filters not pushed: {missing}\nPushedFilters found: {pushed}"


def assert_read_schema_pruned(df: DataFrame, table_hint: str, max_cols: int) -> None:
    """The scan's ReadSchema must carry at most max_cols columns —
    column pruning reached the file source."""
    plan = executed_plan(df)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, f"no ReadSchema found in plan:\n{plan}"
    for s in schemas:
        ncols = len([c for c in s.split(",") if ":" in c])
        assert ncols <= max_cols, (
            f"scan reads {ncols} cols (> {max_cols}) for {table_hint}: struct<{s}>"
        )


def assert_broadcast_join(df: DataFrame, expect: int = 1) -> None:
    plan = executed_plan(df)
    n = plan.count("BroadcastHashJoin")
    assert n >= expect, f"expected ≥{expect} BroadcastHashJoin, found {n}:\n{plan[:2000]}"


def assert_no_cartesian(df: DataFrame) -> None:
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        f"cartesian/nested-loop join in plan:\n{plan[:2000]}"
    )


def count_shuffles(df: DataFrame) -> int:
    """Number of DISTINCT shuffle-exchange operators in the executed
    plan (AQE may later coalesce them, but each is a full shuffle
    write). BroadcastExchange deliberately excluded — broadcasting a
    dim is the cheap alternative to a shuffle, not a shuffle.

    Counted by walking the plan tree and deduplicating on
    ``SparkPlan.id`` — NOT by regexing the dump (VERDICT r10 #3): the
    textual explain re-prints every InMemoryRelation's full build
    lineage at each cache reference, so a composed cached pipeline
    reported thousands of phantom exchanges (corpus_build_full:
    "2027"). Each distinct cache's build shuffles count ONCE (the build
    runs once, at materialization); ``ReusedExchange`` wrappers resolve
    to an already-counted node id, so exchange reuse never
    double-counts."""
    seen: set[int] = set()
    for node in iter_plan_nodes(df._jdf.queryExecution().executedPlan()):
        name = node.nodeName()
        if name.startswith("Exchange") and not name.startswith("Broadcast"):
            seen.add(node.id())
    return len(seen)


# Logical operators that imply the frame is already shuffle-spread
# (so a pre-UDF fan-out repartition would be a pure pessimization, and
# probing .rdd partition counts would force AQE to execute the
# upstream stages just for metadata). Canonical home of the helper
# formerly in extensions/substring.py (r11: the fan-out pattern now
# serves several Arrow-pass operators and dedup.py cannot import from
# substring.py without a cycle).
_WIDE_NODE_PREFIXES = (
    "Join",
    "Aggregate",
    "Repartition",
    "Window",
    "Rebalance",
    "Sort",         # global sort = range exchange
    "Deduplicate",  # distinct() before optimization rewrites it
)


def plan_has_wide_node(df: DataFrame) -> bool:
    """True if the analyzed logical plan contains a shuffle-introducing
    node. Walks node CLASS names via py4j (Join, Aggregate,
    RepartitionByExpression, Window, ...) — never the rendered plan
    string, which false-positives on column/relation names that happen
    to contain 'Join'/'Window' (ADVICE r4). Subquery expressions carry
    their own plans OUTSIDE children(), so each node's subqueries()
    are walked too — a frame filtered on a scalar subquery whose only
    Aggregate lives in the subquery is still shuffle-spread."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name.startswith(_WIDE_NODE_PREFIXES):
            # The Sort logical class covers BOTH orderBy (global=true,
            # range exchange) and sortWithinPartitions (global=false,
            # narrow) — only the global one makes the frame wide.
            # ('global' is a Python keyword, hence getattr.)
            if name.startswith("Sort") and not getattr(node, "global")():
                pass
            else:
                return True
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        subqueries = node.subqueries()
        for i in range(subqueries.size()):
            stack.append(subqueries.apply(i))
    return False


def fan_out_scan(df: DataFrame, key_col: str, min_bytes: int | None = None) -> DataFrame:
    """Hash-repartition a SCAN-SHAPED frame to the core count when the
    scan yields fewer splits than cores — so a following Arrow/UDF
    pass parallelizes instead of running every row on one task (a
    single-row-group bench file is unsplittable). A no-op at real
    scale (splits >= cores) and for frames already downstream of a
    wide node. Hash on ``key_col``, NOT round-robin: round-robin
    injects a sort-before-repartition for retry determinism, which
    re-derives the projection and duplicates the UDF node below the
    exchange (the substring span-stage findings, r11-shared).

    ``min_bytes`` (r12) additionally gates on the optimizer's size
    estimate (metadata only — nothing executes): below it, the fan-out
    exchange + 32-way task scheduling costs MORE than the serial pass
    saves (measured: the kmeans/semantic argmin family regressed 2-3×
    at sf0.1 under an ungated fan-out while the 10×-bigger heavy
    corpus was core-count-bound without one — this gate keeps both
    regimes on their fast path, scale-adaptively). When the gate is
    active the target partition count is DATA-PROPORTIONAL
    (est / min_bytes×, bounded by the core count) rather than the raw
    core count: a compute-heavy UDF stage wants a few MB per task —
    fanning 20k rows to 32 tasks made each task overhead-dominated
    (8-core beat 32-core in the scaling run); at real scale
    est/bytes_per_partition exceeds the core count and the cap makes
    this identical to the plain core-count fan-out."""
    from pyspark.sql import functions as F

    sc = df.sparkSession.sparkContext
    if plan_has_wide_node(df):
        return df
    n_target = sc.defaultParallelism
    if min_bytes is not None:
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        if est < min_bytes:
            return df
        # ~min_bytes/4 per task: the gate threshold is "worth fanning
        # at all"; a quarter of it per task keeps each task's batch
        # large enough for the vectorized kernel to amortize worker
        # overhead. Bounded by the core count.
        n_target = min(n_target, max(2, est // max(min_bytes // 4, 1)))
    # JVM-side count: df.rdd would build a Python-RDD plan per call.
    if df._jdf.rdd().getNumPartitions() < n_target:
        return df.repartition(n_target, F.col(key_col))
    return df


def count_plan_nodes(df: DataFrame, *name_prefixes: str) -> int:
    """Distinct executed-plan nodes whose nodeName starts with any of
    ``name_prefixes`` — same dedup discipline as :func:`count_shuffles`
    (node ids, caches walked once), so e.g. the number of
    ArrowEvalPython passes in a composed cached pipeline is truthful
    where the textual count multiplies per cache reference."""
    seen: set[int] = set()
    for node in iter_plan_nodes(df._jdf.queryExecution().executedPlan()):
        name = node.nodeName()
        if any(name.startswith(p) for p in name_prefixes):
            seen.add(node.id())
    return len(seen)


def iter_plan_nodes(plan, _seen_caches: set[int] | None = None):
    """``_jwalk`` extended through cache boundaries: recurses into each
    DISTINCT InMemoryRelation's build plan exactly once (an
    InMemoryTableScan node has no plan children — its build lineage
    lives behind ``relation().cachedPlan()``), so composed cached
    pipelines expose their one-time build work without per-reference
    multiplication."""
    if _seen_caches is None:
        _seen_caches = set()
    for n in _jwalk(plan):
        yield n
        if n.nodeName().startswith("InMemoryTableScan"):
            try:
                cp = n.relation().cachedPlan()
            except Exception:
                continue
            if cp.id() not in _seen_caches:
                _seen_caches.add(cp.id())
                yield from iter_plan_nodes(cp, _seen_caches)


def _jwalk(node):
    """Depth-first walk of an executed SparkPlan via py4j, digging
    through AQE wrapper nodes (AdaptiveSparkPlanExec → its final plan,
    QueryStageExec → its materialized subplan)."""
    yield node
    name = node.nodeName()
    if "AdaptiveSparkPlan" in name:
        yield from _jwalk(node.executedPlan())
        return
    if "QueryStage" in name:
        yield from _jwalk(node.plan())
        return
    it = node.children().iterator()
    while it.hasNext():
        yield from _jwalk(it.next())


def _metric(node, key: str):
    mets = node.metrics()
    opt = mets.get(key)
    return opt.get().value() if not opt.isEmpty() else None


def stage_profile(df: DataFrame, execute: bool = True) -> dict:
    """Deterministic WORK profile of a query: rows written into every
    shuffle exchange (plan order), rows out of every broadcast
    exchange, and final result rows.

    These counts depend only on the input data and the plan — never on
    wall-clock, GC pauses, or session load — so a pinned baseline
    catches *real* regressions (a lost broadcast, an extra shuffle, a
    filter that stopped pushing down, a partial aggregate that stopped
    combining) that the measured ±15% same-code timing noise
    (VERDICT r6) would otherwise mask. The wall-clock bench (bench.py)
    answers "how fast"; this answers "how much work", exactly.

    ``execute`` collects the frame first (metrics populate only on the
    frame's own query execution) — call at small SF.
    """
    rows_out = len(df.collect()) if execute else None
    shuffles: list[int] = []
    broadcasts: list[int] = []
    for node in _jwalk(df._jdf.queryExecution().executedPlan()):
        name = node.nodeName()
        if name.startswith("ReusedExchange"):
            continue  # points at an already-counted exchange's metrics
        if name.startswith("BroadcastExchange"):
            v = _metric(node, "numOutputRows")
            if v is not None:
                broadcasts.append(v)
        elif name.startswith("Exchange"):
            v = _metric(node, "shuffleRecordsWritten")
            if v is not None:
                shuffles.append(v)
    return {
        "rows_out": rows_out,
        "n_shuffles": len(shuffles),
        "shuffle_records": shuffles,
        "broadcast_rows": broadcasts,
    }

"""SQL entry façade: run ANSI SQL directly against the engine's tables.

The reference has no SQL surface at all (its pipeline is composed
Python transforms — dataflow_pipeline.py:180-210); this is a deliberate
user-visible superset: every table the engine's DataFrame queries read
(TESTDATA.md / sources/testdata.py) is registered as a temp view, so
the exact oracle-SQL strings the registry carries for DuckDB — and any
ad-hoc ANSI query a user writes — run on Catalyst unchanged.

Scale posture: ``spark.sql`` over temp views IS the DataFrame API —
same logical plan, same Catalyst optimization (pushdown through the
view into the parquet scan, broadcast/AQE decisions), zero extra cost.
The views are plain lazy frame aliases, not materializations.

Dialect note: the registry's oracle strings target DuckDB, whose SQL
overlaps ANSI Spark SQL for the relational core (SELECT / JOIN /
GROUP BY / window functions / CASE / CAST AS DOUBLE-BIGINT). DuckDB
extensions (``json_extract_string``, ``LIST(...)``, ``x::type`` casts,
``CAST(... AS VARCHAR)`` without length) do NOT parse on Spark; the
verbatim-compatible subset is certified in tests/test_sql_facade.py.
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import DataFrame, SparkSession

from cloud_dataflow_batch_processing_spark.sources.testdata import (
    DEFAULT_SF_DIR,
    TABLES,
    load_tables,
)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> tuple[str, ...]:
    """Register every engine table under ``sf_dir`` as a temp view
    (idempotent; re-registering re-points the views at ``sf_dir``).
    Goes through ``load_tables`` so the timestamp-restoration rules
    apply identically to SQL and DataFrame consumers."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
    # SQL-function superset: DuckDB names the engine implements but
    # Spark SQL lacks (currently nfc_normalize — VERDICT r10 #6), so
    # every registry oracle runs on the façade.
    from cloud_dataflow_batch_processing_spark.functions.text_fast import (
        register_sql_functions,
    )

    register_sql_functions(spark)
    return TABLES


def _skip_literal(s: str, i: int) -> int:
    """Index just past the quoted literal opening at s[i] (single- or
    double-quoted; handles both '' doubling and backslash escapes —
    post-translation Spark SQL uses C-style escapes)."""
    q = s[i]
    i += 1
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\":
            i += 2
            continue
        if c == q:
            if i + 1 < n and s[i + 1] == q:
                i += 2
                continue
            return i + 1
        i += 1
    return i


def _close_paren(s: str, i: int, what: str) -> int:
    """Index just past the ``)`` that closes the ``(`` just before
    ``s[i]`` (literal-aware); raises naming ``what`` when unbalanced."""
    depth, n = 1, len(s)
    while i < n and depth:
        c = s[i]
        if c in "'\"":
            i = _skip_literal(s, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        i += 1
    if depth:
        raise ValueError(f"unbalanced parens in {what}")
    return i


_WITH = re.compile(r"\s*WITH\s+(RECURSIVE\s+)?", flags=re.IGNORECASE)
_CTE_HEAD = re.compile(
    r"\s*([A-Za-z_]\w*)\s*(?:\(\s*([^)]*?)\s*\))?\s+AS\s*\(", flags=re.IGNORECASE
)
_NESTED_WITH = re.compile(r"\(\s*WITH\b", flags=re.IGNORECASE)
_NESTED_WITH_REC = re.compile(r"\(\s*WITH\s+RECURSIVE\b", flags=re.IGNORECASE)
_UNION_KW = re.compile(r"\bUNION\b(\s+ALL\b)?", flags=re.IGNORECASE)


def split_ctes(
    query: str, recursive: bool = False
) -> tuple[list[tuple[str, list[str] | None, str]], str]:
    """Split a top-level ``WITH a AS (...), b(x, y) AS (...) <tail>`` into
    ``([(name, cols-or-None, body), ...], tail)``; a query with no
    leading WITH comes back as ``([], query)``. Only the OUTER WITH is
    split — a nested WITH inside a CTE body stays in that body. Depth-0
    scan that skips string literals, so commas/parens inside strings
    never miscount. ``WITH RECURSIVE`` is refused unless ``recursive``
    (see _run_recursive_with for that)."""
    m = _WITH.match(query)
    if not m:
        return [], query
    if m.group(1) and not recursive:
        raise ValueError("recursive CTEs need _run_recursive_with, not split_ctes")
    i, n = m.end(), len(query)
    ctes: list[tuple[str, list[str] | None, str]] = []
    while True:
        hm = _CTE_HEAD.match(query, i)
        if not hm:
            raise ValueError(f"cannot parse CTE header at offset {i}: {query[i:i+60]!r}")
        name = hm.group(1)
        cols = [c.strip() for c in hm.group(2).split(",")] if hm.group(2) else None
        j = _close_paren(query, hm.end(), f"CTE {name!r}")
        ctes.append((name, cols, query[hm.end() : j - 1]))
        k = j
        while k < n and query[k].isspace():
            k += 1
        if k < n and query[k] == ",":
            i = k + 1
            continue
        return ctes, query[k:]


def _split_union_terms(body: str) -> list[tuple[str, bool]]:
    """Split ``body`` at depth-0 UNION [ALL] keywords (literal-aware).
    Returns ``[(term, came_after_union_all), ...]`` — the flag on the
    first term is always False."""
    terms: list[tuple[str, bool]] = []
    i = last = 0
    n = len(body)
    depth = 0
    prev_all = False
    while i < n:
        c = body[i]
        if c in "'\"":
            i = _skip_literal(body, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and c in "Uu":
            m = _UNION_KW.match(body, i)
            if m and not (i > 0 and (body[i - 1].isalnum() or body[i - 1] == "_")):
                terms.append((body[last:i], prev_all))
                prev_all = bool(m.group(1))
                last = i = m.end()
                continue
        i += 1
    terms.append((body[last:], prev_all))
    return terms


_MAX_FIXPOINT_ITERS = 10_000


def _ckpt_union_safe(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` with a fallback for a Spark 4.1
    internal bug: checkpointing a plan that UNIONs LogicalRDD leaves
    can die in the stats/constraints rewrite (``NoSuchElementException:
    key not found: <attr>`` — the rewrite's attribute map only covers
    the plan's own output, not union-child constraint refs). Retrying
    with ``spark.sql.constraintPropagation.enabled=false`` skips that
    rewrite; the checkpointed result merely carries no propagated
    constraints, which costs nothing here — the fixpoint frames are
    consumed by distinct/subtract, not constraint-driven optimizations.
    The config is restored immediately (scoped to the one retry)."""
    try:
        return df.localCheckpoint(eager=True)
    except Exception:
        key = "spark.sql.constraintPropagation.enabled"
        prev = spark.conf.get(key, "true")
        spark.conf.set(key, "false")
        try:
            return df.localCheckpoint(eager=True)
        finally:
            spark.conf.set(key, prev)


def _run_recursive_with(spark: SparkSession, query: str, gen, reg=None) -> DataFrame:
    """Execute a ``WITH RECURSIVE`` query (unsupported by Spark 4.1's
    parser) as a driver-side FIXPOINT LOOP — semantically DuckDB's
    UNION DISTINCT recursion (duckdb.org docs: the working table each
    iteration is the set of rows NOT seen before; recursion stops when
    it is empty):

        acc = DISTINCT(base);  work = acc
        repeat: new = DISTINCT(step(work)) EXCEPT acc
                acc ∪= new; work = new     until new = ∅

    Non-recursive members of the WITH RECURSIVE list run exactly like
    :func:`_run_with_cte_barriers` members (checkpoint barrier each).
    Every iteration's frames are eagerly checkpointed, so the loop adds
    O(1) lineage per step instead of an ever-deepening plan — the
    driver only ever holds DataFrame handles, never row data."""
    ctes, tail = split_ctes(query, recursive=True)
    for name, cols, body in ctes:
        # Self-reference = the CTE's own name in a FROM/JOIN position
        # (a bare \bname\b would false-positive on same-named COLUMNS —
        # e.g. comp AS (SELECT MIN(comp) ... FROM reach)).
        self_ref = re.compile(
            rf"\b(?:FROM|JOIN)\s+{re.escape(name)}\b", flags=re.IGNORECASE
        )
        is_recursive = self_ref.search(body) is not None
        if not is_recursive:
            df = _run_with_cte_barriers(spark, body, gen, reg)
            if cols:
                df = df.toDF(*cols)
            df.localCheckpoint(eager=True).createOrReplaceTempView(name)
            if reg is not None:
                reg.append(name)
            continue
        terms = _split_union_terms(body)
        if len(terms) < 2:
            raise ValueError(f"recursive CTE {name!r} has no UNION recursive term")
        if any(is_all for _, is_all in terms):
            raise ValueError(
                f"recursive CTE {name!r} uses UNION ALL — only the UNION "
                "DISTINCT fixpoint is implemented (the registry's shape)"
            )
        base_terms, rec_terms = [], []
        for term, _ in terms:
            (rec_terms if self_ref.search(term) else base_terms).append(term)
        if not base_terms or not rec_terms:
            raise ValueError(f"recursive CTE {name!r}: need base and recursive terms")

        def run_term(t: str) -> DataFrame:
            df = spark.sql(_lift_nested_withs(spark, t, gen))
            names = cols if cols else df.columns
            # Positional alias — NOT toDF: toDF skips the alias when the
            # name is unchanged, so a column that passes through the
            # recursive term unrenamed keeps the accumulator's exprId,
            # and unionByName over duplicate attribute ids blows up
            # inside localCheckpoint ("key not found: comp#N"). An
            # explicit alias always mints a fresh id.
            return df.select(*[df[i].alias(nm) for i, nm in enumerate(names)])

        if reg is not None:
            reg.append(name)
        acc = run_term(base_terms[0])
        for t in base_terms[1:]:
            acc = acc.unionByName(run_term(t))
        acc = _ckpt_union_safe(spark, acc.distinct())
        work = acc
        for _ in range(_MAX_FIXPOINT_ITERS):
            work.createOrReplaceTempView(name)
            new = run_term(rec_terms[0])
            for t in rec_terms[1:]:
                new = new.unionByName(run_term(t))
            new = _ckpt_union_safe(spark, new.distinct().subtract(acc))
            if new.isEmpty():
                break
            acc = _ckpt_union_safe(spark, acc.unionByName(new))
            work = new
        else:
            raise RuntimeError(
                f"recursive CTE {name!r} did not converge in "
                f"{_MAX_FIXPOINT_ITERS} iterations"
            )
        acc.createOrReplaceTempView(name)
    return spark.sql(_lift_nested_withs(spark, tail, gen, reg))


def _lift_nested_withs(spark: SparkSession, s: str, gen, reg=None) -> str:
    """Rewrite every parenthesized ``(WITH ...)`` subquery in ``s`` into
    ``(SELECT * FROM <fresh view>)``, executing the inner query through
    ``_run_with_cte_barriers`` (mutual recursion) and checkpointing the
    result. The ``(SELECT * FROM v)`` spelling stays valid in every
    subquery position (FROM item, IN, scalar). Literal-aware scan so
    parens/WITH inside strings never match."""
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"":
            j = _skip_literal(s, i)
            out.append(s[i:j])
            i = j
            continue
        if c == "(" and _NESTED_WITH.match(s, i):
            recursive = bool(_NESTED_WITH_REC.match(s, i))
            j = _close_paren(s, i + 1, "nested WITH subquery")
            inner = s[i + 1 : j - 1]
            runner = _run_recursive_with if recursive else _run_with_cte_barriers
            name = f"__barrier_sub_{next(gen)}"
            runner(spark, inner, gen, reg).localCheckpoint(eager=True).createOrReplaceTempView(
                name
            )
            if reg is not None:
                reg.append(name)
            out.append(f"(SELECT * FROM {name})")
            i = j
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _run_with_cte_barriers(spark: SparkSession, query: str, gen=None, reg=None) -> DataFrame:
    """Execute each top-level CTE as its own job with a lineage-cutting
    ``localCheckpoint`` between stages, then run the tail against the
    materialized views. RECURSIVE: a parenthesized ``(WITH ...)``
    subquery anywhere (e.g. ``dropped AS (SELECT ... FROM (WITH th_t AS
    ...) p)`` — the corpus_clean_pipeline / corpus_audit_report oracle
    shape) is lifted into its own barriered view first, so no nested
    WITH ever reaches Catalyst as one un-barriered plan.

    Why: Catalyst's CollapseProject inlines a CTE column's defining
    expression into EVERY downstream reference. For the char-fold /
    minhash oracles, where ``sig`` references ``sh`` 16× and ``sh``
    references the full tokenize pipeline, that inlining multiplies the
    higher-order-function work combinatorially (the measured
    "CollapseProject trap", NOTES r3/r8). A checkpoint is a real
    barrier: downstream plans see a LogicalRDD, nothing can inline
    through it, and each CTE's work runs exactly once — the same
    stage-boundary-materialization posture corpus_build_full uses at
    scale. Cost: pushdown/pruning stop at each barrier, so this is
    OPT-IN for the known trap queries, not the default path.

    View-name scoping: nested scopes may reuse a CTE name the outer
    query also defines (corpus_audit_report defines ``sh_t`` twice).
    Registration order is inner-first, and every registered view is
    EAGERLY checkpointed before any later registration can overwrite
    the name, so a consumer always captured the LogicalRDD of the
    version it referenced — later re-registration cannot retroactively
    rebind it."""
    if gen is None:
        gen = itertools.count()
    if re.match(r"\s*WITH\s+RECURSIVE\b", query, flags=re.IGNORECASE):
        return _run_recursive_with(spark, query, gen, reg)
    ctes, tail = split_ctes(query)
    for name, cols, body in ctes:
        df = _run_with_cte_barriers(spark, body, gen, reg)
        if cols:
            df = df.toDF(*cols)
        df.localCheckpoint(eager=True).createOrReplaceTempView(name)
        if reg is not None:
            reg.append(name)
    return spark.sql(_lift_nested_withs(spark, tail, gen, reg))


def sql(
    spark: SparkSession,
    query: str,
    sf_dir: str = DEFAULT_SF_DIR,
    dialect: str = "spark",
    materialize_ctes: bool = False,
) -> DataFrame:
    """Run ``query`` against the engine tables: the one-call SQL entry
    point (``engine.sql(...)`` in the README's terms). Returns the lazy
    DataFrame — compose it further or ``.collect()``.

    ``dialect='duckdb'`` routes the string through the mechanical
    translator first (sql_dialect.translate_duckdb) so DuckDB-dialect
    SQL — list literals, 1-based subscripts, QUALIFY, ASOF LEFT JOIN,
    … — runs on Catalyst; certified per-construct in
    tests/test_sql_dialect.py and per-registry-oracle in
    tests/test_sql_facade.py.

    ``materialize_ctes=True`` executes each top-level CTE behind a
    checkpoint barrier (see _run_with_cte_barriers) — the escape hatch
    for repeated-HOF queries where CollapseProject inlining would
    multiply work combinatorially."""
    if dialect == "duckdb":
        from cloud_dataflow_batch_processing_spark.sql_dialect import translate_duckdb

        query = translate_duckdb(query)
    elif dialect != "spark":
        raise ValueError(f"dialect must be 'spark' or 'duckdb', got {dialect!r}")
    register_views(spark, sf_dir)
    if materialize_ctes:
        # Drop the CTE-named (and __barrier_sub_N) temp views once the
        # tail DataFrame exists: spark.sql analyzes eagerly, so the
        # returned frame already holds the resolved LogicalRDD plans —
        # keeping the views would pin the eager checkpoints in the
        # catalog AND let a later query that references a same-named
        # but undefined CTE silently read this run's stale
        # materialization instead of failing (ADVICE r10).
        reg: list[str] = []
        try:
            return _run_with_cte_barriers(spark, query, reg=reg)
        finally:
            for name in dict.fromkeys(reg):
                spark.catalog.dropTempView(name)
    return spark.sql(query)

"""Exact substring deduplication (Lee et al., "Deduplicating Training
Data Makes Language Models Better", ACL 2022): find every K-token span
whose content occurs more than once in the corpus, merge each
document's duplicated spans into maximal removal intervals, and emit
per-document removal stats plus the cleaned text.

The paper's single-node implementation is a suffix array over the
concatenated corpus; the distributed analog (used by production corpus
pipelines at the 100 TB scale this repo targets) is span hashing:
every overlapping K-token window is hashed, windows are grouped by
hash, and any hash seen more than once marks its positions for
removal. Interval merging then turns overlapping marked windows into
maximal spans, exactly like the paper's duplicate-range output.

Engine-neutral design: span hashes reuse the rolling-polynomial
fold mod 1e9+7 from extensions/dedup.py (the shingle hash with a
larger K), positions and interval merging are pure integer window
functions — so the whole pipeline has a DuckDB SQL twin and is
certified by the driver's hash gate, not just unit tests.

Scale posture (100 TB):
- Tokenize + span hash is per-row whole-stage codegen; the posexplode
  is the unavoidable K-per-token expansion every substring-dedup
  design pays (the suffix array pays the same K log n).
- Duplicate detection: span counts aggregate with map-side partial
  combine (the shuffle moves near-distinct hashes, not span rows),
  only hashes with count > 1 survive — a frame bounded by the DISTINCT
  duplicated-span count — and the spans semi-join against it (AQE
  broadcasts it when small, skew-splits when not). A count window
  partitioned by the hash would need one shuffle fewer, but a
  boilerplate mega-span would make its per-hash group one unsplittable
  hot task.
- Interval merge + per-doc stats shuffle on doc_id (narrow, exactly
  the partitioning the next corpus stage wants).
- No driver-side state, no collect: output scales with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from cloud_dataflow_batch_processing_spark.caching import managed_store
from cloud_dataflow_batch_processing_spark.extensions.dedup import token_hashes_sql
from cloud_dataflow_batch_processing_spark.functions.text import (
    HASH_MOD,
    HASH_MULT,
    tokens,
    tokens_sql,
)
from cloud_dataflow_batch_processing_spark.plans.inspect import fan_out_scan

SPAN_TOKENS = 8


def _span_frame(
    df: DataFrame, id_col: str, text_col: str, k: int, th_col: str | None = None
) -> DataFrame:
    """(doc_id, n_tokens, pos, h) for every K-token span at 1-based token
    position ``pos`` — the one span builder of the batch, incremental
    and decontamination pipelines.

    Span hashes come from the Arrow-batched twin (functions/text_fast.py,
    value-identical by the certified polynomial): the Python UDF node is
    a hard optimizer barrier, so the char fold is computed ONCE per row
    no matter how Catalyst collapses the projections above it. A
    pure-Column HOF form is vulnerable to CollapseProject re-embedding
    the fold into all k element_at references inside the span transform
    — measured 234 s vs 0.6 s warm at sf0.1 (the NOTES r3 quadratic-HOF
    trap, third sighting).

    ``th_col`` (r12): consume an ALREADY-COMPUTED token-hash column
    instead of re-tokenizing ``text_col`` — the identical vectorized
    span fold runs on the carried hashes (corpus_build tokenizes the
    corpus once; this stage previously re-tokenized every surviving
    document)."""
    from cloud_dataflow_batch_processing_spark.functions.text_fast import (
        span_hashes_fast,
        span_hashes_from_th_fast,
    )

    if th_col is None:
        sp = span_hashes_fast(F.col(text_col), k)
    else:
        sp = span_hashes_from_th_fast(F.col(th_col), k)
    # No size(__sp) > 0 filter here: posexplode drops empty lists
    # anyway, and a filter referencing the UDF column gets pushed
    # below the fan-out repartition, DUPLICATING the ArrowEvalPython
    # node (the UDF then runs twice per row — observed in the executed
    # plan).
    staged = df.select(F.col(id_col).alias("doc_id"), sp.alias("__sp")).select(
        "doc_id",
        # n_tokens of a doc with >= k tokens is |spans| + k - 1; shorter
        # docs return an empty span list and posexplode drops them.
        (F.size("__sp") + (k - 1)).alias("n_tokens"),
        "__sp",
    )
    return staged.select(
        "doc_id", "n_tokens", F.posexplode("__sp").alias("pos0", "h")
    ).select("doc_id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "h")


def _repeated_hashes(spans: DataFrame) -> DataFrame:
    """(h) of every span hash seen more than once in ``spans``."""
    return (
        spans.groupBy("h").agg(F.count(F.lit(1)).alias("__n")).filter(F.col("__n") > 1)
    ).select("h")


def _dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    scratch_dir: str | None = None,
    th_col: str | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, pos) for every K-token span whose hash occurs
    >1 time corpus-wide (counting within-document repeats, per the
    paper: ANY second occurrence marks the span).

    The span frame is stored once (``caching.managed_store``), or the
    count side and the probe side would each recompute the UDF chain:
    cached with no ``scratch_dir``; with one, bucketed and sorted by
    the span hash (VERDICT r8 #6). Then the dup-count groupBy and the
    dup semi-join both consume the bucket distribution: NEITHER side
    of the join exchanges, and the only span-volume shuffle is the
    repartition folded into the write (NOTES r9, r13)."""
    if th_col is None:
        # The span-hash stage runs where the scan runs: a corpus read
        # from fewer splits than cores (one small file at bench scale)
        # would hash on one task. Fan out first — a narrow exchange of
        # raw text, and a no-op at real scale where input splits
        # already exceed the core count, and for frames downstream of
        # a wide node.
        df = fan_out_scan(df, id_col)
    spans = managed_store(
        _span_frame(df, id_col, text_col, k, th_col), "h", scratch_dir, "spans_bkt"
    )
    # Aggregate counts (map-side partials collapse each partition's
    # repeats before the wire, so the count shuffle moves
    # near-distinct hashes, not span rows), keep only dup hashes
    # — a frame bounded by the DISTINCT duplicated-span count — and
    # semi-join the spans against it. AQE broadcasts the dup-hash side
    # when it fits and skew-splits the join when it doesn't; either
    # way no unsplittable per-hash group exists anywhere. Past the
    # broadcast transition (dup-hash set > the 64 MB threshold, ~5M
    # docs on this corpus) pass a scratch_dir: the bucket-local join
    # cuts 5M cold 46% vs cache and returns the 500k->5M exponent to
    # ~1.0 (NOTES r9 A/B).
    return spans.join(_repeated_hashes(spans), "h", "left_semi").select(
        "doc_id", "n_tokens", "pos"
    )


def remove_intervals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
    scratch_dir: str | None = None,
    th_col: str | None = None,
) -> DataFrame:
    """Maximal removal intervals per document: merge every duplicated
    K-token span [pos, pos+k) with its overlapping-or-touching
    neighbours (lag-based gaps-and-islands: same-length intervals
    sorted by pos merge iff the gap <= k). Returns
    (doc_id, start_pos, end_pos) with token positions 1-based and
    end exclusive."""
    dup = _dup_spans(df, id_col, text_col, k, scratch_dir, th_col)
    return _merge_marked_spans(dup, k)


def _merge_marked_spans(marked: DataFrame, k: int) -> DataFrame:
    """Merge marked K-token spans (doc_id, pos, ...) into maximal
    removal intervals via lag-based gaps-and-islands: same-length
    intervals sorted by pos merge iff the gap <= k. Returns
    (doc_id, start_pos, end_pos), positions 1-based, end exclusive."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = marked.withColumn(
        "__new",
        F.when(F.col("pos") - F.coalesce(F.lag("pos").over(w), F.lit(-k)) > k, 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("start_pos"), (F.max("pos") + k).alias("end_pos")
    ).select("doc_id", "start_pos", "end_pos")


def _interval_report(
    iv: DataFrame, df: DataFrame, id_col: str, text_col: str, th_col: str | None = None
) -> DataFrame:
    """Per-document report over ALL rows of ``df`` from its
    (doc_id, start_pos, end_pos) intervals ``iv``: (doc_id, n_tokens,
    n_remove_intervals, removed_tokens, kept_tokens, removed_frac).
    Documents without an interval report zeros."""
    per_doc = iv.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_remove_intervals"),
        F.sum(F.col("end_pos") - F.col("start_pos")).alias("removed_tokens"),
    )
    if th_col is not None:
        # |th| == |tokens(text)| by the fast-twin contract (including
        # NULL text -> NULL on both sides), so the report's n_tokens
        # column needs no second pass over the text.
        n_tokens = F.size(F.col(th_col))
    else:
        n_tokens = F.size(tokens(text_col))
    base = df.select(F.col(id_col).alias("doc_id"), n_tokens.alias("n_tokens"))
    out = base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_remove_intervals", F.lit(0)).alias("n_remove_intervals"),
        F.coalesce("removed_tokens", F.lit(0)).alias("removed_tokens"),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_remove_intervals",
        "removed_tokens",
        (F.col("n_tokens") - F.col("removed_tokens")).alias("kept_tokens"),
        # n_tokens = 0 (empty / whitespace-only doc) leaves the fraction
        # undefined: NULL, matching the oracle's division-by-zero NULL
        # (adversarial sweep) — never an ANSI DIVIDE_BY_ZERO.
        F.round(
            F.col("removed_tokens") / F.nullif(F.col("n_tokens"), F.lit(0)), 4
        ).alias("removed_frac"),
    )


def substring_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
    scratch_dir: str | None = None,
    th_col: str | None = None,
) -> DataFrame:
    """Per-document substring-dedup report over ALL documents:
    (doc_id, n_tokens, n_remove_intervals, removed_tokens,
    kept_tokens, removed_frac). Documents with no duplicated span (or
    fewer than k tokens) report zeros."""
    iv = remove_intervals(df, id_col, text_col, k, scratch_dir, th_col)
    return _interval_report(iv, df, id_col, text_col, th_col)


def substring_dedup_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
) -> DataFrame:
    """Cleaned corpus: each document's tokens with every removal
    interval excised, rejoined with single spaces (the paper's output
    shape). Implementation: collect the (few) intervals per doc into
    an array, then a per-row filter over token positions — the
    interval list is per-document and bounded by n_tokens/k, so the
    array column stays small even for pathological documents."""
    iv = remove_intervals(df, id_col, text_col, k)
    iv_per_doc = iv.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("start_pos", "end_pos"))).alias("__iv")
    )
    base = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t"))
    joined = base.join(iv_per_doc, "doc_id", "left").withColumn(
        "__iv", F.coalesce("__iv", F.array())
    )
    kept = F.filter(
        F.zip_with(
            F.col("__t"),
            F.sequence(F.lit(1), F.size("__t")),
            lambda t, p: F.struct(t.alias("t"), p.alias("p")),
        ),
        lambda s: ~F.exists(
            F.col("__iv"),
            lambda i: (s["p"] >= i["start_pos"]) & (s["p"] < i["end_pos"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# DuckDB SQL twins
# ---------------------------------------------------------------------------


def span_hashes_sql(k: int) -> str:
    """Positional span hashes from a token-hash list column ``th`` —
    the same left fold as shingles_from_token_hashes at width k."""
    acc = "th[i]"
    for off in range(1, k):
        acc = f"(({acc}) * {HASH_MULT} + th[i + {off}]) % {HASH_MOD}"
    return (
        f"list_transform(range(1, len(th) - {k - 1} + 1), i -> {acc})"
    )


def _spans_cte(source: str, k: int, where: str = "TRUE", prefix: str = "") -> str:
    """CTEs ``{prefix}th_t`` and ``{prefix}spans`` (doc_id, n_tokens,
    pos, h): every k-token span of the ``source`` rows that match
    ``where`` — the oracle side of ``_span_frame``."""
    return f"""
    {prefix}th_t AS (
      SELECT doc_id, {token_hashes_sql('text')} AS th FROM {source} WHERE {where}
    ),
    {prefix}spans AS (
      SELECT doc_id, len(th) AS n_tokens, pos0 + 1 AS pos, h
      FROM (
        SELECT doc_id, th, unnest({span_hashes_sql(k)}) AS h,
               unnest(range(0, len(th) - {k - 1})) AS pos0
        FROM {prefix}th_t WHERE len(th) >= {k}
      )
    )"""


def _islands_cte(marked: str, k: int) -> str:
    """CTE ``iv`` (doc_id, start_pos, end_pos): the marked spans of
    ``marked`` (doc_id, pos) merged into maximal intervals — the oracle
    side of ``_merge_marked_spans``."""
    return f"""
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - COALESCE(
                 LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos), -{k}) > {k}
             THEN 1 ELSE 0 END AS new_island
      FROM {marked}
    ),
    islands AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    iv AS (
      SELECT doc_id, MIN(pos) AS start_pos, MAX(pos) + {k} AS end_pos
      FROM islands GROUP BY doc_id, island
    )"""


def _intervals_cte(source: str, k: int) -> str:
    """``iv`` over the spans whose hash occurs more than once in
    ``source``."""
    return f"""{_spans_cte(source, k)},
    dup AS (
      SELECT doc_id, n_tokens, pos FROM (
        SELECT doc_id, n_tokens, pos, COUNT(*) OVER (PARTITION BY h) AS n
        FROM spans
      ) WHERE n > 1
    ),{_islands_cte("dup", k)}"""


def _interval_report_sql(
    source: str,
    where: str = "TRUE",
    names: tuple[str, str, str] = ("n_remove_intervals", "removed_tokens", "removed_frac"),
) -> str:
    """The per-document report over ``iv`` for every ``source`` row
    that matches ``where`` (zeros where it has no interval) — the
    oracle side of ``_interval_report``: the ``per_doc`` and ``base``
    CTEs, then the final SELECT with the interval-count, token and
    fraction columns named ``names``."""
    n_intervals, tokens, frac = names
    return f"""
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_intervals,
             SUM(end_pos - start_pos) AS tokens
      FROM iv GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, len({tokens_sql('text')}) AS n_tokens FROM {source}
      WHERE {where}
    )
    SELECT b.doc_id,
           b.n_tokens,
           CAST(COALESCE(p.n_intervals, 0) AS BIGINT) AS {n_intervals},
           CAST(COALESCE(p.tokens, 0) AS BIGINT) AS {tokens},
           CAST(b.n_tokens - COALESCE(p.tokens, 0) AS BIGINT) AS kept_tokens,
           ROUND(CAST(COALESCE(p.tokens, 0) AS DOUBLE) / b.n_tokens, 4)
             AS {frac}
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """


def substring_dup_stats_sql(source: str = "documents", k: int = SPAN_TOKENS) -> str:
    return f"WITH {_intervals_cte(source, k)},{_interval_report_sql(source)}"


def substring_dedup_text_sql(source: str = "documents", k: int = SPAN_TOKENS) -> str:
    return f"""
    WITH {_intervals_cte(source, k)},
    iv_doc AS (
      SELECT doc_id,
             list_sort(list({{'start_pos': start_pos, 'end_pos': end_pos}})) AS ivs
      FROM iv GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM {source}
    )
    SELECT b.doc_id,
           -- NULL text stays NULL (matches the engine); the COALESCE
           -- maps DuckDB's NULL for array_to_string([]) back to '' for
           -- fully-removed and empty docs, which is what the engine's
           -- array_join emits
           CASE WHEN b.t IS NULL THEN NULL
                ELSE COALESCE(array_to_string(
             [b.t[p] FOR p IN range(1, len(b.t) + 1)
              IF len(list_filter(COALESCE(d.ivs, []),
                    i -> p >= i.start_pos AND p < i.end_pos)) = 0],
             ' '), '') END AS clean_text
    FROM base b LEFT JOIN iv_doc d USING (doc_id)
    """


# ---------------------------------------------------------------------------
# Incremental substring dedup: new batch vs a persisted span-hash store
# ---------------------------------------------------------------------------


def span_store(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
) -> DataFrame:
    """The persistable state of incremental substring dedup: (h, cnt)
    span-hash counts of a corpus — one bounded hash-agg shuffle, the
    store is DISTINCT-span-sized. Mergeable by counter sum
    (``span_store_merge``), so daily batches fold in like the CMS/HLL
    state tables."""
    staged = _span_frame(df, id_col, text_col, k)
    return staged.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))


def span_store_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """store(A) ⊕ store(B) == store(A ∪ B) exactly (counter sums)."""
    return a.unionByName(b).groupBy("h").agg(F.sum("cnt").alias("cnt"))


def incremental_substring_dup_stats(
    new_df: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
) -> DataFrame:
    """Substring-dedup stats for a NEW batch against an EXISTING
    corpus's span store — the daily-increment shape (mirrors
    incremental_near_dups / ivf_index_append): the old corpus is never
    rescanned; a new doc's span is duplicated iff its hash is in the
    store OR occurs >= 2 times within the batch. Equal BY CONSTRUCTION
    to the full-corpus run restricted to the new docs (total count
    > 1 decomposes exactly into those two cases) — unit-pinned.

    Scale: batch spans shuffle once for the batch count; the dup-hash
    frame (store hits ∪ batch repeats) is bounded by distinct dup
    spans and broadcast/skew-split by AQE in the semi-join."""
    from cloud_dataflow_batch_processing_spark.caching import managed_cache

    spans = managed_cache(_span_frame(new_df, id_col, text_col, k))
    dup_hashes = _repeated_hashes(spans).unionByName(store.select("h")).distinct()
    dup = spans.join(dup_hashes, "h", "left_semi").select("doc_id", "n_tokens", "pos")
    return _interval_report(_merge_marked_spans(dup, k), new_df, id_col, text_col)


def incremental_substring_stats_sql(
    new_where: str, old_where: str, source: str = "documents", k: int = SPAN_TOKENS
) -> str:
    """Oracle twin over one relation split by predicates into the new
    batch and the old corpus."""
    return f"""
    WITH {_spans_cte(source, k, old_where, prefix="old_")},{_spans_cte(source, k, new_where)},
    dup_hashes AS (
      SELECT h FROM spans GROUP BY h HAVING COUNT(*) > 1
      UNION SELECT h FROM old_spans
    ),
    dup AS (
      SELECT doc_id, n_tokens, pos FROM spans WHERE h IN (SELECT h FROM dup_hashes)
    ),{_islands_cte("dup", k)},{_interval_report_sql(source, new_where)}"""


def decontaminate_span_stats(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Exact-substring benchmark decontamination (the GPT-3 appendix-C /
    Lee et al. 2022 hygiene step): mark every K-token span of a training
    document whose content occurs ANYWHERE in a held-out eval set, merge
    the marked spans into maximal contamination intervals, and report
    per-document (doc_id, n_tokens, n_contam_intervals,
    contaminated_tokens, kept_tokens, contaminated_frac) over ALL
    corpus documents (clean docs report zeros).

    This is surgical span-level decontamination — distinct from the
    doc-level shingle-overlap score (``decontaminate_eval_overlap``)
    and the doc-level bloom drop (``bloom_decontaminate``): instead of
    dropping a whole document that quotes one benchmark question, only
    the quoted interval is reported (and can be excised with the same
    interval semantics as ``substring_dedup_text``).

    Scale posture (100 TB corpus, bounded eval set): the eval side is a
    benchmark suite — its DISTINCT span-hash set is small and ships
    once per executor as a broadcast; the corpus side is one
    Arrow-batched hash pass + a map-side LEFT SEMI probe, so the only
    exchanges are the narrow per-doc interval merge and stats
    aggregation (both on doc_id, the partitioning the next corpus
    stage wants). The corpus never self-joins and never re-exchanges
    its span volume. Set ``broadcast_eval=False`` if the eval span set
    exceeds the broadcast threshold — AQE then picks the join strategy.

    Engine-neutral by construction: span hashes are the certified
    rolling polynomial (same fold both engines), interval merge is
    integer window arithmetic — see ``decontaminate_span_stats_sql``
    for the DuckDB twin the driver's hash gate runs."""
    eval_h = _span_frame(eval_df, id_col, text_col, k).select("h").distinct()
    if broadcast_eval:
        eval_h = F.broadcast(eval_h)
    spans = _span_frame(corpus, id_col, text_col, k)
    marked = spans.join(eval_h, "h", "left_semi").select("doc_id", "n_tokens", "pos")
    return _interval_report(
        _merge_marked_spans(marked, k), corpus, id_col, text_col
    ).withColumnsRenamed(
        {
            "n_remove_intervals": "n_contam_intervals",
            "removed_tokens": "contaminated_tokens",
            "removed_frac": "contaminated_frac",
        }
    )


def decontaminate_span_stats_sql(
    corpus_where: str, eval_where: str, source: str = "documents", k: int = SPAN_TOKENS
) -> str:
    """Oracle twin over one relation split by predicates into the
    training corpus and the held-out eval set."""
    names = ("n_contam_intervals", "contaminated_tokens", "contaminated_frac")
    return f"""
    WITH {_spans_cte(source, k)},
    ev AS (
      SELECT DISTINCT h FROM spans WHERE {eval_where}
    ),
    hit AS (
      SELECT doc_id, n_tokens, pos FROM spans
      WHERE ({corpus_where}) AND h IN (SELECT h FROM ev)
    ),{_islands_cte("hit", k)},{_interval_report_sql(source, corpus_where, names)}"""

"""Query registry: every operator's `queries()` + `oracle_sql()` entry.

Each registered query is a (Spark callable, DuckDB oracle SQL) pair over
the driver's test tables (TESTDATA.md). The driver compares row count,
schema, and an order-insensitive value hash at sf0.01 — so every
computed column is aliased identically on both sides, and floating
outputs follow two determinism rules:

1. Per-row double math is fine (identical IEEE ops both engines).
2. Aggregates over doubles go through DECIMAL(18,2) (exact, order-
   independent) and are cast back to DOUBLE at the end; means are
   computed as exact decimal sum / count in double space.

Queries map 1:1 to SURVEY.md §2's operator inventory; each docstring
names the Beam operator(s) it covers and the reference file:line.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from cloud_dataflow_batch_processing_spark.sources.testdata import load_tables


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    headline: bool = False
    doc: str = ""
    late: bool = False


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    late: bool = False,
):
    """Register a query. ``late=True`` marks a redundant variant — a
    query whose operator class is already driver-covered by another
    entry (e.g. the HOF twin of an Arrow-batched pipeline, or a stage
    subsumed by its end-to-end query). The driver's CORRECTNESS file
    records the first 50 registered queries, so ``queries()`` emits all
    primary entries before any ``late`` ones: every distinct operator
    class of SURVEY.md §2 gets a driver-green row, and the variants are
    still registered (and locally oracle-verified in
    tests/test_oracle_parity.py) after position 50."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(name, fn, oracle, headline, doc=fn.__doc__ or "", late=late)
        return fn

    return deco


# DRIVER_WINDOW rotation (round 13), produced mechanically by
# `scripts/rotate_window.py --write <names>`: the named queries lead —
# datastore_mutations_agg, whose entity warehouse now versions,
# commits and prunes through streaming/batch_store.py, then the three
# whose code paths the batch-keyed store change touched
# (streaming_lsh_dedup, whose signature store and survivor sink now run
# through streaming/batch_store.py; multimodal_decode_features, whose
# feature extraction no longer rewrites the session's Arrow batch size;
# avro_roundtrip_agg, whose reader discovers the schema from the file
# header) — so the external correctness gate certifies them in the same
# round. They are followed by the round's earlier picks in window
# order: the dedup-store queries (dedup_minhash_pairs,
# dedup_cross_source_matrix, corpus_build_full,
# dedup_minhash_pairs_fast, substring_dedup_stats), the single span
# pipeline (substring_dedup_clean, substring_dedup_incremental,
# decontaminate_exact_spans), dedup_near_exact_keep, the grouped
# per-bucket cosine kernel (semantic_dedup_prune, ann_lsh_pairs,
# dedup_embedding_cosine). datastore_mutations_agg's parity test sits
# in the slowsweep tier (VERDICT r12 #2). The rest is
# least-recently-certified, ties alphabetical. Overlap with
# CORRECTNESS_r12.json is 5 <= 25, so the rotation gate
# (tests/test_window_rotation.py) is green.
DRIVER_WINDOW: tuple[str, ...] = (
    "datastore_mutations_agg",
    "streaming_lsh_dedup",
    "multimodal_decode_features",
    "avro_roundtrip_agg",
    "dedup_minhash_pairs",
    "dedup_cross_source_matrix",
    "corpus_build_full",
    "dedup_minhash_pairs_fast",
    "substring_dedup_stats",
    "substring_dedup_clean",
    "substring_dedup_incremental",
    "decontaminate_exact_spans",
    "dedup_near_exact_keep",
    "semantic_dedup_prune",
    "ann_lsh_pairs",
    "dedup_embedding_cosine",
    "boilerplate_ngrams",
    "corpus_audit_report",
    "corpus_mix_temperature",
    "corpus_split_train_val",
    "dedup_exact",
    "dedup_incremental_minhash",
    "dedup_quality_survivor",
    "dedup_segments",
    "dedup_simhash",
    "dq_violation_summary",
    "embedding_normalize_quantize",
    "filter_project",
    "flagship_group_sum",
    "flat_map_explode",
    "funnel_signup_click_purchase",
    "fuzzy_match_part_names",
    "group_count_distinct",
    "grouping_sets_rollup",
    "heavy_hitters_countmin",
    "incremental_rollup_orders",
    "json_roundtrip_agg",
    "multi_table_join_chain",
    "pack_sequences",
    "pagerank_supplier_customer",
    "partition_route",
    "percentiles_exact",
    "pii_scrub_stats",
    "q18_large_volume_customers",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "range_join_events",
    "retention_cohorts",
    "scd2_user_event_history",
)


def _ordered() -> list[Query]:
    """``DRIVER_WINDOW`` names first (in window order), then the rest in
    registration order with ``late`` variants moved to the back (stable
    within each group)."""
    pos = {n: i for i, n in enumerate(DRIVER_WINDOW)}
    return sorted(
        REGISTRY.values(),
        key=lambda q: (pos.get(q.name, len(DRIVER_WINDOW)), q.late),
    )


def _dec(c) -> F.Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# The reference workload (SURVEY.md §0)
# ---------------------------------------------------------------------------


@register(
    "flagship_group_sum",
    oracle="""
    SELECT l_returnflag AS group_key,
           CAST(CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS VARCHAR) AS count_listings
    FROM lineitem GROUP BY l_returnflag
    """,
    headline=True,
)
def flagship_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship pipeline re-expressed: project 2 columns,
    key by the string column, group, SUM the int-cast values, emit the
    total as a string (dataflow_pipeline.py:199-206,187-190 — the
    'count_listings' that is really a SUM, stringified at :190).
    Covers P3-P7 of SURVEY.md §2.1 in one plan.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.select(F.col("l_returnflag").alias("group_key"), F.floor("l_quantity").alias("q"))
        .groupBy("group_key")
        .agg(F.sum("q").alias("s"))
        .select("group_key", F.col("s").cast("string").alias("count_listings"))
    )


# ---------------------------------------------------------------------------
# Element-wise (Map / Filter / projection — SURVEY.md §2.2)
# ---------------------------------------------------------------------------


@register(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           l_extendedprice * (1 - l_discount) AS disc_price
    FROM lineitem
    WHERE l_discount >= 0.05 AND l_quantity < 25
    """,
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter (beam/transforms/core.py:998) + Map-projection (core.py:949).
    Predicate and column pruning reach the parquet scan (PushedFilters)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.filter((F.col("l_discount") >= 0.05) & (F.col("l_quantity") < 25)).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
    )


@register(
    "partition_route",
    oracle="""
    SELECT CASE WHEN o_totalprice >= 100000 THEN 'big'
                WHEN o_totalprice >= 10000 THEN 'mid'
                ELSE 'small' END AS bucket,
           COUNT(*) AS n
    FROM orders GROUP BY bucket
    """,
)
def partition_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition(fn, n) (beam/transforms/core.py:1466-1505) — the route
    function as a CASE expression; branch cardinalities as output."""
    o = load_tables(spark, sf_dir)["orders"]
    bucket = (
        F.when(F.col("o_totalprice") >= 100000, "big")
        .when(F.col("o_totalprice") >= 10000, "mid")
        .otherwise("small")
    )
    return o.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n"))


@register(
    "flat_map_explode",
    oracle="""
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents WHERE doc_id < 50
    """,
)
def flat_map_explode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FlatMap 1→N (beam/transforms/core.py:915) as explode over a
    computed array — tokenization without leaving codegen."""
    d = load_tables(spark, sf_dir)["documents"]
    return d.filter(F.col("doc_id") < 50).select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )


@register(
    "union_all",
    # r7 window rotation: class long driver-certified (green in
    # CORRECTNESS r02-r06); registers late to free a slot for a
    # class that never saw the driver gate.
    late=True,
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    """,
)
def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatten = UNION ALL (beam/transforms/core.py:1666). Spark keeps
    union logical — no materialization (matches the reference's
    sink_flattens rewrite, fn_api_runner.py:567)."""
    from cloud_dataflow_batch_processing_spark.operators import flatten

    o = load_tables(spark, sf_dir)["orders"].select("o_orderkey", "o_orderstatus")
    return flatten(o.filter(F.col("o_orderstatus") == "O"), o.filter(F.col("o_orderstatus") == "F"))


@register(
    "distinct_values",
    # r7 window rotation: class long driver-certified (green in
    # CORRECTNESS r02-r06); registers late to free a slot for a
    # class that never saw the driver gate.
    late=True,
    oracle="SELECT DISTINCT o_orderpriority FROM orders",
)
def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RemoveDuplicates (beam/transforms/util.py:189-194) — partial-agg
    distinct, one shuffle."""
    from cloud_dataflow_batch_processing_spark.operators import remove_duplicates

    return remove_duplicates(load_tables(spark, sf_dir)["orders"].select("o_orderpriority"))


@register(
    "kv_swap",
    # r7 window rotation: class long driver-certified (green in
    # CORRECTNESS r02-r06); registers late to free a slot for a
    # class that never saw the driver gate.
    late=True,
    oracle="SELECT n_name AS key, n_nationkey AS value FROM nation",
)
def kv_swap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys/Values/KvSwap (beam/transforms/util.py:173-183) — pure
    projection, no shuffle."""
    from cloud_dataflow_batch_processing_spark.operators import kv_swap

    n = load_tables(spark, sf_dir)["nation"].select(
        F.col("n_nationkey").alias("key"), F.col("n_name").alias("value")
    )
    return kv_swap(n)


# ---------------------------------------------------------------------------
# Grouping / aggregation (GBK / Combine / Count / Mean / Top / Sample)
# ---------------------------------------------------------------------------


@register(
    "group_by_key_lists",
    # r7 window rotation: class long driver-certified (green in
    # CORRECTNESS r02-r06); registers late to free a slot for a
    # class that never saw the driver gate.
    late=True,
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys
    FROM orders GROUP BY o_custkey
    """,
)
def group_by_key_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupByKey with the grouped iterable itself as output
    (beam/transforms/core.py:1344-1412; used dataflow_pipeline.py:203).
    Sorted + stringified for a deterministic oracle comparison."""
    from cloud_dataflow_batch_processing_spark.operators import group_by_key

    o = load_tables(spark, sf_dir)["orders"]
    g = group_by_key(o, "o_custkey", "o_orderkey", out="ks")
    return g.select(
        "o_custkey",
        F.array_join(F.transform("ks", lambda x: x.cast("string")), ",").alias("order_keys"),
    )


@register(
    "group_count_distinct",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_custs
    FROM orders GROUP BY o_orderpriority
    """,
)
def group_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count.PerKey (beam/transforms/combiners.py:116) plus
    count-distinct — a capability the reference lacks entirely
    (SURVEY.md §2.2 'notably absent'); native two-phase agg in Spark."""
    o = load_tables(spark, sf_dir)["orders"]
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


@register(
    "group_mean",
    # Mean.PerKey's decimal-exact mean pattern is driver-checked via
    # q1_pricing_summary's avg_qty/avg_disc columns; this single-agg
    # variant registers late.
    late=True,
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal,
           COUNT(*) AS n
    FROM customer GROUP BY c_mktsegment
    """,
)
def group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean.PerKey (beam/transforms/combiners.py:68-104) — computed as
    exact decimal sum / count so the value is order-independent."""
    c = load_tables(spark, sf_dir)["customer"]
    return c.groupBy("c_mktsegment").agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "count_per_element",
    oracle="SELECT event_type, COUNT(*) AS count FROM events GROUP BY event_type",
    # Count class stays driver-checked via group_count_distinct; this
    # variant registers late to keep the 50-entry window for distinct
    # operator classes.
    late=True,
)
def count_per_element_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count.PerElement (beam/transforms/combiners.py:122)."""
    from cloud_dataflow_batch_processing_spark.operators import count_per_element

    return count_per_element(load_tables(spark, sf_dir)["events"], "event_type")


@register(
    "top_n_global",
    # r7 window rotation: class long driver-certified (green in
    # CORRECTNESS r02-r06); registers late to free a slot for a
    # class that never saw the driver gate.
    late=True,
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def top_n_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top.Of / Largest (beam/transforms/combiners.py:160,223). Plans as
    TakeOrderedAndProject: per-partition bounded heap + driver merge —
    the parallel twin of TopCombineFn's pruned buffer (:248-365)."""
    from cloud_dataflow_batch_processing_spark.operators import top_largest

    o = load_tables(spark, sf_dir)["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    return top_largest(o, 10, F.desc("o_totalprice"), F.asc("o_orderkey"))


@register(
    "top_n_per_key",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      FROM lineitem) t WHERE rn <= 2
    """,
    # Top class stays driver-checked via top_n_global (which also
    # carries the TakeOrderedAndProject plan pin); registers late.
    late=True,
)
def top_n_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top.PerKey (beam/transforms/combiners.py:189) via window
    row_number — one shuffle on the key, streams hot keys instead of
    materializing per-key lists."""
    from cloud_dataflow_batch_processing_spark.operators import top_largest_per_key

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return top_largest_per_key(
        li, "l_orderkey", 2, F.desc("l_extendedprice"), F.asc("l_linenumber")
    )


@register(
    "sample_deterministic",
    # r7 window rotation: class long driver-certified (green in
    # CORRECTNESS r02-r06); registers late to free a slot for a
    # class that never saw the driver gate.
    late=True,
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey % 97 = 0",
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample.FixedSizeGlobally's oracle-checkable stand-in: a
    deterministic systematic sample (key mod). The random-key variant
    (beam/transforms/combiners.py:386-422) is `operators.sample_fixed`
    and is covered by unit tests instead (nondeterministic across
    engines by nature)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.filter(F.col("l_orderkey") % 97 == 0).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "to_dict_global",
    oracle="""
    SELECT n_nationkey AS key, n_name AS value FROM nation
    """,
    # Redundant with kv_swap's projection shape driver-side; the map
    # itself is unit-tested. Registered after the primary 50.
    late=True,
)
def to_dict_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ToDict (beam/transforms/combiners.py:506) — represented
    relationally as its entry set (a map column is not hash-comparable
    across engines; the map itself is exercised in unit tests)."""
    n = load_tables(spark, sf_dir)["nation"]
    return n.select(F.col("n_nationkey").alias("key"), F.col("n_name").alias("value"))


# ---------------------------------------------------------------------------
# CoGroupByKey / joins / side inputs
# ---------------------------------------------------------------------------


@register(
    "cogroup_by_key",
    oracle="""
    WITH lg AS (SELECT o_orderkey AS key,
                       array_to_string(list_sort(list(CAST(o_custkey AS VARCHAR))), ',') AS left_vals
                FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1),
         rg AS (SELECT l_orderkey AS key,
                       array_to_string(list_sort(list(CAST(l_partkey AS VARCHAR))), ',') AS right_vals
                FROM lineitem GROUP BY 1)
    SELECT key,
           COALESCE(left_vals, '') AS left_vals,
           COALESCE(right_vals, '') AS right_vals
    FROM lg FULL OUTER JOIN rg USING (key)
    """,
)
def cogroup_by_key_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CoGroupByKey (beam/transforms/util.py:63-170): per-side grouped
    lists, full outer join, empty list for missing sides (util.py:87-90
    — here the left side is filtered so some keys exist only rightward).
    Lists stringified for the cross-engine hash."""
    from cloud_dataflow_batch_processing_spark.operators import cogroup_by_key

    t = load_tables(spark, sf_dir)
    left = (
        t["orders"]
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(F.col("o_orderkey").alias("key"), F.col("o_custkey").cast("string").alias("v"))
    )
    right = t["lineitem"].select(
        F.col("l_orderkey").alias("key"), F.col("l_partkey").cast("string").alias("v")
    )
    cg = cogroup_by_key(left, right, "key", "v", "v", "left_vals", "right_vals")
    return cg.select(
        "key",
        F.array_join("left_vals", ",").alias("left_vals"),
        F.array_join("right_vals", ",").alias("right_vals"),
    )


@register(
    "broadcast_dim_join",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    headline=True,
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-input join (AsDict idiom, beam/pvalue.py:485 →
    broadcast-hash-join): facts join broadcast dims, then keyed combine.
    nation is explicitly broadcast; customer is left to AQE (it stops
    being broadcastable at real scale)."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Headline analytics (capability supersets: full agg + join pipelines)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the full CombinePerKey battery
    (sum/avg/count) with decimal-exact, order-independent aggregates.
    One scan, one shuffle, all codegen."""
    li = load_tables(spark, sf_dir)["lineitem"]
    n = F.count(F.lit(1))
    # l_shipdate is TimestampNTZ (parquet timestamp[ms]); the literal
    # must be NTZ too — an LTZ literal would wrap the column in a
    # timezone cast and block parquet filter pushdown (row-group
    # skipping at scale). Pinned by test_q1_filter_pushdown.
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (1 - F.col("l_discount")).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(_dec("l_quantity")).cast("double") / n).alias("avg_qty"),
            (F.sum(_dec("l_discount")).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "events_json_extract",
    # r7 window rotation: class long driver-certified (green in
    # CORRECTNESS r02-r06); registers late to free a slot for a
    # class that never saw the driver gate.
    late=True,
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                          THEN json_extract_string(props, '$.k') END AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: JSON property extraction + keyed combine.
    (Beam's dict-elements idiom → typed JSON functions in Spark.)"""
    e = load_tables(spark, sf_dir)["events"]
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# Submodule registries (imported at the end so `register` exists; the
# circular import is intentional and safe — only `register`/`REGISTRY`
# are needed by the submodules and both are bound above).
def _load_submodule_registries() -> None:
    from cloud_dataflow_batch_processing_spark import queries_text  # noqa: F401

    from cloud_dataflow_batch_processing_spark import queries_dedup  # noqa: F401
    from cloud_dataflow_batch_processing_spark import queries_more  # noqa: F401
    from cloud_dataflow_batch_processing_spark import queries_similarity  # noqa: F401
    from cloud_dataflow_batch_processing_spark import queries_temporal  # noqa: F401
    from cloud_dataflow_batch_processing_spark import queries_streaming  # noqa: F401
    from cloud_dataflow_batch_processing_spark import queries_io  # noqa: F401
    from cloud_dataflow_batch_processing_spark import queries_multimodal  # noqa: F401
    from cloud_dataflow_batch_processing_spark import queries_tpch  # noqa: F401


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_submodule_registries()
    return {q.name: q.fn for q in _ordered()}


def oracle_sql() -> dict[str, str]:
    _load_submodule_registries()
    return {q.name: q.oracle.strip() for q in _ordered() if q.oracle}


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_submodule_registries()
    return {q.name: q.fn for q in _ordered() if q.headline}

"""Operator unit tests in the Beam assert_that idiom
(SURVEY.md §5: beam/testing/util.py patterns)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cloud_dataflow_batch_processing_spark import operators as ops
from cloud_dataflow_batch_processing_spark.operators.combiners import (
    CombineFn,
    combine_per_key_udaf,
)
from cloud_dataflow_batch_processing_spark.operators.pardo import DoFn, par_do
from cloud_dataflow_batch_processing_spark.sources.create import create
from cloud_dataflow_batch_processing_spark.testing import assert_that, equal_to, is_empty


@pytest.fixture()
def kv(spark):
    return create(
        spark,
        [("a", 1), ("a", 3), ("b", 2), ("c", 5), ("a", 2)],
        schema=["key", "value"],
    )


def test_group_by_key(spark, kv):
    out = ops.group_by_key(kv, "key", "value")
    assert_that(out, equal_to([("a", [1, 2, 3]), ("b", [2]), ("c", [5])]))


def test_cogroup_by_key_empty_sides(spark, kv):
    right = create(spark, [("a", 10), ("d", 40)], schema=["key", "value"])
    out = ops.cogroup_by_key(kv, right, "key", "value", "value")
    assert_that(
        out,
        equal_to(
            [
                ("a", [1, 2, 3], [10]),
                ("b", [2], []),
                ("c", [5], []),
                ("d", [], [40]),  # empty-list semantics, util.py:87-90
            ]
        ),
    )


def test_partition_routes_all_rows(spark, kv):
    parts = ops.partition_by(kv, F.col("value") % 2, 2)
    assert_that(parts[0], equal_to([("a", 2), ("b", 2)]))
    assert_that(parts[1], equal_to([("a", 1), ("a", 3), ("c", 5)]))


def test_flatten_keys_values_kvswap(spark, kv):
    doubled = ops.flatten(kv, kv)
    assert doubled.count() == 10
    assert_that(ops.keys(kv).distinct(), equal_to([("a",), ("b",), ("c",)]))
    assert_that(
        ops.kv_swap(kv).filter("value = 'b'"), equal_to([(2, "b")])
    )


def test_remove_duplicates(spark):
    df = create(spark, [1, 2, 2, 3, 3, 3], schema=["value"])
    assert_that(ops.remove_duplicates(df), equal_to([(1,), (2,), (3,)]))


def test_with_tags_multi_output(spark, kv):
    tagged = ops.with_tags(
        kv, F.when(F.col("value") >= 3, "big").otherwise("small"), ["big", "small"]
    )
    assert_that(tagged["big"], equal_to([("a", 3), ("c", 5)]))
    assert tagged["small"].count() == 3


def test_top_and_sample(spark, kv):
    assert_that(
        ops.top_largest(kv, 2, F.desc("value")), equal_to([("c", 5), ("a", 3)])
    )
    per_key = ops.top_largest_per_key(kv, "key", 1, F.desc("value"))
    assert_that(per_key, equal_to([("a", 3), ("b", 2), ("c", 5)]))
    sample = ops.sample_fixed(kv, 2, seed=7)
    assert sample.count() == 2


def test_to_list_to_dict(spark, kv):
    row = ops.to_list(kv, "value").head()
    assert row[0] == [1, 2, 2, 3, 5]
    mapping = ops.to_dict(kv.dropDuplicates(["key"]), "key", "value").head()[0]
    assert mapping["a"] in (1, 2, 3) and set(mapping) == {"a", "b", "c"}


def test_combine_fn_udaf(spark, kv):
    class SumOfSquares(CombineFn):
        def create_accumulator(self):
            return 0

        def add_input(self, acc, v):
            return acc + v * v

        def merge_accumulators(self, accs):
            return sum(accs)

        def extract_output(self, acc):
            return acc

    out = combine_per_key_udaf(kv, "key", "value", SumOfSquares(), T.LongType(), out="ssq")
    assert_that(out, equal_to([("a", 14), ("b", 4), ("c", 25)]))


def test_combine_fn_lifted_partials(spark):
    """Combiner lifting (beam/runners/direct/helper_transforms.py:28-105
    parity): a hot key's raw rows are partially aggregated on their own
    partitions — only per-(partition, key) accumulators cross the
    shuffle, so the final task for the key merges a bounded number of
    accumulators instead of seeing every row."""
    from cloud_dataflow_batch_processing_spark.operators.combiners import (
        partial_accumulators,
    )

    class SumFn(CombineFn):
        def create_accumulator(self):
            return 0

        def add_input(self, acc, v):
            return acc + int(v)

        def merge_accumulators(self, accs):
            return sum(accs)

        def extract_output(self, acc):
            return acc

    n_parts = 8
    # One massively hot key spread over all partitions + a cold key.
    df = (
        spark.range(10_000)
        .selectExpr("CASE WHEN id < 9990 THEN 'hot' ELSE 'cold' END AS key", "id AS value")
        .repartition(n_parts)
    )
    partials = partial_accumulators(df, "key", "value", SumFn()).cache()
    try:
        per_key = {r["key"]: r["n"] for r in partials.groupBy("key").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        # The hot key produced one accumulator per partition it touched —
        # strictly more than 1 (rows were NOT colocated) and at most
        # n_parts (map-side combine collapsed rows within each partition).
        assert 1 < per_key["hot"] <= n_parts
        # End-to-end result matches the exact sums.
        out = combine_per_key_udaf(df, "key", "value", SumFn(), T.LongType(), out="s")
        got = {r["key"]: r["s"] for r in out.collect()}
        assert got == {"hot": sum(range(9990)), "cold": sum(range(9990, 10_000))}
    finally:
        partials.unpersist()


def test_combine_fn_null_skipped_nan_propagates(spark):
    """ADVICE r8: the UDAF's NULL skip must read the plan-side validity
    mask, not a `v != v` guard — a genuine NaN INPUT is a value, not a
    NULL, and must reach add_input exactly as Spark's native aggregates
    propagate NaN. NULLs still contribute nothing (the group exists
    with the identity accumulator), matching SQL aggregate semantics."""
    import math

    from cloud_dataflow_batch_processing_spark.operators.combiners import (
        combine_per_key_udaf,
    )

    class SumFn(CombineFn):
        def create_accumulator(self):
            return 0.0

        def add_input(self, acc, v):
            return acc + v

        def merge_accumulators(self, accs):
            return sum(accs)

        def extract_output(self, acc):
            return acc

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 2.0),
         ("nankey", float("nan")), ("nankey", 1.0),
         ("nullonly", None)],
        "key string, value double",
    )
    out = combine_per_key_udaf(df, "key", "value", SumFn(), T.DoubleType(), out="s")
    got = {r["key"]: r["s"] for r in out.collect()}
    native = {
        r["key"]: r["s"]
        for r in df.groupBy("key").agg(F.sum("value").alias("s")).collect()
    }
    assert got["a"] == native["a"] == 3.0  # NULL skipped
    assert math.isnan(got["nankey"]) and math.isnan(native["nankey"])  # NaN propagates
    assert got["nullonly"] == 0.0  # identity accumulator, group exists


def test_par_do_lifecycle(spark, kv):
    class ExplodeRange(DoFn):
        def __init__(self):
            self.bundles = 0

        def start_bundle(self):
            self.bundles += 1

        def process(self, element):
            for i in range(element["value"]):
                yield {"key": element["key"], "i": i}

    schema = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("i", T.IntegerType())]
    )
    out = par_do(kv, ExplodeRange(), schema)
    assert out.count() == 1 + 3 + 2 + 5 + 2
    assert_that(out.filter("key = 'b'"), equal_to([("b", 0), ("b", 1)]))


def test_side_inputs(spark, kv):
    singleton = ops.as_singleton(create(spark, [42], schema=["v"]))
    assert singleton == 42
    d = ops.as_dict(create(spark, [("x", 1), ("y", 2)], schema=["k", "v"]))
    assert d == {"x": 1, "y": 2}
    with pytest.raises(ValueError):
        ops.as_singleton(kv)


def test_broadcast_join_plan_is_broadcast(spark, kv):
    dim = create(spark, [("a", "alpha"), ("b", "beta")], schema=["key", "name"])
    out = ops.broadcast_join(kv, dim, on="key")
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() == 4


def test_is_empty(spark, kv):
    assert_that(kv.filter("value > 99"), is_empty())


def test_simhash_near_dup_pairs(spark):
    """Pigeonhole banding: identical docs are found; a doc pair differing
    in most tokens is not (hamming > threshold)."""
    from cloud_dataflow_batch_processing_spark.extensions.dedup import (
        simhash_near_dup_pairs,
    )

    docs = create(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different words entirely unrelated content here now"),
        ],
        schema=["doc_id", "text"],
    )
    pairs = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert got.get((1, 2)) == 0
    assert (1, 3) not in got and (2, 3) not in got


def test_combine_fn_with_side_input_closure(spark, kv):
    """CombineFn parameterized by a side input (SURVEY §7 hard-part 3:
    the common closure case of Beam's _CurriedFn / side-input args,
    beam/transforms/combiners.py:544) — the parameter rides into the
    UDAF as a captured broadcast value."""
    threshold = spark.sparkContext.broadcast(2)

    class CountAbove(CombineFn):
        def create_accumulator(self):
            return 0

        def add_input(self, acc, v):
            return acc + (1 if v > threshold.value else 0)

        def merge_accumulators(self, accs):
            return sum(accs)

        def extract_output(self, acc):
            return acc

    out = combine_per_key_udaf(kv, "key", "value", CountAbove(), T.LongType(), out="n_above")
    assert_that(out, equal_to([("a", 1), ("b", 0), ("c", 1)]))


def test_managed_caches_released(spark, kv):
    """Unpersist discipline (VERDICT r1 #4): repeated invocations of
    cache-backed operators must not grow executor storage once the
    caller releases at its boundary."""
    from cloud_dataflow_batch_processing_spark.caching import (
        managed_cache_count,
        release_managed_caches,
    )

    release_managed_caches()
    sc = spark.sparkContext
    base_persisted = sc._jsc.getPersistentRDDs().size()
    for _ in range(3):
        branches = ops.partition_by(kv, F.col("value") % 2, 2)
        assert sum(b.count() for b in branches) == kv.count()
        tags = ops.with_tags(kv, F.lit("x"), ["x"])
        assert tags["x"].count() == kv.count()
    assert managed_cache_count() == 6  # 3 iterations x 2 operators
    released = release_managed_caches()
    assert released == 6
    assert managed_cache_count() == 0
    assert sc._jsc.getPersistentRDDs().size() <= base_persisted


# ---------------------------------------------------------------------------
# Connected components (duplicate-cluster resolution)
# ---------------------------------------------------------------------------


def _cc(spark, edges, max_iter=25):
    from cloud_dataflow_batch_processing_spark.extensions.dedup import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "a long, b long")
    out = connected_components(df, "a", "b", max_iter=max_iter)
    return {r["node"]: r["comp"] for r in out.collect()}


def test_connected_components_path_chain(spark):
    # A 16-node path is the pointer-jumping stress case: plain min-label
    # propagation needs 15 rounds; with path compression it must finish
    # well inside max_iter=8.
    edges = [(i, i + 1) for i in range(1, 16)]
    got = _cc(spark, edges, max_iter=8)
    assert got == {i: 1 for i in range(1, 17)}


def test_connected_components_disjoint_and_triangle(spark):
    # Two disjoint clusters: a triangle {2,5,9} and a pair {30,40}; the
    # component id is the minimum member, regardless of edge direction.
    edges = [(5, 2), (9, 5), (2, 9), (40, 30)]
    got = _cc(spark, edges)
    assert got == {2: 2, 5: 2, 9: 2, 30: 30, 40: 30}


def test_connected_components_empty_edges(spark):
    got = _cc(spark, [], max_iter=3)
    assert got == {}


def test_duplicate_clusters_transitive_closure(spark):
    # Three documents where A~B and B~C overlap above threshold but the
    # pairwise A,C Jaccard may be anything: all three must land in ONE
    # cluster with exactly one canonical survivor (the pair-wise
    # "drop doc_b" shortcut would over- or under-drop here).
    from cloud_dataflow_batch_processing_spark.extensions.dedup import (
        duplicate_clusters,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base + " alpha beta gamma delta"),
        (2, base + " alpha beta gamma"),
        (3, base + " alpha beta"),
        (10, "completely unrelated text about spark catalyst optimizer plans"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_clusters(df, "doc_id", "text", threshold=0.6).collect()
    by_doc = {r["doc_id"]: r for r in out}
    assert set(by_doc) == {1, 2, 3}
    assert {r["component_id"] for r in by_doc.values()} == {1}
    assert [d for d, r in by_doc.items() if r["is_canonical"]] == [1]
    assert all(r["cluster_size"] == 3 for r in by_doc.values())


def test_bloom_filter_no_false_negatives_and_known_fp(spark):
    """Bloom membership: every member probes true (structural — no
    false negatives), and a deterministically-found non-member whose
    positions all collide with member bits probes true as a false
    positive (proving the probe actually reads the shared bit array,
    not an exact set)."""
    import numpy as np

    from cloud_dataflow_batch_processing_spark.extensions import sketch as S

    members = [101, 2002, 30003, 400004]
    m_bits, k = 64, 3  # tiny filter so false positives are findable
    bits = S.bloom_bits(members, m_bits, k)
    set_pos = {
        p for v in members for p in S.bloom_positions(v % S.P, m_bits, k)
    }
    fp_value = next(
        x
        for x in range(1, 100_000)
        if x not in members
        and all(p in set_pos for p in S.bloom_positions(x % S.P, m_bits, k))
    )
    tn_value = next(
        x
        for x in range(1, 100_000)
        if x not in members
        and any(p not in set_pos for p in S.bloom_positions(x % S.P, m_bits, k))
    )
    df = spark.createDataFrame(
        [(v,) for v in members + [fp_value, tn_value]], "v long"
    )
    got = {
        r["v"]: r["hit"]
        for r in df.select(
            "v", S.bloom_might_contain(df, "v", bits, m_bits, k).alias("hit")
        ).collect()
    }
    assert all(got[v] for v in members)
    assert got[fp_value] is True
    assert got[tn_value] is False


def test_countmin_one_sided_and_exact_when_wide(spark):
    """CMS guarantee: est >= true for EVERY key (one-sided error), and
    with width >> n_keys the estimates are exact."""
    from cloud_dataflow_batch_processing_spark.extensions.sketch import (
        countmin_estimate,
        countmin_sketch,
    )

    rows = [(i % 13,) for i in range(500)] + [(7,)] * 40  # skewed key 7
    df = spark.createDataFrame(rows, ["k"])
    true = {r["k"]: r["c"] for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()}
    keys = df.select("k").distinct()
    for width in (8, 4096):  # narrow (collisions) and wide (exact)
        sk = countmin_sketch(df, F.col("k"), depth=4, width=width)
        est = {
            r["k"]: r["est_count"]
            for r in countmin_estimate(sk, keys, "k", depth=4, width=width).collect()
        }
        assert set(est) == set(true)
        assert all(est[k] >= true[k] for k in true), (width, est, true)
        if width == 4096:
            assert est == true


def test_countmin_null_keys_excluded(spark):
    """ADVICE r3: NULL keys must not inflate the sketch (NULL bucket
    counters) nor break est >= true — both sides drop NULLs, and
    non-null estimates are unaffected by NULL rows in the input."""
    from cloud_dataflow_batch_processing_spark.extensions.sketch import (
        countmin_estimate,
        countmin_sketch,
    )

    clean = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    dirty = spark.createDataFrame([(1,), (None,), (1,), (None,), (2,)], "k long")
    sk_clean = countmin_sketch(clean, F.col("k"), depth=3, width=64)
    sk_dirty = countmin_sketch(dirty, F.col("k"), depth=3, width=64)
    # Identical counter tables: the NULL rows contribute nothing.
    assert sorted(map(tuple, sk_clean.collect())) == sorted(map(tuple, sk_dirty.collect()))
    assert sk_dirty.filter(F.col("bucket").isNull()).count() == 0

    keys = spark.createDataFrame([(1,), (2,), (None,)], "k long")
    est = {
        r["k"]: r["est_count"]
        for r in countmin_estimate(sk_dirty, keys, "k", depth=3, width=64).collect()
    }
    assert est == {1: 2, 2: 1}  # NULL probe dropped, not estimated as 0


def test_table_fingerprint_order_and_partition_invariant(spark, sf_dir):
    """The checksum must not depend on row order or partitioning —
    that's the whole point of an anti-entropy fingerprint."""
    from cloud_dataflow_batch_processing_spark.queries import REGISTRY, queries

    queries()
    base = {r["l_returnflag"]: r["fingerprint"]
            for r in REGISTRY["table_fingerprint"].fn(spark, sf_dir).collect()}

    from cloud_dataflow_batch_processing_spark.sources.testdata import load_tables

    li = load_tables(spark, sf_dir)["lineitem"].repartition(17).sortWithinPartitions(
        F.desc("l_partkey")
    )
    P = 1_000_000_007
    row_hash = (
        (
            ((F.col("l_orderkey") % P) * 31 + F.col("l_linenumber")) % P * 31
            + (F.col("l_partkey") % P)
        )
        % P
        * 31
        + F.col("l_quantity").cast("bigint")
    ) % P
    scrambled = {
        r["l_returnflag"]: r["fingerprint"]
        for r in li.select("l_returnflag", row_hash.alias("h"))
        .groupBy("l_returnflag")
        .agg((F.sum(F.col("h").cast("decimal(38,0)")) % P).cast("bigint").alias("fingerprint"))
        .collect()
    }
    assert scrambled == base


def test_udtf_split_segments_semantics(spark):
    """Native Spark-4 UDTF via SQL LATERAL: zero-to-many rows per
    input, empty-text yields one empty segment, NULL text yields none."""
    from cloud_dataflow_batch_processing_spark.operators.py_udtf import register_udtfs

    register_udtfs(spark)
    df = spark.createDataFrame(
        [(1, "a b. c"), (2, ""), (3, None)], ["id", "txt"]
    )
    df.createOrReplaceTempView("__udtf_t")
    got = spark.sql(
        "SELECT id, s.seg_idx, s.segment, s.n_tokens "
        "FROM __udtf_t, LATERAL split_segments(txt, '. ') s"
    ).collect()
    rows = sorted((r["id"], r["seg_idx"], r["segment"], r["n_tokens"]) for r in got)
    assert rows == [(1, 0, "a b", 2), (1, 1, "c", 1), (2, 0, "", 0)]


def test_snapshot_diff_semantics(spark):
    from cloud_dataflow_batch_processing_spark.extensions.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], ["k", "v"]
    )
    new = spark.createDataFrame(
        [(1, 10), (2, 99), (4, 40)], ["k", "v"]  # 1 same, 2 changed, 3 removed, 4 added
    )
    out = {r["k"]: r["change"] for r in snapshot_diff(old, new, ["k"], [F.col("v")]).collect()}
    assert out == {2: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_null_columns(spark):
    """ADVICE r3: a NULL compare column must fold into a deterministic
    signature, not null the hash — NULL==NULL rows are unchanged,
    NULL→value is 'changed', NULL is distinct from literal 0, and a
    both-sides row can still be 'removed'."""
    from cloud_dataflow_batch_processing_spark.extensions.diff import (
        row_signature,
        row_signature_sql,
        snapshot_diff,
    )

    schema = "k long, v long"
    old = spark.createDataFrame([(1, None), (2, None), (3, 0), (5, None)], schema)
    new = spark.createDataFrame([(1, None), (2, 7), (3, None), (4, None)], schema)
    out = {r["k"]: r["change"] for r in snapshot_diff(old, new, ["k"], [F.col("v")]).collect()}
    # 1: NULL→NULL unchanged (absent); 2: NULL→7 changed; 3: 0→NULL
    # changed (NULL != 0); 4 added; 5 removed (impossible pre-fix).
    assert out == {2: "changed", 3: "changed", 4: "added", 5: "removed"}

    # The SQL twin produces the identical signatures, including for NULL.
    import duckdb

    spark_sigs = sorted(
        (r["k"], r["sig"])
        for r in old.select("k", row_signature([F.col("v")]).alias("sig")).collect()
    )
    duck_sigs = sorted(
        duckdb.sql(
            "SELECT k, " + row_signature_sql(["v"]) + " AS sig FROM (VALUES "
            "(1, NULL), (2, NULL), (3, 0), (5, NULL)) t(k, v)"
        ).fetchall()
    )
    assert spark_sigs == [(k, int(s)) for k, s in duck_sigs]


@pytest.mark.slowsweep
def test_incremental_minhash_equals_full_run(spark, sf_dir):
    """Incremental dedup (probe = new batch against the signature
    store) must produce exactly the full re-run's pairs restricted to
    pairs touching the batch (doc_a < doc_b => touching-new <=>
    doc_b >= split)."""
    from cloud_dataflow_batch_processing_spark.extensions import dedup as D
    from cloud_dataflow_batch_processing_spark.sources.testdata import load_tables

    split = 40
    d = load_tables(spark, sf_dir)["documents"]
    full = D.minhash_near_dup_pairs(d, "doc_id", "text", threshold=0.8)
    want = sorted(
        map(tuple, full.filter(F.col("doc_b") >= split).collect())
    )
    old = D.minhash_signatures(d.filter(F.col("doc_id") < split), "doc_id", "text")
    new = D.minhash_signatures(d.filter(F.col("doc_id") >= split), "doc_id", "text")
    got = sorted(map(tuple, D.incremental_near_dups(old, new, threshold=0.8).collect()))
    assert got == want and len(got) > 0


def test_sketch_mergeability(spark):
    """CMS and Bloom are linear/monoidal: building per shard and
    merging must equal building over the union — the property that
    makes them day/shard-mergeable in a distributed pipeline."""
    import numpy as np

    from cloud_dataflow_batch_processing_spark.extensions.sketch import (
        bloom_bits,
        countmin_merge,
        countmin_sketch,
    )

    a = spark.createDataFrame([(i % 11,) for i in range(200)], ["k"])
    b = spark.createDataFrame([(i % 7,) for i in range(150)], ["k"])
    both = a.unionByName(b)
    sk = lambda df: countmin_sketch(df, F.col("k"), depth=3, width=32)
    merged = {
        (r["row_i"], r["bucket"]): r["cnt"] for r in countmin_merge(sk(a), sk(b)).collect()
    }
    direct = {(r["row_i"], r["bucket"]): r["cnt"] for r in sk(both).collect()}
    assert merged == direct

    ba = bloom_bits(range(0, 50), m_bits=512, k=3)
    bb = bloom_bits(range(40, 90), m_bits=512, k=3)
    assert np.array_equal(ba | bb, bloom_bits(range(0, 90), m_bits=512, k=3))


def test_fuzzy_blocked_pairs_second_block_recall(spark):
    """VERDICT r3 #6: first-token blocking must recover pairs that
    differ in their LAST token (invisible to last-token blocking),
    without duplicating pairs found by both blocks."""
    from cloud_dataflow_batch_processing_spark.extensions.dedup import fuzzy_blocked_pairs

    names = spark.createDataFrame(
        [("alpha red",), ("alpha blue",),   # share FIRST token only, lev 4
         ("dark green",), ("dusk green",),  # share LAST token only, lev 3
         ("alpha green",),                  # bridges both blocks
         ("omega far",)],                   # matches nothing within 5
        "name string",
    )
    out = {(r["name_a"], r["name_b"]): r["dist"] for r in fuzzy_blocked_pairs(names).collect()}
    assert ("alpha blue", "alpha red") in out          # new: first-token block
    assert ("dark green", "dusk green") in out         # old: last-token block
    assert out[("alpha blue", "alpha red")] == 4
    # both-block candidates appear exactly once (dict above would hide
    # dupes, so count rows too)
    rows = fuzzy_blocked_pairs(names).collect()
    assert len(rows) == len(set((r["name_a"], r["name_b"]) for r in rows))
    assert all("omega far" not in (r["name_a"], r["name_b"]) for r in rows)


def test_scale_docs_generator_deterministic():
    """The sf1-equivalent bench corpus must be byte-reproducible so
    BENCH numbers are comparable round over round."""
    from scripts.gen_scale_docs import N_DOCS, _gen_rows

    a = _gen_rows(2000)
    b = _gen_rows(2000)
    assert a == b
    assert len({r[1] for r in a}) < 2000  # exact dups are planted
    assert N_DOCS == 50_000


def test_hll_register_table_accepts_expression_key(spark):
    """ADVICE r4: key_col is documented as any SQL expression string —
    the NULL filter must resolve it with F.expr, not F.col."""
    from cloud_dataflow_batch_processing_spark.extensions.sketch import (
        hll_estimate,
        hll_register_table,
    )

    df = spark.createDataFrame([(i,) for i in range(200)] + [(None,)], "k long")
    regs = hll_register_table(df, "(k * 2 + 1)")  # expression, not a column name
    est = hll_estimate(regs).collect()[0]["est"]
    assert 150 <= est <= 260  # coarse: the point is it runs and is sane


@pytest.mark.slowsweep
def test_store_scratch_released_with_caches(spark, tmp_path):
    """Scratch lifecycle (VERDICT r5/r6 #5): dedup's bucketed signature
    store registers its <uuid> scratch dir and catalog table, and
    release_managed_caches() deletes both — N invocations leave ZERO
    orphan directories or tables after the caller's release boundary."""
    import os

    from cloud_dataflow_batch_processing_spark.caching import (
        managed_scratch_count,
        release_managed_caches,
    )
    from cloud_dataflow_batch_processing_spark.extensions import dedup as D

    def store_tables():
        return [t.name for t in spark.catalog.listTables() if t.name.startswith("sigs_bkt_")]

    release_managed_caches()
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + str(i % 3))
         for i in range(12)],
        "doc_id long, text string",
    )
    scratch_root = str(tmp_path / "sigs_bkt")
    for _ in range(3):
        pairs = D.minhash_near_dup_pairs(docs, "doc_id", "text", scratch_dir=scratch_root)
        pairs.count()  # consume before the release boundary
    assert managed_scratch_count() == 3
    assert len(os.listdir(scratch_root)) == 3  # one <uuid> dir per run
    assert len(store_tables()) == 3
    release_managed_caches()
    assert managed_scratch_count() == 0
    remaining = os.listdir(scratch_root) if os.path.isdir(scratch_root) else []
    assert remaining == []
    assert store_tables() == []


@pytest.mark.parametrize("store", ["minhash", "substring"])
def test_scratch_dir_alone_selects_the_bucketed_store(spark, tmp_path, store):
    """The dedup stores' one storage rule (caching.managed_store): with
    a scratch_dir and no other option the store plans as a bucketed
    table scan; without one, as an in-memory cache scan."""
    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
    from cloud_dataflow_batch_processing_spark.extensions import dedup as D
    from cloud_dataflow_batch_processing_spark.extensions import substring as SS

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j % (4 + i % 3)}" for j in range(12))) for i in range(16)],
        "doc_id long, text string",
    )

    def plan(**kw):
        if store == "minhash":
            df = D.minhash_near_dup_pairs(docs, "doc_id", "text", **kw)
        else:
            df = SS.remove_intervals(docs, **kw)
        return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    release_managed_caches()
    try:
        cached = plan()
        release_managed_caches()
        bucketed = plan(scratch_dir=str(tmp_path / store))
    finally:
        release_managed_caches()
    assert "InMemoryTableScan" in cached and "Bucketed: true" not in cached
    assert "Bucketed: true" in bucketed and "InMemoryTableScan" not in bucketed


@pytest.mark.slowsweep
def test_minhash_bucketed_store_parity_and_plan(spark, tmp_path, tables):
    """The bucketed signature store a scratch_dir selects (VERDICT
    r9 #6): same pairs as the cached store, and the wide fetch joins consume the signature store's bucket
    distribution — the shingle arrays never re-exchange (only narrow
    candidate-side exchanges remain). Store + table follow the managed
    lifecycle."""
    import re

    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
    from cloud_dataflow_batch_processing_spark.extensions import dedup as D

    docs = tables["documents"]
    ref = sorted(
        map(tuple, D.minhash_near_dup_pairs(docs, "doc_id", "text").collect())
    )
    release_managed_caches()
    bkt = D.minhash_near_dup_pairs(
        docs, "doc_id", "text", scratch_dir=str(tmp_path / "sigs_bkt")
    )
    assert sorted(map(tuple, bkt.collect())) == ref
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        bkt._jdf.queryExecution(), "formatted"
    )
    # The bucketed scan is recognized (bucket pruning/distribution on),
    # and no shuffle exchange carries the wide __sh column.
    assert "Bucketed: true" in plan
    for m in re.finditer(r"Exchange (?:hash|range|Single)[^\n]*", plan):
        assert "__sh" not in m.group(0), f"wide exchange: {m.group(0)[:120]}"
    release_managed_caches()

"""Scale-posture plan tests (SURVEY.md §7 hard-part 5): pushdown,
pruning, broadcast choice, shuffle counts — regressions here are
100 TB cost bugs even when results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloud_dataflow_batch_processing_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_read_schema_pruned,
    count_shuffles,
)
from cloud_dataflow_batch_processing_spark.queries import REGISTRY, queries

queries()


def test_filter_pushdown_reaches_scan(tables):
    df = tables["lineitem"].filter(F.col("l_quantity") < 5).select("l_orderkey")
    assert_pushed_filters(df, "LessThan(l_quantity,5.0)")


def test_projection_prunes_scan(tables):
    # flagship projects 2 of 11 lineitem columns — the scan must too
    # (the reference does this by hand at dataflow_pipeline.py:199-200;
    # Catalyst must do it for us).
    df = tables["lineitem"].select("l_returnflag", "l_quantity")
    assert_read_schema_pruned(df, "lineitem", 2)


def test_flagship_scan_pruned(spark, sf_dir):
    df = REGISTRY["flagship_group_sum"].fn(spark, sf_dir)
    assert_read_schema_pruned(df, "lineitem", 2)
    assert count_shuffles(df) == 1  # exactly the groupBy shuffle


def test_q1_single_shuffle(spark, sf_dir):
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)
    assert count_shuffles(df) == 1


def test_q1_filter_pushdown(spark, sf_dir):
    """The shipdate filter must reach the parquet scan: the column is
    TimestampNTZ, so the comparison literal must be NTZ as well (an LTZ
    literal inserts a tz cast above the scan and kills pushdown)."""
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)
    assert_pushed_filters(df, "LessThanOrEqual(l_shipdate,")


def test_dim_joins_broadcast_and_no_cartesian(spark, sf_dir):
    df = REGISTRY["multi_table_join_chain"].fn(spark, sf_dir)
    assert_broadcast_join(df, expect=2)  # nation + region
    assert_no_cartesian(df)


def test_topk_uses_bounded_sort(spark, sf_dir):
    from cloud_dataflow_batch_processing_spark.plans import executed_plan

    df = REGISTRY["top_n_global"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in executed_plan(df)


def test_ann_topk_no_corpus_shuffle(spark, sf_dir):
    from cloud_dataflow_batch_processing_spark.plans import executed_plan

    df = REGISTRY["ann_brute_topk"].fn(spark, sf_dir)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    # the only exchange allowed is the final single-partition gather
    assert count_shuffles(df) <= 1


def test_approx_distinct_envelope(spark, sf_dir):
    # The query itself computes the error envelope (|approx-exact|/exact
    # <= 2·rsd) and emits booleans — oracle-checkable and asserted here.
    row = REGISTRY["approx_distinct"].fn(spark, sf_dir).head()
    assert row.orders_in_bound and row.parts_in_bound


def test_partitioned_write_prunes_partitions(spark, tables, tmp_path):
    """Hive-partitioned writes + partition pruning: a filter on the
    partition column must become a PartitionFilter (zero data read from
    other partitions) — the layout tool for time/category-partitioned
    100 TB tables."""
    from cloud_dataflow_batch_processing_spark.plans import executed_plan
    from cloud_dataflow_batch_processing_spark.sources.files import write_parquet

    out = str(tmp_path / "events_by_type")
    write_parquet(tables["events"].drop("ts__ns"), out, partition_by=["event_type"])
    df = spark.read.parquet(out).filter(F.col("event_type") == "click").select("event_id")
    plan = executed_plan(df)
    assert "PartitionFilters: [isnotnull(event_type" in plan or "PartitionFilters: [" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), f"no partition filter: {plan[:1500]}"
    assert df.count() == tables["events"].filter("event_type = 'click'").count()


def test_text_chunks_no_shuffle(spark, sf_dir):
    """Context-window chunking must stay embarrassingly parallel:
    per-row explode + slice, ZERO exchanges — at 100 TB this operator
    must never shuffle the corpus."""
    from cloud_dataflow_batch_processing_spark.plans import count_shuffles

    df = REGISTRY["text_chunks"].fn(spark, sf_dir)
    assert count_shuffles(df) == 0
    assert df.count() > 0


def test_pack_sequences_shuffle_budget(spark, sf_dir):
    """Sequence packing: one exchange for the per-(source, shard)
    running-sum window; the final aggregate's keys are a superset of
    the window's partitioning, so it reuses the exchange. A
    per-whole-source window would put a dominant source through one
    task at 100 TB (VERDICT r2 #2) — the window's hash keys must
    include the bounded shard_id."""
    import re

    from cloud_dataflow_batch_processing_spark.plans import count_shuffles, executed_plan

    df = REGISTRY["pack_sequences"].fn(spark, sf_dir)
    assert count_shuffles(df) <= 2
    plan = executed_plan(df)
    # The window must be partitioned, never a SinglePartition gather.
    assert "SinglePartition" not in plan
    # And its exchange must hash on the bounded shard, not source alone.
    hashes = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("shard_id" in h and "source" in h for h in hashes), hashes
    # Window partitions are bounded: no partition exceeds the shard size.
    from pyspark.sql import functions as F

    sized = REGISTRY["pack_sequences"].fn(spark, sf_dir)
    per_shard_docs = sized.groupBy("source", "shard_id").agg(
        F.sum("n_docs").alias("docs")
    )
    assert per_shard_docs.agg(F.max("docs")).head()[0] <= 128


def test_ivf_partition_pruning(spark, tables, tmp_path):
    """IVF's probe must prune at the FILE level: on a label-partitioned
    layout, the corpus scan's PartitionFilters carry label IN (probe),
    so the other (1 - nprobe/nlist) of the files are never read
    (VERDICT r2 #5). Results must match the broadcast-era semantics."""
    import re

    from cloud_dataflow_batch_processing_spark.extensions.similarity import ivf_topk
    from cloud_dataflow_batch_processing_spark.plans import executed_plan
    from cloud_dataflow_batch_processing_spark.sources.files import write_parquet

    out = str(tmp_path / "emb_by_label")
    write_parquet(tables["embeddings"], out, partition_by=["label"])
    part = spark.read.parquet(out)
    qv = [float(x) for x in tables["embeddings"].filter("vec_id = 0").head()["embedding"]]

    df = ivf_topk(part, qv, 10, nprobe=3)
    plan = executed_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "label" in m.group(1) and " IN " in m.group(1).upper(), (
        m.group(1) if m else plan[:1500]
    )
    # Same answer as running IVF over the unpartitioned frame.
    base = ivf_topk(tables["embeddings"], qv, 10, nprobe=3)
    assert [(r.vec_id, r.cos_sim) for r in df.collect()] == [
        (r.vec_id, r.cos_sim) for r in base.collect()
    ]


def test_lsh_pairs_signature_computed_once(spark, sf_dir):
    """lsh_bucketed_pairs verifies each bucket in ONE grouped pass: the
    8-plane × 64-dim signature fold must be computed once per row and
    never re-derived for a second join side — at 100 TB the fold
    dominates the query (VERDICT r2 #3)."""
    from cloud_dataflow_batch_processing_spark.extensions.similarity import LCG_A
    from cloud_dataflow_batch_processing_spark.plans import count_plan_nodes
    from cloud_dataflow_batch_processing_spark.plans.inspect import iter_plan_nodes

    df = REGISTRY["ann_lsh_pairs"].fn(spark, sf_dir)
    assert count_plan_nodes(df, "FlatMapGroupsInPandas") == 1
    joins = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
             "BroadcastNestedLoopJoin", "CartesianProduct")
    assert count_plan_nodes(df, *joins) == 0
    sig_projects = {
        n.id() for n in iter_plan_nodes(df._jdf.queryExecution().executedPlan())
        if n.nodeName() == "Project" and str(LCG_A) in n.simpleString(10_000)
    }
    assert len(sig_projects) == 1


def test_fan_out_scan_size_gate(spark, tmp_path):
    """fan_out_scan(min_bytes=) is a no-op below the optimizer's size
    estimate gate and hash-repartitions a single-split scan above it."""
    from cloud_dataflow_batch_processing_spark.plans import fan_out_scan

    path = str(tmp_path / "one_split")
    spark.range(1000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert fan_out_scan(df, "id", min_bytes=est + 1) is df
    fanned = fan_out_scan(df, "id", min_bytes=est)
    assert fanned is not df
    assert fanned.rdd.getNumPartitions() == min(4, spark.sparkContext.defaultParallelism)
    assert count_shuffles(fanned) == 1


def test_avro_fallback_read_plan(spark, tmp_path):
    """The pure-Python avro path must be Arrow-batched (MapInPandas
    over a binaryFile scan), never a row-at-a-time Python UDF."""
    from cloud_dataflow_batch_processing_spark.plans import executed_plan
    from cloud_dataflow_batch_processing_spark.sources.files import read_avro, write_avro

    out = str(tmp_path / "plan_avro")
    write_avro(spark.range(20).withColumnRenamed("id", "v"), out)
    back = read_avro(spark, out + "/*.avro")
    plan = executed_plan(back)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time UDF


def test_lifted_combiner_plan_single_exchange(spark):
    """The lifted CombineFn plan: MapInPandas (partial, pre-shuffle) ->
    ONE hash exchange on the key carrying accumulators only ->
    FlatMapGroupsInArrow (final merge — Arrow-native so NaN outputs
    survive, see combiners.py)."""
    from pyspark.sql import types as T

    from cloud_dataflow_batch_processing_spark.operators.combiners import (
        CombineFn,
        combine_per_key_udaf,
    )
    from cloud_dataflow_batch_processing_spark.plans import count_shuffles, executed_plan

    class SumFn(CombineFn):
        def create_accumulator(self):
            return 0

        def add_input(self, acc, v):
            return acc + int(v)

        def merge_accumulators(self, accs):
            return sum(accs)

        def extract_output(self, acc):
            return acc

    df = spark.range(100).selectExpr("CAST(id % 5 AS LONG) AS k", "id AS v")
    out = combine_per_key_udaf(df, "k", "v", SumFn(), T.LongType())
    plan = executed_plan(out)
    assert count_shuffles(out) == 1
    final_node = "FlatMapGroupsInArrow" if "FlatMapGroupsInArrow" in plan else "FlatMapGroupsInPandas"
    assert plan.index("MapInPandas") > plan.index(final_node), (
        "partial MapInPandas must sit BELOW (after in toString order) the final "
        "grouped-merge node, i.e. on the scan side of the exchange"
    )


def test_per_row_quality_queries_zero_shuffle(spark, sf_dir):
    """The per-row quality/preprocessing family (repetition ratios, PII
    scrub, embedding quantize) must stay embarrassingly parallel: pure
    column expressions over one scan, ZERO exchanges, and the row
    filter pushed into the parquet scan — at 100 TB these run as a
    single map stage or they don't run at all."""
    from cloud_dataflow_batch_processing_spark.plans import (
        assert_pushed_filters,
        count_shuffles,
    )

    for name, pushed in [
        ("text_repetition_ratio", "LessThan(doc_id,500)"),
        ("pii_scrub_stats", "LessThan(doc_id,500)"),
        ("embedding_normalize_quantize", "LessThan(vec_id,50)"),
    ]:
        df = REGISTRY[name].fn(spark, sf_dir)
        assert count_shuffles(df) == 0, name
        assert_pushed_filters(df, pushed)


def test_corpus_profile_aggs_single_narrow_shuffle(spark, sf_dir):
    """Split assignment and the token-length histogram aggregate to a
    handful of rows: exactly ONE exchange (the final hash agg, carrying
    map-side partials), with the scan pruned to the columns used."""
    from cloud_dataflow_batch_processing_spark.plans import (
        assert_read_schema_pruned,
        count_shuffles,
    )

    df = REGISTRY["corpus_split_train_val"].fn(spark, sf_dir)
    assert count_shuffles(df) == 1
    assert_read_schema_pruned(df, "documents", 3)  # doc_id, lang, n_chars

    df = REGISTRY["token_length_histogram"].fn(spark, sf_dir)
    assert count_shuffles(df) == 1
    assert_read_schema_pruned(df, "documents", 1)  # text only


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """Decontamination must broadcast the (small) eval shingle set: the
    100 TB corpus side is exploded map-side and hits the wire only as
    per-doc partial counts. A shuffled (sort-merge) join on the shingle
    hash would move the exploded corpus — the classic scale killer."""
    from cloud_dataflow_batch_processing_spark.plans import (
        assert_broadcast_join,
        assert_no_cartesian,
        count_shuffles,
    )

    df = REGISTRY["decontaminate_eval_overlap"].fn(spark, sf_dir)
    assert_broadcast_join(df, expect=1)
    assert_no_cartesian(df)
    # eval-side distinct (2: partial+final reuse) + final per-doc count;
    # the corpus side itself must not add an exchange.
    assert count_shuffles(df) <= 3


def test_kmeans_final_plan_scan_only(spark, sf_dir):
    """k-means assignment must be the MLlib shape: centroids
    materialized driver-side, assignment a pure per-row argmin over a
    broadcast centroid matrix — the returned plan is scan → per-row
    Arrow argmin with ZERO exchanges and no join of any kind. A plan
    that joins or shuffles the corpus per iteration is the 100 TB cost
    bug."""
    from cloud_dataflow_batch_processing_spark.plans import count_shuffles, executed_plan

    df = REGISTRY["semantic_kmeans_assign"].fn(spark, sf_dir)
    assert count_shuffles(df) == 0
    plan = executed_plan(df)
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_hash_chain_not_reembedded(spark, sf_dir):
    """Regression pin for the quadratic HOF-inlining trap (NOTES.md
    round 3): when the interpreted token-hash chain is consumed lazily,
    pushed-down predicates and shingle lambdas re-embed the FULL char
    fold — ``element_at(<whole th tree>, i)`` evaluated once per
    shingle turns a linear scan into O(tokens × shingles) per doc
    (measured 100× at sf0.1). The char fold (``ascii(`` in the plan)
    must appear at most twice (the one cached computation, echoed by
    InMemoryTableScan) in decontamination, and never in the
    repetition-ratio plan (Arrow fast twin)."""
    from cloud_dataflow_batch_processing_spark.plans import executed_plan

    plan = executed_plan(REGISTRY["decontaminate_eval_overlap"].fn(spark, sf_dir))
    assert plan.count("ascii(") <= 2, plan.count("ascii(")

    plan = executed_plan(REGISTRY["text_repetition_ratio"].fn(spark, sf_dir))
    assert plan.count("ascii(") == 0, plan.count("ascii(")


def test_dedup_segments_two_shuffles(spark, sf_dir):
    """Segment-level dedup must be exactly two shuffles: the window
    count partitioned by segment text and the per-doc aggregate — no
    join-back of the frequency table (a third shuffle + a join at
    100 TB for nothing)."""
    df = REGISTRY["dedup_segments"].fn(spark, sf_dir)
    assert count_shuffles(df) == 2
    assert_no_cartesian(df)


def test_new_operator_shuffle_budgets(spark, sf_dir):
    """Shuffle budgets for the round-3 query family — regressions here
    are 100x-scale cost bugs even when results stay correct. Notably:
    sessionize's two windows and the final rollup all share ONE
    user_id exchange, and no query in the family ever plans a
    BroadcastNestedLoopJoin."""
    budgets = {
        "pivot_event_matrix": 2,        # partial+final pivot agg
        "sessionize_events": 1,         # lag + running-sum + rollup share one exchange
        "rolling_avg_events": 1,
        "group_sorted_values": 1,
        "resample_ffill_events": 3,     # key distinct + right pre-agg + timeline window
        "corpus_mix_temperature": 3,    # lang counts + global-rate window + final agg
        "dedup_incremental_minhash": 4, # bands x2 union, bucket sizes, pair dedup
        "dq_violation_summary": 9,      # eight checks (r8: +3 non-finite), each a narrow agg
    }
    for name, budget in budgets.items():
        df = REGISTRY[name].fn(spark, sf_dir)
        got = count_shuffles(df)
        assert got <= budget, (name, got, budget)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_fuzzy_dual_block_plan(spark, sf_dir):
    """The dual-block fuzzy matcher must stay a bounded equi-join:
    two block keys union before ONE self-join — never a nested-loop
    or cartesian pair generation, and the pair-level distinct adds at
    most one narrow shuffle over candidates."""
    df = REGISTRY["fuzzy_match_part_names"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert count_shuffles(df) <= 4, count_shuffles(df)


def test_trained_ivf_index_prunes_partitions(spark, tables, tmp_path):
    """End-to-end trained IVF index (VERDICT r3 #1 follow-through):
    build = arrow-path k-means + cid-partitioned write; search must
    (a) carry cid IN (probes) as a file-level PartitionFilter,
    (b) return exactly the brute-force top-k restricted to the probed
    clusters, and (c) rank partitions with bit-exact round-tripped
    centroids."""
    import re

    from cloud_dataflow_batch_processing_spark.extensions import similarity as S
    from cloud_dataflow_batch_processing_spark.plans import executed_plan

    idx = str(tmp_path / "ivf_index")
    emb = tables["embeddings"]
    k = 72
    S.ivf_build_index(emb, idx, k=k, iters=1)

    cents = spark.read.parquet(idx + "/centroids")
    assert cents.count() == k

    qv = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    out = S.ivf_search(spark, idx, qv, topk=10, nprobe=4)
    plan = executed_plan(out)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cid" in m.group(1) and " IN " in m.group(1).upper(), (
        m.group(1) if m else plan[:1500]
    )

    # Brute-force cosine over ONLY the probed partitions must agree;
    # re-derive the probe list independently from the stored centroids.
    from pyspark.sql import functions as F

    probed = spark.read.parquet(idx + "/vectors")
    got = [(r["vec_id"], r["cos_sim"]) for r in out.collect()]
    cent_rows = [(r["cid"], list(r["cv"])) for r in cents.collect()]

    def d2(cv):
        acc = 0.0
        for c, q in zip(cv, qv):
            acc += (c - q) * (c - q)
        return acc

    probe = [cid for _, cid in sorted((d2(cv), cid) for cid, cv in cent_rows)[:4]]
    restricted = probed.filter(F.col("cid").isin(probe))
    want = [
        (r["vec_id"], r["cos_sim"])
        for r in S.cosine_topk(restricted, qv, 10).collect()
    ]
    assert got == want


def test_ivf_index_append_incremental(spark, tables, tmp_path):
    """Appending a batch must (a) assign against the STORED centroids
    (bit-identical to what a from-scratch assignment over the union
    would give for those rows, since centroids are frozen), and
    (b) make the new vectors immediately searchable with the same
    pruned plan — no retrain, no rewrite of existing partitions."""
    import numpy as np
    from pyspark.sql import functions as F

    from cloud_dataflow_batch_processing_spark.extensions import similarity as S

    idx = str(tmp_path / "ivf_incr")
    emb = tables["embeddings"]
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    S.ivf_build_index(old, idx, k=8, iters=1)
    before = spark.read.parquet(idx + "/vectors").count()

    S.ivf_index_append(new, idx)
    vecs = spark.read.parquet(idx + "/vectors")
    assert vecs.count() == emb.count()
    assert vecs.count() > before

    # A new vector is found by searching with itself as the query.
    target = int(new.select(F.max("vec_id")).head()[0])
    qv = [float(x) for x in emb.filter(F.col("vec_id") == target).head()["embedding"]]
    hits = [r["vec_id"] for r in S.ivf_search(spark, idx, qv, topk=3, nprobe=2).collect()]
    assert target in hits

    # Appended assignments match an independent numpy argmin against
    # the stored centroids (frozen-centroid semantics).
    cents = sorted(
        (int(r["cid"]), list(r["cv"]))
        for r in spark.read.parquet(idx + "/centroids").collect()
    )
    c_ids = np.array([c for c, _ in cents])
    c = np.array([cv for _, cv in cents], dtype=np.float64)
    rows = new.select("vec_id", "embedding").collect()
    x = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    want = dict(zip((r["vec_id"] for r in rows), c_ids[np.argmin(d2, axis=1)]))
    got = {
        r["vec_id"]: r["cid"]
        for r in vecs.filter(F.col("vec_id") >= 400).select("vec_id", "cid").collect()
    }
    assert got == want


def test_ivf_index_append_skips_invalid_vectors(spark, tmp_path):
    """Append filters ``vec_is_valid`` as the build does: a NULL or zero
    vector in a new batch is never indexed."""
    from cloud_dataflow_batch_processing_spark.extensions import similarity as S

    schema = "vec_id long, embedding array<double>"
    base = [(i, [float((i * 7 + d) % 5) + 0.5 for d in range(4)]) for i in range(16)]
    idx = str(tmp_path / "ivf_valid")
    S.ivf_build_index(spark.createDataFrame(base, schema), idx, k=4, iters=1)

    batch = [(100, [1.0, 2.0, 3.0, 4.0]), (101, None), (102, [0.0] * 4)]
    S.ivf_index_append(spark.createDataFrame(batch, schema), idx)
    ids = {r["vec_id"] for r in spark.read.parquet(idx + "/vectors").collect()}
    assert 100 in ids
    assert not ids & {101, 102}, ids & {101, 102}


def test_substring_dedup_plan_shape(spark, sf_dir):
    """Exact substring dedup (round 4): the plan that scales is
    - dup-hash detection as a partial-combined count aggregate (the
      only h-exchange moves near-distinct hashes) + a semi-join whose
      build side is the bounded dup-hash frame — NEVER a count window
      partitioned by h (a boilerplate mega-span would make that an
      unsplittable hot task),
    - ONE exchange on doc_id that the lag window, the island windows,
      AND both downstream hash-aggregates all reuse,
    - the per-doc interval frame joined back to the base scan (AQE
      picks broadcast at bench scale, sort-merge at 100 TB — both
      fine, neither cartesian)."""
    df = REGISTRY["substring_dedup_stats"].fn(spark, sf_dir)
    from cloud_dataflow_batch_processing_spark.plans.inspect import executed_plan

    assert_no_cartesian(df)
    plan = executed_plan(df)
    import re

    assert not re.search(r"Window \[count\(1\) windowspecdefinition\(h#", plan), (
        "dup marking must not use a per-hash count window"
    )
    h_exchanges = len(
        re.findall(r"Exchange hashpartitioning\(h#\d+L?, \d+\), ENSURE", plan)
    )
    assert h_exchanges <= 1, "only the partial-count agg may exchange on h"
    # windows and aggs share ONE required doc_id exchange (the gated
    # fan-out repartition is REPARTITION_BY_NUM, not counted)
    docid_exchanges = len(
        re.findall(r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\), ENSURE", plan)
    )
    assert docid_exchanges == 1, "windows and aggs must share one doc_id exchange"
    # the span UDF must not be duplicated by a pushed-down filter:
    # at most one ArrowEvalPython per plan side (cache collapses both
    # sides onto one InMemoryRelation here)
    assert plan.count("ArrowEvalPython") <= 2, plan[:2000]


def test_hll_register_table_single_shuffle(spark, tables):
    """The HLL sketch build is per-row codegen + ONE hash-agg shuffle
    collapsing to <= 256 register rows; the estimate adds only a
    driver-side global agg, never a second wide exchange."""
    from cloud_dataflow_batch_processing_spark.extensions import sketch as S

    regs = S.hll_register_table(tables["lineitem"], "l_orderkey")
    assert count_shuffles(regs) == 1
    est = S.hll_estimate(regs)
    assert count_shuffles(est) <= 2  # register shuffle + single-partition agg
    assert_no_cartesian(est)


def test_round4_warehouse_shuffle_budgets(spark, sf_dir):
    """Shuffle budgets for the round-4 warehouse family. Notably the
    incremental rollup is exactly its two aggregation levels (partial
    cells, merged groups) and the CDC merge never plans a nested-loop
    or cartesian join."""
    budgets = {
        "incremental_rollup_orders": 2,  # partial cells + merge
        "cdc_merge_orders": 3,           # anti-join + upsert union sides
        "scd2_user_event_history": 1,    # one window on the key
        "approx_quantile_histogram": 4,  # bounded: sketch agg + <=bins cum window x2
    }
    for name, budget in budgets.items():
        df = REGISTRY[name].fn(spark, sf_dir)
        got = count_shuffles(df)
        assert got <= budget, (name, got, budget)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan or name == "approx_quantile_histogram", name


@pytest.mark.slowsweep
def test_no_cartesian_anywhere_in_registry(spark, sf_dir):
    """Blanket scale guarantee: NO registered query plans a
    CartesianProduct, and BroadcastNestedLoopJoin appears only in the
    whitelisted single-row scalar crosses (the p50 x p90 / est x est
    combinations, each side exactly one row by construction). A new
    query that accidentally introduces an unbounded cross product
    fails this sweep."""
    single_row_cross_ok = {
        "approx_quantile_histogram",  # p50 x p90: both sides 1 row
        "approx_distinct_hll",        # est x est: both sides 1 row
        # exact x approx: both groupless aggregates, 1 row each (the
        # split that avoids per-group HLL buffers in the Expand path)
        "approx_distinct",
        "funnel_signup_click_purchase",  # 3 single-row stage aggregates crossed
        "dedup_ngram_jaccard",  # brute-force ground truth, doc_id < 40 slice
        # rank == least(top_k, n_types) spans both sides, so Spark
        # plans BNLJ — but the build side is the literal top-k list
        # (a handful of broadcast rows), bounded by construction.
        "vocab_coverage_curve",
        # the corpus-total side is a groupless aggregate — exactly one
        # row by construction — crossed onto the vocab-sized stats.
        "corpus_source_tv_divergence",
    }
    offenders = []
    for name, q in REGISTRY.items():
        try:
            plan = q.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # a query that cannot even plan is worse
            offenders.append((name, f"plan error: {exc}"))
            continue
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in single_row_cross_ok:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


def test_runtime_bloom_filter_injects_at_scale_thresholds(spark, sf_dir):
    """100 TB scale story: Spark's InjectRuntimeFilter adds a bloom-
    filter semi-join reduction to the FACT side of a selective dim
    join — the fact scan drops most rows before the shuffle. The
    optimization is ON by default but gated by size thresholds a local
    test corpus can't meet (application side must scan >= 10 GB), so
    this test pins the behavior AT the thresholds a production corpus
    would meet: with the gates set to test-data sizes, the optimized
    plan contains might_contain (the pushed bloom probe); with the
    defaults restored, our join shapes still plan cleanly without it."""
    from pyspark.sql import functions as F

    from cloud_dataflow_batch_processing_spark.sources.testdata import load_tables

    t = load_tables(spark, sf_dir)
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        sel_cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
        joined = t["orders"].join(sel_cust, t["orders"].o_custkey == sel_cust.c_custkey)
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_composed_pipeline_shuffle_count_is_truthful(spark, sf_dir):
    """count_shuffles on the composed CACHED pipelines counts distinct
    Exchange nodes via the plan-tree walk, not the textual dump
    (VERDICT r10 #3: the regex count reported 2027 for corpus_build_full
    because every InMemoryRelation reference re-prints its build
    lineage). The real number is the semantic budget: each stage's
    groupBy/join shuffles once, cache builds count once."""
    budgets = {
        "corpus_build_full": 12,
        "corpus_clean_pipeline": 9,
    }
    for name, budget in budgets.items():
        df = REGISTRY[name].fn(spark, sf_dir)
        got = count_shuffles(df)
        # a phantom-free count is small AND nonzero (the walk must
        # reach through the cache boundaries, not stop at the scans)
        assert 2 <= got <= budget, (name, got, budget)


def test_dump_plans_node_counts_leave_out_aqe_stages(spark, tables):
    """``scripts/dump_plans.py`` counts executed-plan nodes by name. The
    AQE wrappers are left out, because how AQE cuts the same plan into
    query stages changes run to run, so a shuffle join's counts hold no
    ``QueryStage`` key and repeat exactly across two executions."""
    from scripts.dump_plans import node_counts

    def join():
        li = tables["lineitem"].select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity")
        return tables["orders"].join(li, "o_orderkey").groupBy("o_orderstatus").agg(
            F.sum("l_quantity").alias("q")
        )

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        first, second = node_counts(join()), node_counts(join())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    assert first == second
    assert first.get("SortMergeJoin") == 1 and first.get("Exchange", 0) >= 3, first
    assert not [k for k in first if "QueryStage" in k or "AdaptiveSparkPlan" in k], first

"""Exact substring dedup (extensions/substring.py): crafted-fixture
semantics — cross-doc and within-doc span repeats, interval merging of
overlapping/touching spans, short-doc exemption, full-document removal,
cleaned-text reconstruction — plus DuckDB twin parity on the fixture.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from cloud_dataflow_batch_processing_spark.extensions import substring as SS

K = SS.SPAN_TOKENS  # 8


def _w(prefix: str, n: int, start: int = 1) -> str:
    return " ".join(f"{prefix}{i}" for i in range(start, start + n))


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        # A and B share exactly their first 8 tokens.
        (1, _w("a", K) + " Xa Xb Xc"),
        (2, _w("a", K) + " Qa Qb Qc"),
        # C: the same 8 tokens twice -> spans at pos 1 and 9 collide,
        # gap == K so the islands merge: the WHOLE doc is removed.
        (3, _w("c", K) + " " + _w("c", K)),
        # D: shorter than K tokens -> exempt, zeros.
        (4, _w("d", K - 1)),
        # E/F: a 10-token shared region -> 3 overlapping dup spans that
        # must merge into ONE 10-token interval, sandwiched by unique
        # filler so the interval is interior.
        (5, _w("e", 5) + " " + _w("s", 10) + " " + _w("f", 5)),
        (6, _w("g", 5) + " " + _w("s", 10) + " " + _w("h", 5)),
        # G: two far-apart dup regions vs A's and E's content -> two
        # disjoint removal intervals in one doc.
        (7, _w("a", K) + " " + _w("z", 10) + " " + _w("s", 10)),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string"), pd.DataFrame(
        rows, columns=["doc_id", "text"]
    )


def _stats(df):
    return {
        r["doc_id"]: r.asDict()
        for r in SS.substring_dup_stats(df).collect()
    }


def test_cross_doc_span_removed(spark, corpus):
    df, _ = corpus
    st = _stats(df)
    for doc in (1, 2):
        assert st[doc]["n_remove_intervals"] == 1
        assert st[doc]["removed_tokens"] == K
        assert st[doc]["kept_tokens"] == 3


def test_within_doc_repeat_merges_to_full_removal(spark, corpus):
    df, _ = corpus
    st = _stats(df)
    assert st[3]["n_remove_intervals"] == 1
    assert st[3]["removed_tokens"] == 2 * K
    assert st[3]["kept_tokens"] == 0
    assert st[3]["removed_frac"] == 1.0


def test_short_doc_exempt(spark, corpus):
    df, _ = corpus
    st = _stats(df)
    assert st[4]["n_remove_intervals"] == 0
    assert st[4]["removed_tokens"] == 0
    assert st[4]["kept_tokens"] == K - 1


def test_overlapping_spans_merge_to_one_interval(spark, corpus):
    df, _ = corpus
    st = _stats(df)
    # 10-token shared region -> 3 overlapping K-spans -> one interval
    # of exactly 10 tokens.
    for doc in (5, 6):
        assert st[doc]["n_remove_intervals"] == 1
        assert st[doc]["removed_tokens"] == 10
        assert st[doc]["kept_tokens"] == 10


def test_two_disjoint_intervals(spark, corpus):
    df, _ = corpus
    st = _stats(df)
    assert st[7]["n_remove_intervals"] == 2
    assert st[7]["removed_tokens"] == K + 10
    assert st[7]["kept_tokens"] == 10


def test_interval_bounds(spark, corpus):
    df, _ = corpus
    iv = {
        (r["doc_id"], r["start_pos"], r["end_pos"])
        for r in SS.remove_intervals(df).collect()
    }
    assert (1, 1, K + 1) in iv
    assert (3, 1, 2 * K + 1) in iv
    assert (5, 6, 16) in iv  # the 10-token region after 5 filler tokens
    assert (7, 1, K + 1) in iv and (7, K + 10 + 1, K + 20 + 1) in iv


def test_clean_text_reconstruction(spark, corpus):
    df, _ = corpus
    clean = {r["doc_id"]: r["clean_text"] for r in SS.substring_dedup_text(df).collect()}
    assert clean[1] == "Xa Xb Xc"
    assert clean[3] == ""  # fully removed
    assert clean[4] == _w("d", K - 1)  # untouched
    assert clean[5] == _w("e", 5) + " " + _w("f", 5)
    assert clean[7] == _w("z", 10)


def test_fixture_matches_duckdb_twin(spark, corpus):
    df, pdf = corpus
    con = duckdb.connect()
    con.register("documents", pdf)
    for spark_df, sql in (
        (SS.substring_dup_stats(df), SS.substring_dup_stats_sql()),
        (SS.substring_dedup_text(df), SS.substring_dedup_text_sql()),
    ):
        got = spark_df.toPandas().sort_values("doc_id").reset_index(drop=True)
        want = con.execute(sql).fetchdf().sort_values("doc_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


# ---------------------------------------------------------------------------
# HyperLogLog (extensions/sketch.py) — mergeability, accuracy, NULLs
# ---------------------------------------------------------------------------


class TestHLL:
    def test_merge_identical_to_whole(self, spark, tables):
        from cloud_dataflow_batch_processing_spark.extensions import sketch as S

        li = tables["lineitem"]
        whole = S.hll_estimate(S.hll_register_table(li, "l_orderkey")).collect()[0]["est"]
        a = S.hll_register_table(li.filter("l_orderkey % 2 = 0"), "l_orderkey")
        b = S.hll_register_table(li.filter("l_orderkey % 2 = 1"), "l_orderkey")
        merged = S.hll_estimate(S.hll_merge(a, b)).collect()[0]["est"]
        assert merged == whole  # exact, not approximate, equality

    def test_error_within_envelope(self, spark, tables):
        from pyspark.sql import functions as F

        from cloud_dataflow_batch_processing_spark.extensions import sketch as S

        li = tables["lineitem"]
        for key in ("l_orderkey", "l_partkey"):
            est = S.hll_estimate(S.hll_register_table(li, key)).collect()[0]["est"]
            exact = li.select(F.countDistinct(key)).collect()[0][0]
            # 3 sigma at m=256 (rsd 6.5%)
            assert abs(est - exact) / exact < 0.2, (key, est, exact)

    def test_null_keys_dropped(self, spark):
        from cloud_dataflow_batch_processing_spark.extensions import sketch as S

        df = spark.createDataFrame(
            [(1,), (2,), (3,), (None,)], "k long"
        )
        regs = S.hll_register_table(df, "k")
        n_rows = regs.agg({"maxrho": "count"}).collect()[0][0]
        assert n_rows <= 3  # the NULL contributed no register

    def test_small_range_linear_counting(self, spark):
        from cloud_dataflow_batch_processing_spark.extensions import sketch as S

        df = spark.createDataFrame([(i,) for i in range(1, 21)], "k long")
        est = S.hll_estimate(S.hll_register_table(df, "k")).collect()[0]["est"]
        assert abs(est - 20) / 20 < 0.25  # linear-counting regime


class TestHistogramQuantile:
    LO, HI, BINS = 0.0, 600000.0, 256

    def test_merge_identical_to_whole(self, spark, tables):
        from cloud_dataflow_batch_processing_spark.extensions import sketch as S

        o = tables["orders"]
        whole = S.histogram_sketch(o, "o_totalprice", self.LO, self.HI, self.BINS)
        a = S.histogram_sketch(
            o.filter("o_orderkey % 2 = 0"), "o_totalprice", self.LO, self.HI, self.BINS
        )
        b = S.histogram_sketch(
            o.filter("o_orderkey % 2 = 1"), "o_totalprice", self.LO, self.HI, self.BINS
        )
        merged = S.histogram_merge(a, b)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, whole.collect())
        )

    def test_quantile_error_bounded_by_bin(self, spark, tables):
        from pyspark.sql import functions as F

        from cloud_dataflow_batch_processing_spark.extensions import sketch as S

        o = tables["orders"]
        sk = S.histogram_sketch(o, "o_totalprice", self.LO, self.HI, self.BINS)
        width = (self.HI - self.LO) / self.BINS
        for q in (0.5, 0.9):
            est = S.histogram_quantile(sk, q, self.LO, self.HI, self.BINS).collect()[0][
                "est"
            ]
            exact = o.agg(
                F.expr(f"percentile(o_totalprice, {q})").alias("p")
            ).collect()[0]["p"]
            assert abs(est - exact) <= width, (q, est, exact)

    def test_clamping_and_nulls(self, spark):
        from cloud_dataflow_batch_processing_spark.extensions import sketch as S

        df = spark.createDataFrame(
            [(-5.0,), (1e9,), (None,), (50.0,)], "x double"
        )
        rows = {r["bin"]: r["cnt"] for r in S.histogram_sketch(df, "x", 0.0, 100.0, 10).collect()}
        assert rows == {0: 1, 5: 1, 9: 1}  # -5 clamps low, 1e9 clamps high, NULL drops


def test_bucketed_materialization_identical_and_exchange_free(spark, corpus, tmp_path):
    """VERDICT r8 #6: the bucketed span store a scratch_dir selects.
    Value-identical to the cached default, and — the point of the layout — with broadcast
    disabled (the 5M regime, where the dup-hash set outgrows the 64 MB
    broadcast) the dup-count groupBy and the dup semi-join BOTH run on
    the bucket distribution: the only hashpartitioning exchange left in
    remove_intervals is the window's doc_id shuffle. Table metadata and
    scratch files release at the managed-cache boundary; the caller's
    scratch_dir itself survives."""
    import re

    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
    from cloud_dataflow_batch_processing_spark.extensions import substring as SS

    df, _ = corpus
    scratch = str(tmp_path / "span_bkt")
    a = sorted(map(tuple, SS.substring_dup_stats(df).collect()))
    release_managed_caches()
    b = sorted(
        map(
            tuple,
            SS.substring_dup_stats(df, scratch_dir=scratch).collect(),
        )
    )
    assert a == b

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        iv = SS.remove_intervals(df, scratch_dir=scratch)
        iv.write.format("noop").mode("overwrite").save()
        plan = iv._jdf.queryExecution().executedPlan().toString()
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_ex == 1, f"expected only the doc_id window exchange, got {n_ex}:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # Unset, not skip: a left-over -1 keeps AQE from turning later
        # tests' joins into broadcasts (the 396-row broadcast pinned for
        # corpus_build_full in tests/data/stage_profile_baseline.json).
        if old_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)

    import os

    tables_before = {t.name for t in spark.catalog.listTables()}
    assert any(t.startswith("spans_bkt_") for t in tables_before)
    # The store is written into engine-owned <uuid> subdirs of the
    # caller's scratch_dir (the lineage cut is real)...
    subdirs = os.listdir(scratch)
    assert subdirs and all(
        any(f.endswith(".parquet") for f in os.listdir(os.path.join(scratch, d)))
        for d in subdirs
    )
    # ...which release at the managed-cache boundary with the tables,
    # leaving the caller's dir itself intact.
    release_managed_caches()
    assert not any(
        t.name.startswith("spans_bkt_") for t in spark.catalog.listTables()
    )
    assert os.path.isdir(scratch) and os.listdir(scratch) == []


def test_stats_corr_ols_matches_numpy(spark, sf_dir):
    """The decimal-exact moment formulation must agree with an
    independent numpy computation to float tolerance (numpy pairwise
    summation differs in rounding; the moments themselves are exact)."""
    import numpy as np

    from cloud_dataflow_batch_processing_spark.queries import REGISTRY, queries

    queries()
    row = REGISTRY["stats_corr_ols_lineitem"].fn(spark, sf_dir).collect()[0]
    pdf = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_quantity", "l_extendedprice"
    ).toPandas()
    x = pdf["l_quantity"].to_numpy(dtype=np.float64)
    y = pdf["l_extendedprice"].to_numpy(dtype=np.float64)
    assert row["n"] == len(x)
    assert abs(row["corr_qty_price"] - np.corrcoef(x, y)[0, 1]) < 1e-6
    slope, intercept = np.polyfit(x, y, 1)
    assert abs(row["ols_slope"] - slope) < 1e-4
    assert abs(row["ols_intercept"] - intercept) < 1e-2


def test_incremental_equals_full_restricted(spark, corpus):
    """The incremental contract: stats for a new batch against the old
    corpus's span store == the FULL-corpus run restricted to the new
    docs (total-count > 1 decomposes exactly into store-hit OR
    batch-repeat)."""
    from pyspark.sql import functions as F

    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
    from cloud_dataflow_batch_processing_spark.extensions import substring as SS

    df, _ = corpus
    old = df.filter(F.col("doc_id") <= 4)
    new = df.filter(F.col("doc_id") > 4)
    inc = sorted(
        map(tuple, SS.incremental_substring_dup_stats(new, SS.span_store(old)).collect())
    )
    release_managed_caches()
    full = sorted(
        r for r in map(tuple, SS.substring_dup_stats(df).collect()) if r[0] > 4
    )
    release_managed_caches()
    assert inc == full


def test_span_store_merge_composes(spark, corpus):
    from pyspark.sql import functions as F

    from cloud_dataflow_batch_processing_spark.extensions import substring as SS

    df, _ = corpus
    whole = sorted(map(tuple, SS.span_store(df).collect()))
    a = SS.span_store(df.filter(F.col("doc_id") % 2 == 0))
    b = SS.span_store(df.filter(F.col("doc_id") % 2 == 1))
    merged = sorted(map(tuple, SS.span_store_merge(a, b).collect()))
    assert merged == whole


def test_plan_wide_node_walk_ignores_lookalike_names(spark):
    """ADVICE r4: the scan-shape probe walks plan node CLASS names; a
    column named 'window_start' or a relation alias containing 'Join'
    must NOT make a plain scan-shaped frame look wide."""
    from pyspark.sql import functions as F

    from cloud_dataflow_batch_processing_spark.plans.inspect import plan_has_wide_node

    plain = spark.createDataFrame(
        [(1, "a b c")], "window_start long, JoinAggregateRepartition string"
    ).select(F.col("window_start").alias("id"), F.col("JoinAggregateRepartition"))
    assert not plan_has_wide_node(plain)

    agg = plain.groupBy("id").count()
    assert plan_has_wide_node(agg)
    joined = plain.join(plain.select("id"), "id")
    assert plan_has_wide_node(joined)
    repart = plain.repartition(4, F.col("id"))
    assert plan_has_wide_node(repart)


def test_plan_wide_node_walk_sees_subqueries_sort_distinct(spark):
    """Shapes the rendered-string probe caught but a naive children()
    walk misses: an Aggregate living INSIDE a scalar-subquery
    expression, a global sort (range exchange), and distinct()."""
    from pyspark.sql import functions as F

    from cloud_dataflow_batch_processing_spark.plans.inspect import plan_has_wide_node

    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    df.createOrReplaceTempView("wide_probe_t")
    sub = spark.sql(
        "SELECT id, v FROM wide_probe_t WHERE v > (SELECT AVG(v) FROM wide_probe_t)"
    )
    assert plan_has_wide_node(sub)  # Aggregate only inside the subquery
    assert plan_has_wide_node(df.orderBy("v"))
    assert plan_has_wide_node(df.distinct())


def test_plan_wide_node_walk_local_sort_is_narrow(spark):
    """sortWithinPartitions shares the Sort logical class with orderBy
    but is global=false (no range exchange) — it must NOT make a
    scan-shaped frame look wide (that would silently skip the fan-out
    repartition and single-task the span hashing)."""
    from cloud_dataflow_batch_processing_spark.plans.inspect import plan_has_wide_node

    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, t string")
    assert not plan_has_wide_node(df.sortWithinPartitions("id"))
    assert plan_has_wide_node(df.orderBy("id"))


def test_span_stage_fans_out_scan_shaped_input_only(spark):
    """The span-hash stage fans a scan-shaped input with fewer splits
    than cores out with ONE hash repartition on the doc id, below the
    one Arrow span pass; an input already downstream of a wide node is
    not repartitioned again."""
    from pyspark.sql import functions as F

    from cloud_dataflow_batch_processing_spark.plans.inspect import (
        count_plan_nodes,
        iter_plan_nodes,
    )

    def fan_out_exchanges(out, below_arrow):
        """First lines of the REPARTITION_BY_NUM exchanges in ``out``'s
        executed plan, or only of those below its one Arrow span pass."""
        plan = out._jdf.queryExecution().executedPlan()
        assert count_plan_nodes(out, "ArrowEvalPython") == 1
        if below_arrow:
            plan = next(
                n for n in iter_plan_nodes(plan) if n.nodeName() == "ArrowEvalPython"
            )
        heads = (n.toString().splitlines()[0] for n in iter_plan_nodes(plan))
        return [h for h in heads if h.startswith("Exchange") and "REPARTITION_BY_NUM" in h]

    # one input split, fewer than the session's cores
    one = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, _w("a", K)), (2, _w("a", K))], 1),
        "doc_id long, text string",
    )
    assert one.rdd.getNumPartitions() == 1 < spark.sparkContext.defaultParallelism
    under = fan_out_exchanges(SS.substring_dup_stats(one), below_arrow=True)
    assert len(under) == 1 and "hashpartitioning(doc_id#" in under[0], under

    # grouped on another key than doc_id, so a doc_id repartition would
    # not be absorbed into the aggregate's own exchange
    grouped = one.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    assert fan_out_exchanges(SS.substring_dup_stats(grouped), below_arrow=False) == []


# --- exact-span decontamination (decontaminate_span_stats) ---------------


@pytest.fixture(scope="module")
def decon_corpus(spark):
    """Training docs + a held-out eval set with planted contamination."""
    ev = [
        # the eval set: one benchmark question of 10 tokens, and one
        # short prompt (< K tokens, contributes no spans).
        (100, _w("q", 10)),
        (101, _w("p", K - 1)),
    ]
    tr = [
        # T1 quotes the full benchmark question mid-document: the 3
        # overlapping hits must merge into ONE 10-token interval.
        (1, _w("u", 5) + " " + _w("q", 10) + " " + _w("v", 5)),
        # T2 shares 8 tokens with T1's filler but NOTHING with the eval
        # set: within-corpus duplication is NOT contamination.
        (2, _w("u", 5) + " " + _w("v", 5) + " " + _w("w", 3)),
        # T3 is clean and long.
        (3, _w("x", 12)),
        # T4 is shorter than K tokens: exempt, zeros.
        (4, _w("y", K - 1)),
        # T5 quotes the question twice, far apart: two disjoint
        # intervals.
        (5, _w("q", 10) + " " + _w("z", 10) + " " + _w("q", 10)),
    ]
    schema = "doc_id long, text string"
    return (
        spark.createDataFrame(tr, schema),
        spark.createDataFrame(ev, schema),
        pd.DataFrame(tr + ev, columns=["doc_id", "text"]),
    )


def _decon(spark_pair):
    tr, ev, _ = spark_pair
    return {
        r["doc_id"]: r.asDict()
        for r in SS.decontaminate_span_stats(tr, ev).collect()
    }


def test_decon_quote_becomes_one_interval(spark, decon_corpus):
    st = _decon(decon_corpus)
    assert st[1]["n_contam_intervals"] == 1
    assert st[1]["contaminated_tokens"] == 10
    assert st[1]["kept_tokens"] == 10
    assert st[1]["contaminated_frac"] == pytest.approx(0.5)


def test_decon_within_corpus_duplication_is_not_contamination(spark, decon_corpus):
    st = _decon(decon_corpus)
    # T2 duplicates T1's filler tokens but touches no eval span.
    assert st[2]["n_contam_intervals"] == 0
    assert st[2]["contaminated_tokens"] == 0
    assert st[2]["kept_tokens"] == st[2]["n_tokens"] == 13


def test_decon_clean_and_short_docs_report_zeros(spark, decon_corpus):
    st = _decon(decon_corpus)
    assert set(st) == {1, 2, 3, 4, 5}  # ALL training docs present
    for doc in (3, 4):
        assert st[doc]["n_contam_intervals"] == 0
        assert st[doc]["contaminated_tokens"] == 0
        assert st[doc]["kept_tokens"] == st[doc]["n_tokens"]


def test_decon_two_disjoint_intervals(spark, decon_corpus):
    st = _decon(decon_corpus)
    assert st[5]["n_contam_intervals"] == 2
    assert st[5]["contaminated_tokens"] == 20
    assert st[5]["kept_tokens"] == 10


def test_decon_empty_eval_set_marks_nothing(spark, decon_corpus):
    tr, ev, _ = decon_corpus
    out = SS.decontaminate_span_stats(tr, ev.filter("doc_id < 0"))
    assert out.count() == 5
    assert out.filter("n_contam_intervals != 0").count() == 0


def test_decon_fixture_matches_duckdb_twin(spark, decon_corpus):
    tr, ev, pdf = decon_corpus
    con = duckdb.connect()
    con.register("documents", pdf)
    sql = SS.decontaminate_span_stats_sql(
        corpus_where="doc_id < 100", eval_where="doc_id >= 100"
    )
    want = con.execute(sql).df().sort_values("doc_id").reset_index(drop=True)
    got = (
        SS.decontaminate_span_stats(
            tr, ev
        ).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    got = got.astype({c: want[c].dtype for c in want.columns})
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want)


def test_decon_eval_side_is_broadcast(spark, decon_corpus):
    tr, ev, _ = decon_corpus
    plan = (
        SS.decontaminate_span_stats(tr, ev)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

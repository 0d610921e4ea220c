"""Skew tooling tests: salted aggregates match unsalted results; bucketed
tables join with zero exchanges."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloud_dataflow_batch_processing_spark.operators.skew import (
    bucketed_join,
    salt_explode_small_side,
    salted_aggregate,
    write_bucketed,
)
from cloud_dataflow_batch_processing_spark.plans import count_shuffles


def test_salted_aggregate_matches_plain(spark, tables):
    li = tables["lineitem"]
    plain = {
        (r.l_returnflag): (r.n, r.total)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor("l_quantity")).alias("total"),
        )
        .collect()
    }
    salted = {
        (r.l_returnflag): (r.n, r.total)
        for r in salted_aggregate(
            li,
            "l_returnflag",
            {
                "n": (F.count(F.lit(1)), F.sum("n")),
                "total": (F.sum(F.floor("l_quantity")), F.sum("total")),
            },
            num_salts=8,
        ).collect()
    }
    assert salted == plain


def test_salt_explode_join_matches_plain(spark, tables):
    orders = tables["orders"].select("o_orderkey", "o_custkey")
    lineitem = tables["lineitem"].select(F.col("l_orderkey").alias("o_orderkey"), "l_partkey")
    plain = lineitem.join(orders, on="o_orderkey").count()
    big_s, small_s, cols = salt_explode_small_side(lineitem, orders, "o_orderkey", 8)
    assert big_s.join(small_s, on=cols).count() == plain


@pytest.mark.slowsweep
@pytest.mark.parametrize("materialize", ["checkpoint", "bucketed"])
def test_dedup_lsh_adversarial_skew(spark, tmp_path, materialize):
    """Adversarial corpus for the MinHash-LSH join (VERDICT r2 #7):

    - 1200 identical boilerplate docs → one mega-bucket per band ABOVE
      max_bucket_size: the guard must drop it on BOTH engines
      identically (zero pairs from those docs).
    - 700 NEAR-identical docs (shared 40-token base + one unique token
      each, pairwise shingle-Jaccard ≈ 0.95) → dominant-but-legal band
      buckets BELOW the cap: they must survive, dominate a few shuffle
      partitions, and trip AQE's skew-join split (plan shows the skew
      handling). Near- rather than exactly-identical matters: each row
      then carries ~39 distinct pseudorandom shingle hashes, so the
      skewed partition's shuffle bytes are incompressible — identical
      rows would LZ4 away below any realistic skew threshold.
    - 2 planted near-dups (Jaccard ≈ 0.97 — one appended token) among
      distinct docs → still found.

    Both storage postures plan the split: ``checkpoint`` cuts the bands
    to round-robin files, ``bucketed`` cuts the signatures to a bucketed
    table and self-joins the bands fresh. ``None`` and ``"cache"`` find
    the same pairs but plan no skew split.
    """
    import duckdb

    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
    from cloud_dataflow_batch_processing_spark.extensions import dedup as D
    from tests.oracle import compare_frames

    mega = [(i, "the same boilerplate footer text repeated everywhere forever") for i in range(1200)]
    base_h = [f"promo{j}" for j in range(40)]
    heavy = [(10_000 + i, " ".join(base_h + [f"uniq{i}"])) for i in range(700)]
    base = [f"tok{j}" for j in range(40)]
    planted = [(20_000, " ".join(base)), (20_001, " ".join(base + ["appended"]))]
    filler = [(20_010 + i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(40)]
    sdf = spark.createDataFrame(mega + heavy + planted + filler, "doc_id long, text string")
    pq = str(tmp_path / "docs_parquet")
    sdf.write.mode("overwrite").parquet(pq)
    sdf = spark.read.parquet(pq)  # both engines read the same bytes

    # Shrink AQE's skew thresholds to test scale and force the bucket
    # self-join off broadcast (at 100 TB it would never broadcast).
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        # Many reduce partitions so the few hot band buckets are
        # outliers vs the MEDIAN partition size (the skew test is
        # size > max(threshold, factor * median)); one map task per
        # checkpoint file so a skewed reduce partition has multiple
        # map blocks to regroup (a 1-mapper shuffle is unsplittable).
        "spark.sql.shuffle.partitions": "64",
        "spark.sql.files.maxPartitionBytes": "8KB",
        "spark.sql.files.openCostInBytes": "1KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        pairs = D.minhash_near_dup_pairs(
            sdf,
            "doc_id",
            "text",
            threshold=0.8,
            max_bucket_size=1000,
            # The 100 TB postures: bands or signatures cut to storage, so
            # the self-join plans fresh exchanges — the shape AQE can split.
            materialize=materialize,
            scratch_dir=str(tmp_path / "bands_ckpt"),
            checkpoint_files=8 if materialize == "checkpoint" else None,
        )
        spark_pdf = pairs.toPandas()
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
        release_managed_caches()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM '{pq}/*.parquet'")
    oracle_pdf = con.execute(
        D.minhash_pipeline_sql(threshold=0.8, source="docs", max_bucket_size=1000)
    ).df()

    # 1) Both engines drop the mega-bucket and keep everything else
    #    identically — full value comparison, not just counts.
    assert not compare_frames(spark_pdf, oracle_pdf, "adversarial_skew")
    got = set(zip(spark_pdf["doc_a"], spark_pdf["doc_b"]))
    mega_ids = set(range(1200))
    assert not any(a in mega_ids or b in mega_ids for a, b in got), "guard leaked mega-bucket pairs"
    # 2) The legal dominant cluster survives: most of the 700*699/2 =
    #    244,650 candidate pairs band-collide (183,750 with these fixed
    #    seeds) and every one scores >= 0.8.
    assert sum(1 for a, b in got if 10_000 <= a < 20_000) > 150_000
    # 3) Planted near-dup found.
    assert (20_000, 20_001) in got
    # 4) AQE split the skewed join partition.
    assert "skew=true" in plan or "skewed" in plan.lower(), plan[:2000]


def test_bucketed_join_no_shuffle(spark, tables, tmp_path):
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    write_bucketed(
        tables["orders"].select("o_orderkey", "o_totalprice"),
        "b_orders",
        ["o_orderkey"],
        8,
        sort_cols=["o_orderkey"],
        path=str(tmp_path / "b_orders"),
    )
    write_bucketed(
        tables["lineitem"].select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
        ),
        "b_lineitem",
        ["o_orderkey"],
        8,
        sort_cols=["o_orderkey"],
        path=str(tmp_path / "b_lineitem"),
    )
    # force the planner off broadcast so the bucketed SortMergeJoin path
    # is exercised (what a fact-to-fact join at scale would do)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
        assert count_shuffles(joined) == 0, "bucketed join must be exchange-free"
        assert joined.count() == tables["lineitem"].count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

def test_substring_dedup_boilerplate_mega_span(spark):
    """Adversarial skew for substring dedup: thousands of documents
    sharing one boilerplate span (license-header shape). Dup marking
    aggregates span counts map-side (the h-shuffle moves near-distinct
    hashes) and semi-joins a dup-hash frame — no unsplittable per-hash
    task. The report must match the DuckDB twin exactly, and every doc
    must lose exactly the boilerplate region."""
    import duckdb
    import pandas as pd

    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
    from cloud_dataflow_batch_processing_spark.extensions import substring as SS
    from tests.oracle import compare_frames

    n = 2000
    boiler = " ".join(f"lic{i}" for i in range(8))
    rows = [
        (i, f"{boiler} u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h u{i}i u{i}j")
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spark_pdf = SS.substring_dup_stats(df).toPandas()
    release_managed_caches()
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    oracle_pdf = con.execute(SS.substring_dup_stats_sql()).df()
    assert not compare_frames(spark_pdf, oracle_pdf, "substring_mega_span")
    assert len(spark_pdf) == n
    assert all(  # exactly the boilerplate
        (r.removed_tokens, r.kept_tokens) == (8, 10) for r in spark_pdf.itertuples()
    )

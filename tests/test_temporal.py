"""Temporal joins (extensions/temporal.py): as-of semantics against a
hand-computed truth table, bucketed range join against a brute-force
inequality join, and the 100 TB plan pins (single exchange for as-of,
no nested-loop join for range)."""

from __future__ import annotations

import pytest

from pyspark.sql import Row, functions as F

from cloud_dataflow_batch_processing_spark.extensions.temporal import asof_join, range_join
from cloud_dataflow_batch_processing_spark.plans import assert_no_cartesian, count_shuffles


def _frames(spark):
    left = spark.createDataFrame(
        [
            Row(k="a", lt=10, tag="a10"),
            Row(k="a", lt=20, tag="a20"),
            Row(k="a", lt=5, tag="a5"),
            Row(k="b", lt=100, tag="b100"),
            Row(k="c", lt=7, tag="c7"),
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k="a", rt=10, v=1.0),
            Row(k="a", rt=15, v=2.0),
            Row(k="b", rt=90, v=3.0),
            Row(k="b", rt=100, v=4.0),
            # key "c" has no right rows at all
        ]
    )
    return left, right


def test_asof_inclusive_semantics(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on=["k"], left_ts="lt", right_ts="rt", right_cols=["v"])
    got = {r["tag"]: (r["v"], r["__asof_ts"]) for r in out.collect()}
    assert got == {
        "a10": (1.0, 10),  # equal timestamp matches when inclusive
        "a20": (2.0, 15),  # latest at-or-before
        "a5": (None, None),  # no earlier right row -> NULLs
        "b100": (4.0, 100),
        "c7": (None, None),  # key with no right rows at all
    }
    # Left-outer semantics: every left row survives exactly once.
    assert out.count() == left.count()


def test_asof_exclusive_semantics(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, on=["k"], left_ts="lt", right_ts="rt", right_cols=["v"], inclusive=False
    )
    got = {r["tag"]: (r["v"], r["__asof_ts"]) for r in out.collect()}
    # Equal timestamps no longer match: a10 falls back to nothing
    # earlier? rt=10 is excluded, nothing before it at key "a" except
    # nothing -> NULL; b100 falls back to rt=90.
    assert got["a10"] == (None, None)
    assert got["a20"] == (2.0, 15)
    assert got["b100"] == (3.0, 90)


def test_asof_single_exchange_no_join(spark):
    """The whole point of the union+window formulation: ONE hash
    exchange (co-locate each key's timeline) and ZERO join nodes."""
    left, right = _frames(spark)
    out = asof_join(left, right, on=["k"], left_ts="lt", right_ts="rt", right_cols=["v"])
    assert count_shuffles(out) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def _lcg_rows(n, seed):
    x = seed
    rows = []
    for i in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        rows.append((x % 7, x % 1000, i))  # (key, ts, id)
    return rows


def test_range_join_matches_bruteforce(spark):
    pts = spark.createDataFrame(_lcg_rows(300, 1), ["k", "pt", "pid"])
    ivs = spark.createDataFrame(
        [(k, s, s + ln, i) for (k, s, i), ln in zip(_lcg_rows(80, 2), [17, 60, 0, 250] * 20)],
        ["k", "s", "e", "iid"],
    )
    out = range_join(
        pts, ivs, on=["k"], point_ts="pt", start_ts="s", end_ts="e", bucket_width=64, how="inner"
    )
    got = sorted((r["pid"], r["iid"]) for r in out.select("pid", "iid").collect())
    p, i = pts.alias("p"), ivs.alias("i")
    brute = (
        p.join(i, (F.col("p.k") == F.col("i.k")))
        .filter((F.col("i.s") <= F.col("p.pt")) & (F.col("p.pt") <= F.col("i.e")))
        .select("p.pid", "i.iid")
    )
    want = sorted((r["pid"], r["iid"]) for r in brute.collect())
    assert got == want  # equality of sorted multisets => exactly-once, no dup pass needed
    assert len(got) == len(set(got))


def test_range_join_left_keeps_unmatched_points(spark):
    pts = spark.createDataFrame([(1, 50, 0), (1, 500, 1)], ["k", "pt", "pid"])
    ivs = spark.createDataFrame([(1, 40, 60, 9)], ["k", "s", "e", "iid"])
    out = range_join(
        pts, ivs, on=["k"], point_ts="pt", start_ts="s", end_ts="e", bucket_width=100, how="left"
    )
    rows = {r["pid"]: r["iid"] for r in out.collect()}
    assert rows == {0: 9, 1: None}


def test_range_join_no_nested_loop(spark):
    """Interval containment must plan as an equi-join on (key, bucket)
    with a residual filter — never BroadcastNestedLoopJoin/cartesian."""
    pts = spark.createDataFrame(_lcg_rows(100, 3), ["k", "pt", "pid"])
    ivs = spark.createDataFrame(
        [(k, s, s + 30, i) for k, s, i in _lcg_rows(40, 4)], ["k", "s", "e", "iid"]
    )
    out = range_join(pts, ivs, on=["k"], point_ts="pt", start_ts="s", end_ts="e", bucket_width=32)
    assert_no_cartesian(out)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_null_keys_never_match(spark):
    """JOIN semantics: NULL keys match nothing — NULL-key left rows
    keep NULL payloads even when NULL-key right rows exist."""
    left = spark.createDataFrame([(None, 10, "ln"), ("a", 10, "la")], "k string, lt int, tag string")
    right = spark.createDataFrame([(None, 5, 1.0), ("a", 5, 2.0)], "k string, rt int, v double")
    out = {r["tag"]: r["v"] for r in
           asof_join(left, right, on=["k"], left_ts="lt", right_ts="rt", right_cols=["v"]).collect()}
    assert out == {"ln": None, "la": 2.0}


def test_resample_ffill_rejects_degenerate_grid(spark):
    """ADVICE r3: an empty window or non-positive step must raise a
    clear ValueError up front, not an illegal-sequence-boundaries
    executor error mid-job."""
    import pytest

    from cloud_dataflow_batch_processing_spark.extensions.temporal import resample_ffill

    obs = spark.createDataFrame([("a", 1, 1.0)], "k string, ts int, v double")
    with pytest.raises(ValueError, match="step must be positive"):
        resample_ffill(obs, ["k"], "ts", ["v"], start=0, end=10, step=0)
    with pytest.raises(ValueError, match="empty grid"):
        resample_ffill(obs, ["k"], "ts", ["v"], start=10, end=10, step=5)

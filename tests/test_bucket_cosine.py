"""The grouped pair verify (``_bucket_cosines`` behind
``lsh_bucketed_pairs`` and ``semantic_dedup_stats``) against the
interpreted-HOF ``cosine`` self-join it replaced: equal bit for bit
after ``F.round(·, 6)`` on a fixture built to hit its edges — mixed
vector lengths in one bucket, a singleton bucket, exact duplicates, a
pair whose cosine rounds to exactly the threshold and one just below."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from cloud_dataflow_batch_processing_spark.extensions import similarity as S

T = 0.9
C_AT = 0.8999996  # round(·, 6) == T: kept
C_BELOW = 0.8999994  # round(·, 6) == T - 1e-6, yet above the kernel's pre-filter


def _lcg_vec(seed, dim):
    out, s = [], seed
    for _ in range(dim):
        s = (s * 1103515245 + 12345) % (2**31)
        out.append(s / 2**31 - 0.5)
    return out


def _fixture_rows():
    v = _lcg_vec(7, S.DIM)
    rows = [
        # Shorter than DIM: the signature's zip_with pads them with NULL,
        # so all land in bucket 0 — three lengths in one bucket. Id 5
        # equals id 1 on its first three dims, so a kernel that ignored
        # lengths would pair them at cosine 1.
        (1, [1.0, 0.0, 0.0], 0),
        (2, [C_AT, math.sqrt(1 - C_AT * C_AT), 0.0], 0),
        (3, [1.0, 0.0, 0.0, 0.0, 0.0], 0),
        (4, [C_BELOW, math.sqrt(1 - C_BELOW * C_BELOW), 0.0, 0.0, 0.0], 0),
        (5, [1.0, 0.0, 0.0, 0.0], 0),
        # Exact duplicates, and their negation: the complementary
        # signature, alone in its bucket and cluster.
        (6, v, 1),
        (7, list(v), 1),
        (8, [-x for x in v], 2),
    ]
    rows += [(100 + i, _lcg_vec(1000 + i, S.DIM), 3) for i in range(40)]
    return rows


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        _fixture_rows(), "vec_id long, embedding array<double>, cid long"
    )


def _hof_pairs(frame, key, min_cosine):
    a, b = frame.alias("a"), frame.alias("b")
    return a.join(
        b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col(f"a.{key}").alias("key"),
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        F.round(S.cosine("a.embedding", "b.embedding"), 6).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= min_cosine)


def _bits(rows):
    return sorted((r["id_a"], r["id_b"], r["cos_sim"].hex()) for r in rows)


def test_fixture_hits_every_edge(vecs):
    sig = vecs.select("vec_id", S.lsh_signature("embedding").alias("bucket"))
    sizes = {r["bucket"]: r["count"] for r in sig.groupBy("bucket").count().collect()}
    bucket = {r["vec_id"]: r["bucket"] for r in sig.collect()}
    assert bucket[1] == bucket[3] == bucket[5]
    assert bucket[6] == bucket[7]
    assert sizes[bucket[8]] == 1
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in _hof_pairs(vecs.withColumn("bucket", F.lit(0)), "bucket", -1.0).collect()
    }
    assert got[(1, 2)] == T
    assert got[(3, 4)] == pytest.approx(T - 1e-6, abs=1e-12)
    assert (1, 5) not in got  # unequal lengths: NULL cosine
    assert got[(6, 7)] == 1.0


@pytest.mark.parametrize("min_cosine", [T, -1.0])
def test_lsh_pairs_equal_hof_self_join(vecs, min_cosine):
    sig = vecs.filter(S.vec_is_valid("embedding")).withColumn(
        "bucket", S.lsh_signature("embedding")
    )
    want = _bits(_hof_pairs(sig, "bucket", min_cosine).collect())
    got = _bits(S.lsh_bucketed_pairs(vecs, min_cosine=min_cosine).collect())
    assert got == want
    if min_cosine == T:
        kept = {p[:2] for p in want}
        assert (1, 2) in kept and (6, 7) in kept and (3, 4) not in kept


@pytest.mark.parametrize("min_cosine", [T, -1.0])
def test_cluster_drops_equal_hof_self_join(vecs, min_cosine):
    pairs = _hof_pairs(vecs, "cid", min_cosine)
    dropped = dict(
        pairs.groupBy("key").agg(F.countDistinct("id_b").alias("n")).collect()
    )
    members = dict(vecs.groupBy("cid").count().collect())
    want = sorted(
        (cid, n, dropped.get(cid, 0), n - dropped.get(cid, 0)) for cid, n in members.items()
    )
    asg = vecs.select(F.col("vec_id").alias("__id"), F.col("embedding").alias("__e"), "cid")
    got = sorted(tuple(r) for r in S._cluster_drops(asg, min_cosine).collect())
    assert got == want


def _fold_cosine(a, b):
    d = na = nb = 0.0
    for x, y in zip(a, b):
        d += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return d / (math.sqrt(na) * math.sqrt(nb))


def _kernel_pairs(ids, vecs):
    out = {}
    for rows, cols, cos, pair in S._bucket_cosines(ids, vecs):
        assert cos.size <= max(S._COS_TILE, len(ids))
        for i, j in zip(*np.nonzero(pair)):
            key = (int(cols[j]), int(rows[i]))
            assert key not in out
            out[key] = float(cos[i, j])
    return out


def test_bucket_cosines_tiled_equals_fold(monkeypatch):
    """Row tiling changes allocation, not arithmetic: a bucket forced
    through tiny tiles yields every pair once, bit-identical to the
    strict left-to-right fold; members sharing an id never pair."""
    ids = np.array([5, 3, 9, 3] + list(range(20, 50)), dtype=np.int64)
    vecs = [np.array(_lcg_vec(i + 1, 6 if i % 7 else 4)) for i in range(len(ids))]
    want = {
        (i, j): _fold_cosine(vecs[i], vecs[j])
        for i in range(len(ids)) for j in range(len(ids))
        if ids[i] < ids[j] and len(vecs[i]) == len(vecs[j])
    }
    assert _kernel_pairs(ids, vecs) == want
    monkeypatch.setattr(S, "_COS_TILE", 7)
    assert _kernel_pairs(ids, vecs) == want
    assert list(S._bucket_cosines(ids[:1], vecs[:1])) == []

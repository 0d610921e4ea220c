"""Similarity search over embedding columns (SURVEY.md §2.3):
brute-force cosine top-k as the exact baseline, random-hyperplane LSH
bucketing as the scale path.

Engine-neutral determinism rules:
- Dot products / norms fold strictly left-to-right (F.aggregate ↔
  DuckDB list_reduce), so both engines see the identical FP operation
  order and produce bit-identical doubles.
- LSH hyperplanes are generated by an explicit LCG from (plane, dim) —
  no RNG state, reproducible anywhere:
      v(p,d)  = ((p*64 + d) * 1103515245 + 12345) mod 2^31
      comp    = v / 2^31 - 0.5
- Scores are rounded to 6 decimals at the boundary.

Scale posture (100 TB / billions of vectors):
- ``cosine_topk``: one broadcast of the query vector, per-row score,
  TakeOrderedAndProject — no shuffle of the corpus.
- ``lsh_bucketed_pairs``: per-row signature; candidate verify is one
  group-by on the bucket key (shuffle of bucket-grouped members, not
  the corpus cross product), with each bucket's pairs scored in numpy
  by ``_bucket_cosines``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

LCG_A = 1103515245
LCG_C = 12345
LCG_M = 2**31
NUM_PLANES = 8
DIM = 64
# Optimizer-estimate gate for the argmin fan-out (see kmeans_assign):
# chosen between the sf0.1 embeddings estimate (~0.8 MB, where an
# ungated fan-out measured a 2-3x regression) and the heavy-bench
# 20k-vector estimate (~14 MB, where the serial passes are the cost).
FAN_OUT_MIN_BYTES = 8 * 1024 * 1024


def _as_double(arr: Column | str) -> Column:
    col = F.col(arr) if isinstance(arr, str) else arr
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Strict left-to-right dot product (matches DuckDB list_reduce)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    # NULL (never an ANSI DIVIDE_BY_ZERO) when either norm is 0 —
    # matches DuckDB's division-by-zero NULL, so a threshold filter
    # drops such pairs identically on both engines.
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


# Doubles per tile array of _bucket_cosines: _argmin_arrow's
# cache-resident tile (1024 rows × k=256).
_COS_TILE = 1 << 18


def _bucket_cosines(ids, vecs):
    """Pairwise cosine over one bucket's members (int64 ``ids``, float64
    ``vecs``). Yields ``(rows, cols, cos, pair)`` per row tile: member
    indices, the cosine tile and the mask of its pairs — lower id in
    ``cols``, equal lengths (the HOF ``zip_with`` pads a shorter side
    with NULL, so such pairs drop) and a non-zero norm product. Each pair
    appears once, in the row of its higher-id member. Rows are tiled so
    a bucket of m members allocates O(_COS_TILE) doubles, never m × m.

    Bit-identical to :func:`cosine`: dot and norms accumulate one dim
    per step from 0.0 with elementwise binary64 ops (NOT np.sum /
    np.dot, whose pairwise or FMA summation would re-associate the
    fold), then divide by ``sqrt(na) * sqrt(nb)``, so the same DuckDB
    oracles certify both. Callers round with ``F.round`` on the JVM:
    Spark's HALF_UP double rounding must not be re-implemented here.

    PRECONDITION: inputs are ``vec_is_valid``-filtered (no NULL, NaN or
    Inf components), as every caller does. For NaN-bearing vectors this
    is NOT bit-identical to :func:`cosine`: Arrow ships a NULL element
    and a NaN element as the same NaN, and a NaN cosine returns to the
    JVM as NULL where the HOF yields NaN (which Spark orders above every
    number, so ``cos_sim >= t`` keeps the HOF row but not this one)."""
    import numpy as np

    lens = np.fromiter((len(v) for v in vecs), dtype=np.int64, count=len(vecs))
    for dim in np.unique(lens):
        idx = np.flatnonzero(lens == dim)
        if len(idx) < 2:
            continue
        idx = idx[np.argsort(ids[idx], kind="stable")]
        m, sid = len(idx), ids[idx]
        # dim-major copy: each step of the folds reads one contiguous row.
        xt = np.stack([vecs[i] for i in idx], axis=1)
        sq = np.zeros(m)
        for d in range(dim):
            sq += xt[d] * xt[d]
        nrm = np.sqrt(sq)
        block = max(1, _COS_TILE // m)
        for r0 in range(1, m, block):
            r1 = min(r0 + block, m)
            acc = np.zeros((r1 - r0, r1))
            tmp = np.empty_like(acc)
            for d in range(dim):
                np.multiply(xt[d, r0:r1, None], xt[d, None, :r1], out=tmp)
                np.add(acc, tmp, out=acc)
            den = nrm[r0:r1, None] * nrm[None, :r1]
            nz = den != 0.0
            np.divide(acc, den, out=acc, where=nz)
            yield idx[r0:r1], idx[:r1], acc, nz & (sid[None, :r1] < sid[r0:r1, None])


def vec_is_valid(col: Column | str) -> Column:
    """Retrieval-valid embedding: non-NULL, every component finite, and
    norm > 0 (excludes empty arrays and zero vectors — cosine is
    undefined there). The cosine-family operators filter their inputs
    on this predicate: at 100 TB a crawled corpus WILL contain
    NaN/Inf-poisoned and zero vectors, and one NaN similarity would
    otherwise sort into (and poison) every top-k. SQL twin:
    :func:`vec_is_valid_sql` — applied in each oracle so both engines
    retrieve over the same corpus subset."""
    v = _as_double(col)
    finite = F.forall(
        v, lambda x: ~F.isnan(x) & (F.abs(x) != F.lit(float("inf")))
    )
    return finite & (norm(col) > 0)


def cosine_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: per-row score (codegen, no
    shuffle) + bounded TakeOrderedAndProject. The baseline every ANN
    variant is measured against."""
    q = F.array(*[F.lit(float(x)).cast("double") for x in query_vec])
    scored = corpus.filter(vec_is_valid(vec_col)).select(
        F.col(id_col),
        F.round(cosine(vec_col, q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def _plane_component(p: int, d_index: Column) -> Column:
    """LCG hyperplane component for plane p at 0-based dim d (Column)."""
    v = ((F.lit(p * DIM).cast("long") + d_index.cast("long")) * LCG_A + LCG_C) % LCG_M
    return v.cast("double") / LCG_M - 0.5


def lsh_signature(vec_col: Column | str, num_planes: int = NUM_PLANES) -> Column:
    """Random-hyperplane signature: bit p = sign(v · plane_p), packed
    into a BIGINT bucket key."""
    vec = _as_double(vec_col)
    total = F.lit(0).cast("long")
    for p in range(num_planes):
        d = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.lit(DIM - 1)),
                lambda x, i: x * _plane_component(p, i),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        total = total + F.when(d >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return total


def _cluster_drops(asg: DataFrame, min_cosine: float) -> DataFrame:
    """Per cluster of a vec_is_valid-filtered (__id, __e, cid) frame:
    (cid, n_members, n_dropped, n_kept), where a member is dropped iff a
    lower-id member of its cluster has ``round(cosine, 6) >= min_cosine``.
    The grouped body emits one row per member, (cid, max cosine to any
    lower-id member); rounding is monotone, so round(max) = max(round)."""
    import numpy as np
    import pandas as pd

    def _cos(pdf):
        ids = pdf["__id"].to_numpy(np.int64)
        # NaN (no lower-id partner) ships to the JVM as NULL.
        mx = np.full(len(ids), np.nan)
        for rows, _cols, c, pair in _bucket_cosines(ids, list(pdf["__e"])):
            has = pair.any(axis=1)
            mx[rows[has]] = np.where(pair, c, -np.inf).max(axis=1)[has]
        return pd.DataFrame({"cid": pdf["cid"], "cos_max": mx})

    return (
        asg.groupBy("cid")
        .applyInPandas(_cos, "cid long, cos_max double")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count(F.when(F.round("cos_max", 6) >= min_cosine, 1)).alias("n_dropped"),
        )
        .withColumn("n_kept", F.col("n_members") - F.col("n_dropped"))
    )


def lsh_bucketed_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.4,
    num_planes: int = NUM_PLANES,
) -> DataFrame:
    """ANN near-pair retrieval: bucket by hyperplane signature, exact
    cosine verify within buckets only — one group-by on the bucket
    (Beam's GroupByKey + per-key DoFn) that ships each bucket's member
    matrix once, so the 8-plane × 64-dim signature fold runs once per
    row with no cache and no self-join. Returns (id_a, id_b, cos_sim)
    for every same-bucket pair id_a < id_b with cos_sim ≥ ``min_cosine``."""
    import numpy as np
    import pandas as pd

    # Conservative pre-filter: every pair with round(cos, 6) >= min_cosine
    # has cos >= min_cosine - 5e-7; the exact rounding and threshold run
    # on the JVM below.
    floor = min_cosine - 1e-6

    def _cos(pdf):
        ids = pdf["__id"].to_numpy(np.int64)
        out = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))]
        for rows, cols, c, pair in _bucket_cosines(ids, list(pdf["__v"])):
            hi, lo = np.nonzero(pair & (c >= floor))
            out.append((ids[cols[lo]], ids[rows[hi]], c[hi, lo]))
        id_a, id_b, cos = map(np.concatenate, zip(*out))
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos_sim": cos})

    return (
        df.filter(vec_is_valid(vec_col))
        .select(
            F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v"),
            lsh_signature(vec_col, num_planes).alias("bucket"),
        )
        .groupBy("bucket")
        .applyInPandas(_cos, "id_a long, id_b long, cos_sim double")
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= min_cosine)
    )


def ivf_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding", dim: int = DIM
) -> DataFrame:
    """Per-partition centroids as (label, cv: array<double>), computed
    with decimal-exact per-dimension means so both engines get
    bit-identical components regardless of row order. (The coarse
    partition here is the existing label column — i.e. IVF with
    pretrained assignments; a k-means trainer would persist the same
    shape.)"""
    expl = df.select(
        F.col(label_col).alias("label"), F.posexplode(vec_col).alias("pos0", "val")
    ).select("label", (F.col("pos0") + 1).alias("pos"), F.col("val").cast("double").alias("val"))
    cent = expl.groupBy("label", "pos").agg(
        (F.sum(F.col("val").cast("decimal(27,8)")).cast("double") / F.count(F.lit(1))).alias(
            "comp"
        )
    )
    return cent.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "comp"))), lambda s: s["comp"]
        ).alias("cv")
    )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int,
    nprobe: int = 3,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: rank coarse partitions by centroid distance,
    probe the nearest ``nprobe``, brute-force cosine inside them only.

    The probe list is MATERIALIZED into literal filter values (it is
    nprobe rows — the one collect every IVF implementation makes), so
    the corpus scan carries ``label IN (...)`` as a static predicate:
    on a label-partitioned parquet layout that becomes a
    PartitionFilter and Spark never lists, opens, or reads the other
    (1 - nprobe/nlist) of the files (plan-pinned by
    test_ivf_partition_pruning). A broadcast-join probe would filter
    rows only AFTER scanning every partition."""
    q = F.array(*[F.lit(float(x)).cast("double") for x in query_vec])
    df = df.filter(vec_is_valid(vec_col))
    cents = ivf_centroids(df, label_col, vec_col)
    d2 = F.aggregate(
        F.zip_with(F.col("cv"), q, lambda c, qv: (c - qv) * (c - qv)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probe = cents.select("label", d2.alias("d2")).orderBy("d2", "label").limit(nprobe)
    probe_labels = [r["label"] for r in probe.collect()]
    pruned = df.filter(F.col(label_col).isin(probe_labels))
    scored = pruned.select(
        F.col(id_col), F.round(cosine(vec_col, q), 6).alias("cos_sim")
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# Trained IVF index: build (k-means → label-partitioned layout) + search
# ---------------------------------------------------------------------------


def ivf_build_index(
    df: DataFrame,
    out_dir: str,
    k: int = 256,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build a persisted IVF index: train deterministic Lloyd k-means,
    assign every vector with the broadcast-matrix argmin, and write

    - ``{out_dir}/vectors``   — the corpus partitioned BY CLUSTER ID
      (``partitionBy("cid")``), so a search's ``cid IN (probes)``
      predicate becomes a file-level PartitionFilter and Spark never
      lists or reads the other (1 - nprobe/k) of the data;
    - ``{out_dir}/centroids`` — k rows of (cid, cv array<double>).

    This is the batch-index shape for billion-vector search: build is
    one training job plus one partitioned write; the index is static
    files, so search jobs are cheap scans with pruning — no service,
    no shuffle. Centroid float64 values survive the parquet round-trip
    bit-exactly, so search ranks partitions with the exact trained
    centroids."""
    import os

    v = df.filter(vec_is_valid(vec_col)).select(
        F.col(id_col).alias("__id"), _as_double(vec_col).alias("__e")
    )
    cent_rows = kmeans_centroids(v, k, iters)
    asg = v.select(
        F.col("__id").alias(id_col),
        F.col("__e").alias(vec_col),
        _argmin_arrow(cent_rows)["cid"].alias("cid"),
    )
    asg.write.mode("overwrite").partitionBy("cid").parquet(
        os.path.join(out_dir, "vectors")
    )
    spark = df.sparkSession
    # Literal JVM frame (sources/create.local_df): the createDataFrame
    # form is a Python-RDD plan whose coalesce(1) write pays every
    # slice sequentially in one task (~5 s for a tiny frame on
    # local[32] — see local_df's docstring measurement).
    from cloud_dataflow_batch_processing_spark.sources.create import local_df

    cent_df = local_df(
        spark,
        [(int(c), [float(x) for x in cv]) for c, cv in sorted(cent_rows)],
        "cid long, cv array<double>",
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "centroids")
    )


def ivf_index_append(
    df: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign a NEW batch of vectors
    against the index's STORED centroids (no retraining, no touch of
    existing data) and append them into the cid-partitioned layout —
    the daily-increment shape, mirroring ``incremental_near_dups`` for
    the dedup family. The old corpus contributes nothing but its
    directory structure; the append is one partitioned write of the
    batch. Like the build, the batch is ``vec_is_valid``-filtered: a
    NULL, NaN-bearing or zero vector is never indexed. Centroids drift
    as the corpus grows — periodic rebuilds (``ivf_build_index``)
    re-center, exactly like any production IVF."""
    import os

    spark = df.sparkSession
    cent_rows = [
        (int(r["cid"]), [float(x) for x in r["cv"]])
        for r in spark.read.parquet(os.path.join(index_dir, "centroids")).collect()
    ]
    v = df.filter(vec_is_valid(vec_col)).select(
        F.col(id_col).alias("__id"), _as_double(vec_col).alias("__e")
    )
    asg = v.select(
        F.col("__id").alias(id_col),
        F.col("__e").alias(vec_col),
        _argmin_arrow(cent_rows)["cid"].alias("cid"),
    )
    asg.write.mode("append").partitionBy("cid").parquet(
        os.path.join(index_dir, "vectors")
    )


def ivf_search(
    spark: SparkSession,
    index_dir: str,
    query_vec: list[float],
    topk: int = 10,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF index: rank the k stored centroids by
    squared distance to the query (driver-side over k×dim doubles —
    the one tiny collect every IVF makes), then brute-force cosine
    ONLY inside the ``nprobe`` nearest partitions. The probe list is
    materialized into a static ``cid IN (...)`` predicate so partition
    pruning happens at file-listing time (plan-pinned:
    test_trained_ivf_index_prunes_partitions)."""
    import os

    cents = spark.read.parquet(os.path.join(index_dir, "centroids")).collect()
    q = [float(x) for x in query_vec]

    def d2(cv: list[float]) -> float:
        acc = 0.0
        for c, qv in zip(cv, q):
            acc += (c - qv) * (c - qv)
        return acc

    ranked = sorted((d2(list(r["cv"])), r["cid"]) for r in cents)
    probe = [cid for _, cid in ranked[:nprobe]]
    corpus = spark.read.parquet(os.path.join(index_dir, "vectors")).filter(
        F.col("cid").isin(probe)
    )
    qcol = F.array(*[F.lit(x).cast("double") for x in q])
    scored = corpus.select(
        F.col(id_col), F.round(cosine(vec_col, qcol), 6).alias("cos_sim")
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(topk)


# ---------------------------------------------------------------------------
# DuckDB SQL twins
# ---------------------------------------------------------------------------


def _vec_double_sql(expr: str) -> str:
    return f"list_transform({expr}, x -> CAST(x AS DOUBLE))"


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(list_zip({_vec_double_sql(a)}, {_vec_double_sql(b)}), "
        f"p -> p[1] * p[2])), (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform({_vec_double_sql(a)}, x -> x * x)), (acc, x) -> acc + x))"
    )


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"


def vec_is_valid_sql(col: str) -> str:
    """DuckDB twin of :func:`vec_is_valid`."""
    v = _vec_double_sql(col)
    return (
        f"(len(list_filter({v}, x -> isnan(x) OR isinf(x))) = 0 "
        f"AND {norm_sql(col)} > 0)"
    )


def lsh_signature_sql(vec: str, num_planes: int = NUM_PLANES) -> str:
    terms = []
    for p in range(num_planes):
        dot_p = (
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(list_zip({_vec_double_sql(vec)}, range(0, {DIM})), "
            f"p -> p[1] * (((CAST({p * DIM} + p[2] AS BIGINT) * {LCG_A} + {LCG_C}) % {LCG_M}) / CAST({LCG_M} AS DOUBLE) - 0.5))), "
            f"(acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot_p} >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# Deterministic k-means (Lloyd) over embedding columns
# ---------------------------------------------------------------------------


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means: centroids seeded from the k lowest
    ids, ``iters`` (assign → decimal-exact centroid update) rounds,
    then a final assignment. Returns (id, cid, dist) — the clustering
    step of SemDeDup-style semantic dedup and of IVF index training.

    Engine-neutral determinism: distances fold strictly left-to-right,
    centroid means go through DECIMAL(27,8) (order-independent), ties
    break on the lower centroid id — so the full iterative trajectory
    is bit-identical on both engines.

    Scale posture (billions of vectors — the MLlib KMeans shape):
    centroids are MATERIALIZED driver-side after each update (k × dim
    doubles — the same tiny collect every k-means implementation makes)
    and re-shipped as one broadcast matrix, so each assignment is a
    per-row Arrow-batched argmin (:func:`_argmin_arrow`, plan size O(1)
    in k): the corpus NEVER shuffles and never joins. Per iteration the
    only exchange carries (cid, pos) partial sums — at most k × dim
    rows per map task after partial aggregation — and the final
    returned plan is scan → per-row argmin, zero exchanges. Python
    round-trip of the centroid doubles is exact (binary64), so
    materialization cannot perturb the trajectory."""
    asg = _kmeans_fit_assign(df, k, iters, id_col, vec_col)
    return asg.select(
        F.col("__id").alias(id_col),
        F.col("__b")["cid"].alias("cid"),
        F.round(F.sqrt(F.col("__b")["d2"]), 6).alias("dist"),
    )


def _kmeans_fit_assign(
    df: DataFrame, k: int, iters: int, id_col: str, vec_col: str
) -> DataFrame:
    """The k-means stage shared by ``kmeans_assign`` and
    ``semantic_dedup_stats``: ``vec_is_valid``-filter and cast the
    corpus, fan the scan out, train, then assign. Returns (__id, __e,
    __b) with ``__b`` the nearest centroid's (d2, cid) struct."""
    from cloud_dataflow_batch_processing_spark.plans.inspect import fan_out_scan

    v = df.filter(vec_is_valid(vec_col)).select(
        F.col(id_col).alias("__id"), _as_double(vec_col).alias("__e")
    )
    # Size-gated scan fan-out (r12, guide §2): a big embeddings table
    # read from fewer splits than cores runs every argmin pass on a
    # handful of tasks (core-count-independent in the 8-vs-32 scaling
    # run); below the gate the exchange costs more than the serial
    # pass (2-3x regression measured at sf0.1). No-op at real scale.
    v = fan_out_scan(v, "__id", min_bytes=FAN_OUT_MIN_BYTES)
    cent_rows = kmeans_centroids(v, k, iters)
    return v.select("__id", "__e", _argmin_arrow(cent_rows).alias("__b"))


def _argmin_arrow(cent_rows: list[tuple[int, list[float]]]) -> Column:
    """Per-row nearest-centroid argmin of the ``__e`` column, as a
    (d2, cid) struct. The centroids ship once as a broadcast k×dim
    numpy matrix and each Arrow batch is assigned by a numpy kernel, so
    the plan stays O(1) in k — SemDeDup-realistic k (10k–100k) would
    kill the planner if k×dim centroids were inlined as literals.

    Bit-identity with the DuckDB oracle (``sqdist_sql`` inside
    ``kmeans_assign_sql`` and ``semantic_dedup_sql``): the SQL twin
    folds ``acc + (x_d - c_d) * (x_d - c_d)`` strictly left-to-right
    over dims from acc = 0.0; here the loop accumulates one dim per
    step with elementwise binary64 subtract, multiply and add (NOT
    np.sum / np.dot, whose pairwise or FMA summation would re-associate
    the fold), so every intermediate is the same IEEE-754 operation in
    the same order. Ties break to the lower cid in both: ``ORDER BY d2,
    cid`` ↔ np.argmin's first occurrence over centroids pre-sorted by
    cid. That op order is why the oracle certifies this kernel row for
    row.

    Every row must have the centroids' dimension; any other length
    raises ``ValueError`` naming both. Callers ``vec_is_valid``-filter
    first, so NULL, NaN-bearing and zero vectors never arrive.

    Memory bound: the broadcast is k×dim float64 (~600 MB at
    SemDeDup's k=100k × dim=768) — the same driver/executor-resident
    centroid matrix every k-means at that scale carries (MLlib
    KMeansModel ships the identical shape); per-batch scratch is
    batch_rows × k doubles, bounded by the Arrow batch size."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    rows = sorted(cent_rows)
    cids = np.array([int(c) for c, _ in rows], dtype=np.int64)
    mat = np.array([[float(x) for x in cv] for _, cv in rows], dtype=np.float64)
    spark = SparkSession.getActiveSession()
    bc = spark.sparkContext.broadcast((cids, mat))

    @pandas_udf("struct<d2: double, cid: long>")
    def _assign(e):
        cids_, mat_ = bc.value
        if len(e) == 0:
            return pd.DataFrame({"d2": pd.Series(dtype="float64"),
                                 "cid": pd.Series(dtype="int64")})
        dim0 = mat_.shape[1]
        lens = np.fromiter((len(r) for r in e), dtype=np.int64, count=len(e))
        bad = np.flatnonzero(lens != dim0)
        if len(bad):
            raise ValueError(
                f"k-means assignment expects vectors of dim {dim0} (the "
                f"centroids'), found dim {lens[bad[0]]}"
            )
        # One C-level concatenate instead of a per-row python loop
        # (r12); the lengths above make the flat buffer rectangular.
        x = np.concatenate(e.to_numpy()).astype(np.float64, copy=False).reshape(
            len(e), dim0
        )
        # Row-tiled out= kernel (r12): the old `acc = acc + diff*diff`
        # allocated two fresh batch×k arrays per dim AND streamed a
        # ~45 MB working set through shared L3 64 times — the kernel,
        # not the math, was the heavy-bench cost (measured 2.7 s per
        # 10k×256×64 batch; row tiles whose (acc, diff) stay
        # cache-resident run the same batch in 0.6-0.8 s, ~3.5×).
        # np.subtract/multiply/add with out= over row tiles perform
        # the IDENTICAL IEEE-754 operations in the identical per-
        # (row, centroid) dim order — np.array_equal-verified — so the
        # bit-identity argument above is untouched.
        n_rows, k_ = x.shape[0], mat_.shape[0]
        bs = 1024
        acc = np.empty((n_rows, k_), dtype=np.float64)
        diff = np.empty((min(bs, n_rows), k_), dtype=np.float64)
        sub = np.empty_like(diff)
        for i0 in range(0, n_rows, bs):
            i1 = min(i0 + bs, n_rows)
            m = i1 - i0
            s, dbuf, xv = sub[:m], diff[:m], x[i0:i1]
            s[:] = 0.0
            for d in range(mat_.shape[1]):
                np.subtract(xv[:, d, None], mat_[None, :, d], out=dbuf)
                np.multiply(dbuf, dbuf, out=dbuf)
                np.add(s, dbuf, out=s)
            acc[i0:i1] = s
        j = np.argmin(acc, axis=1)
        return pd.DataFrame(
            {"d2": acc[np.arange(len(j)), j], "cid": cids_[j]}
        )

    return _assign(F.col("__e"))


def kmeans_centroids(v: DataFrame, k: int, iters: int) -> list[tuple[int, list[float]]]:
    """Run the Lloyd iterations over a (__id, __e) frame and return the
    final centroids as driver-side (cid, components) rows."""
    # Seeds = the k LOWEST ids (not `id < k`): identical on dense
    # 0..n-1 id spaces (every registered query/oracle), but correct on
    # sparse ids too — `id < k` would silently under-seed there.
    cent_rows = [
        (r["cid"], list(r["cv"]))
        for r in v.orderBy("__id")
        .limit(k)
        .select(F.col("__id").alias("cid"), F.col("__e").alias("cv"))
        .collect()
    ]
    if not cent_rows:
        # An empty corpus cannot seed any centroid, and the argmin over
        # an empty centroid matrix would die opaquely inside a Python
        # worker — refuse here.
        raise ValueError("k-means needs a non-empty corpus to seed centroids")
    for _ in range(iters):
        assigned = v.select("__id", "__e", _argmin_arrow(cent_rows)["cid"].alias("cid"))
        cent_rows = sorted(
            (r["label"], list(r["cv"]))
            for r in ivf_centroids(assigned, "cid", "__e").collect()
        )
    return cent_rows


def semantic_dedup_stats(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    min_cosine: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_method: str = "arrow",
) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means cluster the embeddings
    (``kmeans_assign`` trajectory), then find near-duplicate pairs ONLY
    within each cluster (exact cosine ≥ ``min_cosine``) and drop the
    higher id of every pair. Returns per-cluster
    (cid, n_members, n_dropped, n_kept).

    Scale posture: clustering bounds the quadratic work — one group-by
    on the cluster id ships each cluster's member matrix once
    (:func:`_cluster_drops`), never an all-pairs product. At corpus
    scale k grows with the data (SemDeDup uses 10k–100k clusters) to
    keep each cluster's pair count bounded; the assignment stage stays
    per-row/zero-shuffle regardless of k.

    ``assign_method`` stays accepted for existing callers; ``"arrow"``
    names the one assignment path and any other value is rejected."""
    if assign_method != "arrow":
        raise ValueError(f"assign_method must be 'arrow', got {assign_method!r}")
    asg = _kmeans_fit_assign(df, k, iters, id_col, vec_col)
    return _cluster_drops(
        asg.select("__id", "__e", F.col("__b")["cid"].alias("cid")), min_cosine
    )


def sqdist_sql(a: str, b: str) -> str:
    """Strict left-to-right squared distance over already-double list
    expressions — the fold :func:`_argmin_arrow` reproduces."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), p -> (p[1] - p[2]) * (p[1] - p[2]))), "
        f"(acc, x) -> acc + x)"
    )


def _kmeans_ctes(k: int, iters: int, dim: int) -> list[str]:
    """Shared CTE chain for the k-means twins: v (double vectors), c0
    (seed centroids), then per iteration a{i} (assignment via QUALIFY
    row_number ≡ Spark's min-by-struct), e/m (decimal-exact
    range-explode means, same as the IVF oracle), c{i+1}."""
    ctes = [
        "v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
        f" FROM embeddings WHERE {vec_is_valid_sql('embedding')})",
        f"c0 AS (SELECT vec_id AS cid, e AS cv FROM v ORDER BY vec_id LIMIT {k})",
    ]
    for i in range(iters):
        ctes.append(
            f"a{i} AS (SELECT vec_id, e, cid, d2 FROM ("
            f"SELECT v.vec_id, v.e, c{i}.cid, {sqdist_sql('v.e', f'c{i}.cv')} AS d2 "
            f"FROM v CROSS JOIN c{i}) "
            f"QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1)"
        )
        ctes.append(
            f"e{i} AS (SELECT cid, pos, e[pos] AS val "
            f"FROM a{i}, range(1, {dim + 1}) t(pos))"
        )
        ctes.append(
            f"m{i} AS (SELECT cid, pos, "
            f"CAST(SUM(CAST(val AS DECIMAL(27,8))) AS DOUBLE) / COUNT(*) AS comp "
            f"FROM e{i} GROUP BY cid, pos)"
        )
        ctes.append(
            f"c{i + 1} AS (SELECT cid, list(comp ORDER BY pos) AS cv FROM m{i} GROUP BY cid)"
        )
    return ctes


def _kmeans_final_assign_sql(iters: int, cols: str) -> str:
    """Final-assignment subquery over the last centroid CTE."""
    return (
        f"SELECT {cols} FROM ("
        f"SELECT v.vec_id, v.e, c.cid, {sqdist_sql('v.e', 'c.cv')} AS d2 "
        f"FROM v CROSS JOIN c{iters} c) "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1"
    )


def kmeans_assign_sql(k: int = 8, iters: int = 2, dim: int = DIM) -> str:
    """DuckDB twin of ``kmeans_assign``: the Lloyd iterations unrolled
    into CTEs."""
    return (
        "WITH " + ",\n".join(_kmeans_ctes(k, iters, dim)) + "\n"
        + _kmeans_final_assign_sql(iters, "vec_id, cid, ROUND(sqrt(d2), 6) AS dist")
    )


def semantic_dedup_sql(
    k: int = 8, iters: int = 2, dim: int = DIM, min_cosine: float = 0.9
) -> str:
    """DuckDB twin of ``semantic_dedup_stats``: the k-means CTEs plus a
    within-cluster pair join, drop-higher-id, per-cluster rollup."""
    ctes = _kmeans_ctes(k, iters, dim)
    ctes.append("asg AS (" + _kmeans_final_assign_sql(iters, "vec_id, e, cid") + ")")
    ctes.append(
        "prs AS (SELECT a.cid, b.vec_id AS id_b "
        "FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id "
        f"WHERE ROUND({cosine_sql('a.e', 'b.e')}, 6) >= {min_cosine})"
    )
    ctes.append(
        "drp AS (SELECT cid, COUNT(DISTINCT id_b) AS n_dropped FROM prs GROUP BY cid)"
    )
    ctes.append("mem AS (SELECT cid, COUNT(*) AS n_members FROM asg GROUP BY cid)")
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT mem.cid, mem.n_members, "
        "CAST(COALESCE(drp.n_dropped, 0) AS BIGINT) AS n_dropped, "
        "CAST(mem.n_members - COALESCE(drp.n_dropped, 0) AS BIGINT) AS n_kept "
        "FROM mem LEFT JOIN drp USING (cid)"
    )

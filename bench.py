"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes three times: "queries"/"value" report the best run
(steady state: codegen/JIT warm, file listing cached) after a session
warm-up touches every table so JVM startup isn't attributed to the
first query; "queries_cold"/"value_cold" report the first run so
round-over-round comparisons can't hide warm-up shifts. Three runs,
not two: run 2 often lands in the cold run's wake (python-worker
spin-up, GC) and min-of-2 then reports that noise as steady state —
observed ±60 % on the pandas-udf pipeline at sf0.1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cloud_dataflow_batch_processing_spark.queries import REGISTRY, headline_queries
from cloud_dataflow_batch_processing_spark.session import get_spark


def scale_bench(spark) -> dict:
    """The sf1-equivalent scale point (VERDICT r3 #4): the two dedup
    headliners on a 50k-doc corpus (~10x sf0.1's documents table),
    generated deterministically into .bench_data/ — one order of
    magnitude of real headroom evidence for the 100 TB posture, run
    with the default (cached) stores. DuckDB runs the registry's own oracle
    SQL on the same parquet for the 2x bar, and the pair sets are
    compared so the scale point is correctness-checked, not just
    timed."""
    import duckdb

    from pyspark.sql import functions as F

    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
    from cloud_dataflow_batch_processing_spark.extensions import dedup as D
    from cloud_dataflow_batch_processing_spark.functions.text_fast import (
        lang_id_fast,
        quality_score_fast,
    )
    from scripts.gen_scale_docs import ensure_scale_docs

    base = os.path.dirname(os.path.abspath(__file__))
    path = ensure_scale_docs(os.path.join(base, ".bench_data", "sf1_docs"))
    docs = spark.read.parquet(path)
    n_rows = docs.count()

    def dedup_q():
        return D.minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.8)

    def clean_q():
        dropped = dedup_q().select(F.col("doc_b").alias("doc_id")).distinct()
        kept = docs.filter(quality_score_fast(F.col("text")) >= 0.5).join(
            dropped, on="doc_id", how="left_anti"
        )
        return kept.groupBy(lang_id_fast(F.col("text")).alias("pred_lang")).agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
        )

    from cloud_dataflow_batch_processing_spark.extensions import substring as SUB

    def substring_q():
        return SUB.substring_dup_stats(docs)

    spark_t: dict[str, dict] = {}
    for name, q in (
        ("dedup_minhash_pairs_fast", dedup_q),
        ("corpus_clean_pipeline", clean_q),
        ("substring_dedup_stats", substring_q),
    ):
        # Three runs, warm = best of runs 2-3, same rationale as the
        # headline loop's docstring (run 2 can land in the cold run's
        # wake; min-of-2-including-cold can silently report cold).
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            q().write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        release_managed_caches()
        spark_t[name] = {"cold": round(runs[0], 4), "warm": round(min(runs[1:]), 4)}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    duck_t: dict[str, dict] = {}
    duck_rows: dict[str, list] = {}
    for name in (
        "dedup_minhash_pairs_fast",
        "corpus_clean_pipeline",
        "substring_dedup_stats",
    ):
        # One run: DuckDB showed no warm-up effect at this scale
        # (cold == warm to within noise) and its corpus_clean takes
        # ~50 s here — a second run would double the driver's bench
        # wall-clock for no information.
        sql = REGISTRY[name].oracle
        t0 = time.perf_counter()
        duck_rows[name] = con.execute(sql).fetchall()
        duck_t[name] = {"sec": round(time.perf_counter() - t0, 4)}

    spark_pairs = {
        (r["doc_a"], r["doc_b"]) for r in dedup_q().select("doc_a", "doc_b").collect()
    }
    release_managed_caches()
    duck_pairs = {(r[0], r[1]) for r in duck_rows["dedup_minhash_pairs_fast"]}
    spark_sub = {tuple(r) for r in substring_q().collect()}
    duck_sub = {tuple(r) for r in duck_rows["substring_dedup_stats"]}

    # corpus_build_full at 50k docs (VERDICT r4 #6): the heaviest
    # headline composition gets its own sf1-equivalent point. The
    # registry fn runs unmodified against the scale corpus dir (the
    # lazy load_tables only touches documents.parquet), and DuckDB
    # runs the registry's own composed oracle on the same parquet —
    # exact value-set match, not just timing.
    build_fn = REGISTRY["corpus_build_full"].fn
    scale_dir = os.path.dirname(path)
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        build_fn(spark, scale_dir).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    release_managed_caches()
    spark_t["corpus_build_full"] = {"cold": round(runs[0], 4), "warm": round(min(runs[1:]), 4)}
    spark_build = {tuple(r) for r in build_fn(spark, scale_dir).collect()}
    release_managed_caches()
    t0 = time.perf_counter()
    duck_build = {tuple(r) for r in con.execute(REGISTRY["corpus_build_full"].oracle).fetchall()}
    duck_t["corpus_build_full"] = {"sec": round(time.perf_counter() - t0, 4)}
    def _soft(fn):
        try:
            return fn(spark)
        except Exception as exc:  # noqa: BLE001 — reported, not swallowed
            return {"error": f"{type(exc).__name__}: {exc}"}

    return {
        "kmeans_large_k": _soft(_kmeans_scale_point),
        "ivf_index": _soft(_ivf_scale_point),
        "rows": n_rows,
        "sf_equiv": 1.0,
        "materialize": "cache",
        "n_near_dup_pairs": len(spark_pairs),
        "pairs_match_oracle": spark_pairs == duck_pairs,
        "substring_match_oracle": spark_sub == duck_sub,
        "build_full_match_oracle": spark_build == duck_build,
        "spark": spark_t,
        "duckdb": duck_t,
    }


def _kmeans_scale_point(spark) -> dict:
    """Round-4 headline fix at realistic scale: one Lloyd round +
    final assignment at k=256 over 50k x 64-dim vectors through the
    broadcast-matrix Arrow argmin (plan size O(1) in k, so it holds up
    to SemDeDup-realistic k). Correctness at scale: a 2000-row sample of
    the Spark assignment is re-derived with an independent numpy
    argmin against the SAME trained centroids — exact cid equality."""
    import numpy as np
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from cloud_dataflow_batch_processing_spark.extensions import similarity as S
    from scripts.gen_scale_docs import ensure_scale_embeddings

    base = os.path.dirname(os.path.abspath(__file__))
    epath = ensure_scale_embeddings(os.path.join(base, ".bench_data", "sf1_docs"))
    emb = spark.read.parquet(epath)
    k = 256
    v = emb.select(
        F.col("vec_id").alias("__id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("__e"),
    )
    t0 = time.perf_counter()
    cents = S.kmeans_centroids(v, k=k, iters=1)
    t_train = time.perf_counter() - t0
    t0 = time.perf_counter()
    asg = v.select("__id", S._argmin_arrow(cents)["cid"].alias("cid"))
    asg.write.format("noop").mode("overwrite").save()
    t_assign = time.perf_counter() - t0

    sample = {r["__id"]: r["cid"] for r in asg.filter(F.col("__id") < 2000).collect()}
    tbl = pq.read_table(epath).to_pydict()
    ids = np.array(tbl["vec_id"][:2000])
    x = np.array(tbl["embedding"][:2000], dtype=np.float64)
    cid_arr = np.array([c for c, _ in sorted(cents)])
    mat = np.array([cv for _, cv in sorted(cents)], dtype=np.float64)
    d2 = ((x[:, None, :] - mat[None, :, :]) ** 2).sum(axis=2)
    want = cid_arr[np.argmin(d2, axis=1)]
    matches = all(sample[int(i)] == int(w) for i, w in zip(ids, want))
    return {
        "rows": 50_000,
        "k": k,
        "dim": 64,
        "train_1round_sec": round(t_train, 4),
        "assign_sec": round(t_assign, 4),
        "path": "arrow_broadcast",
        "sample_matches_numpy": bool(matches),
    }


def _ivf_scale_point(spark) -> dict:
    """Trained IVF index at scale: build = arrow-path k-means (k=256)
    + cid-partitioned parquet over the 50k-vector corpus (built once,
    reused across rounds — it is deterministic); search = partition-
    pruned probe. Reports build/search wall time, the pruning ratio
    (files the probe predicate lets Spark skip), and recall@10 of the
    pruned search against the exact full-corpus brute force — the
    accuracy/cost trade every IVF deployment tunes with nprobe.

    Honest caveat on the wall-clock: at 50k rows the brute scan is so
    cheap that search's fixed costs (centroid collect, file listing
    over 256 partition dirs) can exceed it — the scale signal here is
    partitions_scanned_frac (6%: the fraction of DATA a 100 TB search
    would read), not the small-corpus latency crossover."""
    from pyspark.sql import functions as F

    from cloud_dataflow_batch_processing_spark.extensions import similarity as S
    from scripts.gen_scale_docs import ensure_scale_embeddings

    base = os.path.dirname(os.path.abspath(__file__))
    epath = ensure_scale_embeddings(os.path.join(base, ".bench_data", "sf1_docs"))
    idx = os.path.join(base, ".bench_data", "ivf_index_k256")
    emb = spark.read.parquet(epath)

    build_sec = None
    if not os.path.exists(os.path.join(idx, "centroids")):
        t0 = time.perf_counter()
        S.ivf_build_index(emb, idx, k=256, iters=1)
        build_sec = round(time.perf_counter() - t0, 4)

    qv = [float(x) for x in emb.filter("vec_id = 7").head()["embedding"]]
    nprobe = 16
    t0 = time.perf_counter()
    got = [(r["vec_id"], r["cos_sim"]) for r in S.ivf_search(spark, idx, qv, topk=10, nprobe=nprobe).collect()]
    search_sec = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    exact = [(r["vec_id"], r["cos_sim"]) for r in S.cosine_topk(emb, qv, 10).collect()]
    brute_sec = round(time.perf_counter() - t0, 4)
    recall = len({i for i, _ in got} & {i for i, _ in exact}) / 10.0
    return {
        "rows": 50_000,
        "k": 256,
        "nprobe": nprobe,
        "partitions_scanned_frac": round(nprobe / 256, 4),
        "build_sec": build_sec,
        "search_sec": search_sec,
        "brute_sec": brute_sec,
        "recall_at_10": recall,
    }


HEAVY_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_data", "sf1_docs")


def ensure_heavy_inputs() -> str:
    """Generate the ``queries_heavy`` inputs into ``HEAVY_DIR`` if absent;
    return the directory."""
    from scripts.gen_scale_docs import (
        ensure_scale_docs,
        ensure_scale_embeddings,
        ensure_scale_tpch,
    )

    ensure_scale_docs(HEAVY_DIR)
    ensure_scale_embeddings(HEAVY_DIR)
    ensure_scale_tpch(HEAVY_DIR)
    return HEAVY_DIR


def _semantic_dedup_prune_k256(spark, hdir: str):
    from cloud_dataflow_batch_processing_spark.extensions import similarity as S

    emb20k = spark.read.parquet(os.path.join(hdir, "embeddings.parquet")).filter("vec_id < 20000")
    return S.semantic_dedup_stats(emb20k, k=256, iters=2, min_cosine=0.9)


def _vcf_variants_agg_10x(spark, hdir: str):
    from cloud_dataflow_batch_processing_spark.queries_io import vcf_variants_report

    return vcf_variants_report(spark, hdir, n_records=40_000)


def _registry(name: str):
    return lambda spark, hdir: REGISTRY[name].fn(spark, hdir)


# The ``queries_heavy`` entries, in output order: name -> fn(spark, dir)
# returning the frame to time. ``scripts/ab.py --query`` reads it too.
HEAVY_QUERIES = {
    "pagerank_supplier_customer": _registry("pagerank_supplier_customer"),
    "approx_distinct": _registry("approx_distinct"),
    "gopher_repetition_filter": _registry("gopher_repetition_filter"),
    "semantic_dedup_prune_k256": _semantic_dedup_prune_k256,
    "vcf_variants_agg_10x": _vcf_variants_agg_10x,
}


def heavy_bench(spark) -> dict:
    """``queries_heavy`` (VERDICT r11 #2): the round-11 optimization
    targets re-timed at sf1-equivalent scale, median-of-3, so
    round-over-round PERF has signal above the measured ±25% session
    drift that swamps the sub-second sf0.1 headliners. Additions-only:
    the headline ``queries``/``value`` fields are untouched.

    Inputs are generated deterministically into ``.bench_data/sf1_docs``
    (documents 50k = 10x sf0.1; lineitem 6M / orders 1.5M / events 1M =
    the sf1 cardinalities; embeddings capped at 20k = 10x sf0.1's
    2000 — vec_id < 20000 pushes to the scan). Three entries run the
    REGISTRY functions unmodified against that directory; the two
    non-registry shapes scale the one knob the registry pins
    (semantic dedup at k=256 — k=8 over 20k vectors would emit
    O((n/k)²·k) ≈ 25M verify pairs, a different operator; the VCF
    pipeline at 10x records via ``vcf_variants_report``). Every run
    recomputes from the parquet inputs; managed caches are released
    per entry (same discipline as the headline loop)."""
    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches

    hdir = ensure_heavy_inputs()
    entries: dict[str, dict] = {}
    for name, fn in HEAVY_QUERIES.items():
        spark.sparkContext.setJobDescription(f"heavy: {name}")
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, hdir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        release_managed_caches()
        spark.sparkContext.setJobDescription(None)
        entries[name] = {
            "median": round(sorted(runs)[1], 4),
            "runs": [round(r, 4) for r in runs],
        }
    return entries


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="cdbp-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Session warm-up: touch every table once so first-query timing
    # measures the query, not file listing/codegen bootstrap.
    from cloud_dataflow_batch_processing_spark.sources.testdata import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.count()

    # Python/Arrow worker-pool spin-up is session bootstrap too — fork
    # the daemon pool once across all cores so the first pandas-udf
    # query's cold number measures the query, not process forking
    # (same rationale as the JVM warm-up above).
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    _touch = pandas_udf(lambda s: s, "long")
    spark.range(10_000).repartition(int(spark.sparkContext.defaultParallelism)).select(
        _touch(F.col("id"))
    ).write.format("noop").mode("overwrite").save()

    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name, fn in headline_queries().items():
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        # Release operator-managed caches after each query's runs so the
        # bench session's storage footprint stays flat across queries
        # (within a query, run 2 may legitimately reuse run 1's cache —
        # that's the steady-state number).
        release_managed_caches()
        cold[name] = round(runs[0], 4)
        timings[name] = round(min(runs), 4)

    # Fail-soft: the scale section must never cost the driver the
    # headline numbers — a generation/scale failure is reported inline
    # instead of killing the run.
    scale = None
    if os.environ.get("SPARK_GRAFT_SCALE_BENCH", "1") != "0":
        try:
            scale = scale_bench(spark)
        except Exception as exc:  # noqa: BLE001 — reported, not swallowed
            scale = {"error": f"{type(exc).__name__}: {exc}"}

    # Same fail-soft posture for the r12 heavy block: a generation or
    # scale failure reports inline instead of costing the headline run.
    heavy = None
    if os.environ.get("SPARK_GRAFT_HEAVY_BENCH", "1") != "0":
        try:
            heavy = heavy_bench(spark)
        except Exception as exc:  # noqa: BLE001 — reported, not swallowed
            heavy = {"error": f"{type(exc).__name__}: {exc}"}

    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "queries_cold": cold,
                "value_cold": round(sum(cold.values()), 4),
                "sf": float(sf),
                "scale_sf1": scale,
                "queries_heavy": heavy,
            }
        )
    )


if __name__ == "__main__":
    main()

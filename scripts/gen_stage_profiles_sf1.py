"""(Re)generate the pinned sf1-equivalent stage-profile baseline
(VERDICT r7 #3).

The sf0.001 profiles (scripts/gen_stage_profiles.py) cannot adjudicate
drift in the bench's scale_sf1 section — e.g. the round-7
dedup_minhash_pairs_fast warm 3.43s -> 7.51s question — because the
50k-doc corpus exercises different AQE decisions and data volumes.
This script pins the WORK profile (shuffle records per exchange,
broadcast rows, result rows) of the four scale_sf1 queries on the same
deterministic 50k-doc corpus bench.py uses.

Regenerate ONLY when a plan change is deliberate, and say why in the
commit:

    python scripts/gen_stage_profiles_sf1.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud_dataflow_batch_processing_spark.plans.inspect import stage_profile  # noqa: E402
from cloud_dataflow_batch_processing_spark.session import get_spark  # noqa: E402

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "data",
    "stage_profile_sf1_baseline.json",
)


def sf1_profile_queries(spark):
    """The scale_sf1 bench queries as (name -> thunk returning a
    DataFrame), on the deterministic 50k-doc corpus. Shared by the
    generator and tests/test_stage_profile_sf1.py so the pinned thing
    and the checked thing cannot drift apart."""
    from pyspark.sql import functions as F

    from cloud_dataflow_batch_processing_spark.extensions import dedup as D
    from cloud_dataflow_batch_processing_spark.extensions import substring as SUB
    from cloud_dataflow_batch_processing_spark.functions.text_fast import (
        lang_id_fast,
        quality_score_fast,
    )
    from cloud_dataflow_batch_processing_spark.queries import REGISTRY, queries
    from scripts.gen_scale_docs import ensure_scale_docs

    queries()  # populate submodule registries
    base = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = ensure_scale_docs(os.path.join(base, ".bench_data", "sf1_docs"))
    scale_dir = os.path.dirname(path)
    docs = spark.read.parquet(path)

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

    return {
        "dedup_minhash_pairs_fast": dedup_q,
        "corpus_clean_pipeline": clean_q,
        "substring_dedup_stats": lambda: SUB.substring_dup_stats(docs),
        "corpus_build_full": lambda: REGISTRY["corpus_build_full"].fn(
            spark, scale_dir
        ),
    }


def main() -> None:
    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches

    spark = get_spark(
        app_name="cdbp-stage-profiles-sf1",
        master=f"local[{os.environ.get('SPARK_GRAFT_TEST_CPUS', '8')}]",
        shuffle_partitions=8,
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name, thunk in sf1_profile_queries(spark).items():
        release_managed_caches()
        spark.catalog.clearCache()
        out[name] = stage_profile(thunk())
        release_managed_caches()
        print(name, out[name])
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote", OUT)


if __name__ == "__main__":
    main()

"""Certify the 100 TB submission configuration END-TO-END (VERDICT r10
#7): ``corpus_build_full`` with BOTH heavy stores bucketed
(a ``scratch_dir`` forwarded to the MinHash signature store and the
substring span store) at the 5M-doc corpus — value parity with the
default (cached) configuration whose values are DuckDB-certified at
the gate scales, plus the composed no-wide-exchange plan pins, in one
run.

Prints ONE JSON line; the opt-in pytest gate
(tests/test_corpus_scale.py, ``-m corpusscale``) runs this in a
subprocess with SPARK_GRAFT_DRIVER_MEM=48g (the 5M regime needs more
than the test suite's 8g JVM) and asserts on it.

    SPARK_GRAFT_DRIVER_MEM=48g python scripts/corpus_bucketed_certify.py
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

BASE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BASE)

N_DOCS = 5_000_000
SHUFFLE_PARTITIONS = 256


def main() -> None:
    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
    from cloud_dataflow_batch_processing_spark.queries_dedup import corpus_build
    from cloud_dataflow_batch_processing_spark.session import get_spark
    from scripts.gen_scale_docs import ensure_diverse_docs

    spark = get_spark(
        app_name="cdbp-corpus-bucketed-certify",
        shuffle_partitions=SHUFFLE_PARTITIONS,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Diverse-vocab corpus: the legacy 31-word generator saturates the
    # 3-shingle space above ~500k docs, making decontamination drop
    # EVERY document (r11 discovery — oracle agreed, so parity held
    # vacuously on empty results). See ensure_diverse_docs.
    path = ensure_diverse_docs(
        os.path.join(BASE, ".bench_data", "sf100d_docs"), n_docs=N_DOCS
    )
    sf_dir = os.path.dirname(path)
    scratch = os.path.join(BASE, ".bench_data", "corpus_bkt_scratch")

    t0 = time.perf_counter()
    bkt_df = corpus_build(spark, sf_dir, scratch_dir=scratch)
    bkt_rows = sorted(map(tuple, bkt_df.collect()))
    bucketed_sec = round(time.perf_counter() - t0, 2)

    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        bkt_df._jdf.queryExecution(), "formatted"
    )
    # Composed plan pins for the submission config: both stores read
    # back as bucketed scans, and no shuffle exchange carries the wide
    # shingle array (the exact property the bucketed layout buys).
    bucketed_scans = plan.count("Bucketed: true")
    wide_exchanges = [
        m.group(0)[:120]
        for m in re.finditer(r"Exchange (?:hash|range|Single)[^\n]*", plan)
        if "__sh" in m.group(0)
    ]
    release_managed_caches()

    # Parity baseline: the default configuration (cached stores), the
    # BENCH scale posture, itself oracle-matched at the sf1-equivalent
    # point every round (build_full_match_oracle). A cached baseline
    # timed out at 5M once (NOTES r11), under the interpreted token
    # hashes that are now gone.
    t0 = time.perf_counter()
    cache_rows = sorted(map(tuple, corpus_build(spark, sf_dir).collect()))
    cache_sec = round(time.perf_counter() - t0, 2)
    release_managed_caches()

    print(
        "CERTIFY "
        + json.dumps(
            {
                "n_docs": N_DOCS,
                "parity": bkt_rows == cache_rows,
                "n_result_rows": len(bkt_rows),
                "bucketed_scans": bucketed_scans,
                "wide_exchanges": wide_exchanges,
                "bucketed_sec": bucketed_sec,
                "cache_sec": cache_sec,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()

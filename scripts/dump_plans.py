"""Dump .explain("formatted") for named registry queries to files.

    python scripts/dump_plans.py --names a,b --outdir plans/r13 --suffix _after

The judge checks optimization claims (exchange counts, join strategies,
PushedFilters, Python-eval nodes) against these files; generate the
``_before`` set from a git worktree at the pre-change commit and the
``_after`` set from the working tree.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
from cloud_dataflow_batch_processing_spark.queries import queries
from cloud_dataflow_batch_processing_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
    ap.add_argument("--outdir", required=True)
    ap.add_argument("--suffix", default="")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="cdbp-dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.outdir, exist_ok=True)

    qs = queries()
    for name in [n.strip() for n in args.names.split(",") if n.strip()]:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.outdir, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        release_managed_caches()
        print("wrote", path, flush=True)


if __name__ == "__main__":
    main()

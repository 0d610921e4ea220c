"""Write executed-plan node-type counts for named registry queries.

    python scripts/dump_plans.py --names a,b --outdir DIR --suffix _after

Each query is collected once (point ``SPARK_GRAFT_SF_DIR`` at a small
SF), and ``DIR/<name><suffix>.json`` gets node name -> count of distinct
nodes over ``plans.inspect.iter_plan_nodes``. Diff an ``_after`` set
against a ``_before`` set made in a worktree at the parent commit. AQE
cuts the same plan into stages differently run to run, so
``AdaptiveSparkPlan`` and the ``*QueryStage`` wrappers are left out.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
from cloud_dataflow_batch_processing_spark.plans.inspect import iter_plan_nodes
from cloud_dataflow_batch_processing_spark.queries import queries
from cloud_dataflow_batch_processing_spark.session import get_spark


def node_counts(df) -> dict[str, int]:
    """Collect ``df``; count its executed plan's distinct nodes by name."""
    df.collect()
    nodes = {}
    for node in iter_plan_nodes(df._jdf.queryExecution().executedPlan()):
        name = node.nodeName()
        if "AdaptiveSparkPlan" not in name and "QueryStage" not in name:
            nodes[node.id()] = name
    return dict(sorted(Counter(nodes.values()).items()))


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
        counts = node_counts(qs[name](spark, sf_dir))
        release_managed_caches()
        path = os.path.join(args.outdir, f"{name}{args.suffix}.json")
        with open(path, "w") as f:
            json.dump(counts, f, indent=1)
            f.write("\n")
        print("wrote", path, flush=True)


if __name__ == "__main__":
    main()

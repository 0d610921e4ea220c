"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs as I  # noqa: E402
from perfbench import trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

TINY = {"etl_csv_groupsum": 3_000, "semantic_dedup": 300}
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_same_seed_same_inputs(workload, tmp_path):
    a = I.prepare(workload, 7, TINY[workload], cache_dir=str(tmp_path / "a"))
    b = I.prepare(workload, 7, TINY[workload], cache_dir=str(tmp_path / "b"))
    c = I.prepare(workload, 8, TINY[workload], cache_dir=str(tmp_path / "c"))
    assert I.input_hash(a) == I.input_hash(b) != I.input_hash(c)
    assert I.load_expected(a) == I.load_expected(b)


@pytest.fixture(scope="module")
def spark():
    from cloud_dataflow_batch_processing_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.mark.parametrize("workload", sorted(TINY))
def test_oracle_agrees_with_program(workload, spark, tmp_path):
    input_dir = I.prepare(workload, 3, TINY[workload], cache_dir=str(tmp_path / "cache"))
    work_dir = tmp_path / "work"
    work_dir.mkdir()
    wl = WORKLOADS[workload](spark, input_dir, str(work_dir))
    out = wl.action(wl.entry(0), 0)
    assert wl.check(out, 0)


def _span(sid, parent, start, end, kind="sql"):
    return {"id": sid, "parent": parent, "start": start, "end": end, "kind": kind,
            "name": sid, "run_id": "r"}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("call", None, 0.0, 10.0, "call"),
        # Overlapping children cover [1, 5]; a child sticking out of the
        # parent counts only inside it ([8, 10]).
        _span("a", "call", 1.0, 4.0),
        _span("b", "call", 2.0, 5.0),
        _span("c", "call", 8.0, 12.0),
        _span("s", "a", 1.5, 2.0, "stage"),
    ]
    got = trace.self_times(spans)
    assert got["call"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got["a"] == pytest.approx(3.0 - 0.5)
    assert got["b"] == pytest.approx(3.0)
    assert got["s"] == pytest.approx(0.5)


def test_metric_names_are_well_formed_and_match_what_runs_emit():
    spec = _spec()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)

    # The per-layer keys a traced run reports, from an empty event log.
    call = {"index": 0, "start": 0.0, "end": 1.0}
    layers, _ = trace.per_layer(
        trace.Events(), [call], [call], {"jvm_start_s": 1.0, "worker_warm_s": 1.0, "first_job_s": 1.0},
        cores=4, warehouse=None, run_id="r",
    )
    assert set(layers) == {m["name"] for m in spec["per_layer"]}

"""``scripts/ab.py --summarize``: the verdicts it prints for a committed
A/B log and for small synthetic logs. Runs nothing and starts no Spark."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from scripts import ab

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(output: str) -> dict[tuple[str, str], str]:
    rows = {}
    for line in output.splitlines()[1:]:
        fields = line.split()
        if len(fields) > 2 and not line.startswith("archive_before"):
            rows[fields[0], fields[1]] = line
    return rows


def test_summarize_reproduces_the_committed_etl_verdict():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "ab.py"),
         "--summarize", os.path.join(REPO, "plans", "r13", "ab_etl_parse_once.jsonl")],
        check=True, capture_output=True, text=True,
    ).stdout
    rows = _rows(out)
    for key, parent, change, wins, verdict in [
        (("etl_csv_groupsum", "rows_per_s"), "107,140", "139,549", "10/10", "gain"),
        (("etl_csv_groupsum", "job_s"), "1.867 s", "1.433 s", "10/10", "gain"),
        (("etl_csv_groupsum", "setup_s"), "6.279 s", "6.485 s", "5/10", "parity"),
        (("semantic_dedup", "job_s"), "1.516 s", "1.493 s", "/4", None),
    ]:
        line = rows[key]
        assert parent in line and change in line and wins in line, line
        if verdict:
            assert line.endswith(verdict), line
    assert "0/0" in rows["etl_csv_groupsum", "rows_per_s"]
    assert "archive_before differs" not in out


def _log(tmp_path, pairs, archive=None) -> str:
    """A log of one workload whose pair ``i`` has ``job_s`` values
    ``pairs[i]`` = (parent, change)."""
    path = tmp_path / "ab.jsonl"
    with open(path, "w") as fh:
        for i, values in enumerate(pairs):
            for side, v in zip(ab.SIDES, values):
                rec = {"pair": i, "workload": "w", "seed": 1 + i % 4, "cpus": 4, "side": side,
                       "first": "parent",
                       "archive_before": archive[i][side == "change"] if archive else True,
                       "result": {"correct": True, "attempted": 5, "failed": 0,
                                  "metrics": {"job_s": {"value": v, "unit": "s"}}}}
                fh.write(json.dumps(rec) + "\n")
    return str(path)


def _summary(path: str) -> dict:
    return ab.summarize(ab.read_log(path), ab.benchmark_spec())


def test_summarize_flags_a_regression(tmp_path):
    rows = _summary(_log(tmp_path, [(1.0, 1.4), (1.02, 1.38), (0.98, 1.41), (1.01, 1.39)]))["rows"]
    assert [(r["metric"], r["wins"], r["verdict"]) for r in rows] == [("job_s", 0, "regressed")]


def test_summarize_calls_a_noisy_parent_unresolved(tmp_path):
    # Parent IQR/median 46 % > 0.25, and a change run is slower than a parent run.
    rows = _summary(_log(tmp_path, [(1.0, 1.1), (1.6, 1.1), (1.0, 1.1), (1.6, 1.1)]))["rows"]
    assert [(r["wins"], r["verdict"]) for r in rows] == [(2, "unresolved")]


def test_summarize_names_pairs_that_differ_in_the_archive(tmp_path, capsys):
    path = _log(tmp_path, [(1.0, 1.0)] * 3, archive=[(True, True), (True, False), (False, True)])
    assert _summary(path)["archive_differs"] == {"w": [1, 2]}
    ab.main(["--summarize", path])
    out = capsys.readouterr().out
    assert "archive_before differs between the sides: w pairs 1, 2" in out
    assert _rows(out)["w", "job_s"].endswith("parity")

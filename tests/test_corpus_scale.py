"""Corpus-scale certification of the 100 TB submission configuration
(VERDICT r10 #7): ``corpus_build_full`` with BOTH bucketed stores at
5M docs — value parity with the default (cached) config (the BENCH
scale posture, oracle-matched at sf1-equiv every round) plus
the composed no-wide-exchange plan pins, asserted TOGETHER so the
submission posture is certified as one configuration, not per-piece.

Opt-in (``-m corpusscale``, ~10-20 min): the 5M regime needs a 48g
driver JVM, so the work runs in a subprocess via
scripts/corpus_bucketed_certify.py and this gate asserts its report.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.corpusscale
def test_corpus_build_full_bucketed_5m_certified():
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "corpus_bucketed_certify.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=5400,
    )
    report = None
    for line in p.stdout.splitlines():
        if line.startswith("CERTIFY "):
            report = json.loads(line[len("CERTIFY "):])
    assert report is not None, (
        f"certify run produced no report (rc={p.returncode})\n"
        f"{p.stdout[-3000:]}\n{p.stderr[-3000:]}"
    )
    assert report["n_docs"] == 5_000_000
    assert report["parity"] is True, report
    assert report["n_result_rows"] > 0, report
    # both stores must come back as bucketed scans, and no shuffle
    # exchange may carry the wide shingle array
    assert report["bucketed_scans"] >= 2, report
    assert report["wide_exchanges"] == [], report

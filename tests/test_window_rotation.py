"""Mechanical driver-window rotation gate.

The external CORRECTNESS gate certifies the first 50 entries of
``queries._ordered()`` each round. Rotation used to depend on a judge
escalation (rounds 5-6 shipped a stale window); this gate makes it
mechanical: if the current window overlaps the *previous* round's
CORRECTNESS file by more than half, the round forgot to rotate and the
suite fails before the driver ever runs.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from cloud_dataflow_batch_processing_spark import queries as q

REPO = Path(__file__).resolve().parent.parent
WINDOW_SIZE = 50
MAX_OVERLAP = 25


def _latest_correctness() -> tuple[str, set[str]] | None:
    files = sorted(
        REPO.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.stem).group(1)),
    )
    if not files:
        return None
    latest = files[-1]
    return latest.name, set(json.loads(latest.read_text()).keys())


def test_driver_window_is_fifty_registered_names():
    q._load_submodule_registries()
    names = set(q.REGISTRY)
    assert len(q.DRIVER_WINDOW) == WINDOW_SIZE
    assert len(set(q.DRIVER_WINDOW)) == WINDOW_SIZE, "duplicate window names"
    missing = [n for n in q.DRIVER_WINDOW if n not in names]
    assert not missing, f"window names not in registry: {missing}"


def test_ordered_prefix_equals_driver_window():
    q._load_submodule_registries()
    prefix = [x.name for x in q._ordered()[:WINDOW_SIZE]]
    assert prefix == list(q.DRIVER_WINDOW)


def test_window_rotated_since_last_round():
    latest = _latest_correctness()
    if latest is None:
        pytest.skip("no CORRECTNESS file yet (round 1)")
    fname, prev = latest
    overlap = prev & set(q.DRIVER_WINDOW)
    assert len(overlap) <= MAX_OVERLAP, (
        f"driver window overlaps {fname} by {len(overlap)} names "
        f"(> {MAX_OVERLAP}): rotate DRIVER_WINDOW in queries.py onto "
        f"the least-recently-certified registry entries. Stale names: "
        f"{sorted(overlap)[:10]}..."
    )


EARLIER_PICKS = (
    "ann_lsh_pairs",
    "dedup_embedding_cosine",
    "streaming_lsh_dedup",
    "datastore_mutations_agg",
)


def _propose(monkeypatch, newest: set[str], touched: list[str]) -> list[str]:
    """``rotate_window.propose`` with ``EARLIER_PICKS`` as the current
    window and every other registered name certified one round before
    them, so least-recently-certified ranking alone puts the picks last."""
    from scripts import rotate_window

    q._load_submodule_registries()
    certs = {n: 11 for n in q.REGISTRY} | {n: 12 for n in EARLIER_PICKS}
    monkeypatch.setattr(q, "DRIVER_WINDOW", EARLIER_PICKS)
    monkeypatch.setattr(
        rotate_window, "last_certified", lambda: (certs, newest, "CORRECTNESS_r12.json")
    )
    return rotate_window.propose(touched)[0]


def test_second_rotation_keeps_the_rounds_earlier_picks(monkeypatch):
    # The latest file certified two of the picks before this round
    # touched them again; the window was rotated since, so all four stay.
    window = _propose(monkeypatch, {"ann_lsh_pairs", "dedup_embedding_cosine"}, ["substring_dedup_stats"])
    assert window[: 1 + len(EARLIER_PICKS)] == ["substring_dedup_stats", *EARLIER_PICKS]
    assert len(window) == WINDOW_SIZE


def test_rotation_at_round_start_keeps_nothing_extra(monkeypatch):
    # The latest file holds the whole window: it was just certified.
    window = _propose(monkeypatch, set(EARLIER_PICKS), ["substring_dedup_stats"])
    assert window[0] == "substring_dedup_stats"
    assert not set(EARLIER_PICKS) & set(window)

"""The per-key pane fold behind the five count/time triggers
(streaming/triggers.py ``fold_panes``), driven without Spark: each
trigger's public function is called with ``stateful_transform`` stubbed
out, and the update function it would hand Spark runs over scripted
element batches and timeouts with a stub ``GroupState`` and a fixed
clock. The time legs of AfterAny and AfterAll, which the streaming
tests reach only in the slowsweep tier, are covered here."""

from __future__ import annotations

import pandas as pd
import pytest

from cloud_dataflow_batch_processing_spark.streaming import triggers


class _State:
    """The slice of ``GroupState`` the fold uses."""

    def __init__(self):
        self.value = None
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


class _Frame:
    def select(self, *cols):
        self.cols = list(cols)
        return self


def _fold(monkeypatch, make, **kw):
    """The update function and output columns ``make`` wires up."""
    seen = {}

    def fake_transform(df, key_cols, fn, **_):
        seen["fn"] = fn
        return _Frame()

    monkeypatch.setattr(triggers, "stateful_transform", fake_transform)
    frame = make(None, "k", "v", **kw)
    return seen["fn"], frame.cols


def _drive(fn, cols, script):
    """Run ``script``: ``(t_ms, values)`` is one call with those
    elements at clock ``t_ms``; ``(t_ms, "timeout")`` a timed-out call.
    Returns the fired panes (as the public columns) and the state."""
    state, out = _State(), []
    for t_ms, step in script:
        state.hasTimedOut = step == "timeout"
        state.timeout_ms = None
        pdfs = [] if state.hasTimedOut else [pd.DataFrame({"v": [float(x) for x in step]})]
        for pdf in fn((7,), iter(pdfs), state, clock=lambda: t_ms / 1000):
            out += [tuple(r) for r in pdf[cols].itertuples(index=False)]
    return out, state


_T0 = 1_700_000_000_000  # any realistic epoch ms


@pytest.mark.parametrize(
    "make, kw, script, panes, timeout_ms",
    [
        pytest.param(
            triggers.fire_after_count, {"n": 3},
            [(_T0, [1, 2, 3, 4]), (_T0, [5, 6, 7])],
            [(7, 1, 3, 6.0), (7, 2, 6, 21.0)], None,
            id="after_count_accumulating",
        ),
        pytest.param(
            triggers.fire_after_count, {"n": 3, "accumulation_mode": "discarding"},
            [(_T0, [1, 2, 3, 4]), (_T0, [5, 6, 7])],
            [(7, 1, 3, 6.0), (7, 2, 3, 15.0)], None,
            id="after_count_discarding",
        ),
        pytest.param(
            # count leg inline, then the time leg from the timeout even
            # though the executor clock reads earlier than the deadline
            triggers.fire_after_any, {"n": 3, "processing_time_ms": 2000},
            [(_T0, [1, 2, 3, 4]), (_T0 + 500, "timeout"), (_T0 + 600, [5])],
            [(7, 1, "count", 3, 6.0), (7, 2, "time", 4, 10.0)], 2000,
            id="after_any_time_leg_from_timeout",
        ),
        pytest.param(
            # the clock passing the deadline inline does not fire AfterAny's
            # time leg, only the timeout does; the deadline stays the first
            # element's (remaining clamps to 1 ms)
            triggers.fire_after_any, {"n": 3, "processing_time_ms": 2000},
            [(_T0, [1]), (_T0 + 5000, [2])],
            [], 1,
            id="after_any_no_inline_time_leg",
        ),
        pytest.param(
            # count satisfied at once; the pane waits for the timeout
            triggers.fire_after_all, {"n": 3, "processing_time_ms": 2000},
            [(_T0, [1, 2, 3, 4]), (_T0 + 2000, "timeout")],
            [(7, 1, 4, 10.0)], None,
            id="after_all_count_first",
        ),
        pytest.param(
            # time satisfied first (timeout with 1 element); the count leg
            # then fires inline
            triggers.fire_after_all, {"n": 3, "processing_time_ms": 2000},
            [(_T0, [1]), (_T0 + 2000, "timeout"), (_T0 + 2100, [2]), (_T0 + 2200, [3])],
            [(7, 1, 3, 6.0)], None,
            id="after_all_time_first",
        ),
        pytest.param(
            # the clock passed inline: the count leg fires without a timeout
            triggers.fire_after_all, {"n": 2, "processing_time_ms": 2000},
            [(_T0, [1]), (_T0 + 3000, [2, 3])],
            [(7, 1, 2, 3.0)], 2000,
            id="after_all_inline_after_deadline",
        ),
        pytest.param(
            triggers.fire_after_each_counts, {"counts": [2, 3]},
            [(_T0, [1, 2, 3, 4]), (_T0, [5, 6, 7, 8])],
            [(7, 1, 0, 2, 3.0), (7, 2, 1, 5, 15.0), (7, 3, 0, 7, 28.0)], None,
            id="after_each_cycles",
        ),
        pytest.param(
            # elements 6..9 arrive after the finally pane: nothing fires
            triggers.fire_or_finally, {"n": 2, "final_count": 5},
            [(_T0, [1, 2, 3]), (_T0, [4, 5, 6]), (_T0, [7, 8, 9])],
            [(7, 1, "count", 2, 3.0), (7, 2, "count", 4, 10.0), (7, 3, "finally", 5, 15.0)],
            None,
            id="or_finally_closes",
        ),
    ],
)
def test_fold_panes_table(monkeypatch, make, kw, script, panes, timeout_ms):
    fn, cols = _fold(monkeypatch, make, **kw)
    got, state = _drive(fn, cols, script)
    assert got == panes
    # the timeout armed by the last call (None: none armed)
    assert state.timeout_ms == timeout_ms

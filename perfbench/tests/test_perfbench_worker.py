"""The timed-pass loop: one sample per pass, failures counted once."""

import time

from spans import NullTracer, Tracer
from worker import timed_passes


class FakeWorkload:
    """Pass 1 raises, pass 2 fails its check, pass 3's check raises."""

    def __init__(self):
        self.runs = 0

    def run_pass(self, tr, i):
        self.runs += 1
        time.sleep(0.01)
        if i == 1:
            raise RuntimeError("engine error")
        return i

    def check(self, out, i):
        if out == 3:
            raise ValueError("check crashed")
        return (["wrong count"] if out == 2 else []), {"rows": 1.0}


def test_each_pass_is_timed_once_and_failures_counted():
    wl = FakeWorkload()
    times, failed, errors, counts = timed_passes(wl, NullTracer(), 0.15)
    assert len(times) == wl.runs >= 5
    assert all(t >= 0.01 for t in times)
    assert failed == 3
    assert [e.split(":")[0] for e in errors] == ["pass 1", "pass 2", "pass 3"]
    assert "engine error" in errors[0] and "check crashed" in errors[2]
    assert counts == {"rows": float(wl.runs - 2)}  # no counts from passes 1 and 3


def test_first_pass_always_runs_and_spans_carry_pass_ids():
    tr = Tracer()
    times, failed, _, _ = timed_passes(FakeWorkload(), tr, 0.0)
    assert len(times) == 1 and failed == 0
    assert [(sp.name, sp.pass_id) for sp in tr.spans] == [("pass", 0)]
    assert tr.pass_id is None

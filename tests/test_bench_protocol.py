"""bench.py's timing protocol, checked without a Spark session: each
measured run comes from a script, so the stopping rule and the reported
cluster are exact."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def _scripted(monkeypatch, times):
    """Make ``bench._run`` return ``times`` in order, two warm-ups first."""
    script = iter(times)

    def run(fn, hseries):
        t = next(script)
        hseries.append({"wall": t})
        return t

    monkeypatch.setattr(bench, "_run", run)


def test_lone_fast_run_does_not_hold_the_gate_open(monkeypatch):
    # one run far below the rest: the three fastest never agree, but the
    # next three adjacent sorted runs do after the fourth measured run
    _scripted(monkeypatch, [0.51, 0.52, 0.363, 0.60, 0.55, 0.66] + [0.5] * 20)
    out = bench._best_of(lambda: None)
    assert out["converged"] is True
    assert out["all_runs"] == [0.363, 0.6, 0.55, 0.66]
    assert out["runs"] == [0.55, 0.6, 0.66]
    assert out["value"] == pytest.approx(0.6)
    assert out["warmups"] == [0.51, 0.52]
    assert len(out["health"]) == 6


def test_quiet_host_pays_three_runs(monkeypatch):
    _scripted(monkeypatch, [2.0, 1.5, 1.02, 1.0, 1.05] + [9.0] * 20)
    out = bench._best_of(lambda: None)
    assert out["converged"] is True
    assert out["all_runs"] == [1.02, 1.0, 1.05]
    assert out["runs"] == [1.0, 1.02, 1.05]
    assert out["value"] == pytest.approx(1.02)


def test_host_that_never_converges_stops_at_the_cap(monkeypatch):
    # every run 1.5x the last: no 3 runs ever agree within 30 %
    times = [1.5 ** k for k in range(22)]
    _scripted(monkeypatch, times)
    out = bench._best_of(lambda: None)
    assert out["converged"] is False
    assert len(out["all_runs"]) == 20
    assert out["runs"] == [round(t, 3) for t in times[2:5]]
    assert out["value"] == pytest.approx(round(1.5 ** 3, 3), abs=1e-3)

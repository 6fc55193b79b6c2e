"""The scaling-bench child refuses a CPU pin the host cannot give, and says why."""

from __future__ import annotations

import os
from pathlib import Path

import pytest


def test_pin_outside_affinity_names_allowed_set(monkeypatch):
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent / "tools"))
    import bench_scaling_child as child

    allowed = sorted(os.sched_getaffinity(0))
    monkeypatch.setenv("BENCH_PIN", str(max(allowed) + 1))
    with pytest.raises(SystemExit) as e:
        child.pin_cpus(1)
    msg = str(e.value)
    assert str(allowed) in msg
    assert "BENCH_PIN_BASE" in msg and "BENCH_PIN=" in msg
    assert sorted(os.sched_getaffinity(0)) == allowed  # nothing was pinned

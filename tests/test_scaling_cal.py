"""tools/scaling_bench.py's calibration gate: a level run counts only when
both bracketing host probes exist and read at or below the threshold; and
its choice of the N and 4N levels."""

from __future__ import annotations

import importlib.util
import os

import pytest


@pytest.fixture(scope="module")
def scaling_bench():
    path = os.path.join(os.path.dirname(__file__), "..", "tools", "scaling_bench.py")
    spec = importlib.util.spec_from_file_location("scaling_bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def cal_ok(scaling_bench):
    return scaling_bench.cal_ok


def test_both_probes_at_or_below_threshold_accepted(cal_ok):
    assert cal_ok({"host_calibration_sec": {"before": 0.6, "after": 1.3}}, 1.3)


def test_one_slow_probe_rejected(cal_ok):
    assert not cal_ok({"host_calibration_sec": {"before": 0.6, "after": 1.4}}, 1.3)


@pytest.mark.parametrize(
    "cal",
    [{"before": 0.6}, {"after": 0.6}, {"before": None, "after": 0.6}, {}, None],
)
def test_missing_probe_rejected(cal_ok, cal):
    assert not cal_ok({"host_calibration_sec": cal}, 1.3)


@pytest.mark.parametrize(
    "usable, override, want",
    [
        (4, None, (1, 4)),  # 4N = every usable core, no more
        (32, None, (8, 32)),
        (7, None, (1, 4)),
        (2, None, (1, 4)),  # fewer than 4 cores: N stays 1
        (4, "2", (2, 8)),  # SCALE_N wins
    ],
)
def test_levels_fit_the_usable_cores(scaling_bench, usable, override, want):
    assert scaling_bench.levels(usable, override) == want

"""bench_compare ambient annotation (VERDICT r14 #4): committed sweep
records carry loadavg markers; the comparator must annotate both
records and flag a contaminated sweep so a band point can never read as
a floor regression. Pure-Python — no Spark session."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from bench_compare import ambient_note  # noqa: E402


def test_ambient_note_flags_contaminated_sweep():
    rec = {
        "loadavg_start": [80.0, 40.0, 20.0],
        "loadavg_end": [33.0, 35.0, 30.0],
        "ncpu": 32,
    }
    note = ambient_note(rec, "new")
    assert "CONTAMINATED" in note
    assert "80.0" in note


def test_ambient_note_clean_sweep_not_flagged():
    # the sweep itself drives load up to ~ncpu; that is NOT contamination
    rec = {
        "loadavg_start": [31.5, 20.0, 10.0],
        "loadavg_end": [40.0, 33.0, 25.0],
        "ncpu": 32,
    }
    note = ambient_note(rec, "old")
    assert "CONTAMINATED" not in note
    assert "loadavg start" in note


def test_ambient_note_pre_r15_records_annotate_unknown():
    assert "unknown" in ambient_note({"queries": {}}, "old")


def test_spread_rule_rejects_wide_and_monotone_decay():
    """tools/_abcommon (VERDICT r17 #9): the degree_census trap — a
    monotone-decaying arm or a >1.5x spread must refuse the record."""
    import pytest

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools._abcommon import SpreadError, arm_spread_violation, assert_sane_walls

    # the actual r17 degree_census walls — both arms must be rejected
    assert arm_spread_violation([17.29, 15.93, 8.73])  # monotone decay + spread
    assert arm_spread_violation([21.07, 8.24, 7.33])  # spread 2.87x
    # a sane series passes
    assert arm_spread_violation([16.4, 14.2, 14.8]) is None
    # decay below the threshold passes (ordinary warm-up drift)
    assert arm_spread_violation([10.0, 9.5, 9.2]) is None
    with pytest.raises(SpreadError):
        assert_sane_walls({"a": [16.4, 14.2, 14.8], "b": [21.07, 8.24, 7.33]})
    assert_sane_walls({"a": [16.4, 14.2, 14.8], "b": [22.3, 18.6, 23.1]})


def test_ab_decision_rule_and_output_check(tmp_path):
    """tools/ab.py: B counts as faster only when it wins >= 9 of 10
    pairs AND the medians differ by more than A's interquartile range;
    differing outputs raise before any record is written."""
    import pytest

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools.ab import OutputMismatch, ab, verdict

    a = [10.0, 10.4, 9.8, 10.2, 10.1, 9.9, 10.3, 10.0, 10.2, 9.9]  # IQR 0.3
    # 9 of 10 wins, median gap ~1.0 > IQR: a gain
    b = [x - 1.0 for x in a[:9]] + [a[9] + 0.5]
    assert verdict(a, b)["wins_b"] == 9
    assert verdict(a, b)["verdict"] == "B faster"
    # 8 of 10 wins, same gap: no gain
    b8 = [x - 1.0 for x in a[:8]] + [a[8] + 0.5, a[9] + 0.5]
    assert verdict(a, b8)["wins_b"] == 8
    assert verdict(a, b8)["verdict"] == "no difference shown"
    # 9 of 10 wins but the median gap (0.05) sits inside A's IQR: no gain
    b_close = [x - 0.05 for x in a[:9]] + [a[9] + 0.5]
    v = verdict(a, b_close)
    assert v["wins_b"] == 9 and v["iqr_a_s"] > 0.05
    assert v["verdict"] == "no difference shown"
    # the mirror rule reads a regression
    assert verdict(b, a)["verdict"] == "B slower"

    # differing outputs: raise, write nothing
    walls = iter(a * 3)

    def run(value):
        return next(walls), ["row"] if value == "A" else ["other row"]

    out = tmp_path / "rec.json"
    with pytest.raises(OutputMismatch):
        ab(run, "A", "B", out, {})
    assert not out.exists()

"""Regression locks for bench.py's scaling-efficiency estimator.

Each scenario below happened LIVE in round 5 and broke a previous
estimator; the CURRENT estimator — max-min-normalized same-pass selection
with a >1.0 impossibility clamp to cross-best (bench.pair_ratio) — must
keep handling all three. (Rejected along the way: cross-best ratio, max
same-pass ratio, probe-quality selection, and pair-sum selection — the
last picked the fabricated-1.129 pass because local[8] dominated the sum.)
Numbers are the actual measured pass rows from the round-5 sessions.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bench import pair_ratio, pass_quality  # noqa: E402


def test_quiet_windows_report_same_pass_ratio():
    """Two clean interleaved passes (round-5 quiet session): the reported
    ratio comes from one pass, within the gate, not the 0.779 cross-best
    mixture that a per-config-best estimator produced."""
    rows = [
        {"local[2]": 78883.2, "local[8]": 263362.2, "local[32]": 753600.9},
        {"local[2]": 83205.8, "local[8]": 301841.2, "local[32]": 681501.9},
    ]
    eff, fallback = pair_ratio(rows, "local[2]", "local[8]", 4)
    assert eff == pytest.approx(0.907, abs=0.001)
    assert not fallback
    assert eff >= 0.8


def test_mid_pass_window_shift_cannot_fabricate_superlinear():
    """Round-5 contended run: local[2] stolen (72.8k) while local[8] ran
    quiet (328.7k) in the SAME pass — max-same-pass-ratio reported an
    impossible 1.129. No clean same-pass pair exists here, so the >1.0
    impossibility clamp falls back to the conservative cross-best."""
    rows = [
        {"local[2]": 83996.1, "local[8]": 184293.7, "local[32]": 601242.2},
        {"local[2]": 72774.6, "local[8]": 328739.9, "local[32]": 635712.3},
    ]
    eff, fallback = pair_ratio(rows, "local[2]", "local[8]", 4)
    assert eff <= 1.0, "window-shift artifact must not report super-linear"
    # no clean same-pass pair exists in this session: the conservative
    # cross-best fallback fires and is flagged in the bench line
    assert fallback
    assert eff == pytest.approx(0.978, abs=0.001)


def test_mid_run_steal_with_quiet_probe_is_not_selected():
    """Round-5 second run: pass 0's local[32] was cut to 218k by mid-run
    steal AFTER its probe read quiet (24.76) — probe-quality selection
    reported 0.189 for 8->32. Max-min-normalized selection reads the
    throughputs themselves and picks the clean pass."""
    rows = [
        {"local[2]": 73379.2, "probe[2]": 1.85, "local[8]": 288339.5,
         "probe[8]": 7.27, "local[32]": 218011.7, "probe[32]": 24.76},
        {"local[2]": 83357.6, "probe[2]": 1.66, "local[8]": 287613.3,
         "probe[8]": 7.49, "local[32]": 768600.8, "probe[32]": 22.13},
    ]
    eff, fallback = pair_ratio(rows, "local[8]", "local[32]", 4)
    assert eff == pytest.approx(0.668, abs=0.001)
    assert not fallback
    assert eff > 0.5, "mid-run-stolen pass must not drive the ratio"
    # the probe score still attests overall window quality independently
    assert pass_quality(rows[0]) > 0.9
    assert pass_quality(rows[1]) > 0.8


def test_pass_quality_flags_contended_windows():
    contended = {"probe[2]": 0.9, "probe[8]": 4.0, "probe[32]": 12.0}
    assert pass_quality(contended) < 0.75


def test_pass_quality_skips_uncalibrated_widths():
    """ADVICE r5: SPARK_GRAFT_CPUS=16 (no quiet baseline for 16) must not
    KeyError after all expensive passes completed — the score attests the
    calibrated widths only, and an all-uncalibrated row fails fast."""
    row = {"probe[2]": 1.7, "probe[8]": 7.8, "probe[16]": 10.0}
    assert pass_quality(row, (2, 8, 16)) == pytest.approx(1.0, abs=0.01)
    with pytest.raises(ValueError):
        pass_quality({"probe[16]": 10.0}, (16,))


def test_probe_quiet_threshold_tracks_measured_quiet_table():
    """Review r7: the old flat 0.4*cpus threshold met the stale
    '0.8*min(nproc, 16)' docstring claim exactly at CPUS=32 (both said
    12.8), so whichever number was believed, half of genuinely quiet
    windows would misclassify. The threshold is now HALF of the measured
    QUIET_SPEEDUP entry per width — quiet w32 short probes measured
    20.2-26.7 this round, so 12.8 is below half-of-quiet and must read
    contended, while a real quiet reading passes."""
    from bench import QUIET_SPEEDUP, _probe_quiet, _speedup_quiet_threshold

    for cpus, quiet in QUIET_SPEEDUP.items():
        assert _speedup_quiet_threshold(cpus) == pytest.approx(0.5 * quiet)
        assert _probe_quiet({"noise_sec": 1.2, "speedup": quiet}, cpus)
        assert not _probe_quiet(
            {"noise_sec": 1.2, "speedup": 0.4 * quiet}, cpus
        )
    # measured genuinely-quiet w32 short-probe readings from this round
    for reading in (20.2, 26.04, 26.72):
        assert _probe_quiet({"noise_sec": 1.2, "speedup": reading}, 32)
    # the old formula's boundary value at 32 now reads contended
    assert not _probe_quiet({"noise_sec": 1.2, "speedup": 12.8}, 32)
    # uncalibrated width: fall back to half of 0.8*cpus, the same family
    assert _speedup_quiet_threshold(16) == pytest.approx(6.4)
    # the 1-thread noise gate is unchanged
    assert not _probe_quiet({"noise_sec": 2.5, "speedup": 25.8}, 32)


@pytest.mark.parametrize("trials", ["0", "-1"])
def test_bench_extra_rejects_trials_below_one(trials):
    """bench_extra.py --trials 0 used to run the collect trial and then
    crash on round(None); it is now refused while parsing arguments."""
    import bench_extra

    with pytest.raises(SystemExit, match="--trials must be at least 1"):
        bench_extra.parse_args(["kg_components", "--trials", trials])
    assert bench_extra.parse_args(["kg_components", "--trials", "2"]) == (
        ["kg_components"], "before", 2)


def test_bench_extra_dumps_plans_under_their_tag(spark, tmp_path, monkeypatch):
    """Plan dumps land in plans/<tag>/<query>.txt, not a fixed round dir."""
    import bench_extra

    monkeypatch.setattr(bench_extra, "PLANS_DIR", str(tmp_path))
    bench_extra._dump_plan(spark.range(3), "kg_components", "after")
    with open(tmp_path / "after" / "kg_components.txt") as f:
        assert "Range" in f.read()

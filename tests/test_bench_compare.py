"""Bench phase discipline (r12 — VERDICT r11 item 3).

bench.py records the host spin calibration before AND after the
measurements; tools/bench_compare.py must flag any comparison where a
side's intra-run drift exceeds 20% — those numbers reflect a host that
changed speed mid-run, not the code (r11 lost a bench run to a 1.7×
slow phase that first read as a fleet of regressions).
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_json(spin, queries, pre=None, post=None, extra=None):
    hc = {"python_spin_sec": spin}
    if pre is not None:
        hc["python_spin_pre"] = pre
        hc["python_spin_post"] = post
        hc["phase_drift"] = round(max(pre, post) / min(pre, post), 3)
        hc["phase_stable"] = hc["phase_drift"] <= 1.2
    out = {"queries": queries, "host_calib": hc, "repeats": 3}
    out.update(extra or {})
    return out


def _run_compare(tmp_path, old, new):
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    res = subprocess.run(
        [sys.executable, "tools/bench_compare.py", str(po), str(pn)],
        capture_output=True,
        text=True,
        cwd=ROOT,
    )
    assert res.returncode == 0, res.stderr
    return json.loads(res.stdout)


def test_stable_phases_not_flagged(tmp_path):
    q = {"q1_pricing": 1.0, "word_count": 2.0}
    old = _bench_json(1.0, q, pre=0.98, post=1.02)
    new = _bench_json(1.1, {k: v * 1.1 for k, v in q.items()},
                      pre=1.08, post=1.12)
    out = _run_compare(tmp_path, old, new)
    assert out["unreliable"] is False
    assert out["phase_drift_old"] is not None
    # spin-normalized ratios cancel the uniform host slowdown
    assert out["total_norm_ratio"] == 1.0


def test_intra_run_drift_flags_comparison(tmp_path):
    q = {"q1_pricing": 1.0}
    old = _bench_json(1.0, q, pre=1.0, post=1.0)
    # new run's host slowed 1.7x mid-run — the r11 failure mode
    new = _bench_json(1.35, q, pre=1.0, post=1.7)
    out = _run_compare(tmp_path, old, new)
    assert out["unreliable"] is True
    assert out["phase_drift_new"] == 1.7


def test_pre_r12_artifact_compares_without_flag(tmp_path):
    """Older bench JSONs carry a single spin sample — drift is unknown
    (None), and the comparison must not be flagged on that alone."""
    q = {"q1_pricing": 1.0}
    old = _bench_json(1.0, q)  # no pre/post
    new = _bench_json(1.0, q, pre=1.0, post=1.05)
    out = _run_compare(tmp_path, old, new)
    assert out["phase_drift_old"] is None
    assert out["unreliable"] is False


def test_bench_emits_phase_fields():
    """bench.py must emit pre/post/drift/stable — source-level pin (a
    full bench run is a ~15-minute artifact job, not a unit test)."""
    src = open(os.path.join(ROOT, "bench.py")).read()
    for field in (
        "python_spin_pre",
        "python_spin_post",
        "phase_drift",
        "phase_stable",
    ):
        assert f'"{field}"' in src, field


def test_phase_drift_derived_from_pre_post_without_field(tmp_path):
    """A bench JSON carrying python_spin_pre/post but no phase_drift
    field (hand-edited or future-format) still gets its drift derived
    and flagged."""
    q = {"q1_pricing": 1.0}
    old = _bench_json(1.0, q)
    new = _bench_json(1.25, q)
    new["host_calib"]["python_spin_pre"] = 1.0
    new["host_calib"]["python_spin_post"] = 1.5  # no phase_drift key
    out = _run_compare(tmp_path, old, new)
    assert out["phase_drift_new"] == 1.5
    assert out["unreliable"] is True


def test_noise_floor_routes_subsecond_rows(tmp_path):
    """r13 (VERDICT r12 nit 3): rows under NOISE_FLOOR_SPINS spin-seconds
    on BOTH sides ride the session's JIT phase — they go to noise_band,
    never the worst/best headline lists; rows above the floor stay."""
    q_old = {"tiny": 0.4, "big": 6.0}
    q_new = {"tiny": 0.9, "big": 9.0}  # tiny "regressed" 2.25x in noise
    old = _bench_json(1.0, q_old, pre=1.0, post=1.0)
    new = _bench_json(1.0, q_new, pre=1.0, post=1.0)
    out = _run_compare(tmp_path, old, new)
    assert [r["query"] for r in out["noise_band"]] == ["tiny"]
    assert out["noise_band_count"] == 1
    for lst in (out["worst"], out["best"]):
        assert [r["query"] for r in lst] == ["big"]
    # raw seconds surfaced so a reader can see the floor applied
    assert out["worst"][0]["old_s"] == 6.0 and out["worst"][0]["new_s"] == 9.0


def test_row_above_floor_on_one_side_is_signal(tmp_path):
    """A row that crossed the floor (fast before, slow after) is exactly
    the kind of regression the headline list exists for."""
    q_old = {"crossed": 0.5}
    q_new = {"crossed": 4.0}
    out = _run_compare(
        tmp_path,
        _bench_json(1.0, q_old, pre=1.0, post=1.0),
        _bench_json(1.0, q_new, pre=1.0, post=1.0),
    )
    assert [r["query"] for r in out["worst"]] == ["crossed"]
    assert out["noise_band"] == []


def test_zero_spin_phase_is_flagged_not_missing(tmp_path):
    """ADVICE r12: a recorded 0.0 spin is a broken calibration, not
    missing data — the derived drift must flag the run (the old
    `if pre and post` treated 0.0 as absent and reported None)."""
    q = {"q1_pricing": 2.0}
    old = _bench_json(1.0, q, pre=1.0, post=1.0)
    new = _bench_json(1.0, q)
    new["host_calib"]["python_spin_pre"] = 0.0
    new["host_calib"]["python_spin_post"] = 1.0  # no phase_drift key
    out = _run_compare(tmp_path, old, new)
    assert out["phase_drift_new"] is not None
    assert out["unreliable"] is True

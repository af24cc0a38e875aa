"""tools/ab.py: the session runner and the pair comparison, without Spark."""

import importlib.util
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("ab", os.path.join(ROOT, "tools", "ab.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def _session(hashes: dict[str, str], mins: dict[str, float], compiles: int = 0) -> dict:
    return {"faust_spark": "x", "keys": {
        k: {"min_s": mins[k], "rows": 6, "hash": h, "layers": {"jobs.count": 3},
            "compiles": compiles}
        for k, h in hashes.items()
    }}


def test_fingerprint_mismatch_in_an_early_session_fails():
    good = _session({"q": "aa"}, {"q": 1.0})
    bad = _session({"q": "bb"}, {"q": 1.0})
    runs = {"old": [bad, good, good], "new": [good, good, good]}
    report, errors = ab.compare(runs, ["q"])
    assert not report["q"]["rows_identical"]
    assert len(errors) == 1 and "old#0" in errors[0]

    report, errors = ab.compare({"old": [good] * 3, "new": [good] * 3}, ["q"])
    assert errors == [] and report["q"]["rows_identical"]


def test_compare_reports_medians_wins_and_layers():
    runs = {
        "old": [_session({"q": "h"}, {"q": t}, c) for t, c in ((2.0, 24), (1.0, 29), (3.0, 26))],
        "new": [_session({"q": "h"}, {"q": t}, c) for t, c in ((1.5, 0), (1.2, 3), (1.0, 0))],
    }
    r = ab.compare(runs, ["q"])[0]["q"]
    assert r["old"]["median"] == 2.0 and r["new"]["median"] == 1.2
    assert r["old"]["iqr"] == [1.5, 2.5]
    assert r["ratio"] == pytest.approx(0.6)
    assert r["wins"] == 2 and r["pairs"] == 3
    assert r["layers"]["new"] == {"jobs.count": 3}
    assert r["compiles"] == {"old": 26, "new": 0}


def test_child_exit_status_checked_before_its_result_line(tmp_path):
    line = ab.RESULT + json.dumps(_session({"q": "h"}, {"q": 1.0}))
    code = f"print({line!r}); raise SystemExit(3)"
    with pytest.raises(ab.ABError, match="exited 3"):
        ab.run_child([sys.executable, "-c", code], str(tmp_path))
    ok = ab.run_child([sys.executable, "-c", f"print({line!r})"], str(tmp_path))
    assert ok["keys"]["q"]["hash"] == "h"


def test_first_side_alternates_across_pairs():
    pairs = [ab.order(i) for i in range(4)]
    assert [p[0] for p in pairs] == ["old", "new", "old", "new"]
    assert all(sorted(p) == ["new", "old"] for p in pairs)


def test_session_importing_faust_spark_from_outside_its_root_fails(tmp_path, monkeypatch):
    root, elsewhere = tmp_path / "root", tmp_path / "elsewhere"
    root.mkdir()
    (elsewhere / "faust_spark").mkdir(parents=True)
    (elsewhere / "faust_spark" / "__init__.py").write_text("")
    monkeypatch.setenv("PYTHONPATH", str(elsewhere))
    with pytest.raises(ab.ABError, match="outside"):
        ab.run_session(str(root), ["q1_pricing"], str(tmp_path))


def test_unknown_ref_fails_and_leaves_no_worktree(capsys):
    worktrees = lambda: subprocess.run(  # noqa: E731
        ["git", "worktree", "list"], cwd=ROOT, capture_output=True, text=True
    ).stdout
    before = worktrees()
    assert ab.main(["HEAD", "no-such-ref-xyz", "q1_pricing"]) == 1
    assert "neither a directory nor a git ref" in capsys.readouterr().err
    assert worktrees() == before


@pytest.mark.slow
def test_aa_smoke_on_this_checkout(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "ab.py"), ROOT, ROOT,
         "q1_pricing", "--sessions", "2", "--sf", "/root/testdata/sf0.001",
         "--out", str(tmp_path)],
        capture_output=True, text=True,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    report = json.load(open(tmp_path / "report.json"))
    r = report["keys"]["q1_pricing"]
    assert r["rows_identical"] and r["pairs"] == 2
    assert r["layers"]["old"]["jobs.count"] > 0
    assert r["layers"]["new"]["jobs.count"] > 0
    # the last of three repeats finds every class in the codegen cache
    assert r["compiles"] == {"old": 0, "new": 0}
    assert (tmp_path / "plans" / "old" / "q1_pricing.txt").exists()
    assert (tmp_path / "plans" / "new" / "q1_pricing.txt").exists()

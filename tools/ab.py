"""Interleaved A/B of two code versions on the same host.

Usage:
    python tools/ab.py OLD NEW KEY... [--sessions N] [--sf DIR] [--out DIR]

OLD and NEW are each a checkout directory or a git ref; a ref is checked
out with ``git worktree add --detach`` under a temp dir, removed at exit.
The harness runs N pairs of fresh-subprocess sessions and alternates which
side goes first from pair to pair. A session warms up like ``bench.py``
(``q6_forecast`` plus one tiny ``mapInPandas``), then times ``collect()``
min-of-3 per key.

The measured root supplies only ``faust_spark`` and ``__spark_entry__``.
The row fingerprint (``tools/check.table_hash``), the layer breakdown
(``perfbench.layers.harvest`` over each key's last repeat: jobs, the gap
between jobs, task time, operator metrics) and the number of classes
whole-stage codegen compiled in that repeat come from this checkout, so
both sides are measured by the same code.

Exits non-zero, naming the cause, when a session exits non-zero, when it
imports ``faust_spark`` from outside its measured root, or when a key's
fingerprint differs between any two sessions. ``--out DIR`` gets
``report.json`` and one ``explain("formatted")`` plan per key and side.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPEATS = 3
SIDES = ("old", "new")
RESULT = "AB_RESULT "

#: the child's entry: load this file by path, so the measured root is the
#: only checkout on ``sys.path``
_CHILD = (
    "import importlib.util, sys\n"
    "spec = importlib.util.spec_from_file_location('ab', sys.argv[1])\n"
    "ab = importlib.util.module_from_spec(spec)\n"
    "spec.loader.exec_module(ab)\n"
    "ab.session(*sys.argv[2:])\n"
)


class ABError(RuntimeError):
    pass


def order(pair: int) -> tuple[str, str]:
    """The sides of one pair in run order; the first side alternates."""
    return SIDES if pair % 2 == 0 else SIDES[::-1]


def under(root: str, path: str) -> bool:
    root, path = os.path.realpath(root), os.path.realpath(path)
    return os.path.commonpath([root, path]) == root


def _load(name: str, rel: str):
    """A module of this checkout, loaded by path; ``sys.path`` is left as
    it was (``tools/check.py`` puts its own checkout first)."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(name, os.path.join(HERE, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = saved
    return mod


def compiled_classes(spark) -> int:
    """Generated classes this JVM has compiled so far (a codegen cache
    hit compiles none)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def session(root: str, keys: str, sf: str, plan_dir: str) -> None:
    """One measured session (runs in the child). Prints one result line."""
    sys.path.insert(0, root)
    import faust_spark

    if not under(root, faust_spark.__file__):
        raise ABError(f"faust_spark resolves to {faust_spark.__file__}, outside {root}")
    import __spark_entry__ as entry

    if not under(root, entry.__file__):
        raise ABError(f"__spark_entry__ resolves to {entry.__file__}, outside {root}")
    check, layers = _load("ab_check", "tools/check.py"), _load("ab_layers", "perfbench/layers.py")
    from faust_spark.session import get_spark

    spark = get_spark("ab")
    qs = entry.queries()
    qs["q6_forecast"](spark, sf).collect()
    spark.range(32).mapInPandas(lambda it: it, "id long").collect()
    out, windows = {}, {}
    for key in keys.split(","):
        best = float("inf")
        for _ in range(REPEATS):
            c0, t0 = compiled_classes(spark), time.time()
            df = qs[key](spark, sf)
            rows = df.collect()
            t1 = time.time()
            best = min(best, t1 - t0)
        windows[key] = (t0, t1)
        out[key] = {"min_s": round(best, 4), "rows": len(rows),
                    "hash": check.table_hash(df.columns, rows),
                    "compiles": compiled_classes(spark) - c0}
        if plan_dir:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            os.makedirs(plan_dir, exist_ok=True)
            with open(os.path.join(plan_dir, f"{key}.txt"), "w") as fh:
                fh.write(buf.getvalue())
    rest = layers.SparkRest(spark.sparkContext)
    for key, (t0, t1) in windows.items():
        out[key]["layers"] = layers.harvest(rest, t0, t1, t1 - t0)
    print(RESULT + json.dumps({"faust_spark": faust_spark.__file__, "keys": out}), flush=True)
    spark.stop()


def run_child(argv: list[str], root: str) -> dict:
    """Run one session process; its exit status is checked before its
    stdout is read."""
    p = subprocess.run(argv, capture_output=True, text=True, cwd=root)
    if p.returncode != 0:
        raise ABError(f"session under {root} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith(RESULT)]
    if not lines:
        raise ABError(f"session under {root} printed no result line")
    return json.loads(lines[-1][len(RESULT):])


def run_session(root: str, keys: list[str], sf: str, plan_dir: str = "") -> dict:
    argv = [sys.executable, "-c", _CHILD, os.path.abspath(__file__),
            root, ",".join(keys), sf, plan_dir]
    return run_child(argv, root)


def _spread(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return {"median": q[1], "iqr": [q[0], q[2]]}


def compare(runs: dict[str, list[dict]], keys: list[str]) -> tuple[dict, list[str]]:
    """Per-key report over ``runs[side][pair]`` session results, and the
    fingerprint mismatches found across all sessions."""
    report, errors = {}, []
    for key in keys:
        seen = {(side, i): s["keys"][key] for side in SIDES for i, s in enumerate(runs[side])}
        prints = {(r["rows"], r["hash"]) for r in seen.values()}
        if len(prints) > 1:
            errors.append(f"{key}: rows differ between sessions: " + ", ".join(
                f"{side}#{i}={r['rows']}/{r['hash']}" for (side, i), r in seen.items()))
        mins = {side: [s["keys"][key]["min_s"] for s in runs[side]] for side in SIDES}
        r = {side: dict(mins=mins[side], **_spread(mins[side])) for side in SIDES}
        r["ratio"] = r["new"]["median"] / r["old"]["median"]
        r["wins"] = sum(n < o for o, n in zip(mins["old"], mins["new"]))
        r["pairs"] = len(mins["new"])
        r["rows_identical"] = len(prints) == 1
        r["rows"] = sorted(n for n, _ in prints)
        r["compiles"] = {side: statistics.median(s["keys"][key]["compiles"] for s in runs[side])
                         for side in SIDES}
        r["layers"] = {side: {m: statistics.median(s["keys"][key]["layers"][m]
                                                   for s in runs[side])
                              for m in runs[side][0]["keys"][key]["layers"]}
                       for side in SIDES}
        report[key] = r
    return report, errors


def _git(*args: str, cwd: str = HERE) -> subprocess.CompletedProcess:
    return subprocess.run(["git", *args], cwd=cwd, capture_output=True, text=True)


def materialise(spec: str, path: str) -> str:
    """A checkout directory as is, or a git ref as a detached worktree."""
    if os.path.isdir(spec):
        return os.path.abspath(spec)
    p = _git("worktree", "add", "--detach", path, spec)
    if p.returncode != 0:
        raise ABError(f"{spec} is neither a directory nor a git ref:\n{p.stderr}")
    return path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--sessions", type=int, default=3, help="pairs of sessions")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", help="directory for report.json and the plans")
    args = ap.parse_args(argv)
    if args.sessions < 1:
        ap.error("--sessions must be at least 1")
    # sessions run with their measured root as working directory
    sf, out = os.path.abspath(args.sf), args.out and os.path.abspath(args.out)
    tmp, roots = tempfile.mkdtemp(prefix="ab-"), {}
    try:
        for side, spec in zip(SIDES, (args.old, args.new)):
            roots[side] = materialise(spec, os.path.join(tmp, side))
        runs = {side: [] for side in SIDES}
        for i in range(args.sessions):
            for side in order(i):
                plans = os.path.join(out, "plans", side) if out and i == 0 else ""
                runs[side].append(run_session(roots[side], args.keys, sf, plans))
                print(f"pair {i + 1}/{args.sessions} {side}: " + " ".join(
                    f"{k}={v['min_s']}" for k, v in runs[side][-1]["keys"].items()),
                    file=sys.stderr, flush=True)
        report, errors = compare(runs, args.keys)
        report = {"sf": sf, "repeats": REPEATS, "keys": report, "sides": {
            side: {"spec": spec, "commit": _git("rev-parse", "HEAD", cwd=roots[side]).stdout.strip()}
            for side, spec in zip(SIDES, (args.old, args.new))}}
        if out:
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, "report.json"), "w") as fh:
                json.dump(report, fh, indent=1)
        for key, r in report["keys"].items():
            print(f"{key}: old {r['old']['median']:.3f}s new {r['new']['median']:.3f}s "
                  f"ratio {r['ratio']:.3f} wins {r['wins']}/{r['pairs']} "
                  f"compiles {r['compiles']['old']:g}/{r['compiles']['new']:g} "
                  f"rows_identical={r['rows_identical']}")
        for e in errors:
            print(f"ab: {e}", file=sys.stderr)
        return 1 if errors else 0
    except ABError as e:
        print(f"ab: {e}", file=sys.stderr)
        return 1
    finally:
        for side, root in roots.items():
            if root.startswith(tmp):
                _git("worktree", "remove", "--force", root)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    # a terminated run still removes its worktrees (main's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    raise SystemExit(main())

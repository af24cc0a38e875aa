"""The checkout runs from wherever it is cloned.

A module that puts a fixed absolute checkout path on ``sys.path`` makes
every run from another checkout or worktree silently import that other
copy's ``faust_spark`` — a benchmark or A/B then measures the wrong code.
Paths resolve from ``__file__`` instead; this pins it for the package, the
tests, the examples, every tool and the entry points that import the
package.
"""

import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the absolute checkout location earlier tools pinned (assembled so this
#: file does not match itself)
PINNED = "/".join(("", "root", "repo"))

ENTRY_POINTS = ("bench.py", "__spark_entry__.py")


def _sources() -> list[str]:
    files = [os.path.join(ROOT, f) for f in ENTRY_POINTS]
    files += glob.glob(os.path.join(ROOT, "tools", "*.py"))
    for pkg in ("faust_spark", "tests", "examples"):
        files += glob.glob(os.path.join(ROOT, pkg, "**", "*.py"),
                           recursive=True)
    return files


def test_no_pinned_checkout_path():
    files = _sources()
    assert len(files) > len(ENTRY_POINTS)
    offenders = [
        os.path.relpath(f, ROOT)
        for f in files
        if PINNED in open(f, encoding="utf-8").read()
    ]
    assert offenders == []

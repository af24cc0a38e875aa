"""The checkout runs from wherever it is cloned, and cites only files it has.

A module that puts a fixed absolute checkout path on ``sys.path`` makes
every run from another checkout or worktree silently import that other
copy's ``faust_spark`` — a benchmark or A/B then measures the wrong code.
Paths resolve from ``__file__`` instead; this pins it for the package, the
tests, the examples, every tool and the entry points that import the
package.

The docs and sources cite evidence and tools by repo-relative paths under
``artifacts``, ``plans`` and ``tools``; deleting a cited file must fail
here rather than leave a dangling citation.
"""

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the absolute checkout location earlier tools pinned (assembled so this
#: file does not match itself)
PINNED = "/".join(("", "root", "repo"))

ENTRY_POINTS = ("bench.py", "__spark_entry__.py")

#: documents whose repo-relative citations must resolve, beside the sources
CITING_DOCS = (
    "README.md",
    "DEPLOYMENT.md",
    "COVERAGE.md",
    "MIGRATION.md",
    os.path.join(".claude", "skills", "verify", "SKILL.md"),
)

#: a cited path: a directory (trailing ``/``) or a file with one of these
#: extensions, so a dotted attribute such as ``tools/check.table_hash``
#: is not read as a file
CITED = re.compile(r"(?<![\w./-])(?:artifacts|plans|tools)/[\w*?\[\]./-]*")
CITED_EXTS = (".json", ".log", ".gz", ".md", ".py", ".txt")


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


def test_cited_paths_exist():
    files = [os.path.join(ROOT, d) for d in CITING_DOCS] + _sources()
    files += glob.glob(os.path.join(ROOT, "perfbench", "**", "*.py"),
                       recursive=True)
    cited = 0
    missing = []
    for f in files:
        for m in CITED.finditer(open(f, encoding="utf-8").read()):
            path = m.group(0).rstrip(".")
            if not (path.endswith("/")
                    or os.path.splitext(path)[1] in CITED_EXTS):
                continue
            cited += 1
            # a glob must match at least one file
            if not glob.glob(os.path.join(ROOT, path)):
                missing.append(f"{os.path.relpath(f, ROOT)}: {path}")
    assert cited > 0
    assert missing == [], missing

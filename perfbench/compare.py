"""Compare two result sets: median and quartiles per workload and metric.

    python3 perfbench/compare.py perfbench/_work/set-a perfbench/_work/set-b

Each directory holds the result records ``run.py`` writes
(``<workload>-seed<n>-trace<t>.json``). For every workload and metric the
table shows each set's median and quartiles, the relative spread
(Q3 - Q1) / median, and the change of set B's median against set A's.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(directory: str) -> dict[tuple[str, str], list[float]]:
    out: dict[tuple[str, str], list[float]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        for name, m in rec["result"]["metrics"].items():
            out.setdefault((rec["workload"], name), []).append(m["value"])
    return out


def summary(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(argv[0]), load(argv[1])
    print(f"{'workload':14} {'metric':24} {'n':>3} {'A median':>12} "
          f"{'A spread':>9} {'B median':>12} {'B spread':>9} {'B/A':>7}")
    for key in sorted(set(a) | set(b)):
        cells = []
        for xs in (a.get(key), b.get(key)):
            if not xs:
                cells += ["-", "-"]
                continue
            q1, med, q3 = summary(xs)
            cells += [f"{med:12.4f}", f"{(q3 - q1) / med:9.3f}" if med else "-"]
        ma, mb = a.get(key), b.get(key)
        ratio = (
            f"{statistics.median(mb) / statistics.median(ma):7.3f}"
            if ma and mb and statistics.median(ma) else "-"
        )
        n = max(len(ma or []), len(mb or []))
        print(f"{key[0]:14} {key[1]:24} {n:3d} {cells[0]:>12} {cells[1]:>9} "
              f"{cells[2]:>12} {cells[3]:>9} {ratio:>7}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

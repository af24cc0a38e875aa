"""The correctness gate: a result that differs from the reference is a
failed operation."""

import json
import os

import duckdb
import pyarrow.parquet as pq

from perfbench import gen, reference, workloads

CFG = json.load(
    open(os.path.join(os.path.dirname(__file__), "..", "workloads.json"))
)


class _FakeDF:
    def __init__(self, cols, rows):
        self.columns, self._rows = cols, rows

    def collect(self):
        return self._rows


def _batch(rows):
    """A BatchWorkload whose one query returns ``rows``; no Spark needed."""
    w = workloads.BatchWorkload.__new__(workloads.BatchWorkload)
    w.spark, w.data = None, None
    cols = ["k", "v"]
    w.fns = {"q": lambda spark, d: _FakeDF(cols, rows)}
    w.ref = {"q": reference.canon(cols, [(1, 0.5), (2, 1.25)])}
    return w


def test_exact_result_passes():
    out = workloads.Outcome()
    _batch([(2, 1.25), (1, 0.5)])._one("q", workloads.layers.Spans(enabled=False), out)
    assert (out.attempted, out.failed) == (1, 0)


def test_perturbed_result_counts_as_failure():
    out = workloads.Outcome()
    w = _batch([(1, 0.5), (2, 1.2500000000000002)])
    w._one("q", workloads.layers.Spans(enabled=False), out)
    _batch([(1, 0.5)])._one("q", workloads.layers.Spans(enabled=False), out)
    assert (out.attempted, out.failed) == (2, 2)
    assert out.failed / out.attempted == 1.0


def test_raising_query_counts_as_failure():
    out = workloads.Outcome()
    w = _batch([])
    w.fns = {"q": lambda spark, d: 1 / 0}
    w._one("q", workloads.layers.Spans(enabled=False), out)
    assert out.failed == 1 and "ZeroDivisionError" in out.errors[0]


def test_window_reference_drops_late_events(tmp_path):
    p = dict(CFG["stream_window"], files=5)
    files, late = gen.event_log(9, p)
    paths = []
    for i, t in enumerate(files):
        paths.append(str(tmp_path / f"f{i}.parquet"))
        pq.write_table(t, paths[-1])
    wm = gen.LOG_START.replace(minute=4)
    n, cols, _ = reference.stream_reference(paths, "window", wm)
    assert sorted(cols) == ["cnt", "event_type", "total", "wstart"]
    con = duckdb.connect()
    lst = ", ".join(f"'{f}'" for f in paths)
    want = con.execute(
        f"SELECT COUNT(*) FROM read_parquet([{lst}]) "
        f"WHERE ts >= TIMESTAMP '{gen.LOG_START}' "
        f"AND ts < TIMESTAMP '{wm}'"
    ).fetchone()[0]
    got = con.execute(
        f"SELECT SUM(cnt) FROM ({reference.WINDOW_SQL.format(start=gen.LOG_START, watermark=wm)})"
        .replace("FROM log", f"FROM read_parquet([{lst}])")
    ).fetchone()[0]
    assert got == want and late.sum() > 0 and n == 4 * 5

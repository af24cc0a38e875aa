"""The per-layer harvest reads what Spark really did (one session, small
inputs: about a minute)."""

import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import layers, run, workloads

CFG = json.load(
    open(os.path.join(os.path.dirname(__file__), "..", "workloads.json"))
)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("harvest"))
    run.spark_env(work)
    s = run.start_session(work)
    yield s, work
    run.stop_session(s)


def _traced(w):
    w.setup()
    m = w.measure(0, traced=True)
    assert m["outcome"].failed == 0, m["outcome"].errors
    return m, w.layer_metrics(m, layers.SparkRest(w.spark.sparkContext))


def test_q1_pricing_harvest(spark):
    s, work = spark
    cfg = dict(CFG, one={"queries": ["q1_pricing"]})
    w = workloads.BatchWorkload(s, cfg, "one", 1, os.path.join(work, "q1"))
    m, h = _traced(w)
    lineitem = pq.read_metadata(os.path.join(w.data, "lineitem.parquet")).num_rows
    assert m["units"] == workloads.MIN_PASSES
    assert h["op.shuffle.bytes"] > 0
    assert h["op.scan.rows"] == lineitem
    assert h["query.q1_pricing.wall_s"] > 0 and h["jobs.count"] >= 1
    assert h["build.s"] > 0 and h["action.s"] > 0


def _stream(s, work, shape):
    name = f"stream_{shape}"
    p = dict(CFG[name], backlog_files=3, open_files=0)
    w = workloads.StreamWorkload(s, {name: p}, name, 2, os.path.join(work, shape), 0)
    return w, _traced(w)


def test_table_drain_harvest(spark):
    w, (m, h) = _stream(*spark, "table")
    keys = {k for f in w.files for k in pq.read_table(f).column("user_id").to_pylist()}
    assert h["batch.count"] == 3
    assert h["state.rows_total"] == len(keys)
    assert h["python.rows_out"] > 0


def test_window_drain_harvest(spark):
    w, (m, h) = _stream(*spark, "window")
    assert h["batch.count"] == 3
    assert h["python.rows_out"] == 0 and h["python.bytes_sent"] == 0
    assert h["state.rows_dropped_late"] > 0

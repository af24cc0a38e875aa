"""Smoke tests for examples/ — every reference-parity example builds
and produces the behavior its reference twin demonstrates
(``/root/reference/examples/``). These pin the USER-FACING API surface:
if an App/Topic/Table/Agent signature drifts, the switch-over story
breaks here first."""

import datetime
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples")
)


def test_hello_world(spark, tmp_path):
    from hello_world import build

    app, greetings, agent, produce = build(spark, str(tmp_path))
    produce(10)
    out = agent(greetings.batch_df())
    vals = sorted(r.value for r in out.collect())
    assert len(vals) == 10 and vals[0] == "hello 0"
    assert app.timer(5) == {"processingTime": "5 seconds"}


def test_windowed_aggregation(spark):
    from windowed_aggregation import build

    app, agg = build(spark)
    rows = agg.collect()
    assert rows and all(r["count"] >= 1 for r in rows)
    # 10-second tumbling grid: starts are aligned
    assert all(r.date.second % 10 == 0 for r in rows)


def test_tableofset(spark, tmp_path):
    from tableofset import build

    app, joining, leaving, members = build(spark, str(tmp_path))
    joining.write_batch(
        spark.createDataFrame(
            [("devs", "alice"), ("devs", "bob"), ("ops", "carol")],
            "key string, name string",
        )
    )
    leaving.write_batch(
        spark.createDataFrame([("devs", "bob")], "key string, name string")
    )
    got = {r.key: sorted(r.members) for r in members(app).collect()}
    assert got == {"devs": ["alice"], "ops": ["carol"]}


def test_task_queue(spark, tmp_path):
    from task_queue import build

    app, requests, agent, delay = build(spark, str(tmp_path))
    delay("add", 41.0)
    delay("square", 12.0)
    delay("negate", 7.5)
    out = {r.name: r.result for r in agent(requests.batch_df()).collect()}
    assert out == {"add": 42.0, "square": 144.0, "negate": -7.5}
    try:
        delay("nope", 1.0)
        raise AssertionError("unknown task must raise")
    except KeyError:
        pass


def test_leader(spark, tmp_path):
    from leader import build

    app, greetings, say, published = build(spark, str(tmp_path))
    app.start()
    app.start()  # idempotent: the on_leader task fires exactly once
    assert published == ["published"]
    assert [r.value for r in say(greetings.batch_df()).collect()] == [
        "leader says 0"
    ]


def test_livecheck_orders(spark, tmp_path):
    from livecheck_orders import build

    app, lc, case, orders, db = build(spark, str(tmp_path))
    assert lc.run_case(case) == "PASS"
    # the canary rode the REAL pipeline into the db topic
    assert db.batch_df().filter(F.col("user_id") == "u-livecheck").count() == 1


def test_crontab_schedule():
    from crontab_schedule import build

    app, task, fired = build()
    slept: list = []
    app.run_cron(
        task,
        "*/1 * * * *",
        iterations=3,
        sleep=slept.append,
        now=datetime.datetime(2026, 1, 1, 12, 0, 30),
    )
    assert fired == ["tick"] * 3
    assert slept[0] == 30.0 and slept[1:] == [60.0, 60.0]


def test_ann_index_serving(spark, tmp_path):
    """r12 example: offline ivfpq index build + online pruned serving —
    every query answered, ranks contiguous, fingerprint persisted."""
    from ann_index_serving import build

    meta, top = build(spark, "/root/testdata/sf0.001",
                      str(tmp_path / "ivfpq"))
    rows = top.collect()
    assert meta["kind"] == "ivfpq" and meta["fingerprint"]["n"] == meta["n"]
    assert len({r.qid for r in rows}) == 5
    assert all(1 <= r.rank <= 3 for r in rows)


def test_everseen_dedup(spark, sf_dir, tmp_path):
    """The Bloom sink through a real checkpointed stream: every user_id
    surfaces exactly once across all micro-batches."""
    from everseen_dedup import run

    from faust_spark.catalog import load_table

    out, _ = run(spark, sf_dir, str(tmp_path))
    got = [r.user_id for r in spark.read.parquet(out).collect()]
    want = load_table(spark, sf_dir, "events").select("user_id").distinct()
    assert sorted(got) == sorted(r.user_id for r in want.collect())

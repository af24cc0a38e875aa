"""Agent test harness (reference Agent.test_context parity)."""

import os
import tempfile

from pyspark.sql import functions as F

from faust_spark import App
from faust_spark.testing import feed, feed_stream


def test_feed_batch_agent(spark):
    app = App("h", spark=spark)

    @app.agent("totals")
    def totals(app_, df):
        return df.groupBy("k").agg(F.sum("v").alias("total"))

    rows = [("a", 1), ("a", 2), ("b", 5)]
    out = {r.k: r.total for r in feed(totals, rows, "k string, v long")}
    assert out == {"a": 3, "b": 5}


def test_feed_stream_agent(spark):
    app = App("h2", spark=spark)

    @app.agent("counts")
    def counts(app_, df):
        return df.groupBy("k").agg(F.count("*").alias("cnt"))

    rows = [("x",), ("x",), ("y",)]
    def staged():
        return {
            n for n in os.listdir(tempfile.gettempdir())
            if n.startswith("feed_stream_")
        }

    before = staged()
    out = {r.k: r.cnt for r in feed_stream(counts, rows, "k string", "complete")}
    assert out == {"x": 2, "y": 1}
    assert staged() <= before  # the staged parquet dir is removed

"""faust_spark.session: a warm session compiles no generated class again,
and a scoped conf leaves the session's conf as it found it."""

import __spark_entry__ as entry
from faust_spark.session import conf_set

#: the benchmark's batch pass: together they generate more classes than
#: Spark's default cache of 100 entries keeps (its LRU evicts per segment)
WORKING_SET = ("q1_pricing", "kn_logprob", "dedup_jaccard_prefix")


def _compiled(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_pass_compiles_no_generated_class(spark, sf_dir):
    qs = entry.queries()
    for key in WORKING_SET:
        qs[key](spark, sf_dir).collect()
    before = _compiled(spark)
    for key in WORKING_SET:
        qs[key](spark, sf_dir).collect()
    assert _compiled(spark) - before == 0


def test_conf_set_restores_the_value_or_the_unset_state(spark):
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    with conf_set(spark, key, "dynamic"):
        assert spark.conf.get(key) == "dynamic"
    assert key not in spark.conf.getAll
    spark.conf.set(key, "static")
    try:
        with conf_set(spark, key, "dynamic"):
            raise KeyError("leaves the block early")
    except KeyError:
        pass
    assert spark.conf.getAll[key] == "static"
    spark.conf.unset(key)

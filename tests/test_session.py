"""faust_spark.session: a warm session compiles no generated class again."""

import __spark_entry__ as entry

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

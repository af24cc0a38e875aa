"""``catalog.load_table`` infers a table's parquet schema once per file
version: an unchanged file is re-read with the inferred schema and no
footer-reading Spark job, while a rewritten file or a directory that
gained a part file is inferred again."""

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq

from faust_spark.catalog import load_table

_GROUPS = itertools.count()


def _load_jobs(spark, sf_dir: str, name: str):
    """``load_table`` under a fresh job group: (DataFrame, jobs launched)."""
    sc = spark.sparkContext
    group = f"test_catalog:{next(_GROUPS)}"
    sc.setJobGroup(group, "load_table")
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_unchanged_file_is_read_without_a_job(spark, tmp_path):
    pq.write_table(
        pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}),
        tmp_path / "t.parquet",
    )
    first, jobs = _load_jobs(spark, str(tmp_path), "t")
    assert jobs >= 1  # inference runs a footer-reading job
    again, jobs = _load_jobs(spark, str(tmp_path), "t")
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_gets_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1.5], "extra": ["x"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert df.schema["k"].dataType.typeName() == "double"
    assert [tuple(r) for r in df.collect()] == [(1.5, "x")]


def test_directory_table_reinfers_after_a_new_part_file(spark, tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), table / "part-0.parquet")
    load_table(spark, str(tmp_path), "t")
    _, jobs = _load_jobs(spark, str(tmp_path), "t")
    assert jobs == 0
    pq.write_table(pa.table({"k": [3]}), table / "part-1.parquet")
    df, jobs = _load_jobs(spark, str(tmp_path), "t")
    assert jobs >= 1
    assert sorted(r.k for r in df.collect()) == [1, 2, 3]

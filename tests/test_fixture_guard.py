"""Fixture-encoding guard (VERDICT r3 item 8).

Round 2's driver-gate failure mode: the driver re-encoded
``events.parquet``'s ``ts`` between rounds (TIMESTAMP(NANOS) → µs-NTZ)
and every watermark consumer broke in the DRIVER gate, not in pytest.
This test makes the failure fail fast locally: every fixture table at
every shipped SF must come out of ``catalog.load_table`` with plain
``TimestampType`` on its ``ts``-like columns, and
``normalize_event_time`` must keep handling every physical encoding the
driver has shipped so far (nanos-as-long, µs-NTZ, plain timestamp) —
including a synthetic re-encode round trip.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from faust_spark.catalog import TABLES, load_table, normalize_event_time

SF_DIRS = sorted(glob.glob("/root/testdata/sf*"))


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_every_fixture_ts_column_is_plain_timestamp(spark, sf_dir):
    for name in TABLES:
        if not os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            continue
        df = load_table(spark, sf_dir, name)
        for field in df.schema.fields:
            if field.name == "ts" or field.name.endswith("_ts"):
                assert isinstance(field.dataType, TimestampType), (
                    f"{sf_dir}/{name}.{field.name} surfaced as "
                    f"{field.dataType} — normalize_event_time no longer "
                    "covers this fixture encoding (round-2 failure mode)"
                )


def test_normalize_handles_all_known_encodings(spark, tmp_path):
    """Synthetic re-encode: the same instants written as nanos-long,
    µs-NTZ, and plain timestamp must all normalize to identical
    TIMESTAMP values."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    micros = [1_700_000_000_000_000 + i * 1_000_000 for i in range(5)]

    plain = spark.createDataFrame(
        [(i,) for i in micros], "us long"
    ).select(F.timestamp_micros("us").alias("ts"))

    as_long_nanos = spark.createDataFrame(
        [(i * 1000 + 789,) for i in micros], "ts long"  # sub-µs noise
    )
    as_ntz = plain.select(F.col("ts").cast("timestamp_ntz").alias("ts"))

    expected = [r.ts for r in plain.orderBy("ts").collect()]
    for variant in (plain, as_long_nanos, as_ntz):
        out = normalize_event_time(variant)
        assert isinstance(out.schema["ts"].dataType, TimestampType)
        got = [r.ts for r in out.orderBy("ts").collect()]
        assert got == expected

    # parquet round trip of the NTZ shape (what the driver actually ships)
    p = str(tmp_path / "ntz.parquet")
    as_ntz.write.parquet(p)
    reread = spark.read.parquet(p)
    assert isinstance(
        reread.schema["ts"].dataType, (TimestampNTZType, TimestampType)
    )
    out = normalize_event_time(reread)
    assert isinstance(out.schema["ts"].dataType, TimestampType)
    assert [r.ts for r in out.orderBy("ts").collect()] == expected

    # long-nanos parquet round trip (the shape the nanosAsLong conf
    # surfaces for TIMESTAMP(NANOS) fixtures)
    p2 = str(tmp_path / "long.parquet")
    as_long_nanos.write.parquet(p2)
    reread2 = spark.read.parquet(p2)
    assert isinstance(reread2.schema["ts"].dataType, LongType)
    out2 = normalize_event_time(reread2)
    assert isinstance(out2.schema["ts"].dataType, TimestampType)
    assert [r.ts for r in out2.orderBy("ts").collect()] == expected


def _scale_probe():
    import importlib
    import sys

    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    sys.path.insert(0, tools)
    try:
        return importlib.import_module("scale_probe")
    finally:
        sys.path.pop(0)


def test_scale_probe_link_is_idempotent(tmp_path):
    """ADVICE r7: the probe's table symlinks must be replaceable so a
    second run against a warm temp dir doesn't FileExistsError."""
    _link = _scale_probe()._link
    src = tmp_path / "src.parquet"
    src.write_text("x")
    dst = tmp_path / "dst.parquet"
    _link(str(src), str(dst))
    _link(str(src), str(dst))  # second call must not raise
    assert dst.is_symlink() and dst.read_text() == "x"


def test_scale_probe_replicate_doubles_tables_keeps_ids_unique(
    spark, tmp_path
):
    """The probe's one replication function at mult=2: each replicated
    table holds twice the base rows with unique ids, every other table
    links to the base file, and the events come back through load_table
    with a plain TimestampType ts."""
    base = "/root/testdata/sf0.001"
    if not os.path.isdir(base):
        pytest.skip("sf0.001 fixtures not present")
    dest = _scale_probe().replicate(spark, base, str(tmp_path / "x2"), 2)
    replicated = ("events", "documents", "embeddings", "orders", "lineitem")
    for name in TABLES:
        path = os.path.join(dest, f"{name}.parquet")
        if name in replicated:
            n = load_table(spark, dest, name).count()
            assert n == 2 * load_table(spark, base, name).count(), name
        else:
            assert os.path.realpath(path) == os.path.realpath(
                os.path.join(base, f"{name}.parquet")
            ), name
            assert load_table(spark, dest, name).count() > 0, name
    for name, id_col in (
        ("events", "event_id"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ):
        df = load_table(spark, dest, name)
        assert df.select(id_col).distinct().count() == df.count(), name
    ev = load_table(spark, dest, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)

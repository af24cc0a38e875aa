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


def test_scale_probe_link_is_idempotent(tmp_path):
    """ADVICE r7: the probe's table symlinks must be replaceable so a
    second run against a warm temp dir doesn't FileExistsError."""
    import sys

    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    sys.path.insert(0, tools)
    try:
        from scale_probe import _link
    finally:
        sys.path.pop(0)
    src = tmp_path / "src.parquet"
    src.write_text("x")
    dst = tmp_path / "dst.parquet"
    _link(str(src), str(dst))
    _link(str(src), str(dst))  # second call must not raise
    assert dst.is_symlink() and dst.read_text() == "x"

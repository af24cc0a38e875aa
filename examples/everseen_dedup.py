"""Ever-seen streaming dedup, production shape: survivors to a parquet
sink, state DFS-sharded next to the checkpoint.

The reference's canonical exactly-once recipe keeps a dedup Table keyed
by event id (faust README "table for deduplication"); this is the
Spark-shaped equivalent with BOUNDED state: a Bloom word relation under
the checkpoint root suppresses every key seen in any earlier batch, and
survivors append to parquet. Nothing ever collects to the driver — the
gate query's collect() in ``__spark_entry__.py`` is a harness artifact
for oracle comparison, NOT this pattern.

Run::

    python examples/everseen_dedup.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from faust_spark.catalog import load_table, normalize_event_time  # noqa: E402
from faust_spark.session import get_spark  # noqa: E402
from faust_spark.streaming.dfs_state import bloom_dedup_dfs_sink  # noqa: E402
from faust_spark.streaming.runner import drain, stream_parquet  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_root = (
        sys.argv[2]
        if len(sys.argv) > 2
        else tempfile.mkdtemp(prefix="everseen_example_")
    )
    spark = get_spark("everseen-dedup-example")
    out, state_dir = run(spark, sf_dir, out_root)
    n = spark.read.parquet(out).count()
    distinct = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    print(f"emitted {n} rows; distinct user_ids in source: {distinct}")
    print(f"output: {out}\nstate:  {state_dir}")


def run(spark, sf_dir: str, out_root: str) -> tuple[str, str]:
    """Stream the ``events`` fixture through the Bloom screen; returns
    (survivors dir, state dir). Raises ``TimeoutError`` if the stream is
    still running after 300 s — a partial output must not pass for the
    deduplicated stream."""
    src = os.path.join(out_root, "src")
    out = os.path.join(out_root, "deduped")
    ckpt = os.path.join(out_root, "ckpt")
    state_dir = os.path.join(ckpt, "bloom_state")

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    # production sink: append survivors to parquet — distributed write,
    # nothing on the driver
    def to_parquet(df, batch_id: int) -> None:
        df.write.mode("append").parquet(out)

    wrapped = bloom_dedup_dfs_sink(
        to_parquet,
        key_col="user_id",
        # state under the checkpoint root: one durability domain
        state_dir=state_dir,
        m_bits=1 << 22,
    )
    drain(
        normalize_event_time(stream_parquet(spark, src, max_files_per_trigger=2))
        .writeStream.foreachBatch(wrapped)
        .outputMode("append")
        .option("checkpointLocation", ckpt),
        f"everseen_dedup into {out}",
    )
    return out, state_dir


if __name__ == "__main__":
    main()

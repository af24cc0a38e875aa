"""Seeded inputs: the stream event log and the batch tables.

Everything here is a pure function of the seed, the workload parameters in
``workloads.json`` and the fixture tables in ``fixture/``; the program under
test only ever sees the files written from these tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
#: every normal event lies at or after this instant; a late event lies a day
#: before it, so the reference drops late events with ``ts >= LOG_START``.
LOG_START = dt.datetime(2024, 1, 1)
LATE_SHIFT_S = 86_400
#: copies of the sf0.01 fixture tables, the inputs of the batch queries
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
BATCH_TABLES = ("lineitem", "documents", "embeddings")


def _zipf_keys(rng: np.random.Generator, n: int, key_space: int, s: float):
    """Draw ``n`` keys from a Zipf(s) law over ``key_space`` keys, with the
    rank-to-id map permuted so hot keys are spread over the id range."""
    p = 1.0 / np.arange(1, key_space + 1) ** s
    ranks = rng.choice(key_space, size=n, p=p / p.sum())
    return rng.permutation(key_space)[ranks].astype(np.int64)


def event_log(seed: int, p: dict) -> tuple[list[pa.Table], np.ndarray]:
    """The stream workloads' event log, cut into ``p["files"]`` files.

    File ``i`` covers event time ``[i, i+1) * p["file_span_s"]`` after
    ``LOG_START``. From file 1 on, a share ``ooo_share`` of events is moved
    back by up to ``ooo_max_s`` (inside the watermark delay, so it must be
    counted). From file 2 on, a share ``late_share`` is moved back by a day
    (far past the watermark, so a windowed query must drop it): Spark drops
    late rows against the watermark of the batch before, which first exists
    in the third batch when each file is one batch.

    Returns the per-file tables and, for the generator's own record, a
    boolean mask per event of whether it is late.
    """
    rng = np.random.default_rng(seed)
    n_files, per = p["files"], p["events_per_file"]
    n = n_files * per
    span_us = int(p["file_span_s"] * 1e6)
    file_idx = np.repeat(np.arange(n_files), per)
    offs = file_idx * span_us + np.sort(
        rng.integers(0, span_us, size=(n_files, per)), axis=1
    ).ravel()
    shifted = file_idx > 0
    ooo = shifted & (rng.random(n) < p["ooo_share"])
    offs -= np.where(ooo, rng.integers(1, int(p["ooo_max_s"] * 1e6), n), 0)
    late = (file_idx > 1) & ~ooo & (rng.random(n) < p["late_share"])
    offs -= np.where(late, LATE_SHIFT_S * 1_000_000, 0)
    ts = np.datetime64(LOG_START, "us") + offs.astype("timedelta64[us]")
    cols = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": _zipf_keys(rng, n, p["key_space"], p["zipf_s"]),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.integers(1, 50_000, n) / 100.0, 2),
    }
    full = pa.table(cols)
    files = [full.slice(i * per, per) for i in range(n_files)]
    return files, late


def batch_tables(seed: int) -> dict[str, pa.Table]:
    """The fixture tables the batch queries read, each row-permuted by the
    seed."""
    rng = np.random.default_rng(seed)
    out = {}
    for name in BATCH_TABLES:
        t = pq.read_table(os.path.join(FIXTURE, f"{name}.parquet"))
        out[name] = t.take(rng.permutation(t.num_rows))
    return out


def write_table(table: pa.Table, path: str, row_groups: int = 4) -> None:
    """One parquet file per table, cut into ``row_groups`` row groups."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        table, path, row_group_size=max(1, -(-table.num_rows // row_groups))
    )

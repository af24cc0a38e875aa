"""The generators are a pure function of the seed."""

import hashlib
import json
import os

import pyarrow.parquet as pq

from perfbench import gen

CFG = json.load(
    open(os.path.join(os.path.dirname(__file__), "..", "workloads.json"))
)


def _digest(tables, tmp_path, tag) -> str:
    h = hashlib.sha256()
    for i, t in enumerate(tables):
        path = os.path.join(tmp_path, f"{tag}-{i}.parquet")
        pq.write_table(t, path)
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _log(seed):
    return gen.event_log(seed, dict(CFG["stream_table"], files=4))[0]


def test_event_log_same_seed_same_bytes(tmp_path):
    assert _digest(_log(7), tmp_path, "a") == _digest(_log(7), tmp_path, "b")


def test_event_log_other_seed_other_keys():
    a = [t.column("user_id").to_pylist() for t in _log(7)]
    b = [t.column("user_id").to_pylist() for t in _log(8)]
    assert a != b


def test_batch_tables_same_seed_same_bytes(tmp_path):
    a, b = gen.batch_tables(3), gen.batch_tables(3)
    assert list(a) == list(b) == list(gen.BATCH_TABLES)
    assert _digest(a.values(), tmp_path, "a") == _digest(b.values(), tmp_path, "b")


def test_batch_tables_permute_the_fixture():
    """Another seed gives another row order of the same rows."""
    a = gen.batch_tables(3)["lineitem"]
    b = gen.batch_tables(4)["lineitem"]
    assert a.column("l_orderkey") != b.column("l_orderkey")
    order = [(k, "ascending") for k in a.column_names]
    assert a.sort_by(order).equals(b.sort_by(order))


def test_event_log_traffic_shape():
    """Late events only from the third file on, all before LOG_START;
    out-of-order events stay after it; keys are skewed."""
    p = dict(CFG["stream_window"], files=6)
    files, late = gen.event_log(5, p)
    per = p["events_per_file"]
    ts = [t.column("ts").to_pylist() for t in files]
    assert not late[: 2 * per].any() and late.sum() > 0
    flat = [x for f in ts for x in f]
    assert sum(x < gen.LOG_START for x in flat) == late.sum()
    keys = [k for t in files for k in t.column("user_id").to_pylist()]
    top = max(keys.count(k) for k in set(keys[:200]))
    assert top > 10 * len(keys) / p["key_space"]

"""Measurement from outside the program: /proc, the Spark REST API and the
streaming progress reports.

Nothing here reaches into faust_spark; every number comes from a public
surface (``/proc/<pid>``, ``sc.uiWebUrl``'s ``/api/v1``, ``recentProgress``).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import math
import os
import re
import statistics
import threading
import time
import urllib.request

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------------------
# process tree: the Python driver, the JVM it launched and its Python workers
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User plus system CPU of the live tree, including reaped children
    (``cutime``/``cstime``), so a worker that exited still counts."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / _CLK


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError):
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Samples the tree's resident set on a thread; ``peak_mb`` is the
    largest sum seen. Use as a context manager around the measured phase;
    an inactive sampler does nothing and reads 0."""

    def __init__(self, active: bool = True, period_s: float = 0.2):
        self.active, self.period_s, self.peak_mb = active, period_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        if self.active:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.active:
            self._stop.set()
            self._thread.join(timeout=5)
            self.peak_mb = max(self.peak_mb, tree_rss_mb())


# --------------------------------------------------------------------------
# spans: name, start, end, kept in memory until the run ends
# --------------------------------------------------------------------------


class Spans:
    """Named intervals. A disabled ``Spans`` records nothing, so an
    untraced phase carries no tracing."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.items: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.time(), **attrs}
        self.items.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.items if s["name"] == name and "end" in s]


# --------------------------------------------------------------------------
# Spark REST API: jobs, stages, tasks and SQL operator metrics
# --------------------------------------------------------------------------


def _ts(s: str | None) -> float | None:
    """'2026-10-16T18:10:02.843GMT' -> epoch seconds."""
    if not s:
        return None
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}


def metric_value(text: str) -> float:
    """A SQL metric string as a number, in bytes or milliseconds.

    Single-task metrics read ``'6,000'``, ``'428 ms'`` or ``'114.5 KiB'``;
    multi-task ones read ``'total (min, med, max (stageId: taskId))\\n5.3
    MiB (...)'``, whose total is the first figure of the second line."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class SparkRest:
    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted inside ``[t0, t1]`` (epoch seconds)."""
        out = []
        for j in self.get("/jobs"):
            sub = _ts(j.get("submissionTime"))
            if sub is not None and t0 <= sub <= t1:
                j["_sub"], j["_end"] = sub, _ts(j.get("completionTime")) or t1
                out.append(j)
        return out

    def stages(self, stage_ids: set[int]) -> list[dict]:
        return [
            s for s in self.get("/stages")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0

    def sql(self, t0: float, t1: float) -> list[dict]:
        return [
            e for e in self.get("/sql?details=true&planDescription=false&length=1000000")
            if t0 <= (_ts(e.get("submissionTime")) or 0) <= t1
        ]


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


#: (metric, SQL node-name prefix, SQL metric name)
_OP_METRICS = (
    ("op.scan.rows", "Scan", "number of output rows"),
    ("op.generate.rows", "Generate", "number of output rows"),
    ("op.agg.time_ms", "HashAggregate", "time in aggregation build"),
    ("op.shuffle.bytes", "Exchange", "shuffle bytes written"),
    ("op.shuffle.records", "Exchange", "shuffle records written"),
    ("op.broadcast.build_ms", "BroadcastExchange", "time to build"),
    ("python.bytes_sent", "FlatMapGroupsInPandas", "data sent to Python workers"),
    ("python.bytes_received", "FlatMapGroupsInPandas", "data returned from Python workers"),
    ("python.rows_out", "FlatMapGroupsInPandas", "number of output rows"),
    ("python.init_ms", "FlatMapGroupsInPandas", "time to initialize Python workers"),
    ("python.run_ms", "FlatMapGroupsInPandas", "time to run Python workers"),
)
_PY_NODES = ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython",
             "BatchEvalPython", "FlatMapCoGroupsInPandas", "ArrowWindowPython",
             "AggregateInPandas", "PythonMapInArrow", "MapInArrow")


def harvest(rest: SparkRest, t0: float, t1: float, wall_s: float) -> dict:
    """Job, stage, task and operator totals for everything Spark ran in
    ``[t0, t1]``. ``wall_s`` is the measured wall the jobs belong to, so
    ``jobs.gap_s`` is the driver time with no job running."""
    jobs = rest.jobs(t0, t1)
    busy = union_s([(j["_sub"], j["_end"]) for j in jobs])
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = rest.stages(stage_ids)
    multi = [s for s in stages if s["numTasks"] > 1]
    skew = max((rest.task_skew(s) for s in multi), default=1.0)
    out = {
        "jobs.count": len(jobs),
        "jobs.busy_s": busy,
        "jobs.gap_s": max(0.0, wall_s - busy),
        "stages.count": len(stages),
        "tasks.count": sum(s["numCompleteTasks"] for s in stages),
        "tasks.time_s": sum(s["executorRunTime"] for s in stages) / 1000,
        "tasks.skew_max": skew,
        "op.spill.bytes": float(
            sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages)
        ),
        "op.codegen_stages": 0,
    }
    for name, _, _ in _OP_METRICS:
        out[name] = 0.0
    for e in rest.sql(t0, t1):
        for node in e.get("nodes", ()):
            nn = node["nodeName"]
            if nn.startswith("WholeStageCodegen"):
                out["op.codegen_stages"] += 1
            # python.* counts every Python-worker operator, not only the
            # keyed-state one: any row that crosses into Python shows.
            py = nn.startswith(_PY_NODES)
            for m in node.get("metrics", ()):
                for name, prefix, mname in _OP_METRICS:
                    hit = py if name.startswith("python.") else nn.startswith(prefix)
                    if hit and m["name"] == mname:
                        out[name] += metric_value(m["value"])
    return out


# --------------------------------------------------------------------------
# streaming progress
# --------------------------------------------------------------------------


def progress_end(p: dict) -> float:
    """Epoch seconds at which a micro-batch finished."""
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100); 0 for no samples."""
    if not xs:
        return 0.0
    return float(sorted(xs)[max(0, math.ceil(len(xs) * q / 100) - 1)])


def stream_layers(progress: list[dict]) -> dict:
    """``batch.*`` and ``state.*`` figures from the data batches."""
    data = [p for p in progress if p["numInputRows"] > 0]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in data]  # noqa: E731
    ops = [o for p in data for o in p.get("stateOperators", ())]
    last = progress[-1].get("stateOperators", []) if progress else []
    out = {
        "batch.count": len(data),
        "batch.rows_p50": percentile([p["numInputRows"] for p in data], 50),
        "batch.trigger_ms_p50": percentile(dur("triggerExecution"), 50),
        "batch.trigger_ms_p90": percentile(dur("triggerExecution"), 90),
        "batch.add_ms_p50": percentile(dur("addBatch"), 50),
        "batch.plan_ms_p50": percentile(dur("queryPlanning"), 50),
        "batch.wal_ms_p50": percentile(dur("walCommit"), 50),
        "batch.commit_ms_p50": percentile(dur("commitOffsets"), 50),
        "batch.offset_ms_p50": percentile(dur("latestOffset"), 50),
        "state.instances": sum(o.get("numStateStoreInstances", 0) for o in last),
        "state.rows_total": sum(o["numRowsTotal"] for o in last),
        "state.rows_updated": sum(o["numRowsUpdated"] for o in ops),
        "state.rows_dropped_late": sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops
        ),
        "state.mem_bytes": max((sum(o["memoryUsedBytes"] for o in p.get(
            "stateOperators", ())) for p in data), default=0),
        "state.commit_ms": statistics.fmean(
            [o["commitTimeMs"] for o in ops]) if ops else 0.0,
        "state.update_ms": statistics.fmean(
            [o["allUpdatesTimeMs"] for o in ops]) if ops else 0.0,
        "state.remove_ms": statistics.fmean(
            [o["allRemovalsTimeMs"] for o in ops]) if ops else 0.0,
    }
    return out

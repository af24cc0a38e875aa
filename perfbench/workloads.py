"""Batch and stream workloads: set-up (timed as ``setup_s``), one measured
phase, and the per-layer digest of a traced phase.

``wall_s`` and ``cpu_s`` are per unit of work: one pass over the query set
(batch) or one micro-batch of the drain, which reads one file (stream).
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

import pyarrow.parquet as pq

from perfbench import gen, layers, reference

SETUP_REPEATS = 3
WARMUP_PASSES = 2
MIN_PASSES = 3
WARMUP_FILES = 3
#: job-group prefix of a traced query call: ``perfbench:<key>:<part>``
JOB_GROUP = "perfbench:"


def _median_time(fn, repeats: int = SETUP_REPEATS):
    times, out = [], None
    for _ in range(repeats):
        t = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times), out


class Outcome:
    """Counts of attempted and failed operations of one measured phase."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


# --------------------------------------------------------------------------
# batch workloads
# --------------------------------------------------------------------------


class BatchWorkload:
    def __init__(self, spark, cfg: dict, name: str, seed: int, work: str):
        import __spark_entry__ as entry

        self.spark, self.seed = spark, seed
        self.keys = cfg[name]["queries"]
        self.fns = entry.queries()
        self.oracles = entry.oracle_sql()
        self.inputs = cfg["query_inputs"]
        self.data = os.path.join(work, "data")

    def setup(self) -> dict:
        gen_s, tables = _median_time(lambda: gen.batch_tables(self.seed))
        for name, t in tables.items():
            gen.write_table(t, os.path.join(self.data, f"{name}.parquet"))
        self.rows_per_pass = sum(
            tables[t].num_rows for k in self.keys for t in self.inputs[k]
        )
        ref_s, self.ref = _median_time(
            lambda: reference.batch_reference(self.data, self.oracles, self.keys)
        )
        # the JVM is still compiling hot paths after one pass; the measured
        # pass comes after WARMUP_PASSES untimed ones
        t = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            t_pass = time.perf_counter()
            for k in self.keys:
                self.fns[k](self.spark, self.data).collect()
        self.warm_pass_s = time.perf_counter() - t_pass
        return {"gen_s": gen_s, "ref_s": ref_s, "warmup_s": time.perf_counter() - t}

    def _group(self, key: str, part: str | None) -> None:
        """Tag the jobs of a traced call with their query and part."""
        sc = self.spark.sparkContext
        if part is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{JOB_GROUP}{key}:{part}", key)

    def _one(self, key: str, spans: layers.Spans, out: Outcome) -> float:
        """One query call, checked against the reference; returns its wall.
        A traced call (``spans`` enabled) also records build and action
        spans and tags its jobs with a job group per part."""
        traced = spans.enabled
        t = time.perf_counter()
        try:
            if traced:
                self._group(key, "build")
            with spans.span("build", key=key):
                df = self.fns[key](self.spark, self.data)
            if traced:
                self._group(key, "action")
            with spans.span("action", key=key):
                rows = [tuple(r) for r in df.collect()]
            wall = time.perf_counter() - t
            got = reference.canon(df.columns, rows)
            out.record(got == self.ref[key], f"{key}: {got} != {self.ref[key]}")
        except Exception as e:  # a raising query is a failed operation
            wall = time.perf_counter() - t
            out.record(False, f"{key}: {type(e).__name__}: {e}"[:300])
        finally:
            if traced:
                self._group(key, None)
        return wall

    def measure(self, seconds: float, traced: bool) -> dict:
        # the pass count is decided before timing, from the last warm-up
        # pass, so it does not flip between runs whose passes end on either
        # side of ``seconds``; wall_s is the median of at least MIN_PASSES
        n_passes = max(MIN_PASSES, round(seconds / self.warm_pass_s))
        spans, out = layers.Spans(enabled=traced), Outcome()
        walls: list[float] = []
        qwalls: dict[str, list[float]] = {k: [] for k in self.keys}
        with layers.RssSampler(active=traced) as rss:
            cpu0, t0 = layers.tree_cpu_s(), time.time()
            for _ in range(n_passes):
                t = time.perf_counter()
                for k in self.keys:
                    qwalls[k].append(self._one(k, spans, out))
                walls.append(time.perf_counter() - t)
            t1 = time.time()
            cpu = layers.tree_cpu_s() - cpu0
        wall = statistics.median(walls)
        return {
            "outcome": out,
            "spans": spans,
            "t0": t0,
            "t1": t1,
            "units": n_passes,
            "pass_walls": walls,
            "qwalls": qwalls,
            # events_per_s and latency_ms follow from the pass wall here;
            # they are independent figures on the stream workloads only
            "e2e": {
                "wall_s": wall,
                "events_per_s": self.rows_per_pass / wall,
                "latency_ms": 1000 * statistics.fmean(
                    statistics.median(v) for v in qwalls.values()
                ),
                "cpu_s": cpu / n_passes,
            },
            "peak_rss_mb": rss.peak_mb,
        }

    def layer_metrics(self, m: dict, rest: layers.SparkRest) -> dict:
        n, spans = m["units"], m["spans"]
        total = lambda name: sum(  # noqa: E731
            s["end"] - s["start"] for s in spans.named(name)
        )
        h = rest_totals(rest, m, n)
        jobs = rest.jobs(m["t0"], m["t1"])
        h["build.jobs"] = sum(
            (j.get("jobGroup") or "").endswith(":build") for j in jobs
        ) / n
        h["build.s"] = total("build") / n
        h["action.s"] = total("action") / n
        for k in self.keys:
            h[f"query.{k}.wall_s"] = statistics.median(m["qwalls"][k])
        h["gen.events"] = self.rows_per_pass
        return h


def rest_totals(rest: layers.SparkRest, m: dict, units: int) -> dict:
    wall = m["t1"] - m["t0"]
    h = layers.harvest(rest, m["t0"], m["t1"], wall)
    for k, v in h.items():
        if k != "tasks.skew_max":
            h[k] = v / units
    return h


# --------------------------------------------------------------------------
# stream workloads
# --------------------------------------------------------------------------


class StreamWorkload:
    POLL_S = 0.02

    def __init__(self, spark, cfg: dict, name: str, seed: int, work: str,
                 seconds: float):
        self.spark, self.seed, self.work = spark, seed, work
        self.p = dict(cfg[name])
        self.shape = self.p["shape"]
        self.per = self.p["events_per_file"]
        self.backlog = self.p["backlog_files"]
        self.period = 1.0 / self.p["offered_files_per_s"]
        self.open = max(self.p["open_files"], round(seconds / self.period))
        self.p["files"] = self.backlog + self.open
        self.pool = os.path.join(work, "pool")
        self.runs = 0

    # -- the stream under test ------------------------------------------
    def _query(self, src: str):
        from pyspark.sql import functions as F

        from faust_spark.catalog import normalize_event_time
        from faust_spark.streaming.runner import stream_parquet

        df = normalize_event_time(
            stream_parquet(self.spark, src, max_files_per_trigger=1)
        )
        if self.shape == "table":
            from faust_spark.streaming.state import stateful_counter

            return stateful_counter(
                df.groupBy("user_id"), "user_id", sum_col="value"
            ), "update"
        from faust_spark.streams import Stream
        from faust_spark.tables import Table
        from faust_spark.windows import TumblingWindow

        table = Table(
            None, "per_minute",
            window=TumblingWindow(60, expires=self.p["watermark_delay_s"]),
        )
        agg = table.aggregate(
            Stream(df).group_by("event_type"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        return agg, "append"

    def _result(self, sink: str) -> tuple:
        if self.shape == "table":
            df = self.spark.sql(
                f"SELECT user_id, MAX(cnt) AS cnt, MAX(total) AS total "
                f"FROM {sink} GROUP BY user_id"
            )
        else:
            df = self.spark.sql(
                f"SELECT window.start AS wstart, event_type, cnt, total FROM {sink}"
            )
        return reference.canon(df.columns, [tuple(r) for r in df.collect()])

    def _run_dir(self) -> tuple[str, str, str]:
        self.runs += 1
        d = os.path.join(self.work, f"run{self.runs}")
        stage, src = os.path.join(d, "stage"), os.path.join(d, "in")
        os.makedirs(stage)
        os.makedirs(src)
        return d, stage, src

    def _start(self, src: str, ck: str):
        agg, mode = self._query(src)
        sink = f"sink_{self.shape}_{self.runs}"
        q = (
            agg.writeStream.format("memory").queryName(sink)
            .outputMode(mode).option("checkpointLocation", ck).start()
        )
        return q, sink

    # -- set-up ---------------------------------------------------------
    def setup(self) -> dict:
        gen_s, (files, _late) = _median_time(
            lambda: gen.event_log(self.seed, self.p)
        )
        os.makedirs(self.pool)
        self.files = []
        for i, t in enumerate(files):
            path = os.path.join(self.pool, f"f{i:05d}.parquet")
            pq.write_table(t, path)
            self.files.append(path)
        self.max_ts = max(t.column("ts").to_numpy().max() for t in files)
        watermark = (
            self.max_ts.astype("datetime64[ms]")
            - self.p["watermark_delay_s"] * 1000
        )
        self.final_watermark = watermark.item()
        ref_s, self.ref = _median_time(
            lambda: reference.stream_reference(
                self.files, self.shape, self.final_watermark
            )
        )
        # warm-up: the same shape over a few files of another log, one per
        # batch, until batch times settle
        t = time.perf_counter()
        warm = dict(self.p, files=WARMUP_FILES)
        wfiles, _ = gen.event_log(self.seed + 1_000_003, warm)
        d, _stage, src = self._run_dir()
        for i, tb in enumerate(wfiles):
            path = os.path.join(src, f"w{i}.parquet")
            pq.write_table(tb, path)
            os.utime(path, (time.time() - 100 + i,) * 2)
        q, _ = self._start(src, os.path.join(d, "ck"))
        try:
            self._wait_rows(q, WARMUP_FILES * self.per, time.time() + 120)
        finally:
            q.stop()
        return {"gen_s": gen_s, "ref_s": ref_s, "warmup_s": time.perf_counter() - t}

    # -- measured phase -------------------------------------------------
    def _wait_rows(self, q, rows: int, deadline: float, pred=None,
                   cpu: list | None = None) -> list:
        """Poll progress until ``rows`` input rows are processed (and
        ``pred`` holds). With ``cpu``, append the tree's CPU reading each
        time another data batch is seen to have finished."""
        seen = 0
        while True:
            prog = q.recentProgress
            if cpu is not None:
                n = sum(1 for p in prog if p["numInputRows"])
                if n > seen:
                    seen = n
                    cpu.append(layers.tree_cpu_s())
            if sum(p["numInputRows"] for p in prog) >= rows and (
                pred is None or pred(prog)
            ):
                return prog
            if q.exception() is not None or time.time() > deadline:
                return prog
            time.sleep(self.POLL_S)

    def _watermark_done(self, prog: list) -> bool:
        if self.shape != "window":
            return True
        wm = prog[-1].get("eventTime", {}).get("watermark")
        if not wm:
            return False
        import datetime as dt

        got = dt.datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ")
        return got >= self.final_watermark

    def measure(self, seconds: float, traced: bool) -> dict:
        out, spans = Outcome(), layers.Spans(enabled=traced)
        d, stage, src = self._run_dir()
        for f in self.files:
            shutil.copy(f, stage)
        names = sorted(os.listdir(stage))
        # the file source takes files in modification-time order: give the
        # backlog distinct, increasing times so batch i reads file i
        now = time.time()
        for i, n in enumerate(names[: self.backlog]):
            os.utime(os.path.join(stage, n), (now - 100 + i, now - 100 + i))
            os.rename(os.path.join(stage, n), os.path.join(src, n))
        per, n_files = self.per, len(names)
        arrivals: list[tuple[float, float]] = []  # (due, actual)

        def generator(t_open: float) -> None:
            for j, n in enumerate(names[self.backlog:]):
                due = t_open + j * self.period
                time.sleep(max(0.0, due - time.time()))
                os.utime(os.path.join(stage, n))
                os.rename(os.path.join(stage, n), os.path.join(src, n))
                arrivals.append((due, time.time()))

        cpu: list[float] = []
        with layers.RssSampler(active=traced) as rss:
            t0 = time.time()
            with spans.span("build"):
                q, sink = self._start(src, os.path.join(d, "ck"))
            try:
                with spans.span("action"):
                    prog = self._wait_rows(
                        q, self.backlog * per, t0 + 120, cpu=cpu
                    )
                    t_open = time.time()
                    g = threading.Thread(target=generator, args=(t_open,))
                    g.start()
                    g.join(timeout=self.open * self.period + 60)
                    prog = self._wait_rows(
                        q, n_files * per, time.time() + 60, self._watermark_done
                    )
            finally:
                q.stop()
            t1 = time.time()
        got_rows = sum(p["numInputRows"] for p in prog)
        consumed = min(n_files, got_rows // per)
        for i in range(n_files):
            out.record(i < consumed, f"file {i} not consumed")
        if consumed == n_files and self._watermark_done(prog):
            got = self._result(sink)
            out.record(got == self.ref, f"result {got} != {self.ref}")
        else:
            out.record(False, "stream did not finish")
        self.spark.catalog.dropTempView(sink)

        # map files to the batches that consumed them by cumulative rows
        ends, cum = [], 0
        for p in prog:
            if p["numInputRows"]:
                cum += p["numInputRows"]
                ends.append((cum, layers.progress_end(p)))

        def done_at(k: int) -> float:  # end of the batch holding file k
            return next(e for c, e in ends if c >= (k + 1) * per)

        # drain figures are medians over its batches, so the start-up of the
        # first batch and a stray slow batch do not set them
        drained = ends[: self.backlog] if consumed >= self.backlog else []
        secs = [
            p["durationMs"]["triggerExecution"] / 1000
            for p in prog if p["numInputRows"]
        ][: len(drained)]
        gaps = [b[1] - a[1] for a, b in zip(drained, drained[1:])]
        lat = [
            1000 * (done_at(self.backlog + j) - due)
            for j, (due, _) in enumerate(arrivals)
            if self.backlog + j < consumed
        ]
        nan = float("nan")
        return {
            "outcome": out,
            "spans": spans,
            "t0": t0,
            "t1": t1,
            "units": 1,
            "progress": prog,
            "arrivals": arrivals,
            "ends": ends,
            "drain_s": drained[-1][1] - t0 if drained else nan,
            "e2e": {
                "wall_s": statistics.median(secs) if secs else nan,
                "events_per_s": per / statistics.median(gaps) if gaps else nan,
                "latency_ms": statistics.median(lat) if lat else nan,
                "cpu_s": statistics.median(
                    b - a for a, b in zip(cpu, cpu[1:])
                ) if len(cpu) > 1 else nan,
            },
            "peak_rss_mb": rss.peak_mb,
        }

    def layer_metrics(self, m: dict, rest: layers.SparkRest) -> dict:
        h = rest_totals(rest, m, 1)
        spans = m["spans"]
        build = spans.named("build")[0]
        jobs = rest.jobs(m["t0"], m["t1"])
        h["build.s"] = build["end"] - build["start"]
        h["build.jobs"] = sum(
            build["start"] <= j["_sub"] <= build["end"] for j in jobs
        )
        act = spans.named("action")[0]
        h["action.s"] = act["end"] - act["start"]
        h["batch.drain_wall_s"] = m["drain_s"]
        h.update(layers.stream_layers(m["progress"]))
        # backlog: files arrived but not yet consumed, seen at each batch end
        arr = [a for _, a in m["arrivals"]]
        backlog = 0
        for c, e in m["ends"]:
            if c > self.backlog * self.per:
                waiting = self.backlog + sum(a <= e for a in arr) - c // self.per
                backlog = max(backlog, waiting)
        h["backlog.files_max"] = backlog
        late = [1000 * (a - d) for d, a in m["arrivals"]]
        h["gen.late_p90_ms"] = layers.percentile(late, 90)
        h["gen.events"] = len(self.files) * self.per
        return h

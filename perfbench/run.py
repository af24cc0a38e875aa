"""faust_spark benchmark: one workload, one seed, one JSON line.

Run from the root of a faust_spark checkout:

    python3 perfbench/run.py --workload stream_table --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
measured phase untraced, traced, and untraced again, and prints the
per-layer metrics of the traced phase plus ``trace.overhead_s``: its wall
minus the mean wall of the untraced phases around it, so a drift that is
linear in time (the JVM still warming) cancels out.
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
a fuller record, with host facts, goes to ``perfbench/_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "events_per_s": "1/s",
    "latency_ms": "ms",
    "cpu_s": "s",
}


#: the queries of the batch workloads in BENCHMARK.json; a workload run by
#: hand also reports ``query.<key>.wall_s`` for each of its own queries
_QUERY_KEYS = ("q1_pricing", "kn_logprob", "dedup_jaccard_prefix")

#: every per-layer metric, in report order; a workload reports 0 for the
#: layers it does not touch (no micro-batches in a batch workload, no
#: Python worker in stream_window).
LAYER_UNITS = {
    "build.s": "s", "build.jobs": "count", "action.s": "s",
    **{f"query.{k}.wall_s": "s" for k in _QUERY_KEYS},
    "jobs.count": "count", "jobs.busy_s": "s", "jobs.gap_s": "s",
    "stages.count": "count", "tasks.count": "count", "tasks.time_s": "s",
    "tasks.skew_max": "ratio",
    "op.scan.rows": "count", "op.generate.rows": "count",
    "op.agg.time_ms": "ms", "op.shuffle.bytes": "B",
    "op.shuffle.records": "count", "op.spill.bytes": "B",
    "op.broadcast.build_ms": "ms", "op.codegen_stages": "count",
    "batch.count": "count", "batch.rows_p50": "count",
    "batch.drain_wall_s": "s",
    "batch.trigger_ms_p50": "ms", "batch.trigger_ms_p90": "ms",
    "batch.add_ms_p50": "ms", "batch.plan_ms_p50": "ms",
    "batch.wal_ms_p50": "ms", "batch.commit_ms_p50": "ms",
    "batch.offset_ms_p50": "ms", "backlog.files_max": "count",
    "state.instances": "count", "state.rows_total": "count",
    "state.rows_updated": "count", "state.rows_dropped_late": "count",
    "state.mem_bytes": "B", "state.commit_ms": "ms",
    "state.update_ms": "ms", "state.remove_ms": "ms",
    "python.bytes_sent": "B", "python.bytes_received": "B",
    "python.rows_out": "count", "python.init_ms": "ms", "python.run_ms": "ms",
    "gen.late_p90_ms": "ms", "gen.events": "count",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def host_facts() -> dict:
    import pyspark

    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=30,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "commit": commit,
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "java": java,
    }


def spark_env(work: str) -> None:
    """Host hygiene: size the session to this host, keep every scratch file
    inside this run's work directory."""
    ncpu = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    mem_g = max(1, min(4, mem_kb // 2**20 // 4))
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(ncpu),
        SPARK_GRAFT_MEM=f"{mem_g}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )


def start_session(work: str, ui: bool = True):
    """The Spark UI (and with it the REST API) is on only when asked for:
    its status store keeps every job and SQL execution of the session, and
    the eager queries' later passes slow down as it fills."""
    from faust_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": str(ui).lower(),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM it launched and wait for it to exit
    (the gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "faust_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from the root of a faust_spark checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)
    if cfg.get(args.workload, {}).get("kind") not in ("batch", "stream"):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    work = os.path.join(
        HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    spark_env(work)
    try:
        result, record = run(args, cfg, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(HERE, "_work", "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(result))
    return 0


def run(args, cfg: dict, work: str) -> tuple[dict, dict]:
    from perfbench import layers, workloads

    t = time.perf_counter()
    spark = start_session(work, ui=bool(args.trace))
    session_s = time.perf_counter() - t
    try:
        kind = cfg[args.workload]["kind"]
        if kind == "batch":
            w = workloads.BatchWorkload(
                spark, cfg, args.workload, args.seed, work
            )
        else:
            w = workloads.StreamWorkload(
                spark, cfg, args.workload, args.seed, work, args.seconds
            )
        setup = w.setup()
        setup["session_s"] = session_s
        m = w.measure(args.seconds, traced=False)
        phases = [m]
        if args.trace:
            mt = w.measure(args.seconds, traced=True)
            m2 = w.measure(args.seconds, traced=False)
            phases += [mt, m2]
            layer = w.layer_metrics(mt, layers.SparkRest(spark.sparkContext))
            layer["proc.peak_rss_mb"] = mt["peak_rss_mb"]
            layer["trace.overhead_s"] = mt["e2e"]["wall_s"] - statistics.fmean(
                (m["e2e"]["wall_s"], m2["e2e"]["wall_s"])
            )
            units = dict(LAYER_UNITS, **{
                f"query.{k}.wall_s": "s"
                for k in cfg[args.workload].get("queries", ())
            })
            metrics = {k: layer.get(k, 0) for k in units}
        else:
            metrics = dict(m["e2e"], setup_s=sum(setup.values()))
            units = E2E_UNITS
    finally:
        stop_session(spark)
    attempted = sum(p["outcome"].attempted for p in phases)
    failed = sum(p["outcome"].failed for p in phases)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a phase that failed leaves NaN where a figure had no samples; the
        # run is reported as failed and the figure as 0
        "metrics": {
            k: {"value": float(v) if math.isfinite(v) else 0.0, "unit": units[k]}
            for k, v in metrics.items()
        },
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host_facts(),
        "setup": setup,
        "errors": [e for p in phases for e in p["outcome"].errors],
        "units": [p["units"] for p in phases],
        "walls": [p["e2e"]["wall_s"] for p in phases],
        "pass_walls": [p.get("pass_walls") for p in phases],
        "result": result,
    }
    return result, record


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload cube_jpeg --seed 1 --seconds 10 --trace 0

Run from the repository root. The load is a closed loop with one client,
this process: it submits one pipeline run after another on local[nproc].
A run

  1. makes (or reuses, after checking its digest) the seeded inputs and
     their reference answers, untimed;
  2. starts a Spark session, times that and stops it again, ``SETUPS``
     times; ``setup_s`` is the median of these cold starts, and the last
     session stays up for the rest of the run;
  3. times the first pipeline run in that fresh session (``first_run_s``);
  4. repeats warm runs for ``--seconds`` and reports the median wall
     time, CPU time of the JVM and its Python workers, and peak resident
     memory of the same processes;
  5. with ``--trace 1``, runs the traced variant (spans around each layer,
     event log on) and reports the per-layer metrics instead; the traced
     run of ``cube_jpeg`` also traces a pass over the query set.

Every run's output is checked against the benchmark's reference answer
(``reference.py`` for the cubes, DuckDB for the queries); a failed check
counts in ``failed`` and makes the exit code 1. The last stdout line is
the JSON result; the line before it holds the environment and
``error_rate``. Every process the run starts is stopped and waited for
before it exits, on every path out.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procstat                             # noqa: E402
from perfbench.queries import QUERIES                      # noqa: E402
from perfbench.workloads import CubeJoinWrite, CubeJpeg    # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
HEAP = "2g"                  # session.py defaults to 16g, more than a 15 GB box has
SETUPS = 2                   # cold starts per run; setup_s is their median
DEADLINE_S = 130.0           # no new warm run after this; runs end < 180 s
TRACE_DEADLINE_S = 80.0      # the same, leaving room for the traced work
PR_SET_CHILD_SUBREAPER = 36

END_TO_END = {
    "setup_s": "s", "first_run_s": "s", "wall_s": "s",
    "images_per_s": "images/s", "cpu_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "scan.s": "s", "scan.bytes": "bytes", "scan.payload_bytes": "bytes",
    "scan.images": "count",
    "codecs.decode_us_per_image": "us",
    "build.warp_us_per_image": "us",
    "build_cube.call_s": "s", "build_cube.s": "s", "build_cube.cells": "count",
    "build_cube.cells_per_image": "ratio",
    "st_join.call_s": "s", "st_join.s": "s", "st_join.pairs": "count",
    "st_join.candidate_pairs": "count", "st_join.pair_yield": "ratio",
    "reduce_time.s": "s", "write_chunks.s": "s", "write_chunks.bytes": "bytes",
    "result.rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "python.start_s": "s", "python.init_s": "s", "python.run_s": "s",
    "python.bytes_sent": "bytes", "python.bytes_returned": "bytes",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}
PER_LAYER.update({f"q.{q}.{part}_s": "s" for q in QUERIES for part in ("call", "exec")})
WORKLOADS = {w.name: w for w in (CubeJpeg, CubeJoinWrite)}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(cores: int, trace: bool) -> tuple:
    """Keep every file the run writes inside WORK, let Spark's Python
    workers import the package from any directory, and record the
    environment the numbers were taken in."""
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "spark-local", "cache",
                                               "warehouse", "eventlog", "out")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"   # no /tmp/hsperfdata
    # the JVM's temp dir: _JAVA_OPTIONS is read after the command line, so
    # it overrides session.py's -Djava.io.tmpdir=/tmp and nothing else
    os.environ["_JAVA_OPTIONS"] = "-Djava.io.tmpdir=" + dirs["tmp"]
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                capture_output=True, text=True).stdout.strip()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return dirs, {
        "cores": cores, "master": f"local[{cores}]",
        "shuffle_partitions": max(cores, 16), "heap": HEAP,
        "spark_local_dirs": dirs["spark-local"], "pythonpath": os.environ["PYTHONPATH"],
        "commit": commit, "loadavg_at_start": load, "trace": trace,
        "python": sys.version.split()[0],
    }


def spark_extra(dirs: dict, trace: bool) -> dict:
    extra = {"spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": dirs["warehouse"]}
    if trace:
        shutil.rmtree(dirs["eventlog"], ignore_errors=True)
        os.makedirs(dirs["eventlog"])
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + dirs["eventlog"],
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    return extra


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under it; wait for all."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    pids = procstat.tree(gw.proc.pid) if gw is not None else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 20
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so that a
    process whose parent ended (a Python worker of a stopped JVM) is
    re-parented here, where ``reap_children`` finds it, and not to init."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_children() -> None:
    """Kill every process still under this one and wait until each has
    ended; the last thing a run does, on every path out."""
    while True:
        pids = procstat.tree(os.getpid())[1:]
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while True:
                os.waitpid(-1, 0)
        except ChildProcessError:
            pass


def start_session(app: str, cores: int, extra: dict) -> tuple:
    """A cold start: ``get_spark``, then ``bench.warmup`` (the first JVM
    job and the first Python-worker round trip). Returns the session and
    the seconds each part took."""
    import bench
    from gdalcubes_cpp_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app=app, cores=cores, shuffle_partitions=max(cores, 16),
                      extra=extra)
    t1 = time.perf_counter()
    try:
        bench.warmup(spark)
    except BaseException:
        stop_spark(spark)
        raise
    return spark, t1 - t0, time.perf_counter() - t1


class Runs:
    """Timed runs with their CPU, memory and outcome."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.records: list = []

    def timed(self, fn) -> dict:
        from perfbench.workloads import CheckFailed

        procstat.reset_peaks(self.jvm)
        cpu0 = procstat.cpu_seconds(self.jvm)
        t0 = time.perf_counter()
        ok = True
        try:
            fn()
        except CheckFailed as e:
            ok = False
            log(f"output check failed: {e}")
        except Exception:                    # a failed run counts, the loop goes on
            ok = False
            log("run raised:\n" + traceback.format_exc())
        rec = {"wall_s": time.perf_counter() - t0,
               "cpu_s": procstat.cpu_seconds(self.jvm) - cpu0,
               "peak_rss_mb": procstat.peak_rss_mb(self.jvm), "ok": ok}
        self.records.append(rec)
        return rec


def measure(wl, runs: Runs, seconds: float, deadline: float) -> dict:
    """First run, then warm runs for ``seconds`` (at least one), none
    started after ``deadline`` (a ``perf_counter`` reading)."""
    first = runs.timed(wl.run)
    warm = []
    t0 = time.perf_counter()
    while not warm or (time.perf_counter() - t0 < seconds
                       and time.perf_counter() < deadline):
        warm.append(runs.timed(wl.run))
    med = {k: statistics.median(r[k] for r in warm)
           for k in ("wall_s", "cpu_s", "peak_rss_mb")}
    med["first_run_s"] = first["wall_s"]
    med["images_per_s"] = wl.inputs.n / med["wall_s"]
    med["warm_runs"] = len(warm)
    return med


def calibrate() -> float:
    """Seconds for a fixed single-thread pure-Python and numpy workload,
    median of 3: recorded with every run, so that runs taken while the
    machine ran at another speed can be told apart."""
    import numpy as np

    a = np.arange(200_000, dtype=np.float64)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        for _ in range(20):
            a = np.sqrt(a * a + 1.0)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def traced_run(wl, runs: Runs, spark, dirs: dict, args) -> tuple:
    """The traced variant of one run (and, on ``cube_jpeg``, a warm-up
    pass and a traced pass over the query set); returns the tracer and
    the counts it took, or None for the counts if a traced part failed."""
    from perfbench.trace import Tracer

    tr = Tracer(spark.sparkContext)
    counts = {}

    def traced():
        with tr.span("traced"):
            counts.update(wl.traced(tr))

    ok = runs.timed(traced)["ok"]
    if wl.traces_queries:
        from perfbench.queries import QueryPass, prepare

        qp = QueryPass(spark, prepare(dirs["cache"], args.seed))
        ok = runs.timed(qp.run)["ok"] and ok
        ok = runs.timed(lambda: qp.traced(tr))["ok"] and ok
    tr.save(os.path.join(dirs["out"], f"spans-{args.workload}-s{args.seed}.json"))
    return tr, (counts if ok else None)


def main(argv=None) -> int:
    t_process = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gdalcubes_cpp_spark", "session.py")):
        log(f"no gdalcubes_cpp_spark package under {ROOT}; nothing to measure")
        return 2
    if args.seed < 0:
        log("--seed must be >= 0")
        return 2

    cores = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    dirs, env = pin_environment(cores, trace)
    env["calibration_s"] = calibrate()

    cls = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    data = cls.prepare(dirs["cache"], args.seed, min(cores, 4))
    env.update({"workload": args.workload, "seed": args.seed, "images": data.n,
                "inputs": os.path.basename(data.path), "inputs_reused": data.reused,
                "inputs_s": round(time.perf_counter() - t0, 3)})
    log(f"inputs ready in {env['inputs_s']} s (reused={data.reused})")

    from pyspark import SparkContext

    app = f"perfbench-{args.workload}"
    setups = []
    for _ in range(SETUPS - 1):
        spark, start_s, warmup_s = start_session(app, cores, spark_extra(dirs, False))
        stop_spark(spark)
        setups.append(start_s + warmup_s)
    spark, start_s, warmup_s = start_session(app, cores, spark_extra(dirs, trace))
    setups.append(start_s + warmup_s)
    env["setups_s"] = setups
    try:
        session = {"session.start_s": start_s, "session.warmup_s": warmup_s}
        wl = cls(spark, data, dirs["out"])
        runs = Runs(SparkContext._gateway.proc.pid)
        e2e = measure(wl, runs, args.seconds,
                      t_process + (TRACE_DEADLINE_S if trace else DEADLINE_S))
        e2e["setup_s"] = statistics.median(setups)
        if trace:
            tr, counts = traced_run(wl, runs, spark, dirs, args)
    finally:
        stop_spark(spark)

    layers = None
    if trace and counts is not None:
        from perfbench.queries import QueryPass
        from perfbench.trace import EventLog, layer_table

        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(session)
        layers.update(wl.layer_metrics(tr, EventLog(dirs["eventlog"]), counts,
                                       e2e["wall_s"]))
        if wl.traces_queries:
            layers.update(QueryPass.layer_metrics(tr))
        print(layer_table(layers))
    wl.clean()

    attempted = len(runs.records)
    failed = sum(not r["ok"] for r in runs.records)
    if trace:
        metrics = {k: {"value": float(layers[k]) if layers else 0.0, "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    # error_rate is failed / attempted; it is printed with the environment
    # rather than among the metrics, which must never be 0
    error_rate = {"value": failed / attempted, "unit": "fraction"}
    record = {"env": env, "end_to_end": e2e, "error_rate": error_rate,
              "per_layer": layers, "runs": runs.records, "attempted": attempted,
              "failed": failed}
    with open(os.path.join(dirs["out"], f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"env": env, "error_rate": error_rate}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    adopt_orphans()
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGHUP, _terminate)
    try:
        code = main()
    finally:
        reap_children()
    sys.exit(code)

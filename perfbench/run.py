"""Layered pages benchmark for bano_spark.

    python3 perfbench/run.py --workload tiles_bulk --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one table

Run from the repository root. One process is one closed-loop client:
a Spark session on ``local[nproc]`` sized from the machine, one timed
run at a time. Set-up computes the expected output without Spark,
writes the workload's pages table(s) to parquet three times and runs
the workload once to warm up (``setup_s`` is the session start, the
median build and the warm-up run). Then come about ``--seconds`` of
timed runs, each scanning the parquet and running the engine's public
functions. Every run's output is verified.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics: after the warm-up it times each plan prefix (layer
self time = prefix(i) - prefix(i-1), means over repetitions in
alternating order), then restarts the Spark context with the event log
on, runs the full workload again and reads the per-layer counts and
bytes off its executed plans (``planmetrics.py``). A traced result is
correct only if every metric of a layer the workload runs was measured
(non-zero) and no layer self time is negative.

The last stdout line is one JSON object: correct, attempted, failed,
metrics (name -> value, unit). Work files live under ``.perfbench/`` in
the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# input pages per workload (the refresh workload: per snapshot)
PAGES = {"tiles_bulk": 200_000, "export_csv": 100_000, "tiles_refresh": 50_000}
# input builds per process; setup_s takes their median
SETUP_REPEATS = 3
# nominal seconds of one timed run on a 4-core box: a process makes
# round(--seconds / nominal) timed runs, at least MIN_RUNS. The count does
# not depend on how fast the runs are, because runs keep speeding up
# for a while after the warm-up: two processes always compare the same
# runs, and a faster engine is not measured on later runs.
NOMINAL_RUN_S = {"tiles_bulk": 3.5, "export_csv": 4.5, "tiles_refresh": 8.0}
MIN_RUNS = 1
# repetitions of each plan prefix in the traced run; more where the last
# layer is small (the tiles_bulk rollup), so that its self time is not
# lost in the noise
TRACE_REPS = {"tiles_bulk": 4, "export_csv": 2, "tiles_refresh": 2}

END_TO_END = {
    "pages_per_s": "1/s",
    "run_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.pages.scan_s": "s",
    "sources.pages.extract_s": "s",
    "sources.pages.scan_bytes": "bytes",
    "sources.pages.scan_count": "count",
    "pip_join.cover_cells": "count",
    "pip_join.broadcast_bytes": "bytes",
    "pip_join.prune_s": "s",
    "pip_join.candidates": "count",
    "pip_join.interior_rows": "count",
    "pip_join.boundary_rows": "count",
    "pip_join.refine_s": "s",
    "pip_join.refine_python_s": "s",
    "pip_join.refine_arrow_bytes": "bytes",
    "pip_join.refine_kept": "count",
    "pip_join.refine_keep_ratio": "ratio",
    "tiles.rollup_s": "s",
    "tiles.rollup_shuffle_bytes": "bytes",
    "tiles.rollup_partial_rows": "count",
    "normalize.s": "s",
    "normalize.rows_in": "count",
    "normalize.udf_rows": "count",
    "normalize.python_s": "s",
    "conciliation.s": "s",
    "conciliation.cached_bytes": "bytes",
    "conciliation.shuffle_bytes": "bytes",
    "conciliation.rows_out": "count",
    "export.s": "s",
    "export.sort_shuffle_bytes": "bytes",
    "export.bytes_written": "bytes",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.shuffle_bytes": "bytes",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "plan.exchanges": "count",
    "plan.broadcasts": "count",
    "plan.broadcast_bytes": "bytes",
    "plan.python_nodes": "count",
    "incremental.diff_s": "s",
    "incremental.diff_shuffle_bytes": "bytes",
    "incremental.changed_rows": "count",
    "incremental.dirty_tiles": "count",
    "tiling.dirty_s": "s",
    "tiling.cover_cells": "count",
    "tiling.dirty_communes": "count",
    "tiling.recompute_s": "s",
    "lineage.write_s": "s",
    "lineage.plan_executions": "count",
    "lineage.bytes_written": "bytes",
    "lineage.files_written": "count",
    "lineage.log_rows": "count",
    "trace.run_s": "s",
    "trace.layer_sum_s": "s",
    "trace.overhead_s": "s",
}
# measured on every workload, and allowed to be 0 (or negative) when
# there is nothing to report: no GC pause, no spill, a trace that costs
# less than the run-to-run noise
MAY_BE_ZERO = {"spark.gc_s", "spark.spill_bytes", "trace.overhead_s"}


def machine() -> dict:
    """Cores, memory, 1-minute load and the CPU tick counters (for the
    share of time the hypervisor stole from this machine)."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return {"cores": len(os.sched_getaffinity(0)),
            "mem_total_mb": total_kb // 1024,
            "load_1m": os.getloadavg()[0],
            "ticks": ticks}


def steal_share(before: dict, after: dict) -> float:
    d = [b - a for a, b in zip(before["ticks"], after["ticks"])]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def heap_mb(mem_total_mb: int) -> int:
    """An eighth of the machine's memory: the heap is pre-touched, so it
    is resident for the whole run."""
    return max(1024, mem_total_mb // 8)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(root: int) -> list[int]:
    kids, out = _children(), []
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def descendants_rss_mb(root: int) -> float:
    """Summed resident memory of every process below ``root``: the
    driver JVM and the Python workers it forks."""
    total_kb = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
                total_kb += next((int(line.split()[1]) for line in fh
                                  if line.startswith("VmRSS:")), 0)
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Peak of ``descendants_rss_mb`` sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.5):
        self.period, self.peak = period, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, descendants_rss_mb(os.getpid()))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def tail(walls: list[float]) -> str:
    """The highest percentile with at least ten runs beyond it."""
    srt = sorted(walls)
    p = 100 * (len(srt) - 10) // len(srt)
    if p <= 50:
        return f"max={srt[-1]:.4f} s (too few runs for a tail percentile)"
    return f"p{p}={srt[len(srt) * p // 100]:.4f} s"


def start_session(work: str, cores: int, heap: str, event_dir: str | None):
    from bano_spark.session import get_session

    extra = {
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp "
            f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": f"{work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    spark = get_session("perfbench", cpus=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def attempt(wl, exp) -> tuple[float, str, object]:
    """One run: (wall seconds, error or "", result). Verification and
    cleanup happen after the clock stops."""
    t0 = time.perf_counter()
    try:
        got = wl.run()
    except Exception:  # a failed run is counted, the loop goes on
        wall, err, got = time.perf_counter() - t0, traceback.format_exc(), None
    else:
        wall = time.perf_counter() - t0
        try:
            err = wl.check(got, exp)
        except Exception:
            err = traceback.format_exc()
    return wall, err, got


def timed_loop(wl, exp, runs: int) -> tuple[list[float], int]:
    walls, failed = [], 0
    for i in range(runs):
        wall, err, _ = attempt(wl, exp)
        wl.cleanup()
        walls.append(wall)
        failed += record(err, f"run {i + 1}")
    return walls, failed


def record(err: str, what: str) -> int:
    if err:
        print(f"perfbench: {what} failed: {err}", file=sys.stderr)
    return int(bool(err))


def prefix_times(wl, exp, reps: int) -> tuple[dict, list[float], int]:
    """Layer self times: every plan prefix ``reps`` times, alternately in
    forward and backward order, so that the way runs keep speeding up over a
    process falls on every prefix alike. Self time = mean prefix(i) -
    mean prefix(i-1). The last prefix is the full run, which is
    verified; its walls are returned."""
    prefixes = wl.prefixes()
    full = prefixes[-1][0]
    times: dict[str, list[float]] = {name: [] for name, _ in prefixes}
    failed = 0
    for rep in range(reps):
        for name, fn in (prefixes if rep % 2 == 0 else prefixes[::-1]):
            if name == full:
                wall, err, _ = attempt(wl, exp)
                failed += record(err, "full prefix run")
            else:
                t0 = time.perf_counter()
                fn()
                wall = time.perf_counter() - t0
            wl.cleanup()
            times[name].append(wall)
    self_times, prev = {}, 0.0
    for name, _ in prefixes:
        t = statistics.mean(times[name])
        self_times[name], prev = t - prev, t
    return self_times, times[full], failed


def traced_run(wl, exp) -> tuple[dict, float, int]:
    """One full run tagged for planmetrics, in a context with the event
    log on; its driver-side extras are read before cleanup."""
    import planmetrics as pm

    sc = wl.spark.sparkContext
    sc.setLocalProperty(pm.TAG, "full")
    wall, err, got = attempt(wl, exp)
    sc.setLocalProperty(pm.TAG, None)
    extras = wl.traced_extras(got)
    wl.cleanup()
    return extras, wall, record(err, "traced run")


def stop_jvm(timeout: float = 60) -> None:
    """End the JVM that pyspark launched and wait until it and every
    process below it (the Python worker daemon and workers) are gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    pids = _descendants(os.getpid())
    gw.proc.stdin.close()  # the gateway server exits when its stdin closes
    gw.proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_workload(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "bano_spark")):
        print("perfbench: run from a checkout of the repository "
              "(bano_spark/ not found next to perfbench/)", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every scratch file of Spark, the JVMs and Python in the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def measure(args, work: str) -> int:
    import planmetrics as pm
    from workloads import WORKLOADS

    box = machine()
    heap = f"{heap_mb(box['mem_total_mb'])}m"
    os.environ["SPARK_DRIVER_MEM"] = heap
    n = args.pages or PAGES[args.workload]

    # the input writers fork before the JVM and any library thread starts
    pool = ProcessPoolExecutor(box["cores"], mp_context=mp.get_context("fork"))
    list(pool.map(abs, range(box["cores"])))
    t0 = time.perf_counter()
    spark = start_session(work, box["cores"], heap, None)
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, work, n, args.seed, 2 * box["cores"])
    exp = wl.expected(wrong=args.wrong_expected)
    builds = []
    with pool:
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.build(pool)
            builds.append(time.perf_counter() - t0)
    # the warm-up run compiles (codegen, Python workers) and is verified
    warmup, err, _ = attempt(wl, exp)
    wl.cleanup()
    failed = record(err, "warm-up run")
    setup_s = session_s + statistics.median(builds) + warmup

    problems: list[str] = []
    if args.trace:
        phases = [time.perf_counter()]
        layers, walls, f = prefix_times(wl, exp, TRACE_REPS[args.workload])
        phases.append(time.perf_counter())
        spark.stop()
        event_dir = os.path.join(work, "events")
        os.makedirs(event_dir)
        spark = wl.spark = start_session(work, box["cores"], heap, event_dir)
        # The inputs are deterministic, so the traced run checks them for
        # all runs. The checks scan every page through a pandas UDF, so
        # they also warm the new context (Python workers) up; they are
        # not tagged, and leave the tagged run's metrics alone.
        problems += wl.input_problems()
        phases.append(time.perf_counter())
        extras, traced_wall, f2 = traced_run(wl, exp)
        phases.append(time.perf_counter())
        attempted, failed = len(walls) + 2, failed + f + f2
    else:
        with RssSampler() as rss:
            walls, f = timed_loop(wl, exp, max(MIN_RUNS, round(
                args.seconds / NOMINAL_RUN_S[args.workload])))
        attempted, failed = len(walls) + 1, failed + f
    run_s = statistics.median(walls)
    spark.stop()
    stop_jvm()
    box_after = machine()

    if args.trace:
        units = PER_LAYER
        ev = pm.EventLog(event_dir)
        measured = {**layers, **extras, **wl.plan_metrics(ev.roots("full")),
                    **ev.task_metrics("full"),
                    "session.start_s": session_s,
                    "trace.run_s": statistics.mean(walls),
                    "trace.layer_sum_s": sum(layers.values()),
                    "trace.overhead_s": traced_wall - statistics.mean(walls)}
        unknown = set(measured) - set(units)
        if unknown:
            raise KeyError(f"metrics without a declared unit: {sorted(unknown)}")
        problems += [f"{k} of a layer {args.workload} runs came out 0"
                     for k, v in measured.items() if v == 0 and k not in MAY_BE_ZERO]
        problems += [f"layer self time {k} = {v:.4f} s is negative"
                     for k, v in layers.items() if v < 0]
        problems += wl.trace_problems(measured)
        # a layer the workload does not run has nothing to measure: 0
        metrics = {k: measured.get(k, 0.0) for k in units}
    else:
        metrics = {
            "pages_per_s": wl.input_pages / run_s,
            "run_s": run_s,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak,
        }
        units = END_TO_END

    load = max(box["load_1m"], box_after["load_1m"])
    print(f"perfbench {args.workload}: seed={args.seed} pages={wl.input_pages} "
          f"cores={box['cores']} mem_total_mb={box['mem_total_mb']} heap={heap} "
          f"load_1m before={box['load_1m']:.2f} after={box_after['load_1m']:.2f} "
          f"cpu_steal={100 * steal_share(box, box_after):.1f}%"
          + (" LOADED(load > cores)" if load > box["cores"] else ""))
    print(f"  runs: n={len(walls)} median={run_s:.4f} s {tail(walls)} "
          f"all={[round(w, 3) for w in walls]}"
          f"; set-up: session={session_s:.3f} s builds={[round(b, 3) for b in builds]}"
          f" warm-up run={warmup:.3f} s")
    if args.trace:
        print("  traced process: " + " ".join(
            f"{k}={b - a:.3f} s" for k, a, b in zip(
                ("prefixes", "restart+input checks", "traced run"),
                phases, phases[1:])))
    for k, v in metrics.items():
        print(f"  {k:32s} {v:16.6g} {units[k]}")
    print(f"  {'error_rate':32s} {failed / attempted:16.6g} ratio "
          f"({failed}/{attempted} runs failed)")
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process (one Spark session each)."""
    rc, results = 0, {}
    for name in PAGES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.pages:
            cmd += ["--pages", str(args.pages)]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                           check=False)
        lines = p.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if p.returncode or not lines:
            rc = rc or p.returncode or 1
            continue
        results[name] = json.loads(lines[-1])
    print(json.dumps(results))
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*PAGES, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=0,
                    help="override the workload's input size (smoke runs)")
    ap.add_argument("--wrong-expected", action="store_true",
                    help="verify against a deliberately wrong expectation "
                         "(every run must then count as failed)")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())

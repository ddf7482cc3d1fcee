#!/usr/bin/env python3
"""Benchmark of the lakehouse engine: one workload per run.

Run from the repository root::

    python3 perfbench/run.py --workload erasure --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/workloads.json`` for sizes, cache facts and
what each metric means on each workload):

- ``erasure``: single-key lookups and merge-on-read deletes on an
  ``orders`` table, with a purge cycle (rewrite, expire, orphan cleanup)
  after every batch.
- ``query_suite``: registered analytical and streaming queries, one pass
  at a time.

One client drives the engine in a closed loop through its public API. The
inputs are generated from ``--seed``. The timed work depends on the
arguments alone, never on how fast the host runs: ``erasure`` times
``round(--seconds / 6)`` whole batches (at least two; a batch takes about
6 s on the 4-core reference host), ``query_suite`` exactly one pass.
Correctness checks run outside the timed region and count in ``failed``.

Each op is timed twice: wall time, and the CPU time of every thread of
this process, the Spark JVM and its Python workers. The end-to-end
metrics are CPU seconds (and ``setup_s``, wall): on a shared host the
wall time of the same work moved by 20-50% between runs with the other
tenants' load, its CPU time by about a third of that. Wall latencies are
on the diagnostics line.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
run that wraps each layer's public functions, counts Spark jobs per op,
and prints per-layer metrics. It also writes its spans and per-op job
counts to ``.perfbench/traces/<workload>-seed<seed>.json``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Earlier lines carry diagnostics (host
fingerprint, sample counts, per-check verdicts).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

# process start, as near as the script can see it: setup_s runs from here
PROCESS_T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE_DIR = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("erasure", "query_suite")
OP_KINDS = ("lookup", "erase", "purge", "query", "stream")


def pct(values: list[float], q: float) -> float:
    """Percentile ``q`` (0-100) with linear interpolation."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dir_files(path: str) -> dict[str, int]:
    """path → size of every regular file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


class Failed(Exception):
    """A correctness check did not hold."""


def cpu_snapshot() -> dict[tuple[int, int], int]:
    """(pid, tid) → nanoseconds on a CPU, for every thread of this process
    but the calling one, and of its descendants: the Spark driver JVM and
    its Python workers."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    # the parent pid is the second field after the command name
                    parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError):
                pass
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    me = (os.getpid(), threading.get_native_id())
    out = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            key = (pid, int(tid))
            if key == me:
                continue
            try:
                with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                    out[key] = int(fh.read().split()[0])
            except (FileNotFoundError, ProcessLookupError):
                pass
    return out


def cpu_since(before: dict[tuple[int, int], int]) -> float:
    """CPU seconds the threads of :func:`cpu_snapshot` ran since ``before``.
    Threads born since count whole; one that exited since loses its last
    part. Unlike wall time, this leaves out time spent waiting for a core,
    which on a shared host depends on the other tenants."""
    after = cpu_snapshot()
    return sum(ns - before.get(key, 0) for key, ns in after.items()) / 1e9


class Ctx:
    """State shared by a workload and the harness for one run."""

    def __init__(self, spark, work: str, tracer):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.lat: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.timed_s = 0.0
        self.timed_cpu_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.op_id = 0
        self.checks: dict[str, list] = {}

    def op(self, kind: str, fn):
        """Run one timed op; returns its result, or None if it raised."""
        self.op_id += 1
        self.attempted += 1
        c0 = cpu_snapshot()
        # the calling thread runs the engine's Python side; its clock is
        # read apart so the snapshots' own cost stays outside the op
        m0 = time.thread_time()
        t0 = time.perf_counter()
        ok = True
        try:
            if self.tracer is not None:
                with self.tracer.op(kind, self.op_id):
                    out = fn()
            else:
                out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            ok = False
            out = None
        wall = time.perf_counter() - t0
        cpu = time.thread_time() - m0 + cpu_since(c0)
        if ok:
            self.lat.setdefault(kind, []).append(wall)
            self.cpu.setdefault(kind, []).append(cpu)
        self.timed_s += wall
        self.timed_cpu_s += cpu
        return out

    def check(self, name: str, fn) -> None:
        """Run one correctness check outside the timed region. ``fn``
        raises :class:`Failed` (or anything else) when the check fails."""
        if self.tracer is not None:
            self.tracer.paused = True
        ok = True
        t0 = time.perf_counter()
        try:
            fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        finally:
            if self.tracer is not None:
                self.tracer.paused = False
        # runs, failures, wall seconds
        tally = self.checks.setdefault(name, [0, 0, 0.0])
        tally[0] += 1
        tally[2] += time.perf_counter() - t0
        if not ok:
            tally[1] += 1
            self.failed += 1


def start_spark(work: str):
    from demo_iceberg_permanent_delete_spark.session import get_spark

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def fingerprint(spark, work: str) -> dict:
    try:
        load = [round(v, 2) for v in os.getloadavg()]
    except OSError:
        load = None
    tmp = os.path.join(work, "tmp")
    return {
        "loadavg": load,
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        # leftover streaming checkpoints; the engine makes them under TMPDIR
        "ckpt_dirs": sum(1 for d in os.listdir(tmp) if d.startswith("ckpt_")),
    }


def run(args, work: str) -> dict:
    t0 = time.perf_counter()
    import demo_iceberg_permanent_delete_spark.session  # noqa: F401

    import_s = time.perf_counter() - t0
    workload = importlib.import_module(args.workload).Workload(args.seed)
    t0 = time.perf_counter()
    workload.generate(os.path.join(work, "data"))
    generate_s = time.perf_counter() - t0
    t_session = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t_session
    tracer = None
    try:
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.add_span("session.get_spark", "session", t_session, t_session + session_s)
            tracer.install()
        ctx = Ctx(spark, work, tracer)
        t0 = time.perf_counter()
        workload.build(ctx, os.path.join(work, "warehouse"))
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        workload.warm(ctx)
        warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - PROCESS_T0
        ctx.lat.clear()
        ctx.cpu.clear()
        ctx.timed_s = 0.0
        ctx.timed_cpu_s = 0.0
        if tracer is not None:
            tracer.start_timed_region()
        workload.loop(ctx, args.seconds)
        workload.final_checks(ctx)
        if tracer is not None:
            tracer.paused = True
        metrics = workload.metrics(ctx)
        metrics["setup_s"] = setup_s
        print(
            json.dumps(
                {
                    "detail": "run",
                    "workload": args.workload,
                    "seed": args.seed,
                    "fingerprint": fingerprint(spark, work),
                    "setup_parts_s": {
                        "import": round(import_s, 4),
                        "generate": round(generate_s, 4),
                        "session": round(session_s, 4),
                        "fixture_build": round(build_s, 4),
                        "warm": round(warm_s, 4),
                    },
                    "samples": {k: len(v) for k, v in ctx.lat.items()},
                    "timed_s": round(ctx.timed_s, 4),
                    "timed_cpu_s": round(ctx.timed_cpu_s, 4),
                    "checks": {
                        k: {"run": v[0], "failed": v[1], "wall_s": round(v[2], 3)}
                        for k, v in ctx.checks.items()
                    },
                    "end_to_end": metrics,
                }
            )
        )
        if tracer is not None:
            per_layer = tracer.summary()
            per_layer.update(tracer.op_counts(OP_KINDS))
            per_layer["session.start_s"] = session_s
            # time the tracer spent inside timed ops: its wrappers, and the
            # job-group calls and statusTracker read-back around each op
            per_layer["trace.overhead_s"] = (
                tracer.per_span_cost_s() * per_layer["trace.spans"] + tracer.op_overhead_s
            )
            per_layer.update(workload.layer_metrics(ctx))
            os.makedirs(os.path.join(STATE_DIR, "traces"), exist_ok=True)
            path = os.path.join(STATE_DIR, "traces", f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as fh:
                json.dump({"end_to_end": metrics, "per_layer": per_layer, **tracer.dump()}, fh)
            tracer.uninstall()
            metrics = per_layer
    finally:
        stop_spark(spark)
    units = workload_units(args.trace)
    if args.trace:
        # a layer the workload leaves idle reads 0
        metrics = {name: metrics.get(name, 0.0) for name in units}
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            name: {"value": float(metrics[name]), "unit": unit} for name, unit in units.items()
        },
    }


def workload_units(trace: int) -> dict[str, str]:
    """Metric name → unit, from BENCHMARK.json beside this directory."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(STATE_DIR, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every temporary file of the engine, Spark and Python lands under `work`
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [HERE, ROOT]
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

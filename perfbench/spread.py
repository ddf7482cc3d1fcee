#!/usr/bin/env python3
"""Run the benchmark on several seeds and summarize each end-to-end metric.

Run from the repository root::

    python3 perfbench/spread.py --workload erasure --seeds 1-10 [--out FILE] [--traced-seed N]

For each end-to-end metric it reports the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the spread: the
distance between the quartiles as a share of the median. With ``--out`` it
also writes the same summary of every named metric on the runs'
diagnostics line, and each run's result, as JSON; the recorded baseline in
``perfbench/baseline.json`` was made this way. ``--traced-seed N`` (one of
the seeds) adds a traced run at that seed: its per-layer metrics, and the
whole tracing overhead, its end-to-end metrics minus those of the untraced
run at the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / statistics.median(values),
    }


def bench(workload: str, seed: int, seconds: int, trace: int) -> tuple[float, list[str]]:
    """One run of the benchmark: its wall time and its stdout lines."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
        ],
        capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
    return wall, proc.stdout.strip().splitlines()


def named_metrics(lines: list[str]) -> dict[str, float]:
    """Every metric by its own name, from the run's diagnostics line."""
    return next(json.loads(x) for x in lines if x.startswith('{"detail": "run"'))["end_to_end"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--out")
    ap.add_argument("--traced-seed", type=int)
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    runs = []
    for seed in args.seeds:
        wall, lines = bench(args.workload, seed, spec["run_seconds"], 0)
        result = json.loads(lines[-1])
        runs.append({"seed": seed, "wall_s": wall, "named": named_metrics(lines), **result})
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "correct": result["correct"],
                          **{k: v["value"] for k, v in result["metrics"].items()}}), flush=True)
    names = [m["name"] for m in spec["end_to_end"]]
    summary = {n: summarize([r["metrics"][n]["value"] for r in runs]) for n in names}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for n, s in summary.items():
        flag = "" if s["spread"] < bounds[n] / 3 else "  (above a third of its bound)"
        print(f"{args.workload} {n}: median {s['median']:.4f} spread {s['spread']:.3f}{flag}")
    traced = None
    if args.traced_seed is not None:
        wall, lines = bench(args.workload, args.traced_seed, spec["run_seconds"], 1)
        result = json.loads(lines[-1])
        untraced = next(r["named"] for r in runs if r["seed"] == args.traced_seed)
        with_trace = named_metrics(lines)
        traced = {
            "seed": args.traced_seed,
            "wall_s": wall,
            "correct": result["correct"],
            "end_to_end_traced": with_trace,
            "end_to_end_untraced": untraced,
            "tracing_overhead": {n: with_trace[n] - untraced[n] for n in names},
            "per_layer": {k: v["value"] for k, v in result["metrics"].items()},
        }
        print(json.dumps({"traced_seed": args.traced_seed, **traced["tracing_overhead"]}))
    if args.out:
        named = {n: summarize([r["named"][n] for r in runs]) for n in runs[0]["named"]}
        with open(args.out, "w") as fh:
            json.dump(
                {"workload": args.workload, "summary": summary, "named": named,
                 "traced": traced, "runs": runs},
                fh,
                indent=1,
            )
    ok = all(r["correct"] for r in runs) and (traced is None or traced["correct"])
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Steadiness check: are Spark job counts per op deterministic?

Runs the traced benchmark twice at the same seed and compares the number of
Spark jobs of every op the two runs share (ops are numbered in the order
the seeded loop issues them). A single client on a fixed input should
launch the same jobs every time; an op whose count differs is not
single-client deterministic, so its job count cannot serve as a
host-independent counter.

Run from the repository root::

    python3 perfbench/steady.py --workload erasure --seed 1 --seconds 20

Prints one JSON object and exits 1 when any op differs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced_run(workload: str, seed: int, seconds: float) -> list[dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "1",
    ]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=600)
    path = os.path.join(".perfbench", "traces", f"{workload}-seed{seed}.json")
    with open(path) as fh:
        return json.load(fh)["ops"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    first = traced_run(args.workload, args.seed, args.seconds)
    second = traced_run(args.workload, args.seed, args.seconds)
    by_id = {o["id"]: o for o in second}
    shared = [(a, by_id[a["id"]]) for a in first if a["id"] in by_id]
    differ = [
        {"op": a["id"], "kind": a["kind"], "jobs": [a["jobs"], b["jobs"]]}
        for a, b in shared
        if a["kind"] != b["kind"] or a["jobs"] != b["jobs"]
    ]
    kinds = sorted({a["kind"] for a, _ in shared})
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "ops_compared": len(shared),
                "steady_kinds": [k for k in kinds if all(d["kind"] != k for d in differ)],
                "unsteady_ops": differ,
            }
        )
    )
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())

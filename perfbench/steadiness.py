"""Run the benchmark N times per workload, each with another seed, and
print each end-to-end metric's spread against its bound.

    python3 perfbench/steadiness.py --runs 10 [--workload NAME ...] [--first-seed 1]

Spread is the distance between the first and third quartile of the N
values (``statistics.quantiles(values, n=4)``) as a share of their median.
A metric is steady when its spread is below a third of its bound. The raw
(not host-normalized) latency is printed beside the normalized one, so the
effect of normalization can be checked. Every run's result line is also
appended to ``--out`` as JSON.
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
sys.path.insert(0, HERE)

import spec  # noqa: E402


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict, float]:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}")
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    diag = next(x["diagnostics"] for x in lines if "diagnostics" in x)
    return diag, lines[-1], time.perf_counter() - t


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workload", action="append")
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=spec.RUN_SECONDS)
    p.add_argument("--out", default=os.path.join(".perfbench_work", "steadiness.jsonl"))
    args = p.parse_args()
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    steady = True
    for workload in args.workload or [n for n, _ in spec.WORKLOADS]:
        results, raw, walls = [], [], []
        for k in range(args.runs):
            seed = args.first_seed + k
            diag, res, wall = run_once(workload, seed, args.seconds)
            walls.append(wall)
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": workload, "seed": seed, "wall_s": wall,
                                    "diagnostics": diag, "result": res}) + "\n")
            if not res["correct"]:
                steady = False
                print(f"{workload} seed {seed}: {res['failed']} of {res['attempted']} ops failed")
            results.append(res["metrics"])
            raw.append(diag["raw_latency_p50_s"])
        print(f"\n{workload}: {args.runs} runs, seeds {args.first_seed}..{args.first_seed + args.runs - 1}, "
              f"wall {min(walls):.0f}-{max(walls):.0f} s a run")
        print(f"  {'metric':24s} {'median':>12s} {'spread':>8s} {'bound':>6s}  steady")
        for name, unit, _, bound in spec.END_TO_END:
            med, sp = spread([m[name]["value"] for m in results])
            ok = sp < bound / 3
            steady &= ok
            print(f"  {name:24s} {med:12.4f} {sp:8.4f} {bound:6.2f}  {'yes' if ok else 'NO'}  [{unit}]")
        med, sp = spread(raw)
        print(f"  {'raw latency_p50_s':24s} {med:12.4f} {sp:8.4f}   (not host-normalized)")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())

"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload skew_deep --seeds 1 2 3 4 5 [--trace 0]

For every metric it prints the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the spread (Q3 - Q1) / median,
next to the metric's bound from BENCHMARK.json. Runs are sequential, one
process each, exactly as ``run.py`` is run on its own; ``--save FILE``
appends each run's result to FILE as one JSON line.
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
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if lines else {}
    return {"seed": seed, "rc": proc.returncode, "wall_s": time.time() - t, "out": out}


def report(rows: list[dict], bounds: dict) -> None:
    bad = [r for r in rows if r["rc"] != 0 or not r["out"].get("correct")]
    walls = ", ".join(f"{r['wall_s']:.0f}" for r in rows)
    print(f"{len(rows)} runs, {len(bad)} failed; wall s per run: {walls}")
    good = [r["out"] for r in rows if r not in bad]
    if len(good) < 2:
        return
    print(f"{'metric':26} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for name in good[0]["metrics"]:
        vals = [g["metrics"][name]["value"] for g in good]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        print(f"{name:26} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} "
              f"{'' if b is None else b:>6}")
    shares = {g["failed"] / g["attempted"] for g in good}
    print(f"failed/attempted shares: {sorted(shares)}")


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--save")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    rows = []
    for s in a.seeds:
        rows.append(run_once(a.workload, s, a.seconds or spec["run_seconds"], a.trace))
        if a.save:
            with open(a.save, "a") as f:
                f.write(json.dumps(rows[-1]) + "\n")
    report(rows, bounds)


if __name__ == "__main__":
    main()

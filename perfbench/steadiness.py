"""Steadiness report: run each workload repeatedly, one seed per run, and
print each end-to-end metric's median, quartiles and quartile spread
relative to its median, next to the bound ``BENCHMARK.json`` gives it.

    python3 perfbench/steadiness.py --runs 10
    python3 perfbench/steadiness.py --runs 5 --workloads ingest_tail --first-seed 100

Every run measures ``run_seconds`` from ``BENCHMARK.json``, the length the
bounds were set at. Runs are sequential (never concurrent: they would
measure each other). The bounds in ``BENCHMARK.json`` were set from this report: a bound should be at
least three times the spread it guards. A summary is written to
``.perfbench_out/steadiness.json``.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1]), wall


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    if args.runs < 2:
        ap.error("--runs must be at least 2")

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for workload in args.workloads.split(","):
        values: dict[str, list] = {}
        walls, failed = [], 0
        for k in range(args.runs):
            seed = args.first_seed + k
            res, wall = run_once(workload, seed, bench["run_seconds"], 0)
            walls.append(wall)
            failed += res["failed"]
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{workload} seed {seed}: {wall:.1f} s wall, correct={res['correct']} "
                  + " ".join(f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()),
                  flush=True)
        print(f"\n{workload}: {args.runs} runs, {sum(walls):.0f} s wall in total, "
              f"{failed} failed operations")
        print(f"  {'metric':14s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
        rows = {}
        for name, vals in values.items():
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / q2
            rows[name] = {"median": q2, "q1": q1, "q3": q3, "spread": spread, "values": vals}
            flag = "" if spread < bounds[name] / 3 else ("  above bound/3" if spread <= bounds[name] else "  ABOVE BOUND")
            print(f"  {name:14s} {q2:12.4g} {q1:12.4g} {q3:12.4g} {spread:8.3f} {bounds[name]:6.2f}{flag}")
        summary[workload] = {"walls_s": walls, "failed": failed, "metrics": rows}
        print()

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "steadiness.json"), "w") as f:
        json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

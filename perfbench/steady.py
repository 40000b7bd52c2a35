"""Steadiness check: run one workload N times, each with another seed,
and print each metric's median, quartiles, quartile spread (IQR as a
share of the median, the figure the metric's bound is held to) and
max/min ratio.

    python3 perfbench/steady.py --workload serve_search --runs 10 --seconds 25

Run from the repository root. Each run's raw result line is kept in the
output, so a table can be re-derived from it.
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


def summarize(runs: list[dict]) -> list[tuple]:
    rows = []
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        unit = runs[0]["metrics"][name]["unit"]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        ratio = max(vals) / min(vals) if min(vals) > 0 else float("nan")
        rows.append((name, unit, med, q1, q3, spread, ratio))
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    runs = []
    for i in range(args.runs):
        seed = args.seed0 + i
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=600,
        )
        if out.returncode != 0:
            print(out.stdout, out.stderr, file=sys.stderr)
            return 1
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        host = next((ln for ln in lines if ln.startswith("host ")), "host {}")
        # the tail_ms line says which percentile the tail reached
        tail = next((" ".join(ln.split()) for ln in lines if ln.startswith("tail_ms ")), "")
        print(f"seed {seed} wall {time.perf_counter() - t0:.1f}s [{tail}] {host} {lines[-1]}", flush=True)
        runs.append(result)
    print(f"\n{args.workload}: {args.runs} runs, --seconds {args.seconds}, --trace 0, "
          f"correct {sum(r['correct'] for r in runs)}/{len(runs)}")
    print(f"{'metric':22s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} {'max/min':>8s}")
    for name, unit, med, q1, q3, spread, ratio in summarize(runs):
        print(f"{name:22s} {unit:6s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.4f} {ratio:8.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

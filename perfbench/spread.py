"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --seeds 1 2 3 4 5 [--workload lake_mix]

Runs the benchmark once per workload and seed (untraced, run_seconds
from BENCHMARK.json) and prints, per workload and metric, the median,
the quartiles (statistics.quantiles, n=4) and the spread: the distance
between the quartiles as a share of the median, next to the metric's
bound. A metric whose spread exceeds its bound cannot resolve a change
of that size.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workload", choices=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    names = [args.workload] if args.workload else [w["name"] for w in spec["workloads"]]
    values: dict[str, dict[str, list[float]]] = {w: {} for w in names}
    for seed in args.seeds:
        for w in names:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", "0"]
            out = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                                 timeout=600)
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}", file=sys.stderr)
                continue
            result = json.loads(out.stdout.strip().splitlines()[-1])
            print(f"{w} seed {seed}: correct={result['correct']}", file=sys.stderr)
            for name, m in result["metrics"].items():
                values[w].setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in names:
        print(w)
        for name, vs in values[w].items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            print(f"  {name:14s} n={len(vs):2d} median={med:11.4f} "
                  f"q1={q1:11.4f} q3={q3:11.4f} spread={(q3 - q1) / med:6.3f} "
                  f"bound={bounds[name]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

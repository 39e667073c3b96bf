"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py [--workload lake_mix]

For each workload, at tiny input size: an untraced run must print every
end-to-end metric of BENCHMARK.json with its unit and a non-zero value
and pass its checks; a traced run must print every per-layer metric with
its unit; and a run with a planted wrong answer must fail its checks.
Exits non-zero on the first broken expectation.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "2", "--size", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                          timeout=300)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                         f"{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"unexpected result keys {sorted(result)}")
    return result


def _expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        raise SystemExit(1)


def _units_match(result: dict, spec: list[dict]) -> bool:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    return got == want and all(
        isinstance(v["value"], float) for v in result["metrics"].values())


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    names = [args.workload] if args.workload else [w["name"] for w in spec["workloads"]]
    for w in names:
        r = _run(w, "--trace", "0")
        _expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                f"{w}: untraced run passes its checks")
        _expect(_units_match(r, spec["end_to_end"]),
                f"{w}: every end-to-end metric with its unit")
        _expect(all(v["value"] > 0 for v in r["metrics"].values()),
                f"{w}: no end-to-end metric reads 0")
        r = _run(w, "--trace", "1")
        _expect(r["correct"], f"{w}: traced run passes its checks")
        _expect(_units_match(r, spec["per_layer"]),
                f"{w}: every per-layer metric with its unit")
        r = _run(w, "--trace", "0", "--plant-fault")
        _expect(not r["correct"] and r["failed"] > 0,
                f"{w}: the planted wrong answer is caught")
    return 0


if __name__ == "__main__":
    sys.exit(main())

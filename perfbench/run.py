"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload postings_batch --seed 1 \
        --seconds 10 --trace 0

Workloads (see perfbench/README.md): lake_mix, postings_stream. The run
builds its inputs from --seed, sets up, measures for --seconds, checks
every output, and prints as its LAST stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with --trace 0 every
end-to-end metric of BENCHMARK.json, with --trace 1 every per-layer
metric. The line before it carries the run facts and each metric's
sample count. --size tiny shrinks the inputs for the self-test;
--plant-fault injects a known wrong answer that the checks must catch.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import harness

WORKLOADS = ("lake_mix", "postings_stream")


def _overheads(untraced: dict, traced: dict) -> dict:
    """Tracing overhead per end-to-end figure: traced / untraced - 1."""
    out = {}
    for key in ("latency", "read", "write"):
        u, t = untraced.get(key, 0.0), traced.get(key, 0.0)
        out[f"trace.overhead_{key}"] = (t / u - 1.0) if u else 0.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant-fault", action="store_true")
    args = ap.parse_args(argv)

    sys.path.insert(0, harness.REPO)
    import bigdata_storage_and_proccess_job_data_spark  # noqa: F401  fails fast outside a checkout

    spec = harness.spec()
    if args.workload == "lake_mix":
        import mix as workload
    else:
        import stream as workload

    run = harness.Run(args.workload, args.seed, bool(args.trace))
    try:
        start_s = run.start_session()
        calibration_s = run.calibrate()
        run.phase("session")
        out = workload.execute(
            run, args.seconds, args.size == "tiny", args.plant_fault
        )
        peak = run.peak_rss_mb()
        calibration_end_s = run.calibrate()
    finally:
        run.phase("workload")
        run.stop()
        run.cleanup()
        run.phase("stop")
    run.facts["load_after"] = os.getloadavg()
    run.facts["calibration_s"] = calibration_s
    run.facts["calibration_end_s"] = calibration_end_s

    run.detail = out.get("detail", {})
    e2e = dict(out["e2e"])
    e2e["setup_s"] = (out["setup_s"], out["setup_n"])
    layers = dict(out["layers"])
    layers["session.start_s"] = start_s
    layers["session.calibration_s"] = calibration_s
    layers["session.peak_rss_mb"] = peak
    layers["bench.error_rate"] = run.failed / max(1, run.attempted)
    layers.update(_overheads(out.get("untraced", {}), out.get("traced", {})))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, samples = {}, {}
    for m in wanted:
        name = m["name"]
        if args.trace:
            value, n = layers[name], out.get("traced_units", 1)
        else:
            value, n = e2e[name]
        metrics[name] = {"value": float(value), "unit": m["unit"]}
        samples[name] = n
    correct = all(ok for _, ok, _ in run.checks) and run.failed == 0
    result = {
        "correct": correct,
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": metrics,
    }
    report = {"facts": run.facts, "samples": samples,
              "checks_failed": [c for c in run.checks if not c[1]]}
    run.write_record(result, report)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"run took {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)

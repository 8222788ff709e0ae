"""Re-baseline: one untraced and one traced run per workload, same seed.

    python3 servebench/baseline.py --seed 7 --out servebench/baseline_4cpu.json

Run from the root of a checkout. ``--seconds`` defaults to the
``run_seconds`` of BENCHMARK.json. Writes the traced runs' per-layer
metrics, the untraced end-to-end metrics, the tracing overhead (traced
minus untraced, as a share of untraced, per end-to-end metric), the
share of each op kind's wall that its top-level layer spans cover, and
the sanity checks on Spark job counts. The host's CPU model and count
are recorded with the numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import CPUS, WORKLOADS  # noqa: E402


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    ap.add_argument("--seconds", type=float, default=run_seconds)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    report = {
        "host": {"cpu_model": _cpu_model(), "cpus_visible": os.cpu_count(),
                 "spark_master": f"local[{CPUS}]"},
        "seed": args.seed, "seconds": args.seconds, "workloads": {},
    }
    ok = True
    for w in WORKLOADS:
        plain = _run(w, args.seed, args.seconds, 0)
        traced = _run(w, args.seed, args.seconds, 1)
        e2e = {k: v["value"] for k, v in plain["metrics"].items()}
        layer = {k: v["value"] for k, v in traced["metrics"].items()}
        overhead = {
            k: (layer["trace.e2e." + k] - v) / v for k, v in e2e.items() if v
        }
        sanity = {}
        if w == "serve_small":
            sanity = {"spark.jobs_per_match == 0": layer["spark.jobs_per_match"] == 0,
                      "spark.jobs_per_phrase == 1": layer["spark.jobs_per_phrase"] == 1}
        ok &= all(sanity.values()) and plain["correct"] and traced["correct"]
        report["workloads"][w] = {
            "untraced": plain, "traced": traced, "trace_overhead": overhead,
            "coverage": {k: v for k, v in layer.items() if k.startswith("trace.coverage.")},
            "sanity": sanity,
        }
        print(f"{w}: correct={plain['correct'] and traced['correct']} sanity={sanity}",
              file=sys.stderr)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

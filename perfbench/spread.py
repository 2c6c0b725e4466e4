"""Run workloads over several seeds and print, per metric, the median
and the quartile spread (Q3 - Q1) / median of the values. Exits 1 when
a run failed (a check failed or no result was printed).

    python3 perfbench/spread.py [--workload sync_cdc,corpus_ann] [--seeds 1-10] [--seconds 10] [--trace 0]

Run from the root of a checkout; each run is a fresh process of run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", default="sync_cdc,corpus_ann", help="one workload or a comma-separated list")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="10")
    p.add_argument("--trace", default="0")
    args = p.parse_args()
    ok = True
    for workload in args.workload.split(","):
        ok &= run_seeds(workload, seeds(args.seeds), args.seconds, args.trace)
    return 0 if ok else 1


def run_seeds(workload: str, seed_list: list[int], seconds: str, trace: str) -> bool:
    """Run ``workload`` once per seed; print each run's metrics, then per
    metric the median and spread. False when a run failed."""
    values: dict[str, list[float]] = {}
    ok = True
    for s in seed_list:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
               "--seed", str(s), "--seconds", seconds, "--trace", trace]
        out = subprocess.run(cmd, capture_output=True, text=True)
        ok &= out.returncode == 0
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        try:
            res = json.loads(last)
        except ValueError:
            print(f"{workload} seed {s}: exit {out.returncode}, no result", flush=True)
            continue
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"{workload} seed {s}: exit {out.returncode} correct={res['correct']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    for k, v in values.items():
        if len(v) >= 2:
            print(f"{workload} {k}: median {statistics.median(v):.4g} spread {spread(v):.4f} (n={len(v)})")
    return ok

if __name__ == "__main__":
    sys.exit(main())

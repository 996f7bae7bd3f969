"""Measure a baseline: run every workload on several seeds and record
each end-to-end metric's median, quartiles and spread (interquartile
range over median), then one traced run per workload and one ungated
single-core ``log_drain`` run.

    python3 perfbench/baseline.py --seeds 1-10 --out perfbench/baseline.json

Runs are sequential, from the repository root, with BENCHMARK.json's
``run_seconds``. Compare a baseline only with one taken on the same host.
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


def run_once(workload: str, seed: int, seconds: int, extra: list[str]) -> tuple[dict, dict, float]:
    t = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.time() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1]), wall


def reference_runs(names: list[str], seed: int, seconds: int) -> dict:
    """One traced run per workload (the per-layer split) and one ungated
    single-core ``log_drain`` run."""
    out = {"traced": {}}
    for wl in names:
        detail, res, wall = run_once(wl, seed, seconds, ["--trace", "1"])
        out["traced"][wl] = {"metrics": {k: v["value"] for k, v in res["metrics"].items()},
                             "detail": detail, "run_wall_s": wall}
    detail, res, wall = run_once("log_drain", seed, seconds, ["--trace", "0", "--cores", "1"])
    out["single_core_log_drain"] = {
        "gated": False, "metrics": {k: v["value"] for k, v in res["metrics"].items()},
        "detail": detail, "run_wall_s": wall,
    }
    return out


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def seeds_arg(s: str) -> list[int]:
    lo, _, hi = s.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(x) for x in s.split(",")]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", default=None, help="comma-separated; default: all")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    out = {"run_seconds": bench["run_seconds"], "seeds": args.seeds, "workloads": {}}
    for wl in names:
        metrics: dict[str, list[float]] = {}
        hosts, walls = [], []
        for seed in args.seeds:
            detail, res, wall = run_once(wl, seed, bench["run_seconds"], ["--trace", "0"])
            for k, v in res["metrics"].items():
                metrics.setdefault(k, []).append(v["value"])
            hosts.append(detail["host"])
            walls.append(wall)
            print(wl, seed, f"{wall:.1f}s", {k: round(v[-1], 4) for k, v in metrics.items()},
                  flush=True)
        out["workloads"][wl] = {
            "metrics": {k: summarize(v) for k, v in metrics.items()},
            "run_wall_s": summarize(walls),
            "hosts": hosts,
        }
    out.update(reference_runs(names, args.seeds[0], bench["run_seconds"]))
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Repeat-run spread of the end-to-end metrics.

Runs the benchmark once per seed on every workload of BENCHMARK.json, one
run at a time, and writes ``perfbench/SPREAD.json`` (or ``--out``) afresh:
per workload and metric, the values, the median and the inter-quartile
range over the median as ``statistics.quantiles(values, n=4)`` gives it.
Run from the repository root on an otherwise idle machine, the two sets
back to back:

    python3 perfbench/spread.py --seeds 1-10
    python3 perfbench/spread.py --seeds 1-10 --out perfbench/SPREAD_repeat.json
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seed_list(text: str):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out", default="perfbench/SPREAD.json",
                    help="output file, relative to the repository root")
    args = ap.parse_args(argv)

    path = ROOT / args.out
    out = {"seconds": spec["run_seconds"],
           "host": {"cores": len(os.sched_getaffinity(0)), "cpu": cpu_model()},
           "workloads": {}}
    seeds = seed_list(args.seeds)
    for wl in (w["name"] for w in spec["workloads"]):
        values: dict = {}
        for seed in seeds:
            t0 = time.perf_counter()
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", wl, "--seed",
                 str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True)
            result = json.loads(p.stdout.strip().splitlines()[-1])
            if not result["correct"]:
                sys.exit(f"{wl} seed {seed}: {result['failed']} queries failed")
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{wl} seed {seed}: {time.perf_counter() - t0:.0f} s, "
                  + ", ".join(f"{k} {m['value']:.4g}" for k, m in result["metrics"].items()),
                  flush=True)
        metrics = {}
        for k, v in values.items():
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            metrics[k] = {"values": v, "median": med, "iqr_over_median": (q[2] - q[0]) / med}
            print(f"{wl} {k}: median {med:.5g}, IQR/median {metrics[k]['iqr_over_median']:.4f}")
        out["workloads"][wl] = {"seeds": seeds, "metrics": metrics}
    path.write_text(json.dumps(out, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

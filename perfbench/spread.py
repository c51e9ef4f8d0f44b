#!/usr/bin/env python3
"""Steadiness and tracing-overhead check.

Runs one workload once per seed and prints, for every metric, the median and
the quartile spread (Q3 - Q1) / median over the runs, next to the bound from
BENCHMARK.json. With ``--overhead`` every seed also gets a traced run, and
the tracing overhead is printed as the traced run's median latency minus the
untraced one.

    python3 perfbench/spread.py --workload ingest --seeds 1 2 3 4 5 [--trace 1]
    python3 perfbench/spread.py --workload ingest --seeds 1 2 3 --overhead
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from run import cpu_ticks
from stats import median, quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_seed(bench: dict, workload: str, seed: int, trace: int) -> dict[str, float]:
    steal0, total0 = cpu_ticks()
    t0 = time.time()
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    out = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    steal1, total1 = cpu_ticks()
    print(f"seed {seed} trace {trace}: correct={res['correct']} "
          f"attempted={res['attempted']} failed={res['failed']} "
          f"wall={time.time() - t0:.1f}s "
          f"steal={(steal1 - steal0) / max(1, total1 - total0):.1%}", file=sys.stderr)
    return {k: m["value"] for k, m in res["metrics"].items()}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--overhead", action="store_true")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    modes = (0, 1) if args.overhead else (args.trace,)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        for trace in modes:
            for k, v in run_seed(bench, args.workload, seed, trace).items():
                values.setdefault(k, []).append(v)
    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 and median(vs) else 0.0
        print(f"{k:40s} median {median(vs):14.6g}  spread {spread:7.3f}  "
              f"bound {bounds.get(k)}  values {[round(v, 4) for v in vs]}")
    if args.overhead:
        traced, plain = median(values["trace.latency_p50_s"]), median(values["latency_p50_s"])
        print(f"tracing overhead on latency_p50_s: {traced - plain:+.4f} s "
              f"({(traced - plain) / plain:+.1%} of {plain:.4f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

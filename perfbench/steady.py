#!/usr/bin/env python3
"""Steadiness check: run each workload repeatedly and report the spread.

    python3 perfbench/steady.py --runs 10 [--workloads cdc_burst,...] [--trace]

Run from the repository root. Each run gets its own seed (``--seed0``,
``--seed0 + 1``, ...). For every end-to-end metric it prints the median,
the first and third quartiles (``statistics.quantiles(values, n=4)``), the
spread (q3 - q1) / median and that spread as a share of the metric's bound
in BENCHMARK.json; then the failed share of operations per run. With
``--trace`` it also makes one traced run per workload and reports the
tracing overhead: the traced run's ``traced.op_s`` and ``traced.read_s``
against the untraced medians of ``op_s`` and ``read_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def one_run(workload: str, seed: int, seconds: int, trace: int, command: list[str]) -> dict:
    cmd = command + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    elapsed = time.perf_counter() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    for line in p.stderr.splitlines():
        if line.startswith("run record: "):
            result["record"] = json.loads(line[len("run record: "):])
    result["elapsed_s"] = elapsed
    return result


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    for wl in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            r = one_run(wl, args.seed0 + i, spec["run_seconds"], 0, spec["command"])
            runs.append(r)
            print(f"{wl} seed={args.seed0 + i} {r['elapsed_s']:.0f}s " + json.dumps(
                {k: round(v["value"], 4) for k, v in r["metrics"].items()}), flush=True)
        print(f"\n{wl}: {args.runs} runs")
        print(f"  {'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}{'/bound':>8}")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            print(
                f"  {m['name']:<14}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}"
                f"{spread:>9.3f}{m['bound']:>7.2f}{spread / m['bound']:>8.2f}"
            )
        shares = sorted({r["failed"] / r["attempted"] for r in runs})
        print(f"  failed share per run: {shares}; attempted {[r['attempted'] for r in runs]}")
        print(f"  seconds per run: median {statistics.median(r['elapsed_s'] for r in runs):.1f}, "
              f"max {max(r['elapsed_s'] for r in runs):.1f}")
        if args.trace:
            t = one_run(wl, args.seed0, spec["run_seconds"], 1, spec["command"])
            for name in ("op_s", "read_s"):
                traced = t["metrics"]["traced." + name]["value"]
                untraced = statistics.median(r["record"][name] for r in runs)
                print(
                    f"  tracing overhead on wall-clock {name}: traced {traced:.4f} vs untraced "
                    f"median {untraced:.4f} ({100 * (traced / untraced - 1):+.1f}%)"
                )
        print(flush=True)
    return 0


if __name__ == "__main__":
    os.environ.setdefault("PYTHONDONTWRITEBYTECODE", "1")
    sys.exit(main())

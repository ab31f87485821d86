#!/usr/bin/env python3
"""Steadiness check: repeat one workload with different seeds and print each
metric's spread against its bound.

Usage, from the root of a checkout:

    python3 perfbench/steady.py --workload query_mix --runs 10 [--first-seed 1] [--trace 0]

Spread is the distance between the first and third quartile of the runs'
values (Python's statistics.quantiles, n=4) as a share of their median.
Bounds come from BENCHMARK.json. A metric is "steady" when its spread is
under a third of its bound, "ok" when under the bound, else "WIDE".
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    a = ap.parse_args()
    values, walls, failed = {}, [], 0
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.monotonic()
        out = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", str(a.seconds),
                              "--trace", a.trace], capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited {out.returncode}\n{out.stderr[-2000:]}")
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        failed += res["failed"]
        if not res["correct"]:
            print(f"seed {seed}: correct=false", file=sys.stderr)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.0f} s  " +
              " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              file=sys.stderr)
        # the harness's summary line: set-up and every pass's wall time
        print("  " + "\n  ".join(lines[:-1]), file=sys.stderr)
    bounds = {m["name"]: m.get("bound") for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    print(f"{a.workload}: {a.runs} runs, {failed} failed ops, run wall median "
          f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print(f"{'metric':36} {'median':>14} {'spread':>8} {'bound':>6}  verdict")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(k)
        verdict = ("" if b is None else "steady" if spread < b / 3
                   else "ok" if spread <= b else "WIDE")
        print(f"{k:36} {med:14.6g} {spread:8.3f} {'' if b is None else b:>6}  {verdict}")


if __name__ == "__main__":
    main()

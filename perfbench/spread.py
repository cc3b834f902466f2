#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload small_ops --seeds 1 2 3 4 5

Runs the benchmark once per seed (``--trace 0``, BENCHMARK.json's
``run_seconds``) and prints, per metric, the median of the values and the
distance between their first and third quartiles as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = spec["command"] + ["--workload", args.workload, "--seed",
                                 str(seed), "--seconds",
                                 str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        last = out.stdout.strip().splitlines()[-1] if out.stdout else ""
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode} after {wall:.1f}s\n"
                  f"{out.stderr[-2000:]}\n{last}", file=sys.stderr)
            return 1
        res = json.loads(last)
        rep = next(json.loads(line)["report"] for line in
                   out.stdout.splitlines() if line.startswith('{"report"'))
        row = {k: v["value"] for k, v in res["metrics"].items()}
        for k, v in row.items():
            values.setdefault(k, []).append(v)
        print(json.dumps({"seed": seed, "run_wall_s": round(wall, 1),
                          "correct": res["correct"],
                          "loop_steal_frac": round(rep["loop_steal_frac"], 4),
                          **row}), flush=True)
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        spread = 0.0
        if len(xs) >= 2:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
        print(f"{m['name']:24s} median {med:12.5g}  spread {spread:6.3f}  "
              f"bound {m['bound']}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

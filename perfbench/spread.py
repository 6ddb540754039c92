#!/usr/bin/env python3
"""Run-to-run spread of benchmark metrics.

Usage:
    python3 perfbench/spread.py LOG [LOG ...]

Each LOG is the captured stdout of one `perfbench/run.py` run. Groups the
runs by workload and prints, per metric, the median over the runs and the
distance between the first and third quartiles as a share of the median
(statistics.quantiles(values, n=4)), next to the metric's bound from
BENCHMARK.json and a third of it, the level the benchmark aims to stay under.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(paths):
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {}
    for p in paths:
        lines = [ln for ln in open(p).read().splitlines() if ln.strip()]
        if not lines or not lines[-1].startswith("{"):
            print(f"skipping {p}: no result line")
            continue
        head = next((ln for ln in lines if ln.startswith("perfbench ")), "")
        workload = head.split()[1] if head else "?"
        runs.setdefault(workload, []).append(json.loads(lines[-1]))
    worst = 0.0
    for workload, rs in sorted(runs.items()):
        print(f"{workload}: {len(rs)} runs, failed {sum(r['failed'] for r in rs)} "
              f"of {sum(r['attempted'] for r in rs)}")
        for name in rs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in rs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            bound = bounds.get(name)
            flag = ""
            if bound is not None and name != "setup_s":
                worst = max(worst, spread / bound)
                flag = "  OVER a third of the bound" if spread > bound / 3 else ""
            print(f"  {name:<34} median {med:12.4f}  spread {spread:7.4f}"
                  + (f"  bound {bound:.3f} (third {bound / 3:.4f}){flag}" if bound else ""))
    print(f"largest spread/bound (setup_s excluded): {worst:.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])

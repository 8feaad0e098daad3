"""Run-to-run spread of the end-to-end metrics in one checkout.

    python3 perfbench/spread.py [--runs 10] [--workloads etl_steady] [--seed-base 1]

Runs ``perfbench/run.py`` once per seed for each workload and prints,
per metric, the median over the runs and the distance between the first
and third quartiles (``statistics.quantiles(values, n=4)``) as a share
of the median, next to the metric's bound in BENCHMARK.json. A spread
under a third of the bound is steady enough to resolve a regression of
the bound's size. The last stdout line is the report as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

from compare import run_once

ROOT = Path(__file__).resolve().parents[1]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--seed-base", type=int, default=1)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    report = {}
    for workload in names:
        runs = []
        for i in range(args.runs):
            runs.append(run_once(ROOT, workload, args.seed_base + i, spec["run_seconds"]))
            print(f"{workload} run {i + 1}/{args.runs}: {json.dumps(runs[-1])}", file=sys.stderr)
        report[workload] = {}
        for m in spec["end_to_end"]:
            values = [r[m["name"]] for r in runs]
            q1, q2, q3 = statistics.quantiles(values, n=4)
            spread = (q3 - q1) / q2
            report[workload][m["name"]] = {"median": q2, "spread": spread, "bound": m["bound"]}
            flag = "ok" if spread < m["bound"] / 3 else ("within bound" if spread <= m["bound"]
                                                          else "OVER BOUND")
            print(f"{workload:22s} {m['name']:18s} median {q2:12.4f}  spread {spread:7.3f}"
                  f"  bound {m['bound']:.2f}  {flag}")
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())

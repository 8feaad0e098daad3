"""A/B comparator for two checkouts of the repository.

    python3 perfbench/compare.py --parent ../parent --change . [--pairs 10]
        [--workloads etl_steady,registry_interactive] [--seed-base 1000]

Runs ``perfbench/run.py`` in each checkout as alternating parent/change
pairs (the side that runs first alternates), one fresh seed per pair
shared by both sides, and reports per workload and end-to-end metric
each side's median and quartiles, the change's pair wins, and a verdict:

- ``gain``: the change wins at least 9 of every 10 pairs (ties count
  for neither) and the medians differ by more than the parent's own
  interquartile range;
- ``regression``: the change's median is worse than the parent's by
  more than the metric's bound from BENCHMARK.json;
- ``unresolved``: either side's spread (IQR / median) exceeds the
  bound, so "no change" cannot be told apart from noise;
- ``no change``: none of the above.

Metrics, bounds and run length come from the change side's
BENCHMARK.json; both sides run for the same number of seconds. The
last stdout line is the whole report as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(checkout: Path, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{checkout}: {' '.join(cmd)} failed:\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"{checkout}: {workload} seed {seed} produced incorrect output")
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(metric: dict, parent: list[float], change: list[float]) -> dict:
    lower = metric["better"] == "lower"
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    worse = (cm - pm) if lower else (pm - cm)
    if (p3 - p1) / pm > metric["bound"] or (c3 - c1) / cm > metric["bound"]:
        call = "unresolved"
    elif wins >= 0.9 * len(parent) and -worse > (p3 - p1):
        call = "gain"
    elif worse > metric["bound"] * pm:
        call = "regression"
    else:
        call = "no change"
    return {"parent": [p1, pm, p3], "change": [c1, cm, c3], "wins": wins,
            "pairs": len(parent), "verdict": call}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", type=Path, required=True)
    ap.add_argument("--change", type=Path, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--seed-base", type=int, default=1000)
    args = ap.parse_args()
    if args.pairs < 4:
        ap.error("need at least 4 pairs for quartiles")

    spec = json.loads((args.change / "BENCHMARK.json").read_text())
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    report = {}
    for workload in names:
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.seed_base + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                path = args.parent if side == "parent" else args.change
                runs[side].append(run_once(path, workload, seed, spec["run_seconds"]))
            print(f"{workload} pair {i + 1}/{args.pairs} done", file=sys.stderr)
        report[workload] = {
            m["name"]: verdict(m, [r[m["name"]] for r in runs["parent"]],
                               [r[m["name"]] for r in runs["change"]])
            for m in spec["end_to_end"]
        }
        for name, row in report[workload].items():
            print(f"{workload:22s} {name:18s} parent {row['parent'][1]:12.4f} "
                  f"[{row['parent'][0]:.4f}, {row['parent'][2]:.4f}]  change "
                  f"{row['change'][1]:12.4f} [{row['change'][0]:.4f}, {row['change'][2]:.4f}]"
                  f"  wins {row['wins']}/{row['pairs']}  {row['verdict']}")
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())

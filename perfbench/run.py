"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_steady --seed 1 --seconds 15 --trace 0

Runs one workload from BENCHMARK.json on a fresh ``local[nproc]`` Spark
session and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a detail object (versions, sample counts, check
results, and for a traced run the tracing overhead against the last
untraced run of the same workload in this checkout). A traced run also
writes its spans to ``.bench_traces/``. Scratch files live in
``.bench_work/`` and are removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))

import common  # noqa: E402

BENCH = common.ROOT / "BENCHMARK.json"
RESULTS = common.ROOT / ".bench_results"
TRACES = common.ROOT / ".bench_traces"


class Setup:
    """Times the set-up phase: process start -> first timed operation."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.seconds: float | None = None
        self.parts: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(f"setup.{name}"):
            yield
        self.parts[name] = self.parts.get(name, 0.0) + time.perf_counter() - t0

    def done(self) -> None:
        if self.seconds is None:
            self.seconds = time.perf_counter() - T_START


def workloads():
    import etl
    import registry

    return {
        "etl_steady": etl.etl_steady,
        "registry_interactive": registry.registry,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads(BENCH.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    sys.path.insert(0, str(common.ROOT))
    import http_log_anonymizer_spark  # noqa: F401  - fail fast without the package

    work = common.ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    common.pin_environment(work)

    tracer = common.Tracer() if args.trace else common.NullTracer()
    setup = Setup(tracer)
    spark = None
    try:
        with common.RssSampler() as rss:
            with setup.span("session"):
                spark = common.start_session(work)
            out = workloads()[args.workload](spark, args.seed, args.seconds, work, tracer,
                                             setup)
        env = common.versions(spark)
    finally:
        if spark is not None:
            common.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics = dict(out["metrics"])
    metrics["setup_s"] = setup.seconds
    metrics["peak_rss_mb"] = rss.peak_mb
    metrics["session.start_s"] = setup.parts["session"]
    metrics["session.warmup_s"] = setup.parts["warmup"]
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "env": env, "setup_parts": setup.parts,
              "error_rate": out["failed"] / out["attempted"], **out["detail"]}
    e2e = [m["name"] for m in spec["end_to_end"]]
    RESULTS.mkdir(exist_ok=True)
    last_untraced = RESULTS / f"{args.workload}.json"
    if args.trace:
        detail["traced_end_to_end"] = {k: metrics[k] for k in e2e}
        if last_untraced.exists():
            base = json.loads(last_untraced.read_text())
            detail["tracing_overhead"] = {k: metrics[k] - base[k] for k in e2e if k in base}
        TRACES.mkdir(exist_ok=True)
        (TRACES / f"{args.workload}-seed{args.seed}.json").write_text(
            json.dumps({"detail": detail, "metrics": metrics, "spans": tracer.spans})
        )
    else:
        last_untraced.write_text(json.dumps({k: metrics[k] for k in e2e}))

    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(metrics.get(k, 0)), "unit": units[k]} for k in wanted},
    }
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

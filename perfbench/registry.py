"""Registry workload: a closed loop of one client running a fixed set of
registry queries (``plans.REGISTRY[name].spark_fn``) over seeded tables.

Each timed execution is build (``spark_fn``) + noop write, the protocol
of the repo's ``bench.py``. An untimed warm-up pass collects every
result, and after the timed window each result is compared with the
query's DuckDB oracle over the same parquet files by the suite's own
comparator, ``tests/oracle.py:compare``.

The traced run adds, per query: jobs and py4j calls inside the build,
a separate planning step, and stage, task, shuffle and spill counts of
the execution from Spark's status store. Operator attribution wraps
every function of ``http_log_anonymizer_spark.operators`` that the plans
call, in the traced run only.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import pkgutil
import sys
import time
from pathlib import Path
from types import FunctionType, SimpleNamespace

import datagen
from common import ROOT, median, quantile

# A fixed subset of bench.py's headline queries, one per family (http,
# TPC-H join, text, build-heavy ANN, the numpy GEMM operator), sized so
# that a cold pass plus the timed window fit one run. Fixed here, not
# derived from Query.bench, so later flag changes do not move it.
QUERIES = (
    "http_totals",
    "nation_volume",
    "token_stats",
    "ann_lsh_wide_topk",
    "embed_neardup_gemm",
)
TAIL_PERCENTILE = 90


# -- correctness --------------------------------------------------------------


def oracle_failures(results: dict, data_dir: Path) -> dict[str, str]:
    """Compare each collected Spark result with its DuckDB oracle through
    the suite's own comparator; returns {query: reason} per mismatch."""
    import duckdb

    sys.path.insert(0, str(ROOT / "tests"))
    from oracle import compare

    from http_log_anonymizer_spark.plans import REGISTRY

    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'")
        bad = {}
        for name, rows in results.items():
            collected = SimpleNamespace(toPandas=lambda rows=rows: rows)
            ok, why = compare(collected, con.execute(REGISTRY[name].oracle).df())
            if not ok:
                bad[name] = why
        return bad
    finally:
        con.close()


# -- tracing helpers ------------------------------------------------------------


class Py4jCounter:
    """Counts commands sent over the py4j gateway by wrapping the client's
    ``send_command``."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        original = self.client.send_command

        def send_command(*args, **kwargs):
            self.calls += 1
            return original(*args, **kwargs)

        self.client.send_command = send_command


class OperatorWrappers:
    """Wraps each function defined in ``http_log_anonymizer_spark.operators``
    in its own module and wherever a plans module imported it, counting
    outermost calls, their time and the Spark jobs they start."""

    def __init__(self, jobs_in_group) -> None:
        import http_log_anonymizer_spark.operators as ops
        import http_log_anonymizer_spark.plans as plans

        self.calls = 0
        self.seconds = 0.0
        self.eager_jobs = 0
        self._depth = 0
        self._jobs = jobs_in_group
        wrapped = {}
        mods = [ops] + [importlib.import_module(f"{ops.__name__}.{m.name}")
                        for m in pkgutil.iter_modules(ops.__path__)]
        for mod in mods:
            for attr, fn in vars(mod).items():
                if isinstance(fn, FunctionType) and fn.__module__.startswith(ops.__name__):
                    wrapped.setdefault(fn, self._wrap(fn))
                    setattr(mod, attr, wrapped[fn])
        for m in pkgutil.iter_modules(plans.__path__):
            mod = importlib.import_module(f"{plans.__name__}.{m.name}")
            for attr, fn in vars(mod).items():
                if isinstance(fn, FunctionType) and fn in wrapped:
                    setattr(mod, attr, wrapped[fn])

    def _wrap(self, fn):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            if self._depth:
                return fn(*args, **kwargs)
            self._depth += 1
            jobs0, t0 = self._jobs(), time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.eager_jobs += self._jobs() - jobs0
                self.calls += 1
                self._depth -= 1

        return call


def stage_totals(spark, min_stage: int) -> tuple[dict, int]:
    """Sum stage counters over stages with id >= ``min_stage`` from the
    status store (works with the UI disabled). Returns (totals, next id)."""
    gateway = spark.sparkContext._gateway
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    no_quantiles = gateway.new_array(gateway.jvm.double, 0)
    stages = sc.statusStore().stageList(None, False, False, no_quantiles, None)
    tot = {"stages": 0, "tasks": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0}
    top = min_stage
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() < min_stage:
            continue
        top = max(top, st.stageId() + 1)
        tot["stages"] += 1
        tot["tasks"] += st.numTasks()
        tot["shuffle_read_bytes"] += st.shuffleReadBytes()
        tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
        tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return tot, top


class LayerProbe:
    """Per-pass plans.* and operators.* counters for the traced run: a job
    group and a span per build and exec, py4j calls during the build, a
    separately timed planning step, and stage totals per pass."""

    def __init__(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.sc = spark.sparkContext
        self.py4j = Py4jCounter(spark)
        self.group = "idle"
        self.ops = OperatorWrappers(lambda: self.jobs(self.group))
        _, self.next_stage = stage_totals(spark, 0)
        self.passes: list[dict] = []

    def jobs(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def start_pass(self) -> None:
        self.layer = dict.fromkeys(PLAN_KEYS, 0)
        self.ops0 = (self.ops.calls, self.ops.seconds, self.ops.eager_jobs)

    @contextlib.contextmanager
    def phase(self, kind: str, name: str):
        self.group = f"{kind}-{len(self.passes)}-{name}"
        self.sc.setJobGroup(self.group, self.group)
        calls0, t0 = self.py4j.calls, time.perf_counter()
        with self.tracer.span(kind):
            yield
        self.layer[f"{kind}_s"] += time.perf_counter() - t0
        self.layer[f"{kind}_jobs"] += self.jobs(self.group)
        if kind == "build":
            self.layer["py4j_calls"] += self.py4j.calls - calls0

    def plan(self, df) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("plan"):
            df._jdf.queryExecution().executedPlan()
        self.layer["plan_s"] += time.perf_counter() - t0

    def end_pass(self) -> None:
        self.group = "idle"
        self.sc.setJobGroup(self.group, self.group)
        stats, self.next_stage = stage_totals(self.spark, self.next_stage)
        self.layer.update(stats)
        self.layer["op_calls"] = self.ops.calls - self.ops0[0]
        self.layer["op_build_s"] = self.ops.seconds - self.ops0[1]
        self.layer["op_eager_jobs"] = self.ops.eager_jobs - self.ops0[2]
        self.passes.append(self.layer)

    def metrics(self) -> dict:
        return {
            f"operators.{key[3:]}" if key.startswith("op_") else f"plans.{key}":
                median([p[key] for p in self.passes])
            for key in self.passes[0]
        }


class NullProbe:
    """The untraced run: no job groups, no extra planning step."""

    def start_pass(self) -> None:
        pass

    def phase(self, kind: str, name: str):
        return contextlib.nullcontext()

    def plan(self, df) -> None:
        pass

    def end_pass(self) -> None:
        pass


PLAN_KEYS = ("build_s", "build_jobs", "py4j_calls", "plan_s", "exec_s", "exec_jobs")


# -- the workload ---------------------------------------------------------------


def registry(spark, seed: int, seconds: float, work: Path, tracer, setup) -> dict:
    from http_log_anonymizer_spark.plans import REGISTRY

    data_dir = work / "data"
    with setup.span("stage_inputs"):
        datagen.write(seed, data_dir)
    sf = str(data_dir)
    results, cold = {}, {}
    with setup.span("warmup"):
        for name in QUERIES:
            t0 = time.perf_counter()
            results[name] = REGISTRY[name].spark_fn(spark, sf).toPandas()
            cold[name] = round(time.perf_counter() - t0, 3)
    setup.done()

    probe = LayerProbe(spark, tracer) if tracer.enabled else NullProbe()
    times: list[float] = []
    sweeps: list[float] = []
    with tracer.span("window", workload="registry_interactive"):
        deadline = time.perf_counter() + seconds
        while not sweeps or time.perf_counter() < deadline:
            probe.start_pass()
            p0 = time.perf_counter()
            with tracer.span("pass", index=len(sweeps)):
                for name in QUERIES:
                    with tracer.span("query", query=name):
                        t0 = time.perf_counter()
                        with probe.phase("build", name):
                            df = REGISTRY[name].spark_fn(spark, sf)
                        probe.plan(df)
                        with probe.phase("exec", name):
                            df.write.format("noop").mode("overwrite").save()
                        times.append(time.perf_counter() - t0)
            sweeps.append(time.perf_counter() - p0)
            probe.end_pass()

    bad = oracle_failures(results, data_dir)
    metrics = {
        "latency_p50_s": median(times),
        "latency_tail_s": quantile(times, TAIL_PERCENTILE / 100),
        "throughput_per_s": len(times) / sum(sweeps),
    }
    if tracer.enabled:
        metrics.update(probe.metrics())
    detail = {
        "queries": list(QUERIES), "sweeps": len(sweeps), "samples": len(times),
        "tail_percentile": TAIL_PERCENTILE, "sweep_s": median(sweeps),
        "cold_s": cold, "oracle_mismatches": bad,
    }
    return {"metrics": metrics, "attempted": len(QUERIES) + len(times),
            "failed": len(bad), "detail": detail}

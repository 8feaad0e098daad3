"""Shared harness pieces: the pinned execution environment, the Spark
session, the peak-RSS sampler, percentiles and the in-memory tracer.

Nothing here runs at import time; ``run.py`` calls ``pin_environment``
before the Spark session starts, so that every Spark and Python-worker
setting is fixed by the harness, not by the caller's environment.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]  # the checkout the benchmark runs in
DRIVER_MEMORY = "1g"  # small and fixed: the host is shared


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: Path) -> None:
    """Fix everything ``get_spark`` and the Python workers read from the
    environment: core count, driver heap, warehouse and temp dirs, and
    the package on the workers' import path whatever the cwd."""
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_WAREHOUSE_DIR"] = str(work / "warehouse")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")


def start_session(work: Path):
    """``local[nproc]`` session through the package's own factory, with
    shuffle partitions set explicitly and all scratch inside ``work``."""
    from http_log_anonymizer_spark.session import get_spark

    n = nproc()
    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def versions(spark) -> dict:
    import platform

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


# -- peak RSS of this process tree (driver JVM, Python driver, workers) ----


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    kids = _children()
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    from ``/proc`` every ``interval_s`` and keeps the peak."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# -- statistics -------------------------------------------------------------


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default), 0 <= q <= 1."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


# -- tracing ----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, wall-clock start and end, parent).

    The untraced run uses ``NullTracer``; a traced run records a span at
    each call the harness makes into a package layer and writes them all
    out at the end."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        with self._lock:
            self.spans.append(
                {"id": len(self.spans), "name": name, "start": start, "end": end,
                 "parent": parent, **attrs}
            )
            return len(self.spans) - 1

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> "_Span":
        self.start = time.time()
        self.id = self.tracer.add(self.name, self.start, self.start, self.tracer.current(),
                                  **self.attrs)
        self.tracer._stack.append(self.id)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer._stack.pop()
        self.end = time.time()
        self.tracer.spans[self.id]["end"] = self.end


class NullTracer:
    enabled = False

    def span(self, name: str, **attrs):
        return _NullSpan()


class _NullSpan:
    def __enter__(self) -> "_NullSpan":
        return self

    def __exit__(self, *exc) -> None:
        pass

"""ETL workload: capnp files -> ``decode_capnp_stream`` ->
``anonymize_transform`` -> ``ClickHouseSink`` -> a bench-local HTTP
endpoint that stands in for ClickHouse.

``etl_steady`` is an open loop: a generator thread writes pre-encoded
payload files on a fixed schedule that does not slow when the pipeline
does, and each record is timed from its scheduled creation to the end
of the micro-batch that committed it.

The endpoint only stores request bodies while timing runs; every row is
parsed and checked afterwards, so checking costs the driver process no
time inside the measured window.
"""

from __future__ import annotations

import ipaddress
import json
import os
import threading
import time
from datetime import datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

import numpy as np

from common import median, nproc, quantile

STEADY_RATE = 500  # rows/s offered by the open-loop generator
STEADY_FILE_S = 0.1  # one payload file every 100 ms (50 rows)
WARMUP_ROWS = 1_000
WARMUP_BATCHES = 3  # micro-batches before timing, so the JIT has settled
ID_BASE = 10_000_000  # ids of timed records; warm-up records start at 0
# ClickHouseSink cannot switch pacing off (rate_limit_s=0 falls back to the
# 10 s default), so the harness sets a negligible positive interval and
# checks afterwards that no request could have waited for it.
PACING_S = 1e-4
BASE_EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

_CACHE = ["HIT", "MISS", "EXPIRED", "BYPASS", "STALE"]
_METHODS = ["GET", "GET", "GET", "POST", "PUT", "DELETE", "HEAD"]
_STATUS = [200, 200, 200, 200, 201, 204, 301, 304, 400, 404, 500, 503]
_NON_IP = ["unknown", "-", "localhost", "256.1.2.3", "1.2.3", "01.2.3.4", "1.2.3.4.5",
           "::g", "host-{}.example.net", "10.0.0.{}x"]


# -- inputs -----------------------------------------------------------------


class Records:
    """Seeded http_log records with ids ``start .. start+n-1``. The id is
    carried in ``resource_id`` so the checker can look every delivered
    row up. Mix: ~98% IPv4, 1% IPv6, 0.5% non-IP strings, 0.5%
    malformed payloads (valid messages cut in half)."""

    def __init__(self, seed: int, start: int, n: int) -> None:
        from http_log_anonymizer_spark.sources.capnp_codec import encode_http_log_record

        rng = np.random.default_rng([seed, start])
        kind = np.searchsorted([0.98, 0.99, 0.995], rng.random(n), side="right")
        octets = rng.integers(0, 256, size=(n, 4))
        groups = rng.integers(0, 65536, size=(n, 8)) * (rng.random((n, 8)) > 0.3)
        status = rng.integers(0, len(_STATUS), n)
        cache = rng.integers(0, len(_CACHE), n)
        method = rng.integers(0, len(_METHODS), n)
        sent = rng.integers(0, 5_000_000, n)
        took = rng.integers(0, 30_000, n)
        url = rng.integers(0, 500, n)
        non_ip = rng.integers(0, len(_NON_IP), n)
        self.payloads: list[bytes] = []
        self.expected: dict[int, list] = {}
        self.malformed = 0
        for j in range(n):
            rid = start + j
            k = int(kind[j])
            if k == 1:
                addr = ":".join(f"{g:04x}" for g in groups[j])
                anon = f"{ipaddress.IPv6Address(addr).compressed}:xxxx"
            elif k == 2:
                addr = _NON_IP[non_ip[j]].format(rid)
                anon = addr
            else:
                a, b, c, d = (int(o) for o in octets[j])
                addr, anon = f"{a}.{b}.{c}.{d}", f"{a}.{b}.{c}.x"
            ts_ms = BASE_EPOCH_MS + rid * 37
            row = [ts_ms // 1000, rid, int(sent[j]), int(took[j]), _STATUS[status[j]],
                   _CACHE[cache[j]], _METHODS[method[j]], addr, f"/r/{url[j]}"]
            payload = encode_http_log_record(ts_ms, *row[1:])
            if k == 3:
                payload = payload[: len(payload) // 2]
                self.malformed += 1
            else:
                row[7] = anon
                self.expected[rid] = row
            self.payloads.append(payload)


def write_file(directory: Path, name: str, payloads: list[bytes]) -> None:
    """One parquet file of ``value: binary``; written under a hidden name
    and renamed, so the file source never lists a partial file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = directory / f".{name}.tmp"
    pq.write_table(pa.table({"value": pa.array(payloads, pa.binary())}), tmp)
    os.rename(tmp, directory / f"{name}.parquet")


def write_files(directory: Path, prefix: str, payloads: list[bytes], per_file: int) -> None:
    directory.mkdir(parents=True, exist_ok=True)
    for k in range(0, len(payloads), per_file):
        write_file(directory, f"{prefix}-{k // per_file:06d}", payloads[k : k + per_file])


# -- the ClickHouse stand-in --------------------------------------------------


class Endpoint:
    """Stdlib HTTP server accepting JSONCompactEachRow inserts with at
    most ``nproc`` requests handled at once. ``tag`` names the
    micro-batch id currently inside ``ClickHouseSink.write``; each stored
    request carries it and its body."""

    def __init__(self) -> None:
        self.tag: int | None = None
        self.requests: list[tuple[int | None, bytes]] = []
        self.http_errors = 0
        self._lock = threading.Lock()
        slots = threading.BoundedSemaphore(nproc())
        endpoint = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 - http.server API
                with slots:
                    body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                    with endpoint._lock:
                        endpoint.requests.append((endpoint.tag, body))
                    self.send_response(200)
                    self.send_header("Content-Length", "0")
                    self.end_headers()

            def log_message(self, *args) -> None:
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}/"
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    def __enter__(self) -> "Endpoint":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join()

    def rows(self) -> list[tuple[int, list]]:
        """(batch id, row) for every row of every tagged request."""
        out = []
        for tag, body in self.requests:
            if tag is None:
                continue
            lines = body.decode().split("\n")
            if not lines[0].startswith("INSERT INTO"):
                self.http_errors += 1
                continue
            out.extend((tag, json.loads(line)) for line in lines[1:] if line)
        return out


def check_rows(rows: list[list], records: Records) -> tuple[int, int, int]:
    """Delivered rows against the generator. Returns (wrong, missing,
    duplicates): a row is wrong if its id is unknown or any field
    differs from the expected anonymized record."""
    seen: set[int] = set()
    wrong = dups = 0
    for row in rows:
        rid = row[1] if len(row) == 9 else None
        if rid in seen:
            dups += 1
            continue
        seen.add(rid)
        if records.expected.get(rid) != row:
            wrong += 1
    missing = sum(1 for rid in records.expected if rid not in seen)
    return wrong, missing, dups


# -- the pipeline -------------------------------------------------------------


class Pipeline:
    """Builds the streaming query through the package's entry points and
    tags every ``ClickHouseSink.write`` call for the endpoint."""

    def __init__(self, spark, endpoint: Endpoint, work: Path, tracer) -> None:
        from http_log_anonymizer_spark.config import ClickHouseConfig
        from http_log_anonymizer_spark.sinks.clickhouse import ClickHouseSink

        self.spark, self.endpoint, self.work, self.tracer = spark, endpoint, work, tracer
        cfg = ClickHouseConfig(url=endpoint.url, create_table=False, rate_limit_s=PACING_S)
        self.sink = ClickHouseSink(cfg)
        self.writes: dict[int, dict] = {}  # batch id -> start, end, jobs, partitions

    def write(self, batch_df, batch_id: int) -> None:
        sc = self.spark.sparkContext
        group = f"sink-{batch_id}"
        if self.tracer.enabled:
            sc.setJobGroup(group, group)
        self.endpoint.tag = batch_id
        t0 = time.time()
        self.sink.write(batch_df, batch_id)
        t1 = time.time()
        self.endpoint.tag = None
        w = {"start": t0, "end": t1, "jobs": 0, "partitions": None}
        if self.tracer.enabled:
            w["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            w["partitions"] = batch_df.rdd.getNumPartitions()
        self.writes[batch_id] = w

    def start(self, src: Path):
        """Start the query over ``src`` on the default trigger."""
        from http_log_anonymizer_spark.sources.capnp import decode_capnp_stream
        from http_log_anonymizer_spark.streaming.pipeline import (
            PipelineSpec,
            anonymize_transform,
            build_streaming_query,
        )

        source = self.spark.readStream.schema("value binary").parquet(str(src))
        spec = PipelineSpec(decode_capnp_stream, anonymize_transform, self.write)
        return build_streaming_query(source, spec, str(self.work / "checkpoint"),
                                     query_name="perfbench_etl")


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _end(p) -> float:
    """Wall-clock end of a micro-batch: progress timestamp (trigger start)
    + triggerExecution."""
    return _epoch(p.timestamp) + p.durationMs.get("triggerExecution", 0) / 1000.0


def progress_layers(progs: list, metrics: dict) -> None:
    """streaming.* per-layer metrics: medians per trigger over micro-batches
    that read rows (StreamingQueryProgress.durationMs)."""

    def dur(key: str) -> list[float]:
        return [p.durationMs.get(key, 0) / 1000.0 for p in progs]

    metrics["streaming.batches"] = len(progs)
    metrics["streaming.rows_per_batch_p50"] = median([p.numInputRows for p in progs])
    metrics["streaming.trigger_p50_s"] = median(dur("triggerExecution"))
    metrics["streaming.add_batch_p50_s"] = median(dur("addBatch"))
    metrics["streaming.overhead_p50_s"] = median(
        [t - a for t, a in zip(dur("triggerExecution"), dur("addBatch"))]
    )
    for name, key in (("query_planning_s", "queryPlanning"), ("wal_commit_s", "walCommit"),
                      ("commit_offsets_s", "commitOffsets"), ("latest_offset_s", "latestOffset"),
                      ("get_batch_s", "getBatch")):
        metrics[f"streaming.{name}"] = median(dur(key))


def sink_layers(pipe: Pipeline, batches: set[int], metrics: dict) -> None:
    writes = [w for b, w in pipe.writes.items() if b in batches]
    secs = [w["end"] - w["start"] for w in writes]
    bodies = [body for tag, body in pipe.endpoint.requests if tag in batches]
    metrics["sinks.write_p50_s"] = median(secs)
    metrics["sinks.write_p99_s"] = quantile(secs, 0.99)
    metrics["sinks.requests"] = len(bodies)
    metrics["sinks.rows_per_request"] = sum(b.count(b"\n") for b in bodies) / max(1, len(bodies))
    metrics["sinks.bytes_posted"] = sum(len(b) for b in bodies)
    metrics["sinks.http_errors"] = pipe.endpoint.http_errors
    metrics["sinks.jobs_per_write"] = median([w["jobs"] for w in writes])


def pacing_wait_share(pipe: Pipeline) -> float:
    """Upper bound on the sink's pacing wait as a share of write time. Each
    partition's limiter allows one request per ``PACING_S x partitions``,
    so no request of a write can wait longer than that; the endpoint's
    request count per micro-batch gives the partitions."""
    parts: dict[int, int] = {}
    for tag, _ in pipe.endpoint.requests:
        if tag is not None:
            parts[tag] = parts.get(tag, 0) + 1
    return max(PACING_S * n / (pipe.writes[b]["end"] - pipe.writes[b]["start"])
               for b, n in parts.items())


def layer_rates(spark, src: Path, metrics: dict) -> None:
    """Batch micro-benchmarks of single layers over the same input files:
    decode alone, decode + anonymize, and the sink's row encoder alone,
    each run to a noop write."""
    from pyspark.sql import functions as F

    from http_log_anonymizer_spark.functions.anonymize import IPV4_REGEX
    from http_log_anonymizer_spark.sinks.clickhouse import encode_compact_json_rows
    from http_log_anonymizer_spark.sources.capnp import decode_capnp_stream
    from http_log_anonymizer_spark.streaming.pipeline import anonymize_transform

    raw = spark.read.schema("value binary").parquet(str(src))
    n = raw.count()

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    decoded = decode_capnp_stream(raw)
    t_dec = timed(decoded)
    t_anon = timed(anonymize_transform(decoded))
    rows = decoded.cache()
    metrics["functions.udf_rows"] = rows.filter(~F.col("remote_addr").rlike(IPV4_REGEX)).count()
    t_enc = timed(encode_compact_json_rows(rows))
    rows.unpersist()
    metrics["sources.decode_rows_per_s"] = n / t_dec
    metrics["functions.anonymize_rows_per_s"] = n / max(t_anon - t_dec, 1e-3)
    metrics["sinks.encode_rows_per_s"] = n / t_enc


def lag_rows_max(schedule: list[float], per_file: int, done: list[tuple[float, int]]) -> int:
    """Most rows ever created but not yet committed, checked at every batch
    end; ``done`` holds (batch end, rows committed)."""
    committed, worst = 0, 0
    for end, rows in sorted(done):
        created = per_file * sum(1 for s in schedule if s <= end)
        worst = max(worst, created - committed)
        committed += rows
    return worst


# -- the workload ---------------------------------------------------------------


def etl_steady(spark, seed: int, seconds: float, work: Path, tracer, setup) -> dict:
    n_files = int(seconds / STEADY_FILE_S)
    per_file = int(STEADY_RATE * STEADY_FILE_S)
    with setup.span("stage_inputs"):
        warm = Records(seed, 0, WARMUP_ROWS)
        timed = Records(seed, ID_BASE, n_files * per_file)
        src = work / "src"
        src.mkdir()
    with Endpoint() as endpoint:
        pipe = Pipeline(spark, endpoint, work, tracer)
        with setup.span("warmup"):
            # The live query's first micro-batches are the warm-up. Each
            # reads 2 x nproc files, as many partitions as a timed batch,
            # so every Python worker is started before timing.
            query = pipe.start(src)
            n = len(warm.payloads)
            for k in range(WARMUP_BATCHES):
                batch = warm.payloads[k * n // WARMUP_BATCHES : (k + 1) * n // WARMUP_BATCHES]
                write_files(src, f"warm-{k}", batch, -(-len(batch) // (2 * nproc())))
                query.processAllAvailable()
            warm_ok = check_rows([row for _, row in endpoint.rows()], warm) == (0, 0, 0)
            endpoint.requests.clear()
            last_warm = query.lastProgress.batchId
        setup.done()

        schedule: list[float] = []  # due time of each file = creation of its last row
        late: list[float] = []
        start = time.time() + 0.02

        def generate() -> None:
            for k in range(n_files):
                due = start + (k + 1) * STEADY_FILE_S
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                write_file(src, f"live-{k:06d}", timed.payloads[k * per_file : (k + 1) * per_file])
                late.append(time.time() - due)
                schedule.append(due)

        gen = threading.Thread(target=generate)
        with tracer.span("window", workload="etl_steady") as window:
            gen.start()
            gen.join()
            query.processAllAvailable()
        query.stop()

        progs = [p for p in query.recentProgress if p.batchId > last_warm and p.numInputRows]
        ends = {p.batchId: _end(p) for p in progs}
        n_recv = sum(int(p.observedMetrics["decode"]["received"]) for p in progs)
        tagged = endpoint.rows()
        wrong, missing, dups = check_rows([row for _, row in tagged], timed)
        latencies = [ends[b] - (start + (row[1] - ID_BASE + 1) / STEADY_RATE)
                     for b, row in tagged]
        delivered = len(tagged) - dups
        rejected = n_recv - delivered
        metrics = {
            "latency_p50_s": median(latencies),
            "latency_tail_s": quantile(latencies, 0.99),
            "throughput_per_s": delivered / (max(ends.values()) - start),
        }
        failed = wrong + missing + dups + abs(rejected - timed.malformed)
        pacing = pacing_wait_share(pipe)
        failed += (0 if warm_ok else 1) + (0 if pacing < 0.01 else 1)
        detail = {
            "samples": len(latencies), "tail_percentile": 99,
            "rows_generated": len(timed.payloads), "wrong": wrong, "missing": missing,
            "duplicates": dups, "rejected": rejected, "malformed_sent": timed.malformed,
            "pacing_interval_s": PACING_S, "pacing_wait_share_max": pacing,
        }
        if tracer.enabled:
            progress_layers(progs, metrics)
            sink_layers(pipe, set(ends), metrics)
            per_batch: dict[int, int] = {}
            for b, _ in tagged:
                per_batch[b] = per_batch.get(b, 0) + 1
            metrics["sources.rows_received"] = n_recv
            metrics["sources.rows_rejected"] = rejected
            metrics["sources.generator_late_p99_s"] = quantile(late, 0.99)
            metrics["sources.lag_rows_max"] = lag_rows_max(
                schedule, per_file, [(ends[b], n) for b, n in per_batch.items()])
            for p in progs:
                sid = tracer.add("trigger", _epoch(p.timestamp), _end(p), window.id,
                                 batch=p.batchId, rows=p.numInputRows)
                w = pipe.writes[p.batchId]
                tracer.add("sink.write", w["start"], w["end"], sid, jobs=w["jobs"],
                           partitions=w["partitions"])
            layer_rates(spark, src, metrics)
    return {"metrics": metrics, "attempted": len(timed.payloads), "failed": failed,
            "detail": detail}

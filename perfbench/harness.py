"""Run one workload: set up, drive a closed loop of clients through a
fixed amount of work, check the outputs, and compute the metrics.

The amount of work comes from ``--seconds``: the number of work units
(one pass over the SQL corpus, one ETL cycle and its ANALYZE, one
ingest batch and its searches) that take about that long on
a 4-core host, and at least the workload's minimum. Every run of a
workload then does the same ops, so no median moves because one op
more or fewer fitted into a time window, and a faster program simply
finishes the same work sooner.

A workload supplies ``setup`` (timed into ``setup_s``), ``next_op``
(the next ``(kind, payload)`` for a client, or ``None`` once the run is
over), ``do_op`` (runs the op and returns its user-visible latency in
seconds; raises on failure), ``after_op`` (traced run only), ``check``
(runs after the timed phase and returns the ids of ops whose output was
wrong) and ``layer_metrics`` (traced run only). Its ``main_kind`` ops
give ``op_p50_ms`` and ``ops_per_s``, its ``read_kind`` ops
``read_p50_ms``; a read-only workload names the same kind twice.
"""

from __future__ import annotations

import math
import os
import resource
import shutil
import subprocess
import threading
import time
import traceback
from dataclasses import dataclass, field

from spans import SchedulerCounts, Tracer


@dataclass
class OpRecord:
    op_id: int
    kind: str
    client: int
    start: float
    end: float
    latency_s: float | None  # None when the op raised
    error: str | None = None


@dataclass
class Settings:
    """Process and session settings, recorded in the output."""

    cpus: int
    driver_mem: str
    local_dirs: str
    tmp_dir: str


class Workload:
    name = ""
    main_kind = ""
    read_kind = ""
    clients = 1
    unit_s: float  # seconds one work unit takes on a 4-core host
    min_units = 2
    # one Spark job group per op (multi-client loops); see SchedulerCounts
    grouped_jobs = False

    def __init__(self, run: Run):
        """Subclasses build their seeded inputs here (not timed)."""
        self.run = run

    def setup(self) -> None:
        raise NotImplementedError

    def next_op(self, client: int):
        raise NotImplementedError

    def do_op(self, op_id: int, kind: str, payload) -> float:
        raise NotImplementedError

    def after_op(self, op_id: int, kind: str, payload) -> None:
        """Tracing-only work after an op, outside its latency and its
        scheduler counts."""

    def check(self) -> dict[int, str]:
        raise NotImplementedError

    def layer_metrics(self) -> dict[str, float]:
        return {}


@dataclass
class Run:
    seed: int
    seconds: float
    traced: bool
    tiny: bool
    work: str
    tracer: Tracer = field(init=False)
    spark: object = None
    sched: SchedulerCounts | None = None
    quota: int = 0  # work units to run
    measure_start: float = 0.0
    records: list[OpRecord] = field(default_factory=list)
    _op_seq: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def __post_init__(self):
        self.tracer = Tracer(self.traced)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def _next_op_id(self) -> int:
        with self._lock:
            self._op_seq += 1
            return self._op_seq

    def client_loop(self, wl: Workload, client: int) -> None:
        while True:
            op = wl.next_op(client)
            if op is None:
                return
            kind, payload = op
            op_id = self._next_op_id()
            t0 = time.perf_counter()
            latency: float | None = None
            err = None
            with self.sched.op(op_id, wl.grouped_jobs), self.tracer.span("client.op", op_id):
                try:
                    latency = wl.do_op(op_id, kind, payload)
                except Exception:  # the loop keeps running; the op counts as failed
                    err = traceback.format_exc(limit=3)
            if err is None and self.traced:
                wl.after_op(op_id, kind, payload)
            with self._lock:
                self.records.append(OpRecord(op_id, kind, client, t0, time.perf_counter(), latency, err))

    def measure(self, wl: Workload) -> None:
        self.quota = max(wl.min_units, round(self.seconds / wl.unit_s))
        self.measure_start = time.perf_counter()
        threads = [
            threading.Thread(target=self.client_loop, args=(wl, c), name=f"client-{c}")
            for c in range(wl.clients)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        return 0.0
    v = sorted(values)
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def p50(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of all the
    order statistics, with weights from the Beta((n+1)/2, (n+1)/2)
    distribution. A corpus of mixed statements has gaps in its latency
    distribution, and the plain sample median jumps across them from
    one run to the next; this estimate moves smoothly."""
    if not values:
        return 0.0
    x = sorted(values)
    n = len(x)
    a = (n + 1) / 2.0
    log_norm = 2 * math.lgamma(a) - math.lgamma(2 * a)
    steps = 200 * n  # midpoint rule for the Beta CDF at i/n
    cdf = [0.0]
    for k in range(steps):
        t = (k + 0.5) / steps
        cdf.append(cdf[-1] + math.exp((a - 1) * math.log(t * (1 - t)) - log_norm) / steps)
    total = cdf[-1]
    return sum((cdf[(i + 1) * 200] - cdf[i * 200]) / total * v for i, v in enumerate(x))


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python client."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (own_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.sparkContext.setLogLevel("OFF")
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def wipe(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path, followlinks=True)
        for f in files
        if f.endswith(".parquet")
    )

"""Helpers shared by the workload runners: the session, timing statistics,
memory, the configuration echo, and the span → per-layer metric rollup."""

from __future__ import annotations

import os
import resource
import statistics
import time
from dataclasses import dataclass, field

from spans import Tracer, read_event_log, span_metrics, spark_work_by_group

# Quantities a per-layer metric can carry, per call of the span's function.
QUANTITIES = (
    "ms_p50", "jobs", "tasks", "driver_ms", "exec_run_ms", "exec_cpu_ms",
    "gc_ms", "shuffle_write_bytes", "output_bytes", "files_written",
)


@dataclass
class Outcome:
    """What a workload run hands back to ``run.py``."""

    setup_s: float
    work_s: list[float]
    latency_ms: float
    latency_samples: int
    attempted: int
    failed: int
    checks: dict
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


class Run:
    """One benchmark run: its output directory, tracer and session."""

    def __init__(self, out_dir: str, *, trace: bool):
        self.out_dir = out_dir
        self.trace = trace
        self.tracer = Tracer(enabled=trace)
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.out_dir, *parts)

    def start_session(self):
        """``get_session()`` with the package defaults a user gets. The
        traced run adds only the event log, as one uncompressed file."""
        from pyspark_etl_twitter_spark.session import get_session

        extra = None
        if self.trace:
            log_dir = self.path("eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
                "spark.eventLog.compress": "false",
                # Spark 4 rolls the log into a directory of parts by default
                "spark.eventLog.rolling.enabled": "false",
            }
        with self.tracer.span("session.get_session"):
            self.spark = get_session(extra_conf=extra)
        self.tracer.sc = self.spark.sparkContext
        return self.spark

    def stop(self) -> None:
        """Stop the session, then end the driver JVM and wait for it: it
        exits when its stdin closes, which would otherwise happen only as
        this process exits."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def layer_rows(self) -> list[dict]:
        """Per-span metrics joined from the event log (call after ``stop``)."""
        events = read_event_log(self.path("eventlog"))
        return list(span_metrics(self.tracer.spans, spark_work_by_group(events)).values())


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile, ``p`` in (0, 100]."""
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))
    return float(s[int(k) - 1])


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def config_echo(spark, seed: int, sizes: dict) -> dict:
    conf = spark.conf
    jvm = spark.sparkContext._jvm
    return {
        "master": spark.sparkContext.master,
        "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
        "os_cpu_count": os.cpu_count(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "aqe_coalesce": conf.get("spark.sql.adaptive.coalescePartitions.enabled"),
        "aqe_skew_join": conf.get("spark.sql.adaptive.skewJoin.enabled"),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "seed": seed,
        "sizes": sizes,
    }


def files_in(path: str) -> int:
    """Data files under ``path`` (hidden and ``_``-prefixed files skipped)."""
    n = 0
    for _, _, names in os.walk(path):
        n += sum(1 for f in names if not f.startswith((".", "_")))
    return n


def rollup(rows: list[dict], names: list[str]) -> dict[str, float]:
    """Median over calls of each quantity of each span name, keyed
    ``<span name>.<quantity>``; only keys listed in ``names`` are kept."""
    by_name: dict[str, list[dict]] = {}
    for r in rows:
        by_name.setdefault(r["name"], []).append(r)
    out = {}
    for name, calls in by_name.items():
        out[f"{name}.ms_p50"] = median(c["ms"] for c in calls)
        out[f"{name}.ms"] = out[f"{name}.ms_p50"]
        for q in QUANTITIES[1:]:
            vals = [c[q] for c in calls if q in c]
            if vals:
                out[f"{name}.{q}"] = median(vals)
    return {k: v for k, v in out.items() if k in names}


def per_layer(declared: list[dict], owned: tuple[str, ...], rows: list[dict], extra: dict):
    """The per-layer result metrics of a traced run, and the names it does
    not own. ``declared`` is the ``per_layer`` list of BENCHMARK.json;
    ``owned`` the name prefixes this workload measures; ``rows`` the joined
    span rows; ``extra`` the metrics the workload computed itself.

    A missing owned metric raises ``LookupError`` naming it, and so does a
    zero ``.jobs``: every span behind one forces a Spark action, so a zero
    there means the event-log join missed. The result carries every
    declared metric; the ones another workload owns read 0 on every run."""
    names = [m["name"] for m in declared if m["name"].startswith(owned)]
    got = rollup(rows, names)
    got.update({k: v for k, v in extra.items() if k in names})
    missing = [n for n in names if n not in got or (n.endswith(".jobs") and got[n] == 0)]
    if missing:
        raise LookupError(f"traced run did not measure {missing}")
    metrics = {
        m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared
    }
    return metrics, [m["name"] for m in declared if m["name"] not in got]


class Clock:
    """Wall-clock stopwatch in seconds."""

    def __init__(self):
        self.t0 = self.t_lap = time.perf_counter()

    def s(self) -> float:
        return time.perf_counter() - self.t0

    def lap(self) -> float:
        """Seconds since the previous lap (or the start)."""
        now = time.perf_counter()
        dt, self.t_lap = now - self.t_lap, now
        return dt

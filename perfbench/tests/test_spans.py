"""The traced run's own plumbing: self time, the event-log join, the
tail-percentile rule, the oracle row match, and loud failure."""

import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from spans import (
    Span,
    Tracer,
    covered_ms,
    read_event_log,
    self_times,
    span_metrics,
    spark_work_by_group,
)

BENCH = Path(__file__).resolve().parent.parent


def _span(sid, start, end, parent=None):
    return Span(sid, sid, start, end, parent, "t")


def test_covered_ms_merges_overlaps_and_clips():
    assert covered_ms(0, 100, [(10, 40), (30, 60), (90, 200)]) == 60
    assert covered_ms(0, 100, []) == 0
    assert covered_ms(50, 60, [(0, 100)]) == 10


def test_self_time_on_synthetic_tree():
    spans = [
        _span("root", 0, 100),
        _span("a", 10, 40, "root"),
        _span("b", 30, 60, "root"),  # overlaps a: covered once
        _span("a1", 15, 20, "a"),
        _span("a2", 18, 25, "a"),
    ]
    st = self_times(spans)
    assert st == {"root": 50, "a": 20, "b": 30, "a1": 5, "a2": 7}


def test_event_log_join_attributes_jobs_to_spans(tmp_path):
    """A tiny traced run: jobs, stages and task metrics land on the span
    that caused them; a job outside every span lands nowhere."""
    from common import Run

    run = Run(str(tmp_path), trace=True)
    spark = run.start_session()
    try:
        df = spark.range(0, 2000, numPartitions=3)
        spark.range(10).count()  # outside any span
        with run.tracer.span("outer"):
            df.count()
            with run.tracer.span("inner"):
                df.groupBy((df.id % 7).alias("k")).count().collect()
    finally:
        run.stop()
    rows = {r["name"]: r for r in run.layer_rows()}
    inner, outer = rows["inner"], rows["outer"]
    assert inner["jobs"] >= 1 and inner["shuffle_write_bytes"] > 0
    assert inner["tasks"] >= 3  # three map tasks at least
    # outer holds its own count job plus everything inner ran
    assert outer["jobs"] >= inner["jobs"] + 1
    assert outer["tasks"] >= inner["tasks"] + 3
    assert outer["exec_run_ms"] >= inner["exec_run_ms"]
    assert 0 <= inner["driver_ms"] <= inner["ms"]
    assert rows["session.get_session"]["jobs"] == 0
    work = spark_work_by_group(read_event_log(run.path("eventlog")))
    # the count run outside every span is attributed to none
    assert sum(len(w.jobs) for w in work.values()) == outer["jobs"]


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x") as sp:
        assert sp is None
    assert t.spans == []
    assert span_metrics([], {}) == {}


def test_tail_latency_needs_ten_batches_beyond():
    from workloads import tail_latency

    # 30 batches of 10 rows, batch b has latency b
    lat = [float(b) for b in range(30) for _ in range(10)]
    ep = [b for b in range(30) for _ in range(10)]
    p, v = tail_latency(lat, ep)
    assert p == 50.0 or p == 75.0
    assert len({e for x, e in zip(lat, ep) if x > v}) >= 10
    assert tail_latency(lat[:50], ep[:50]) == (None, None)


def test_per_layer_fails_on_a_missing_owned_metric():
    from common import per_layer

    declared = [
        {"name": "session.get_session.ms", "unit": "ms", "better": "lower"},
        {"name": "plans.registry.jobs", "unit": "count", "better": "lower"},
        {"name": "streaming.trigger.batches", "unit": "count", "better": "higher"},
    ]
    rows = [
        {"name": "session.get_session", "ms": 900.0, "jobs": 0},
        {"name": "plans.registry", "ms": 5000.0, "jobs": 40},
    ]
    metrics, not_owned = per_layer(declared, ("session.", "plans."), rows, {})
    assert metrics["plans.registry.jobs"] == {"value": 40.0, "unit": "count"}
    assert metrics["streaming.trigger.batches"]["value"] == 0.0
    assert not_owned == ["streaming.trigger.batches"]
    # an owned metric the run did not produce fails, named
    with pytest.raises(LookupError, match="streaming.trigger.batches"):
        per_layer(declared, ("session.", "streaming."), rows, {})
    # so does a span that forced no job: the event-log join missed it
    rows[1]["jobs"] = 0
    with pytest.raises(LookupError, match="plans.registry.jobs"):
        per_layer(declared, ("plans.",), rows, {})


def test_rows_match_allows_only_a_rounding_flip():
    from workloads import canonical_rows, rows_match

    a = canonical_rows(["n", "v"], [("x", 1890849.14), ("y", 2.0)])
    flip = canonical_rows(["v", "n"], [(2.0, "y"), (1890849.15, "x")])
    wrong = canonical_rows(["n", "v"], [("x", 1890849.24), ("y", 2.0)])
    assert rows_match(a, flip)
    assert not rows_match(a, wrong)
    assert not rows_match(a, a[:1])


def test_missing_input_names_the_path(tmp_path):
    from workloads import require

    missing = str(tmp_path / "never_written")
    with pytest.raises(FileNotFoundError, match="never_written"):
        require(missing)


def test_run_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run exits non-zero, prints no result, and names what is missing."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(BENCH.parent / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
    assert "pyspark_etl_twitter_spark" in proc.stderr
    assert not os.path.exists(tmp_path / ".perfbench_out")

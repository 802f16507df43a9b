"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_score --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, sets up, measures for ``--seconds``, checks the outputs, and prints
two JSON lines: a report (configuration echo, sample counts, checks, and
the per-layer rollup in a traced run), then the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` records spans
and the Spark event log and reports its per-layer metrics. Everything the
run writes goes under ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "pyspark_etl_twitter_spark" / "__init__.py"
SPEC = ROOT / "BENCHMARK.json"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _isolate(out_dir: Path) -> None:
    """Keep every scratch file of Python, the JVM and Spark inside the
    checkout."""
    tmp = out_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = str(tmp)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for path in (PACKAGE, SPEC):
        if not path.is_file():
            _fail(f"required file missing: {path}")
    spec = json.loads(SPEC.read_text())
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        _fail(f"unknown workload {args.workload!r}; known: {names}")

    sys.path.insert(0, str(ROOT))
    out_root = ROOT / ".perfbench_out"
    out_dir = out_root / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    _isolate(out_dir)

    import pyspark_etl_twitter_spark

    if Path(pyspark_etl_twitter_spark.__file__).resolve() != PACKAGE.resolve():
        _fail(f"package imported from {pyspark_etl_twitter_spark.__file__}, not {PACKAGE}")

    from common import Run, config_echo, median, peak_rss_mb, per_layer
    from gen import WORKLOADS
    from workloads import OWNED, RUNNERS

    run = Run(str(out_dir), trace=bool(args.trace))
    try:
        outcome = RUNNERS[args.workload](run, args.seed, args.seconds)
        rss = peak_rss_mb(run.spark)
        config = config_echo(run.spark, args.seed, WORKLOADS[args.workload].__dict__)
    finally:
        run.stop()

    e2e = {
        "setup_s": (outcome.setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "work_s": (median(outcome.work_s), "s"),
        "latency_ms": (outcome.latency_ms, "ms"),
    }
    report = {
        "workload": args.workload,
        "trace": args.trace,
        "config": config,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "failed_ratio": outcome.failed / outcome.attempted,
        "samples": {"work": len(outcome.work_s), "latency": outcome.latency_samples},
        "detail": outcome.detail,
        "checks": outcome.checks,
    }
    if args.trace:
        run.tracer.dump(str(out_dir / "spans.json"))
        rows = [r for r in run.layer_rows() if r["phase"] != "warm"]
        try:
            metrics, report["not_owned"] = per_layer(
                spec["per_layer"], OWNED[args.workload], rows, outcome.layers
            )
        except LookupError as e:
            _fail(str(e))
        untraced = out_root / f"{args.workload}-s{args.seed}-t0" / "report.json"
        if untraced.is_file():
            base = json.loads(untraced.read_text())["end_to_end"]
            report["tracing_overhead"] = {
                k: v - base[k] for k, v in report["end_to_end"].items() if k in base
            }
        report["spans"] = len(run.tracer.spans)
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    (out_dir / "report.json").write_text(json.dumps(report, indent=1, default=str))

    correct = outcome.failed == 0
    result = {
        "correct": correct,
        "attempted": int(outcome.attempted),
        "failed": int(outcome.failed),
        "metrics": metrics,
    }
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

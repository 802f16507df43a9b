"""The workload runners. Each one sets up (timed as ``setup_s``),
measures for the requested seconds, then checks the program's outputs
outside the timed region. Every call into the package is wrapped in a span
named ``<module>.<function>``; spans record only in the traced run."""

from __future__ import annotations

import hashlib
import itertools
import math
import os
import random
import threading
import time
from decimal import Decimal

import pyarrow.parquet as pq

import gen
from common import Clock, Outcome, Run, files_in, median, percentile

TAIL_GRID = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BATCHES_BEYOND = 10
# How far a result number may sit from its oracle's (``rows_match``).
CENT = 0.01
# The per-layer metrics each workload measures, by name prefix. A traced
# run fails, naming the metric, when one of these is missing.
OWNED = {
    "stream_score": ("session.", "operators.sentiment.", "streaming.", "pipelines.", "sources."),
    "query_mix": ("session.", "plans."),
}


def require(path: str) -> str:
    """A missing input fails its workload with an error naming the path."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"benchmark input missing: {path}")
    return path


def fit_weights(run: Run, train_path: str) -> str:
    """``build_weight_table`` over the seeded training corpus, forced by a
    parquet write so every later use reads the fitted dimension."""
    from pyspark_etl_twitter_spark.operators.sentiment import build_weight_table

    out = run.path("weights")
    docs = run.spark.read.parquet(require(train_path))
    with run.tracer.span("operators.sentiment.build_weight_table"):
        build_weight_table(docs).write.mode("overwrite").parquet(out)
    return out


# ---------------------------------------------------------------------------
# stream_score
# ---------------------------------------------------------------------------


class _Progress:
    """Streaming trigger phases, from a Python ``StreamingQueryListener``
    (``recentProgress`` keeps only ~100 entries)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        self.rows: list[dict] = []
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.rows.append(
                    {
                        "id": str(p.id),
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "durations": dict(p.durationMs),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def _wire_schema():
    """The replay rows: Kafka-shaped offset and value, plus creation time."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("offset", T.LongType()),
            T.StructField("value", T.StringType()),
            T.StructField("created_ms", T.LongType()),
        ]
    )


def _wire_stream(spark, replay_dir: str):
    from pyspark.sql import functions as F

    src = spark.readStream.schema(_wire_schema()).json(require(replay_dir))
    return src.withColumn("value", F.encode("value", "UTF-8"))


class ScoringQuery:
    """The reference consumer topology: file-stream source → foreachBatch
    {consumer_pipeline → write_parquet(append)}. The callback stamps the
    epoch on each sink row and records when each epoch committed."""

    def __init__(self, run: Run, replay_dir: str, weights_path: str, sink: str, ckpt: str):
        from pyspark.sql import functions as F

        from pyspark_etl_twitter_spark.pipelines import consumer_pipeline
        from pyspark_etl_twitter_spark.sources.sinks import write_parquet

        self.replay_dir = replay_dir
        self.commits: dict[int, float] = {}  # epoch → commit time, ms
        self.committed = threading.Event()
        weights = run.spark.read.parquet(require(weights_path))
        tracer = run.tracer

        def write_batch(batch_df, epoch_id):
            with tracer.span("streaming.batch", epoch=epoch_id):
                with tracer.span("pipelines.consumer_pipeline"):
                    out = consumer_pipeline(batch_df, weights)
                before = files_in(sink) if tracer.enabled else 0
                with tracer.span("sources.sinks.write_parquet") as sp:
                    write_parquet(out.withColumn("epoch", F.lit(epoch_id)), sink, mode="append")
                if sp is not None:
                    sp.attrs["files_written"] = files_in(sink) - before
            self.commits[epoch_id] = time.time() * 1000.0
            self.committed.set()

        self.query = (
            _wire_stream(run.spark, replay_dir)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def _wait_commit(self, path: str, timeout_s: float = 120.0) -> None:
        deadline = time.time() + timeout_s
        while not self.committed.wait(timeout=0.2):
            if not self.query.isActive:
                raise RuntimeError(f"scoring query stopped before {path} committed") from (
                    self.query.exception()
                )
            if time.time() > deadline:
                self.query.stop()
                raise TimeoutError(f"{path} was not committed within {timeout_s:.0f} s")

    def drop(self, paths: list[str]) -> tuple[float, int]:
        """Move staged files into the replay dir and wait for the batch
        that takes them to commit (call it with the query otherwise idle).
        Returns the seconds from drop to commit and the committing epoch."""
        self.committed.clear()
        t_drop = time.time()
        for path in paths:
            os.replace(path, os.path.join(self.replay_dir, os.path.basename(path)))
        self._wait_commit(paths[-1])
        epoch = max(self.commits)
        return self.commits[epoch] / 1000.0 - t_drop, epoch


class Pacer:
    """The paced open loop, run in segments: the rows of tick k are created
    evenly over the tick and written as one file when it ends (its due
    time), like a producer flushing a batch; the generator never waits for
    the stream."""

    def __init__(self, spec: gen.StreamSpec, inputs: gen.StreamInputs, replay_dir: str):
        self.spec, self.inputs, self.replay_dir = spec, inputs, replay_dir
        self.created: dict[int, list[float]] = {}  # tick → per-row created_ms
        self.segment_end_ms: dict[int, float] = {}  # tick → end of its segment
        self.late_ms: list[float] = []
        self.ticks = 0

    def segment(self, seconds: float) -> None:
        """Write the ticks due within the next ``seconds``."""
        spec, per = self.spec, self.spec.rows_per_tick
        step_ms = spec.tick_s * 1000.0 / per
        t0 = time.time()
        t_end, first = t0 + seconds, self.ticks
        for j in itertools.count(1):
            due, k = t0 + j * spec.tick_s, self.ticks
            if due >= t_end or (k + 1) * per > len(self.inputs.paced_values):
                break
            time.sleep(max(0.0, due - time.time()))
            self.late_ms.append((time.time() - due) * 1000.0)
            ms = [due * 1000.0 - (per - 1 - i) * step_ms for i in range(per)]
            sl = slice(k * per, (k + 1) * per)
            gen.write_replay_file(
                os.path.join(self.replay_dir, f"paced_{k:05d}.json"),
                self.inputs.paced_offsets[sl], self.inputs.paced_values[sl], ms,
            )
            self.created[k] = ms
            self.ticks += 1
        end_ms = time.time() * 1000.0
        for k in range(first, self.ticks):
            self.segment_end_ms[k] = end_ms


def run_stream_score(run: Run, seed: int, seconds: float) -> Outcome:
    spec: gen.StreamSpec = gen.WORKLOADS["stream_score"]
    setup, parts = Clock(), {}
    spark = run.start_session()
    parts["session"] = setup.lap()
    inputs = gen.stream_inputs(seed, spec, run.path("in"), seconds)
    parts["inputs"] = setup.lap()
    weights = fit_weights(run, inputs.train)
    parts["fit"] = setup.lap()
    progress = _Progress() if run.trace else None
    if progress is not None:
        spark.streams.addListener(progress.listener)

    # warm-up, on the measured query: paced-size triggers in a closed loop
    run.tracer.phase = "warm"
    sink = run.path("sink")
    sq = ScoringQuery(run, inputs.replay_dir, weights, sink, run.path("ckpt"))
    q, commits = sq.query, sq.commits
    warm_trigger_s = [sq.drop(group)[0] for group in inputs.warm_ticks]
    parts["warm"] = setup.lap()
    setup_s = setup.s()

    # ---- timed region -------------------------------------------------
    # Paced segments and groups of backlog bursts alternate, so that both
    # metrics sample the whole window: a burst is dropped once everything
    # before it has been processed, and is timed from its drop to its
    # commit.
    run.tracer.phase = "measure"
    first_epoch = max(commits) + 1
    window = Clock()
    drains, burst_epochs = [], []
    pacer = Pacer(spec, inputs, inputs.replay_dir)
    group = len(inputs.bursts) // spec.segments
    for seg in range(spec.segments):
        pacer.segment(seconds / spec.segments)
        q.processAllAvailable()
        for path in inputs.bursts[seg * group : (seg + 1) * group]:
            drain_s, epoch = sq.drop([path])
            drains.append(drain_s)
            burst_epochs.append(epoch)
    # ---- end of timed region -------------------------------------------
    window_s = window.lap()
    run.tracer.phase = "drain"
    q.processAllAvailable()
    q.stop()

    # map every sink row back to its creation time and epoch
    created_of = {}  # message → (created_ms, end of its segment)
    for k, ms in pacer.created.items():
        vals = inputs.paced_values[k * spec.rows_per_tick : (k + 1) * spec.rows_per_tick]
        for val, c in zip(vals, ms):
            created_of[val] = (c, pacer.segment_end_ms[k])
    sink_tbl = pq.read_table(sink, columns=["message", "prediction", "epoch"]).to_pydict()
    lat_ms, lat_epoch, backlog_end = [], [], 0
    burst_rows_in = {e: 0 for e in burst_epochs}
    for msg, ep in zip(sink_tbl["message"], sink_tbl["epoch"]):
        c = created_of.get(msg)
        if c is not None:
            lat_ms.append(commits[ep] - c[0])
            lat_epoch.append(ep)
            if commits[ep] > c[1]:
                backlog_end += 1
        elif ep in burst_rows_in:
            burst_rows_in[ep] += 1

    tail_p, tail_v = tail_latency(lat_ms, lat_epoch)

    checks, failed, attempted = _check_stream(run, inputs, sink_tbl, pacer.created)
    check_s = window.lap()
    # each burst must have landed whole in the epoch its drain was timed on
    split = sum(1 for n in burst_rows_in.values() if n != spec.burst_rows)
    checks["bursts_split"] = split
    failed += split
    detail = {
        "rows_per_s": spec.burst_rows / median(drains),
        "burst_drain_s": drains,
        "paced_rows": len(lat_ms),
        "paced_files": len(pacer.created),
        "paced_rows_per_s": spec.paced_rows_per_s,
        "event_latency_p50_ms": median(lat_ms),
        "event_latency_tail_ms": tail_v,
        "event_latency_tail_percentile": tail_p,
        "latency_batches": len(set(lat_epoch)),
        "latency_by_batch": _by_batch(lat_ms, lat_epoch),
        "generator_late_ms_max": max(pacer.late_ms) if pacer.late_ms else 0.0,
        "backlog_rows_end": backlog_end,
        "setup_parts_s": parts,
        "window_s": window_s,
        "check_s": check_s,
        "warm_trigger_s": [round(x, 3) for x in warm_trigger_s],
    }
    layers = {
        "streaming.generator_late_ms_max": detail["generator_late_ms_max"],
        "streaming.backlog_rows_end": backlog_end,
    }
    if progress is not None:
        layers.update(_trigger_layers(progress, str(q.id), first_epoch))
    return Outcome(
        setup_s=setup_s,
        work_s=drains,
        latency_ms=median(lat_ms),
        latency_samples=len(lat_ms),
        attempted=attempted,
        failed=failed,
        checks=checks,
        detail=detail,
        layers=layers,
    )


def _by_batch(lat_ms: list[float], epochs: list[int]) -> list[list]:
    """``[epoch, rows, median latency ms]`` of each paced batch."""
    by: dict[int, list[float]] = {}
    for x, e in zip(lat_ms, epochs):
        by.setdefault(e, []).append(x)
    return [[e, len(v), round(median(v), 1)] for e, v in sorted(by.items())]


def tail_latency(lat_ms: list[float], epochs: list[int]):
    """The highest percentile of ``TAIL_GRID`` that still leaves samples
    from at least ``MIN_BATCHES_BEYOND`` micro-batches above it, and its
    value; ``(None, None)`` when no percentile does. Rows of one batch share
    a commit time, so batches, not rows, are the independent samples."""
    for p in TAIL_GRID:
        v = percentile(lat_ms, p)
        if len({e for x, e in zip(lat_ms, epochs) if x > v}) >= MIN_BATCHES_BEYOND:
            return p, v
    return None, None


def _trigger_layers(progress: _Progress, query_id: str, first_epoch: int) -> dict:
    """Trigger phases of the batches from ``first_epoch`` on (warm-up left out)."""
    rows = [
        r for r in progress.rows
        if r["id"] == query_id and r["batch"] >= first_epoch and r["rows"] > 0
    ]
    if not rows:
        return {}  # the listener never reported: the metrics stay missing
    out = {
        "streaming.trigger.batches": len({r["batch"] for r in rows}),
        "streaming.trigger.rows_p50": median(r["rows"] for r in rows),
    }
    for phase in ("triggerExecution", "latestOffset", "getBatch", "queryPlanning",
                  "walCommit", "commitOffsets", "addBatch"):
        vals = [r["durations"][phase] for r in rows if phase in r["durations"]]
        if vals:
            out[f"streaming.trigger.{phase}_ms_p50"] = median(vals)
    return out


def _check_stream(run: Run, inputs, sink_tbl: dict, created: dict):
    """Every generated offset reaches the sink exactly once, and each
    prediction equals the batch ``consumer_pipeline`` over the same rows."""
    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.pipelines import consumer_pipeline

    spark = run.spark
    src = spark.read.schema(_wire_schema()).json(inputs.replay_dir).withColumn(
        "value", F.encode("value", "UTF-8")
    )
    weights = spark.read.parquet(run.path("weights"))
    want = {
        r["message"]: r["prediction"]
        for r in consumer_pipeline(src, weights).toPandas().to_dict("records")
    }
    spec = gen.WORKLOADS["stream_score"]
    warm_rows = spec.warm_triggers * spec.warm_ticks_per_trigger * spec.rows_per_tick
    expected = warm_rows + spec.bursts * spec.burst_rows + len(created) * spec.rows_per_tick
    seen: dict[str, int] = {}
    wrong = 0
    for msg, pred in zip(sink_tbl["message"], sink_tbl["prediction"]):
        seen[msg] = seen.get(msg, 0) + 1
        if want.get(msg) != pred:
            wrong += 1
    dupes = sum(c - 1 for c in seen.values() if c > 1)
    missing = sum(1 for m in want if m not in seen)
    failed = min(expected, dupes + missing + wrong + abs(len(want) - expected))
    checks = {
        "rows_expected": expected,
        "rows_in_batch_reference": len(want),
        "rows_in_sink": len(sink_tbl["message"]),
        "duplicated": dupes,
        "missing": missing,
        "prediction_mismatch": wrong,
    }
    return checks, failed, expected


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def _canon(v):
    """A comparable form of one result value."""
    if isinstance(v, Decimal):
        v = float(v)
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ("null",)
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, float)):
        return ("n", round(float(v), 9))
    s = str(v)
    return ("s", s[:-9] if s.endswith(" 00:00:00") else s)


def canonical_rows(columns: list[str], rows) -> list[tuple]:
    """Rows as sorted tuples of canonical values, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def result_hash(canon: list[tuple]) -> str:
    """Order-insensitive hash of canonical rows."""
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def rows_match(a: list[tuple], b: list[tuple]) -> bool:
    """Canonical rows equal, except that a number may differ by ``CENT``.
    The registry rows round float money sums to two decimals, and a sum
    computed in another order can land on the other side of a half-cent
    boundary; any real error moves a value by more."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if x == y:
                continue
            if x[0] != "n" or y[0] != "n" or abs(x[1] - y[1]) > CENT + 1e-9 * abs(x[1]):
                return False
    return True


def run_query_mix(run: Run, seed: int, seconds: float) -> Outcome:
    from pyspark_etl_twitter_spark.plans.registry import QUERIES

    spec: gen.QuerySpec = gen.WORKLOADS["query_mix"]
    setup, parts = Clock(), {}
    spark = run.start_session()
    parts["session"] = setup.lap()
    tables = gen.query_inputs(seed, spec, run.path("in"))
    for t in gen.TPCH_TABLES:
        require(os.path.join(tables, f"{t}.parquet"))
    parts["inputs"] = setup.lap()
    order = list(spec.queries)
    random.Random(seed).shuffle(order)

    def one_pass():
        results, times = {}, {}
        with run.tracer.span("plans.registry"):
            for name in order:
                t = time.perf_counter()
                with run.tracer.span(f"plans.registry.{name}"):
                    df = QUERIES[name](spark, tables)
                    rows = df.collect()
                times[name] = (time.perf_counter() - t) * 1000.0
                results[name] = (df.columns, rows)
        return results, times

    # one JIT-cold pass (about three times a warm one); pass times still
    # fall by about a tenth over the next two, which every run measures
    # alike, since a pass is longer than half the window on 4 cores
    run.tracer.phase = "warm"
    one_pass()
    parts["warm"] = setup.lap()
    setup_s = setup.s()

    run.tracer.phase = "measure"
    clock, passes, last = Clock(), [], None
    query_ms: dict[str, list[float]] = {name: [] for name in order}
    while not passes or clock.s() < seconds:
        t = time.perf_counter()
        last, times = one_pass()
        passes.append(time.perf_counter() - t)
        for name, ms in times.items():
            query_ms[name].append(ms)
    # every query moves the geometric mean of the per-query medians by its
    # own relative change, the fastest as much as the slowest
    query_p50 = {name: median(ms) for name, ms in query_ms.items()}
    geo_ms = math.exp(sum(math.log(v) for v in query_p50.values()) / len(query_p50))

    checks = _check_queries(run, tables, last)
    attempted = len(passes) * len(order)
    return Outcome(
        setup_s=setup_s,
        work_s=passes,
        latency_ms=geo_ms,
        latency_samples=len(passes) * len(order),
        attempted=attempted,
        failed=min(attempted, len(checks["mismatched"])),
        checks=checks,
        detail={
            "mix_pass_s": median(passes),
            "passes": len(passes),
            "query_ms_p50": query_p50,
            "order": order,
            "setup_parts_s": parts,
        },
    )


def _check_queries(run: Run, tables: str, results: dict) -> dict:
    """Each result matches its registry DuckDB oracle on row count and
    order-insensitive hash."""
    import duckdb

    from pyspark_etl_twitter_spark.plans.registry import ORACLES

    tmp = run.path("duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp}'")
        con.execute("SET threads=2")
        for t in gen.TPCH_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')"
            )
        per, mismatched = {}, []
        for name, (cols, rows) in results.items():
            res = con.execute(ORACLES[name])
            got = canonical_rows(cols, [tuple(r) for r in rows])
            want = canonical_rows([d[0] for d in res.description], res.fetchall())
            same_cols = sorted(cols) == sorted(d[0] for d in res.description)
            per[name] = {
                "rows": len(got),
                "oracle_rows": len(want),
                "hash": result_hash(got)[:16],
                "hash_equal": got == want,
            }
            if not (same_cols and rows_match(got, want)):
                mismatched.append(name)
    finally:
        con.close()
    return {"queries": per, "mismatched": mismatched}


RUNNERS = {
    "stream_score": run_stream_score,
    "query_mix": run_query_mix,
}

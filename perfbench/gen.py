"""Workload definitions and the seeded input generator.

Every input a workload reads is made here, in this process, from the
workload seed: the program under test only ever sees the files written
below. The same seed writes byte-identical files (``tests/test_gen.py``).

Nothing here imports Spark; the generator is plain Python, NumPy and
PyArrow so that input generation stays out of the measured layers.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A word-shaped vocabulary: the reference cleaner keeps only letters, so
# every term is a lowercase ASCII word and survives ``functions.text``.
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_B36 = "0123456789abcdefghijklmnopqrstuvwxyz"

EMOJI = ("\U0001f600", "\U0001f525", "\U0001f44d", "❤️", "\U0001f62d", "\U0001f680")
PUNCT = ("!", "?", "...", ".", "!!", ",")
# Words from the stop list interleaved with content words, so stop-word
# removal has real work to do.
STOP = ("the", "a", "to", "and", "is", "in", "it", "of", "for", "on", "my", "this", "i", "you")


@dataclass(frozen=True)
class StreamSpec:
    """``stream_score``: the reference consumer topology under a paced
    open-loop feed, interleaved with closed-loop backlog bursts."""

    why: str
    vocab: int = 100_000
    zipf_s: float = 1.05
    train_docs: int = 10_000
    train_tokens: tuple[int, int] = (6, 18)
    tweet_tokens: tuple[int, int] = (6, 18)
    # Backlog bursts of one file each, staged beside the replay dir; each is
    # dropped in once everything before it is committed, so its drain time
    # is measured several times per run.
    burst_rows: int = 4_000
    bursts: int = 6
    # Warm-up, on the measured query before the window opens: paced-size
    # triggers in a closed loop, each dropping as many tick files as a
    # paced batch holds. The fixed per-trigger cost is driver code that
    # keeps getting faster for tens of triggers: warmed by two bursts only,
    # paced batch latency fell by half over a 40 s paced phase on 4 cores,
    # and burst drains took twice as long as after such triggers.
    warm_triggers: int = 10
    warm_ticks_per_trigger: int = 10
    # Paced feed: fixed here, never derived at run time. 1,000 rows/s is
    # about a sixth of the warm burst drain rate on 4 cores, so batches stay
    # small and latency shows the fixed per-trigger cost; near the drain
    # rate, batches grow with any slowdown and latency doubled between
    # otherwise equal runs. The paced segments together last the whole
    # measuring window, however long the bursts take.
    paced_rows_per_s: int = 1_000
    tick_s: float = 0.1
    # The measuring window is split into this many paced segments, with an
    # equal group of bursts after each, so that both metrics sample all of
    # it: the host's speed drifts over tens of seconds, and a metric
    # measured in one stretch of the window took its speed from that
    # stretch alone.
    segments: int = 3
    # Noise shares (per tweet) — what makes ``tokenize`` do regex work.
    mention_share: float = 0.4
    hashtag_share: float = 0.3
    emoji_share: float = 0.25
    punct_share: float = 0.5
    upper_word_share: float = 0.15

    @property
    def rows_per_tick(self) -> int:
        return int(round(self.paced_rows_per_s * self.tick_s))


@dataclass(frozen=True)
class QuerySpec:
    """``query_mix``: TPC-H-shaped registry rows over generated tables."""

    why: str
    # The scale and value domains of the repository's sf0.1 test tables
    # (600k lineitem rows). The benchmark reads nothing outside its
    # checkout, so it makes the tables itself; on 4 cores a warm pass of
    # the queries below takes about the same time here as on those tables
    # (README, "query_mix tables").
    lineitem: int = 600_000
    orders: int = 150_000
    customers: int = 15_000
    suppliers: int = 1_000
    parts: int = 20_000
    # A fixed subset keeps several passes inside the run budget (the full
    # 21 rows take 30-39 s warm at sf0.1 on 4 cores). It covers the join
    # shapes of the full set: top-k join (q3), scan-filter-aggregate (q6),
    # four-dimension star join (q9), outer join with a nested aggregate
    # (q13), IN-subquery (q18), EXISTS/NOT EXISTS (q21).
    queries: tuple[str, ...] = (
        "tpch_q3_shipping_priority",
        "tpch_q6_forecast_revenue",
        "tpch_q9_profit_by_nation",
        "tpch_q13_customer_distribution",
        "tpch_q18_large_volume_customers",
        "tpch_q21_waiting_suppliers",
    )


WORKLOADS = {
    "stream_score": StreamSpec(
        why="the paper's pipeline: streaming trigger overhead and the scoring "
        "kernel do the work; no store and no large shuffle"
    ),
    "query_mix": QuerySpec(
        why="the relational plans layer alone: joins and aggregates with no "
        "text functions, stores or streaming"
    ),
}


# ---------------------------------------------------------------------------
# building blocks
# ---------------------------------------------------------------------------


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase words of 3-10 letters."""
    words: list[str] = []
    seen: set[str] = set(STOP)
    while len(words) < n:
        lens = rng.integers(3, 11, size=n)
        codes = rng.choice(_LETTERS, size=(n, 10))
        for row, ln in zip(codes, lens):
            w = row[:ln].tobytes().decode()
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


class Zipf:
    """Rank-frequency sampler over a vocabulary: P(rank k) ∝ 1/k^s."""

    def __init__(self, words: list[str], s: float):
        w = 1.0 / np.arange(1, len(words) + 1, dtype=np.float64) ** s
        self.cdf = np.cumsum(w / w.sum())
        self.words = np.array(words, dtype=object)

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return self.words[np.minimum(idx, len(self.words) - 1)]


def _lengths(rng: np.random.Generator, n: int, bounds: tuple[int, int]) -> np.ndarray:
    return rng.integers(bounds[0], bounds[1] + 1, size=n)


def plain_docs(rng, zipf: Zipf, n: int, bounds: tuple[int, int]) -> list[str]:
    """Lowercase single-space documents (the ``documents.text`` shape)."""
    lens = _lengths(rng, n, bounds)
    toks = zipf.sample(rng, int(lens.sum()))
    out, i = [], 0
    for ln in lens:
        out.append(" ".join(toks[i : i + ln]))
        i += ln
    return out


def _b36(n: int) -> str:
    s = ""
    while True:
        n, r = divmod(n, 36)
        s = _B36[r] + s
        if n == 0:
            return s


def tweets(rng, zipf: Zipf, spec: StreamSpec, first_offset: int, n: int) -> list[str]:
    """Tweet texts with the reference's noise: a t.co link (unique per
    tweet: its tail is the offset, which is what the exactly-once audit
    keys on), @mentions, #tags, emoji, punctuation, mixed case, and stop
    words. Commas are stripped as the reference producer does."""
    lens = _lengths(rng, n, spec.tweet_tokens)
    toks = zipf.sample(rng, int(lens.sum()))
    u = rng.random((n, 4))
    case = rng.random(int(lens.sum()))
    stop_pick = rng.integers(0, len(STOP), size=int(lens.sum()))
    stop_mask = rng.random(int(lens.sum())) < 0.3
    extra = rng.integers(0, 1 << 30, size=(n, 4))
    out, i = [], 0
    for r in range(n):
        ln = lens[r]
        words = []
        for j in range(i, i + ln):
            w = STOP[stop_pick[j]] if stop_mask[j] else toks[j]
            if case[j] < spec.upper_word_share:
                w = w.capitalize()
            elif case[j] < spec.upper_word_share + 0.03:
                w = w.upper()
            words.append(w)
        i += ln
        if u[r, 0] < spec.mention_share:
            words.insert(0, "@" + toks[i - 1] + str(extra[r, 0] % 1000))
        if u[r, 1] < spec.punct_share:
            k = extra[r, 1] % len(words)
            words[k] = words[k] + PUNCT[extra[r, 1] % len(PUNCT)]
        if u[r, 2] < spec.hashtag_share:
            words.append("#" + toks[i - ln].capitalize())
        if u[r, 3] < spec.emoji_share:
            words.append(EMOJI[extra[r, 2] % len(EMOJI)])
        link = "https://t.co/" + _b36(extra[r, 3]).rjust(6, "0") + _b36(first_offset + r)
        words.insert(int(extra[r, 3] % (len(words) + 1)), link)
        out.append(" ".join(words).replace(",", ""))
    return out


def wire_value(text: str) -> str:
    """The producer's wire payload: ``{"message": <text>}`` as UTF-8 JSON."""
    return json.dumps({"message": text}, ensure_ascii=False)


def write_replay_file(path: str, offsets, values, created_ms) -> None:
    """One Kafka-shaped JSON-lines replay file, written under a hidden name
    and renamed into place so a file-stream source never sees it half
    written (the file source skips names starting with ``.``).
    ``created_ms`` holds one creation time per row."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, "." + base + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        for off, val, ms in zip(offsets, values, created_ms):
            f.write(
                json.dumps(
                    {"offset": int(off), "value": val, "created_ms": int(ms)},
                    ensure_ascii=False,
                )
                + "\n"
            )
    os.replace(tmp, path)


def _write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_train(rng, zipf: Zipf, spec, out_dir: str) -> str:
    """The seeded sentiment training corpus ``(doc_id, text)`` that
    ``build_weight_table`` fits the weight dimension from."""
    texts = plain_docs(rng, zipf, spec.train_docs, spec.train_tokens)
    path = os.path.join(out_dir, "train.parquet")
    _write_parquet(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}), path
    )
    return path


# ---------------------------------------------------------------------------
# per-workload inputs
# ---------------------------------------------------------------------------


@dataclass
class StreamInputs:
    train: str
    # the query's replay dir, empty until the run drops files into it
    replay_dir: str
    # staged groups of tick files, one group per warm-up trigger
    warm_ticks: list[list[str]]
    # staged backlog bursts, one file each
    bursts: list[str]
    paced_offsets: np.ndarray
    paced_values: list[str]


def _staged(rng, zipf, spec, staged_dir, name, first, rows) -> str:
    """One staged replay file of ``rows`` tweets from offset ``first``."""
    texts = tweets(rng, zipf, spec, first, rows)
    path = os.path.join(staged_dir, name)
    write_replay_file(path, range(first, first + rows), [wire_value(t) for t in texts], [0] * rows)
    return path


def stream_inputs(seed: int, spec: StreamSpec, out_dir: str, paced_seconds: float) -> StreamInputs:
    """Training corpus, warm-up tick files, the backlog bursts, and the
    paced rows (written tick by tick during the run)."""
    rng = np.random.default_rng(seed)
    zipf = Zipf(vocabulary(rng, spec.vocab), spec.zipf_s)
    train = write_train(rng, zipf, spec, out_dir)

    replay_dir = os.path.join(out_dir, "replay")
    staged_dir = os.path.join(out_dir, "staged")
    os.makedirs(replay_dir, exist_ok=True)
    os.makedirs(staged_dir, exist_ok=True)
    rows, per = spec.rows_per_tick, spec.warm_ticks_per_trigger
    warm_ticks = [
        [
            _staged(rng, zipf, spec, staged_dir, f"warm_{g:03d}_{t:02d}.json", (g * per + t) * rows, rows)
            for t in range(per)
        ]
        for g in range(spec.warm_triggers)
    ]
    base = 1_000_000
    bursts = [
        _staged(rng, zipf, spec, staged_dir, f"burst_{b:02d}.json", base + b * spec.burst_rows, spec.burst_rows)
        for b in range(spec.bursts)
    ]

    n_paced = int(spec.paced_rows_per_s * paced_seconds) + spec.rows_per_tick
    p0 = base + spec.bursts * spec.burst_rows
    paced = tweets(rng, zipf, spec, p0, n_paced)
    return StreamInputs(
        train=train,
        replay_dir=replay_dir,
        warm_ticks=warm_ticks,
        bursts=bursts,
        paced_offsets=np.arange(p0, p0 + n_paced),
        paced_values=[wire_value(t) for t in paced],
    )


TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
NATIONS = 25
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("red", "small", "hot", "old", "large", "blue", "green", "cold")
P_NOUN = ("plate", "widget", "ring", "rod", "gear", "bolt", "valve", "spring")


def _ts(first: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(first + "T00:00:00", "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _pick(rng, choices, n: int) -> pa.Array:
    return pa.array(list(choices)).take(pa.array(rng.integers(0, len(choices), n)))


def query_inputs(seed: int, spec: QuerySpec, out_dir: str) -> str:
    """The seven TPC-H-shaped tables the registry rows read, in the schema
    and value domains of the repository's synthetic test tables: orders
    dated 1995-01-01..2001-08-01, each lineitem row drawn independently
    (about four lines per order, line numbers 1-7 and not unique per
    order, ship dates uniform over 1995-2001), ``NATION_<k>`` names and
    ``Brand#<k>`` brands. Returns the table dir."""
    rng = np.random.default_rng(seed)
    d = os.path.join(out_dir, "tpch")
    i32, i64 = pa.int32(), pa.int64()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def keys(hi, n):
        return pa.array(rng.integers(0, hi, n), i64)

    def small(lo, hi, n):
        return pa.array(rng.integers(lo, hi, n), i32)

    nc, ns, np_, no, nl = spec.customers, spec.suppliers, spec.parts, spec.orders, spec.lineitem
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": list(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(range(NATIONS), i32),
            "n_name": [f"NATION_{k}" for k in range(NATIONS)],
            "n_regionkey": pa.array([k % 5 for k in range(NATIONS)], i32),
        },
        "customer": {
            "c_custkey": pa.array(range(nc), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": small(0, NATIONS, nc),
            "c_acctbal": money(-999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        },
        "supplier": {
            "s_suppkey": pa.array(range(ns), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": small(0, NATIONS, ns),
            "s_acctbal": money(-999.99, 9999.99, ns),
        },
        "part": {
            "p_partkey": pa.array(range(np_), i64),
            "p_name": pa.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN]).take(
                pa.array(rng.integers(0, len(P_ADJ) * len(P_NOUN), np_))
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in range(25)]).take(
                pa.array(rng.integers(0, 25, np_))
            ),
            "p_type": _pick(rng, P_TYPES, np_),
            "p_size": small(1, 51, np_),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": pa.array(range(no), i64),
            "o_custkey": keys(nc, no),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": money(1000.0, 500000.0, no),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, no)),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        },
    }
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": keys(no, nl),
        "l_partkey": keys(np_, nl),
        "l_suppkey": keys(ns, nl),
        "l_linenumber": small(1, 8, nl),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, nl)),
    }
    for name in TPCH_TABLES:
        _write_parquet(pa.table(tables[name]), os.path.join(d, f"{name}.parquet"))
    return d

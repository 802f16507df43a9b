"""The seeded generator: same seed → byte-identical inputs, and the inputs
have the properties each workload definition states."""

import json
import os
import re
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen
from pyspark_etl_twitter_spark.functions.text import CLEAN_PATTERN

STREAM = gen.WORKLOADS["stream_score"]
QUERY = gen.WORKLOADS["query_mix"]


def _files(root: str) -> dict[str, bytes]:
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(Path(root).rglob("*"))
        if p.is_file()
    }


def _replay_rows(d: str) -> list[dict]:
    rows = []
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), encoding="utf-8") as f:
            rows += [json.loads(line) for line in f]
    return rows


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("s1"))
    return out, gen.stream_inputs(7, STREAM, out, paced_seconds=5)


def test_stream_inputs_same_seed_byte_identical(stream, tmp_path):
    out, first = stream
    again = gen.stream_inputs(7, STREAM, str(tmp_path), paced_seconds=5)
    assert _files(out) == _files(str(tmp_path))
    assert first.paced_values == again.paced_values
    other = gen.stream_inputs(8, STREAM, str(tmp_path / "o"), paced_seconds=5)
    assert other.paced_values != first.paced_values


def test_query_inputs_same_seed_byte_identical(tmp_path):
    a = gen.query_inputs(3, QUERY, str(tmp_path / "a"))
    b = gen.query_inputs(3, QUERY, str(tmp_path / "b"))
    c = gen.query_inputs(4, QUERY, str(tmp_path / "c"))
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)


def test_stream_rows_and_exactly_once_keys(stream):
    out, inputs = stream
    staged = os.path.dirname(inputs.bursts[0])
    backlog = _replay_rows(staged)
    assert len(inputs.bursts) == STREAM.bursts
    # the bursts split evenly over the paced segments
    assert STREAM.bursts % STREAM.segments == 0
    # nothing is in the replay dir before the query starts
    assert os.listdir(inputs.replay_dir) == []
    assert len(inputs.warm_ticks) == STREAM.warm_triggers
    assert all(len(g) == STREAM.warm_ticks_per_trigger for g in inputs.warm_ticks)
    warm_rows = STREAM.warm_triggers * STREAM.warm_ticks_per_trigger * STREAM.rows_per_tick
    assert len(backlog) == warm_rows + STREAM.bursts * STREAM.burst_rows
    assert {"offset", "value", "created_ms"} == set(backlog[0])
    # paced rows: rate × seconds plus one tick of slack, at the fixed rate
    assert len(inputs.paced_values) == STREAM.paced_rows_per_s * 5 + STREAM.rows_per_tick
    assert STREAM.rows_per_tick / STREAM.tick_s == STREAM.paced_rows_per_s
    values = [r["value"] for r in backlog] + inputs.paced_values
    offsets = [r["offset"] for r in backlog] + list(inputs.paced_offsets)
    # every message is unique (its t.co link ends in the offset), so a
    # sink row maps back to exactly one offset
    assert len(set(values)) == len(values) == len(set(offsets))
    for v in values[:50]:
        assert set(json.loads(v)) == {"message"}
        assert "," not in json.loads(v)["message"]


def test_stream_noise_shares(stream):
    _, inputs = stream
    msgs = [json.loads(v)["message"] for v in inputs.paced_values]
    n = len(msgs)

    def share(pred):
        return sum(1 for m in msgs if pred(m)) / n

    assert share(lambda m: "https://t.co/" in m) == 1.0
    assert abs(share(lambda m: m.startswith("@")) - STREAM.mention_share) < 0.05
    assert abs(share(lambda m: " #" in m) - STREAM.hashtag_share) < 0.05
    assert abs(share(lambda m: any(e in m for e in gen.EMOJI)) - STREAM.emoji_share) < 0.05
    assert share(lambda m: m != m.lower()) > 0.5
    assert share(lambda m: re.search(r"[!?.]", m.replace("https://t.co/", "")) is not None) > 0.3
    # the reference cleaner strips links, mentions' marks, emoji and
    # punctuation, and leaves words
    cleaned = [re.sub(CLEAN_PATTERN, "", m.lower().strip()).split() for m in msgs[:200]]
    assert all(cleaned) and all(t.isalpha() for c in cleaned for t in c)


def test_vocabulary_and_zipf_training_corpus(stream):
    _, inputs = stream
    texts = pq.read_table(inputs.train).column("text").to_pylist()
    assert len(texts) == STREAM.train_docs
    terms = [t for x in texts for t in x.split(" ")]
    counts = {}
    for t in terms:
        counts[t] = counts.get(t, 0) + 1
    # a Zipfian draw from a 10^5 vocabulary: the weight dimension is
    # tens of thousands of terms, and the top term is far more common than
    # the hundredth
    assert 10_000 < len(counts) <= STREAM.vocab
    ranked = sorted(counts.values(), reverse=True)
    assert ranked[0] > 20 * ranked[99]
    assert len(set(gen.vocabulary(np.random.default_rng(1), 1000))) == 1000


def test_query_tables_shape(tmp_path):
    """sf0.1 scale, in the value domains of the repository's test tables."""
    d = gen.query_inputs(5, QUERY, str(tmp_path))
    sizes = {
        "region": 5, "nation": 25, "customer": 15_000,
        "supplier": 1_000, "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    }
    for name, n in sizes.items():
        assert pq.read_metadata(os.path.join(d, f"{name}.parquet")).num_rows == n
    li = pq.read_table(os.path.join(d, "lineitem.parquet")).to_pandas()
    assert li.l_orderkey.max() < QUERY.orders and li.l_partkey.max() < QUERY.parts
    assert li.l_discount.between(0.0, 0.1).all() and li.l_tax.between(0.0, 0.08).all()
    assert set(li.l_linenumber) == set(range(1, 8))
    # about four lines per order, drawn independently, as in the test tables
    per_order = li.groupby("l_orderkey").size()
    assert 0.97 < len(per_order) / QUERY.orders < 0.99
    assert 3.9 < per_order.mean() < 4.2
    orders = pq.read_table(os.path.join(d, "orders.parquet")).to_pandas()
    assert str(orders.o_orderdate.min().date()) >= "1995-01-01"
    assert str(orders.o_orderdate.max().date()) <= "2001-08-01"

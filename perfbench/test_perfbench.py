"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen, stats
from perfbench.checks import Tally, check_query, check_replay, result_hash


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def _write_all(root: str, seed: int) -> None:
    gen.write_parquet_increment(os.path.join(root, "inc"), seed, 1, 3000)
    gen.write_segment_increment(os.path.join(root, "seg"), seed, 1, 500)
    gen.write_tables(os.path.join(root, "tables"), seed, 0.001)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 7)
    _write_all(str(tmp_path / "c"), 8)
    a = _tree_bytes(str(tmp_path / "a"))
    assert a == _tree_bytes(str(tmp_path / "b"))
    c = _tree_bytes(str(tmp_path / "c"))
    assert a.keys() == c.keys()
    assert a["inc/inc00001.parquet"] != c["inc/inc00001.parquet"]
    assert a["tables/lineitem.parquet"] != c["tables/lineitem.parquet"]


def test_envelopes_depend_only_on_the_rng_state():
    import numpy as np

    cols_a, exp_a = gen.make_envelopes(np.random.default_rng([3, 2, 4]), 400, 1600)
    cols_b, exp_b = gen.make_envelopes(np.random.default_rng([3, 2, 4]), 400, 1600)
    assert cols_a == cols_b and exp_a == exp_b
    assert exp_a.records == 400
    assert sum(exp_a.rows[s] for s in gen.SINKS["clicks"]) % 2 == 0  # two sinks
    assert 0 < len(exp_a.malformed) < 40


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = stats.tail(xs)
    assert (value, n) == (90, 100)  # 90 has exactly 10 samples above it
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 89 / 99)
    assert stats.tail(list(range(11)))[0] == 0
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)  # too few: the max


def test_geomean_and_median():
    assert stats.geomean([1, 4, 16]) == pytest.approx(4.0)
    assert stats.geomean([0.2] * 5) == pytest.approx(0.2)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    assert stats.median([3, 1, 2]) == 2


def _replay_outputs():
    import numpy as np

    cols, exp = gen.make_envelopes(np.random.default_rng(5), 600, 0)
    sinks: dict[str, list[bytes]] = {}
    dlq = []
    for i, topic in enumerate(cols["topic"]):
        key = (topic, cols["partition"][i], cols["offset"][i])
        if key in exp.malformed:
            dlq.append(key)
            continue
        v = json.loads(cols["value"][i])
        out = {
            "clicks": lambda: gen.clicks_out(v["user_id"], v["n"]),
            "orders": lambda: gen.orders_out(v["order_id"], v["amount_cents"], v["qty"]),
            "events": lambda: gen.events_out(v["user_id"], v["score"]),
        }[topic]()
        for sink in gen.SINKS[topic]:
            sinks.setdefault(sink, []).append(out)
    return sinks, dlq, exp


def test_correct_replay_output_passes():
    sinks, dlq, exp = _replay_outputs()
    assert check_replay(sinks, dlq, exp) == []


def test_planted_wrong_replay_outputs_are_failures():
    sinks, dlq, exp = _replay_outputs()
    assert check_replay(sinks, dlq[1:], exp)  # one DLQ row dropped
    assert check_replay(sinks, dlq + dlq[:1], exp)  # one DLQ row twice
    bad = {k: list(v) for k, v in sinks.items()}
    bad["events.flat"][0] = b'{"u":0,"s2":0}'
    assert check_replay(bad, dlq, exp)  # one value changed
    short = {k: v[1:] if k == "orders.totals" else v for k, v in sinks.items()}
    assert check_replay(short, dlq, exp)  # one row missing


def test_result_hash_is_order_insensitive_and_oracle_mismatch_fails():
    rows = [(1, "a"), (2, "b"), (3, None)]
    h = result_hash(["k", "v"], rows)
    assert h == result_hash(["v", "k"], [(v, k) for k, v in reversed(rows)])
    assert h != result_hash(["k", "v"], rows[:2])
    assert check_query("q", h, h) == []
    assert check_query("q", h, "0" * 64)  # planted wrong oracle hash


def test_planted_failures_count_against_attempted_operations():
    sinks, dlq, exp = _replay_outputs()
    tally = Tally()
    tally.outcome(check_replay(sinks, dlq, exp))
    tally.outcome(check_replay(sinks, dlq[1:], exp))
    tally.outcome(check_query("q", "a" * 64, "b" * 64), ops=3)
    assert (tally.attempted, tally.failed) == (5, 4)
    assert len(tally.failures) == 2


def test_archive_offsets_grow_past_the_cached_increments(tmp_path):
    import pyarrow.parquet as pq

    from perfbench import replay

    src = str(tmp_path / "cache")
    meta = replay.write_increments(src, 5, 2, 300)
    inc = replay.Increments(src, meta, str(tmp_path / "work"), 5)
    expected = [inc.append() for _ in range(3)]  # two cached, one generated
    assert expected[2] == gen.write_parquet_increment(str(tmp_path / "again"), 5, 2, 300)
    last: dict[tuple, int] = {}
    files = sorted(os.listdir(inc.archive))
    assert len(files) == 3
    for f in files:
        t = pq.read_table(os.path.join(inc.archive, f)).to_pydict()
        for topic, p, off in zip(t["topic"], t["partition"], t["offset"]):
            assert off > last.get((topic, p), -1)  # offsets of a topic-partition only grow
            last[(topic, p)] = off

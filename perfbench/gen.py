"""Seeded input generator for the benchmark.

Everything the engine reads during a benchmark run is made here, in one
process, from ``(seed, size)``: the same pair always gives byte-identical
files. Nothing in ``kaflow_spark`` runs while inputs are made except the
segment file writer (``sources.segments.write_segment``), which is the
archive format under test.

Two families of input:

* **envelopes** -- Kafka-shaped records on three topics (``clicks``,
  ``orders``, ``events``), about 2% of them malformed JSON, written as
  one parquet file per archive increment (``replay_increments``), or as
  segment files (the source probe of the traced run). The generator also
  returns what a correct pipeline must produce: per-sink row counts and
  value checksums, and the exact set of malformed (topic, partition,
  offset) triples.
* **tables** -- the ten analytic tables the declared queries read
  (``catalog.TABLES``), shaped like the fixture tables described in
  FIXTURES.md, at a chosen scale factor.

Run standalone to write the inputs of one seed (from the checkout root)::

    PYTHONPATH=. python3 perfbench/gen.py --seed 1 --out perfbench-inputs
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPICS = ("clicks", "orders", "events")
PARTITIONS = 2
MALFORMED_SHARE = 0.02
BASE_TS_MS = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC

# sink topics each source topic fans out to (clicks goes to two sinks)
SINKS = {
    "clicks": ("clicks.enriched", "clicks.audit"),
    "orders": ("orders.totals",),
    "events": ("events.flat",),
}
EVENT_KINDS = ("view", "click", "signup", "purchase", "error")


def value_checksum(values) -> int:
    """Order-independent checksum of a bag of byte strings: the sum of
    their CRC32s modulo 2**64. Equal bags give equal sums; one missing,
    extra or changed value changes it."""
    return sum(zlib.crc32(v) for v in values) % (1 << 64)


# -- expected handler outputs ------------------------------------------
# These mirror the handlers in replay.py byte for byte; the checks in
# checks.py compare what the engine wrote against them.


def clicks_out(user_id: int, n: int) -> bytes:
    return json.dumps({"u": user_id, "n2": n * 2}).encode()


def orders_out(order_id: int, amount_cents: int, qty: int) -> bytes:
    return f'{{"o":{order_id},"total":{amount_cents * qty}}}'.encode()


def events_out(user_id: int, score: int) -> bytes:
    # Spark's to_json of struct<u: bigint, s2: bigint>
    return f'{{"u":{user_id},"s2":{score * 2}}}'.encode()


@dataclass
class Expected:
    """What a correct replay of a set of envelopes writes."""

    rows: dict[str, int] = field(default_factory=dict)
    checksum: dict[str, int] = field(default_factory=dict)
    malformed: set[tuple[str, int, int]] = field(default_factory=set)
    records: int = 0

    def to_json(self) -> dict:
        return {
            "rows": self.rows,
            "checksum": {k: str(v) for k, v in self.checksum.items()},
            "malformed": sorted(list(t) for t in self.malformed),
            "records": self.records,
        }

    @classmethod
    def from_json(cls, d: dict) -> "Expected":
        return cls(
            rows=dict(d["rows"]),
            checksum={k: int(v) for k, v in d["checksum"].items()},
            malformed={tuple(t) for t in d["malformed"]},
            records=int(d["records"]),
        )


def make_envelopes(rng: np.random.Generator, n: int, first_offset: int):
    """``n`` envelopes spread over TOPICS x PARTITIONS with offsets from
    ``first_offset`` (per topic-partition). Returns (columns, Expected)
    where columns is a dict of equal-length python lists."""
    topic_ix = rng.integers(0, len(TOPICS), n)
    part = rng.integers(0, PARTITIONS, n)
    user = rng.integers(0, 50_000, n)
    a = rng.integers(1, 10_000, n)
    b = rng.integers(1, 100, n)
    bad = rng.random(n) < MALFORMED_SHARE
    cut = rng.integers(1, 8, n)
    cols: dict[str, list] = {c: [] for c in (
        "topic", "partition", "offset", "ts_ms", "key", "value", "headers")}
    exp = Expected(records=n)
    sink_vals: dict[str, list[bytes]] = {s: [] for ss in SINKS.values() for s in ss}
    next_off: dict[tuple[str, int], int] = {}
    for i in range(n):
        topic = TOPICS[topic_ix[i]]
        p = int(part[i])
        off = next_off.get((topic, p), first_offset)
        next_off[(topic, p)] = off + 1
        u, x, y = int(user[i]), int(a[i]), int(b[i])
        if topic == "clicks":
            val = f'{{"user_id": {u}, "url": "https://example.com/p/{x}", "n": {y}}}'
            out = clicks_out(u, y)
        elif topic == "orders":
            val = f'{{"order_id": {off}, "amount_cents": {x}, "qty": {y}}}'
            out = orders_out(off, x, y)
        else:
            kind = EVENT_KINDS[x % len(EVENT_KINDS)]
            val = f'{{"user_id": {u}, "kind": "{kind}", "score": {y}}}'
            out = events_out(u, y)
        raw = val.encode()
        if bad[i]:
            raw = raw[: int(cut[i])]  # truncated JSON: never parses
            exp.malformed.add((topic, p, off))
        else:
            for sink in SINKS[topic]:
                sink_vals[sink].append(out)
        cols["topic"].append(topic)
        cols["partition"].append(p)
        cols["offset"].append(off)
        cols["ts_ms"].append(BASE_TS_MS + first_offset + i)
        cols["key"].append(f"user-{u}".encode())
        cols["value"].append(raw)
        cols["headers"].append([("x-request-id", f"req-{first_offset + i}".encode())])
    for sink, vals in sink_vals.items():
        exp.rows[sink] = len(vals)
        exp.checksum[sink] = value_checksum(vals)
    return cols, exp


_ENVELOPE_SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestamp_type", pa.int32()),
        ("key", pa.binary()),
        ("value", pa.binary()),
        (
            "headers",
            pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())])),
        ),
    ]
)


def _envelope_table(cols: dict[str, list]) -> pa.Table:
    n = len(cols["topic"])
    return pa.table(
        {
            "topic": cols["topic"],
            "partition": pa.array(cols["partition"], pa.int32()),
            "offset": pa.array(cols["offset"], pa.int64()),
            "timestamp": pa.array(
                np.asarray(cols["ts_ms"], dtype=np.int64) * 1000,
                pa.timestamp("us", tz="UTC"),
            ),
            "timestamp_type": pa.array(np.zeros(n, dtype=np.int32)),
            "key": pa.array(cols["key"], pa.binary()),
            "value": pa.array(cols["value"], pa.binary()),
            "headers": pa.array(
                [[{"key": k, "value": v} for k, v in h] for h in cols["headers"]],
                _ENVELOPE_SCHEMA.field("headers").type,
            ),
        },
        schema=_ENVELOPE_SCHEMA,
    )


def write_parquet_increment(out_dir: str, seed: int, index: int, n: int) -> Expected:
    """Increment ``index`` of a parquet archive: one file of ``n``
    records, offsets continuing from the previous increment."""
    rng = np.random.default_rng([seed, 2, index])
    cols, exp = make_envelopes(rng, n, index * n)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_envelope_table(cols), os.path.join(out_dir, f"inc{index:05d}.parquet"))
    return exp


def write_segment_increment(
    out_dir: str, seed: int, index: int, n: int
) -> Expected:
    """Increment ``index`` of a segment archive: one segment file of
    ``n`` records for each topic-partition, offsets continuing from the
    previous increment. File names sort in increment order, which is
    the order the segment stream source admits them in."""
    from kaflow_spark.sources.segments import write_segment

    rng = np.random.default_rng([seed, 2, index])
    cols, exp = make_envelopes(rng, n, index * n)  # same records as the parquet increment
    os.makedirs(out_dir, exist_ok=True)
    groups: dict[tuple[str, int], list[dict]] = {}
    for i in range(n):
        groups.setdefault((cols["topic"][i], cols["partition"][i]), []).append(
            {
                "offset": cols["offset"][i],
                "ts_ms": cols["ts_ms"][i],
                "key": cols["key"][i],
                "value": cols["value"][i],
                "headers": cols["headers"][i],
            }
        )
    for (topic, p), recs in sorted(groups.items()):
        write_segment(
            os.path.join(out_dir, f"inc{index:05d}-{topic}-{p}.seg"), topic, p, recs
        )
    return exp


# -- analytic tables -----------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PTYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "green")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_LANGS = ("en", "es", "zh", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, start: str, days: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten analytic tables at scale factor ``sf`` (sf 1 would have
    6M lineitem rows), shaped like the fixture tables: same columns,
    types, key ranges and value distributions."""
    rng = np.random.default_rng([seed, 3])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj = rng.integers(0, len(_ADJ), n_part)
    noun = rng.integers(0, len(_NOUN), n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2404)),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    flags = rng.integers(0, 6, n_li)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
            "l_linestatus": [("O", "F")[i % 2] for i in flags],
            "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", 2498)),
        }
    )
    # events: ts increasing with event_id over 30 days, exponential values
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_KINDS[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # documents: 10-100 words from a small vocabulary; 5% are a near
    # duplicate of an earlier document (its text plus " dup")
    texts: list[str] = []
    lengths = rng.integers(10, 101, n_docs)
    dup = rng.random(n_docs) < 0.05
    for i in range(n_docs):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), lengths[i])))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(5, n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- cache ---------------------------------------------------------------


def cached(cache_root: str, kind: str, seed: int, size, build) -> tuple[str, dict]:
    """Directory holding input ``kind`` for (seed, size), built by
    ``build(dir) -> dict`` on first use. A ``meta.json`` written last
    marks the entry complete, so a run cut short mid-build rebuilds."""
    d = os.path.join(cache_root, f"{kind}-s{seed}-n{size}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    meta = build(d)
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return d, meta


def main() -> None:
    """Write the inputs one benchmark run of ``--seed`` reads."""
    from perfbench import querymix, replay

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    n, size = replay.INCREMENTS, replay.INCREMENT_RECORDS
    replay.write_increments(os.path.join(args.out, "increments"), args.seed, n, size)
    for sf in (querymix.HEAVY_SF, querymix.FLOOR_SF):
        write_tables(os.path.join(args.out, f"tables-sf{sf}"), args.seed, sf)


if __name__ == "__main__":
    main()

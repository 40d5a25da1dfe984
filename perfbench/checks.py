"""Output checks, run outside the timed region. Each returns a list of
failure descriptions; an empty list means the output is correct."""

from __future__ import annotations

import hashlib
import os

import pyarrow.dataset as ds

from perfbench.gen import Expected, value_checksum


class Tally:
    """Operations attempted and failed. An operation fails if it raised
    or if any output check of it failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def outcome(self, failures: list[str], ops: int = 1) -> None:
        """Record ``ops`` operations whose output checks gave
        ``failures`` (all of them fail when the list is not empty)."""
        self.attempted += ops
        if failures:
            self.failed += ops
            self.failures.extend(failures)


def batch_dirs(out_dir: str) -> dict[str, tuple]:
    """``{batch directory: (file names, newest mtime)}`` for the output
    and DLQ sides of a replay output directory."""
    stamps: dict[str, tuple] = {}
    for side in ("out", "dlq"):
        base = os.path.join(out_dir, side)
        if not os.path.isdir(base):
            continue
        for d in sorted(os.listdir(base)):
            path = os.path.join(base, d)
            if not d.startswith("batch_id="):
                continue
            files = sorted(os.listdir(path))
            mtime = max(
                (os.stat(os.path.join(path, f)).st_mtime_ns for f in files), default=0
            )
            stamps[f"{side}/{d}"] = (tuple(files), mtime)
    return stamps


def _read(base: str, only, columns) -> list:
    if not os.path.isdir(base):
        return []
    paths = [
        os.path.join(base, d, f)
        for d in sorted(os.listdir(base))
        if d.startswith("batch_id=") and (only is None or d in only)
        for f in sorted(os.listdir(os.path.join(base, d)))
        if f.endswith(".parquet")
    ]
    if not paths:
        return []
    return ds.dataset(paths, format="parquet").to_table(columns=columns).to_pylist()


def read_replay_output(out_dir: str, only=None):
    """(sink values by topic, DLQ (topic, partition, offset) list) from
    a ``run_replay`` output directory; ``only`` limits the read to the
    named ``batch_id=<n>`` subdirectories."""
    sinks: dict[str, list[bytes]] = {}
    for row in _read(os.path.join(out_dir, "out"), only, ["topic", "value"]):
        sinks.setdefault(row["topic"], []).append(row["value"])
    dlq = [
        (r["topic"], r["partition"], r["offset"])
        for r in _read(os.path.join(out_dir, "dlq"), only, ["topic", "partition", "offset"])
    ]
    return sinks, dlq


def check_replay(
    sinks: dict[str, list[bytes]], dlq: list[tuple], expected: Expected
) -> list[str]:
    """Exact row count and value checksum per sink topic, and DLQ rows
    equal to the generator's malformed offsets (no more, no fewer, no
    duplicates)."""
    failures = []
    for sink in sorted(set(sinks) | set(expected.rows)):
        got = sinks.get(sink, [])
        want = expected.rows.get(sink, 0)
        if len(got) != want:
            failures.append(f"{sink}: {len(got)} rows, expected {want}")
        elif value_checksum(got) != expected.checksum.get(sink, 0):
            failures.append(f"{sink}: value checksum differs")
    got_dlq = {tuple(t) for t in dlq}
    if len(dlq) != len(got_dlq):
        failures.append(f"dlq: {len(dlq) - len(got_dlq)} duplicate rows")
    if got_dlq != expected.malformed:
        missing = len(expected.malformed - got_dlq)
        extra = len(got_dlq - expected.malformed)
        failures.append(f"dlq: {missing} malformed offsets missing, {extra} unexpected")
    return failures


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive canonical hash of a query result: columns in
    name order, every value in the oracle harness's canonical string
    form, rows sorted."""
    from kaflow_spark.oracle import canon

    ix = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in ix) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in ix).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def check_query(name: str, got_hash: str, oracle_hash: str) -> list[str]:
    if got_hash != oracle_hash:
        return [f"{name}: result hash {got_hash[:12]} != oracle {oracle_hash[:12]}"]
    return []

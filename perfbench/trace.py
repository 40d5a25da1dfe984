"""Tracing for the per-layer run: spans recorded from the benchmark's
own files around calls into the engine, plus Spark's own counters.

Nothing here reaches inside ``kaflow_spark``: spans wrap the public
calls the benchmark makes, and the counters come from Spark's status
store, SQL status store and streaming progress, read after each action.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    rid: str


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a
    no-op, so the untraced run pays nothing for it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rid: str = ""):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, rid))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def total(self, name: str) -> float:
        """Summed wall time of every span called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """Bytes from a SQL-metric display string such as ``"1024.8 KiB"``
    or ``"total (min, med, max ...)\\n9.4 KiB (2.3 KiB, ...)"``; the
    first size after any ``total`` header line is the total."""
    body = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = re.search(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)", body)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class SparkCounters:
    """Deltas of Spark's status-store counters between two reads.

    Read after an action completes: the listener bus is drained first,
    so every stage and SQL execution the action started is visible.
    (The written handle's own ``queryExecution()`` metrics read zero
    after a noop write, so they are not used.)"""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self._last_exec = -1
        self.read()  # baseline: everything before now is not counted

    def read(self) -> dict[str, float]:
        """Counters accumulated since the previous ``read``. Only jobs,
        stages and SQL executions that are new since then are visited."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_run_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes", "broadcast_bytes"),
            0.0,
        )
        for jid in set(self._tracker.getJobIdsForGroup(None)) - self._seen_jobs:
            self._seen_jobs.add(jid)
            out["jobs"] += 1
            sids = self._store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
                for k in range(attempts.size()):
                    st = attempts.apply(k)
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["task_run_s"] += st.executorRunTime() / 1000.0
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        execs = self._sql.executionsList()
        newest = self._last_exec
        for i in range(execs.size() - 1, -1, -1):  # ascending ids: walk back to the last seen
            eid = execs.apply(i).executionId()
            if eid <= self._last_exec:
                break
            newest = max(newest, eid)
            out["broadcast_bytes"] += self._broadcast_bytes(eid)
        self._last_exec = newest
        return out

    def _broadcast_bytes(self, eid: int) -> float:
        values = self._sql.executionMetrics(eid)
        total = 0.0
        nodes = self._sql.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if node.name() != "BroadcastExchange":
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                if m.name() == "data size":
                    shown = values.get(m.accumulatorId())
                    if shown is not None and not shown.isEmpty():
                        total += parse_size(shown.get())
        return total

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()


# physical-plan node families counted by the plan fingerprint
FINGERPRINT_NODES = {
    "exchange": r"\bExchange\b",
    "reused_exchange": r"\bReusedExchange\b",
    "smj": r"\bSortMergeJoin\b",
    "bhj": r"\bBroadcastHashJoin\b",
    "bnlj": r"\bBroadcastNestedLoopJoin\b",
    "cartesian": r"\bCartesianProduct\b",
    "python": r"\b(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas|ArrowWindowPython|ArrowAggregatePython|"
    r"FlatMapGroupsInArrow|PythonMapInArrow)\b",
    "generate": r"\bGenerate\b",
    "in_memory_scan": r"\bInMemoryTableScan\b",
}


def plan_fingerprint(df) -> dict[str, int]:
    """Counts of the node families above in ``df``'s executed plan. Run
    it on a frame that has already executed: under AQE that is the
    final plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {k: len(re.findall(p, plan)) for k, p in FINGERPRINT_NODES.items()}


def progress_durations(progress) -> dict[str, float]:
    """Sum of ``durationMs`` (in seconds) and ``numInputRows`` over a
    streaming query's ``recentProgress``."""
    out: dict[str, float] = {"numInputRows": 0.0}
    for p in progress:
        out["numInputRows"] += p.numInputRows
        for k, v in (p.durationMs or {}).items():
            out[k] = out.get(k, 0.0) + v / 1000.0
    return out


def jvm_peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")

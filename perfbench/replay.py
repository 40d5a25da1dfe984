"""The ``replay_increments`` workload: one ``App`` with three topics, one
per handler shape, driven through ``App.run_replay``.

* ``clicks``  -- ``@app.consume`` record handler over a pydantic model,
  fanned out to two sinks;
* ``orders``  -- ``@app.consume_batches`` vectorized handler;
* ``events``  -- ``@app.transform`` JVM-side declarative handler.

About 2% of payloads are malformed JSON and must land in the DLQ.

Closed loop: append one increment (a parquet file of envelopes) to the
archive, then call ``run_replay`` once with the same checkpoint -- the
scheduled availableNow backfill. One call is one operation.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
from pydantic import BaseModel
from pyspark.sql import functions as F

from kaflow_spark import App, FromValue, Json, Message

from perfbench import gen, stats
from perfbench.checks import batch_dirs, check_replay, read_replay_output
from perfbench.trace import progress_durations

INCREMENT_RECORDS = 4_000
# A run measures a fixed number of increments, so every run does the
# same work: RAMP increments right after set-up (the JIT ramp, reported
# as cold_s), then STEADY increments (warm_s is their median).
RAMP = 5
STEADY = 12
# increments cached per seed; a run that needs more to fill --seconds
# generates the next ones (offsets keep growing) outside the timed region
INCREMENTS = RAMP + STEADY


class Click(BaseModel):
    user_id: int
    url: str
    n: int


class Event(BaseModel):
    user_id: int
    kind: str
    score: int


def build_app(topics=gen.TOPICS) -> App:
    """The benchmark App, restricted to ``topics`` (the per-layer probes
    build one single-topic App per handler shape)."""
    app = App(name="perfbench-replay")
    if "clicks" in topics:

        @app.consume(topic="clicks", sink_topics=gen.SINKS["clicks"])
        def on_click(click: FromValue[Json[Click]]) -> Message:
            return Message(value=gen.clicks_out(click.user_id, click.n))

    if "orders" in topics:

        @app.consume_batches(topic="orders", sink_topics=gen.SINKS["orders"], value=Json)
        def on_orders(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "value": [
                        gen.orders_out(v["order_id"], v["amount_cents"], v["qty"])
                        for v in pdf["value"]
                    ]
                }
            )

    if "events" in topics:

        @app.transform(topic="events", sink_topics=gen.SINKS["events"], value=Json[Event])
        def on_events(df):
            return df.select(
                F.struct(
                    F.col("value.user_id").alias("u"),
                    (F.col("value.score") * 2).alias("s2"),
                ).alias("value")
            )

    return app


def write_increments(d: str, seed: int, count: int, size: int) -> dict:
    """Cache builder: ``count`` parquet increments of ``size`` envelopes,
    and increment 0 again as segment files for the source probe."""
    expected = []
    for i in range(count):
        exp = gen.write_parquet_increment(os.path.join(d, f"inc{i}"), seed, i, size)
        expected.append(exp.to_json())
    gen.write_segment_increment(os.path.join(d, "segments0"), seed, 0, size)
    return {"count": count, "size": size, "expected": expected}


class Increments:
    """The live archive, its outputs and checkpoint, and the checks of
    each increment's outputs."""

    def __init__(self, source: str, meta: dict, work: str, seed: int) -> None:
        self.source = source  # cached increments, one subdirectory each
        self.meta = meta
        self.seed = seed
        self.archive = os.path.join(work, "archive")
        self.out_dir = os.path.join(work, "out")
        self.ckpt = os.path.join(work, "ckpt")
        self.records = meta["size"]
        self.i = 0
        self.seen: dict[str, tuple] = {}
        os.makedirs(self.archive, exist_ok=True)

    def append(self) -> gen.Expected:
        """Copy the next cached increment into the live archive
        (outside the timed region) and return what it must produce."""
        i = self.i
        self.i += 1
        if i >= self.meta["count"]:
            return gen.write_parquet_increment(self.archive, self.seed, i, self.records)
        src = os.path.join(self.source, f"inc{i}")
        for f in sorted(os.listdir(src)):
            shutil.copyfile(os.path.join(src, f), os.path.join(self.archive, f))
        return gen.Expected.from_json(self.meta["expected"][i])

    def replay(self, spark, app):
        """One timed ``run_replay`` call: (wall seconds, streaming query)."""
        t0 = time.perf_counter()
        query = app.run_replay(spark, self.archive, self.out_dir, self.ckpt, fmt="parquet")
        return time.perf_counter() - t0, query

    def check(self, expected: gen.Expected) -> list[str]:
        """Outputs of the last increment alone (the batch directories
        that are new since the last check) match ``expected``, and no
        earlier batch directory was written again."""
        now = batch_dirs(self.out_dir)
        failures = [
            f"batch directory written twice: {d}"
            for d, stamp in self.seen.items()
            if now.get(d) != stamp
        ]
        new = [d for d in now if d not in self.seen]
        self.seen = now
        if not new:
            return failures + ["increment produced no new batch directory"]
        only = {os.path.basename(d) for d in new}
        return failures + check_replay(*read_replay_output(self.out_dir, only), expected)


def workload(run) -> None:
    """Run ``replay_increments``."""
    inc_dir, meta = run.inputs(
        "increments",
        f"{INCREMENTS}x{INCREMENT_RECORDS}",
        lambda d: write_increments(d, run.args.seed, INCREMENTS, INCREMENT_RECORDS),
    )
    sess = run.start_session()
    if run.args.trace:
        wrap_sink_writer(run)
    app = build_app()
    inc = Increments(inc_dir, meta, run.work, run.args.seed)
    run.setup_done()

    t_end = time.perf_counter() + run.args.seconds
    walls: list[float] = []
    traced: list[bool] = []
    progress: list[dict] = []
    while len(walls) < RAMP + STEADY or time.perf_counter() < t_end:
        # ramp operations run untraced; after them, in the traced run,
        # every other operation is untraced, which gives the tracing
        # overhead from one process
        on = bool(run.args.trace) and len(walls) >= RAMP and len(walls) % 2 == 0
        run.tracer.enabled = on
        expected = inc.append()
        try:
            wall, query = inc.replay(sess.spark, app)
        except Exception as exc:  # noqa: BLE001 -- a raising operation is a counted failure
            run.outcome([f"increment {inc.i} raised {type(exc).__name__}: {exc}"[:300]])
            if run.failed > 3:
                raise
            continue
        run.outcome(inc.check(expected))
        walls.append(wall)
        traced.append(on)
        if on:
            p = progress_durations(query.recentProgress)
            p["wall"] = wall
            progress.append(p)
    run.tracer.enabled = bool(run.args.trace)
    run.extra["op_walls_s"] = [round(w, 4) for w in walls]
    steady = walls[RAMP : RAMP + STEADY]
    run.extra["records_per_s"] = round(inc.records / stats.median(steady), 1)
    if not run.args.trace:
        run.latency_metrics(sum(walls[:RAMP]), stats.median(steady), steady, sess)
        return
    on = [w for w, t in zip(steady, traced[RAMP : RAMP + STEADY]) if t]
    off = [w for w, t in zip(steady, traced[RAMP : RAMP + STEADY]) if not t]
    run.metric("trace.op_p50_s", stats.median(on), "s")
    run.metric("trace.overhead_op_p50_s", stats.median(on) - stats.median(off), "s")
    run.metric("jvm.peak_rss_mb", sess.peak_rss_mb(), "MiB")
    stream_layers(run, progress, inc.records)
    run.metric("sink.bytes_per_record", dir_bytes(inc.out_dir) / (inc.records * inc.i), "B")
    probe_layers(run, sess.spark, os.path.join(inc_dir, "inc0"), os.path.join(inc_dir, "segments0"))


def wrap_sink_writer(run) -> None:
    """Time ``batch_keyed_parquet_writer``'s writes: the module attribute
    is replaced by a wrapper that records a span; ``run_replay`` looks it
    up at call time."""
    from kaflow_spark.streaming import exactly_once

    original = exactly_once.batch_keyed_parquet_writer

    def traced_writer(base_path):
        write = original(base_path)

        def timed(df, batch_id):
            with run.tracer.span("sink.write", f"batch{batch_id}"):
                write(df, batch_id)

        return timed

    exactly_once.batch_keyed_parquet_writer = traced_writer


def stream_layers(run, progress: list[dict], records: int) -> None:
    """Streaming and sink metrics, per traced operation."""
    n = len(progress)

    def per_op(key):
        return sum(p.get(key, 0.0) for p in progress) / n

    run.metric("stream.add_batch_s", per_op("addBatch"), "s")
    run.metric("stream.query_planning_s", per_op("queryPlanning"), "s")
    run.metric("stream.wal_commit_s", per_op("walCommit"), "s")
    run.metric("stream.commit_offsets_s", per_op("commitOffsets"), "s")
    run.metric("stream.latest_offset_s", per_op("latestOffset"), "s")
    run.metric(
        "stream.start_stop_s",
        sum(p["wall"] - p.get("triggerExecution", 0.0) for p in progress) / n,
        "s",
    )
    run.metric("sources.rows_read_per_record", per_op("numInputRows") / records, "count")
    run.metric("sink.write_s", run.tracer.total("sink.write") / n, "s")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


def probe_layers(run, spark, parquet_dir: str, segment_dir: str) -> None:
    """Isolated probes over one increment's envelopes: each is a noop
    write, run once to warm its code paths and again to be timed."""
    from kaflow_spark.serde.serializers import JsonSerde
    from kaflow_spark.sources.kafka_segment import read_segments

    def timed(name, make) -> None:
        make().write.format("noop").mode("overwrite").save()
        with run.tracer.span(name):
            t0 = time.perf_counter()
            make().write.format("noop").mode("overwrite").save()
        run.metric(name + "_s", time.perf_counter() - t0, "s")

    timed("sources.scan", lambda: spark.read.parquet(parquet_dir))
    timed("sources.segment_scan", lambda: read_segments(spark, segment_dir))
    env = spark.read.parquet(parquet_dir).persist()
    env.count()
    serde = JsonSerde(Event)
    values = env.filter(F.col("topic") == "events").select("value").persist()
    values.count()
    timed("serde.decode", lambda: values.select(serde.decode_col(F.col("value")).alias("v")))
    decoded = values.select(serde.decode_col(F.col("value")).alias("v")).persist()
    decoded.count()
    timed("serde.encode", lambda: decoded.select(serde.encode_col(F.col("v"))))
    for topic, name in (
        ("clicks", "app.record_handler"),
        ("orders", "app.batch_handler"),
        ("events", "app.transform"),
    ):
        app = build_app((topic,))
        timed(name, lambda: app.process_batch(env)[0])
    for df in (decoded, values, env):
        df.unpersist()

"""The ``query_mix`` workload: a fixed, ordered list of declared queries
run in one session as ``noop`` writes (the ``bench.py`` posture: no
``clearCache`` between queries, so shared persisted frames behave as in
a long-running job).

Results are checked against the DuckDB oracle: the first pass collects
each result and its canonical hash must equal the hash of the query's
oracle SQL run by DuckDB over the same generated tables.
"""

from __future__ import annotations

import time

from perfbench import gen, stats
from perfbench.checks import check_query, result_hash
from perfbench.trace import SparkCounters, plan_fingerprint

# A run measures a fixed amount of work: one cold pass over the mix
# (cold_s), then WARM_PASSES passes (warm_s sums each query's median
# across them).
WARM_PASSES = 2

# One query per operator family, over tables large enough that task
# work, not scheduling, is most of the edit-distance join's time.
HEAVY = ("q154", "q145", "q116", "q188", "q43")
HEAVY_SF = 0.02
# Queries whose cost is mostly driver planning and stage scheduling.
FLOOR_SF = 0.005
FLOOR = (
    "q01", "q02", "q05", "q07", "q08", "q09", "q17", "q21", "q23", "q29",
    "q50", "q51", "q55", "q57", "q59", "q60", "q65", "q66", "q70", "q82",
)


def resolve(registry, ids) -> list[str]:
    """Registry names for short ids (``q43`` -> ``q43_embedding_near_dup``)."""
    out = []
    for i in ids:
        names = [n for n in registry if n.split("_", 1)[0] == i]
        if len(names) != 1:
            raise KeyError(f"query id {i!r} matches {names}")
        out.append(names[0])
    return out


def oracle_hashes(registry, names, tables_dir: str) -> dict[str, str]:
    """Canonical hash of each query's DuckDB oracle result."""
    from kaflow_spark.oracle import duckdb_connect

    con = duckdb_connect(tables_dir)
    try:
        out = {}
        for name in names:
            rel = con.sql(registry[name].oracle)
            out[name] = result_hash(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


def workload(run) -> None:
    """Run ``query_mix``."""
    from kaflow_spark.catalog import TABLES, load
    from kaflow_spark.queries import REGISTRY

    dirs = {}
    for kind, sf in (("heavy", HEAVY_SF), ("floor", FLOOR_SF)):
        dirs[kind], _ = run.inputs(
            "tables", sf, lambda d, sf=sf: gen.write_tables(d, run.args.seed, sf) or {}
        )
    sess = run.start_session()
    spark = sess.spark
    heavy = resolve(REGISTRY, HEAVY)
    floor = resolve(REGISTRY, FLOOR)
    mix = heavy + floor
    kind_of = {n: "heavy" if n in heavy else "floor" for n in mix}
    with run.tracer.span("catalog.load"):
        for d in dirs.values():
            for t in TABLES:
                load(spark, d, t)
    # bench.py posture: warm the JVM and the parquet footers with q01
    for d in dirs.values():
        REGISTRY["q01_scan_project"].spark(spark, d).collect()
    counters = SparkCounters(spark) if run.args.trace else None
    layer: dict[str, float] = {}
    busy: dict[str, list[float]] = {}  # per query: task seconds, exec seconds

    def add(key, v):
        layer[key] = layer.get(key, 0.0) + v

    def execute(name, pass_no, collect):
        q = REGISTRY[name]
        rid = f"{name}#{pass_no}"
        kind = kind_of[name]
        traced = counters is not None and run.tracer.enabled
        if traced:
            counters.read()  # drop whatever ran before this query
        t0 = time.perf_counter()
        with run.tracer.span("queries.build", rid):
            df = q.spark(spark, dirs[kind])
        build = time.perf_counter() - t0
        if traced:
            # read between the two timed spans, counted in neither
            add("queries.build_jobs", counters.read()["jobs"])
        t1 = time.perf_counter()
        with run.tracer.span("queries.exec", rid):
            if collect:
                rows = [tuple(r) for r in df.collect()]
            else:
                df.write.format("noop").mode("overwrite").save()
                rows = None
        exec_s = time.perf_counter() - t1
        if traced:
            c = counters.read()
            add("queries.build_s", build)
            add("queries.exec_s", exec_s)
            add(f"exec_s.{kind}", exec_s)
            for k, v in c.items():
                add(f"spark.{k}.{kind}", v)
            b = busy.setdefault(name, [0.0, 0.0])
            b[0] += c["task_run_s"]
            b[1] += exec_s
            layer["cache.persisted_rdds"] = counters.persisted_rdds()
        return build + exec_s, df, rows

    run.setup_done()
    t_end = time.perf_counter() + run.args.seconds
    # pass 0: cold, untraced; results collected and hashed after timing
    run.tracer.enabled = False
    cold: dict[str, float] = {}
    hashes: dict[str, str] = {}
    fingerprints: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in mix:
        try:
            wall, df, rows = execute(name, 0, collect=True)
        except Exception as exc:  # noqa: BLE001 -- a failing query is a counted failure
            errors[name] = f"{name}: raised {type(exc).__name__}: {exc}"[:300]
            continue
        cold[name] = wall
        hashes[name] = result_hash(list(df.columns), rows)
        fingerprints[name] = plan_fingerprint(df)
    warm: dict[str, list[float]] = {n: [] for n in mix}
    passes = 0
    pass_walls: list[list[float]] = []  # per warm pass: [heavy, floor] seconds
    traced_passes = 0
    untraced: list[float] = []
    traced_walls: list[float] = []
    while passes < WARM_PASSES or time.perf_counter() < t_end:
        # in the traced run every other pass is untraced, which gives
        # the tracing overhead from one process
        on = bool(run.args.trace) and passes % 2 == 1
        run.tracer.enabled = on
        traced_passes += on
        passes += 1
        pass_walls.append([0.0, 0.0])
        for name in mix:
            if name in errors:
                continue
            try:
                wall, _df, _rows = execute(name, passes, collect=False)
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{name}: raised {type(exc).__name__}: {exc}"[:300]
                continue
            warm[name].append(wall)
            pass_walls[-1][name in floor] += wall
            (traced_walls if on else untraced).append(wall)
    run.tracer.enabled = bool(run.args.trace)

    # output checks, outside the timed region
    oracle = {}
    for kind, names in (("heavy", heavy), ("floor", floor)):
        oracle.update(oracle_hashes(REGISTRY, names, dirs[kind]))
    for name in mix:
        executions = 1 + len(warm[name])
        if name in errors:
            run.outcome([errors[name]], executions)
        else:
            run.outcome(check_query(name, hashes[name], oracle[name]), executions)
    run.extra["plan_fingerprints"] = fingerprints
    run.extra["warm_pass_s"] = [[round(h, 3), round(f, 3)] for h, f in pass_walls]
    run.extra["cold_by_query_s"] = {n: round(v, 4) for n, v in cold.items()}
    good = [n for n in mix if n not in errors]
    med = {n: stats.median(warm[n][:WARM_PASSES]) for n in good if warm[n]}
    run.extra["heavy_s"] = round(sum(med[n] for n in heavy if n in med), 4)
    run.extra["floor_geomean_s"] = round(stats.geomean(med[n] for n in floor if n in med), 4)
    run.extra["query_median_s"] = {n: round(v, 4) for n, v in med.items()}
    all_warm = [w for n in good for w in warm[n][:WARM_PASSES]]
    if not run.args.trace:
        run.latency_metrics(sum(cold.values()), sum(med.values()), all_warm, sess)
        return
    run.metric("jvm.peak_rss_mb", sess.peak_rss_mb(), "MiB")
    tp = max(traced_passes, 1)
    for key in ("queries.build_s", "queries.build_jobs", "queries.exec_s"):
        run.metric(key, layer.get(key, 0.0) / tp, "count" if key.endswith("jobs") else "s")
    for kind in ("heavy", "floor"):
        for k, unit in (
            ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("task_run_s", "s"), ("shuffle_write_bytes", "B"),
            ("shuffle_read_bytes", "B"), ("spill_bytes", "B"), ("broadcast_bytes", "B"),
        ):
            run.metric(f"spark.{k}.{kind}", layer.get(f"spark.{k}.{kind}", 0.0) / tp, unit)
        busy_base = layer.get(f"exec_s.{kind}", 0.0) * sess.cores
        run.metric(
            f"spark.core_busy_share.{kind}",
            layer.get(f"spark.task_run_s.{kind}", 0.0) / busy_base if busy_base else 0.0,
            "ratio",
        )
        run.extra[f"spark.core_busy_share.{kind}.base_core_s"] = round(busy_base / tp, 4)
    run.extra["core_busy_share_by_query"] = {
        n: round(task / (ex * sess.cores), 3) for n, (task, ex) in busy.items() if ex
    }
    run.metric("cache.persisted_rdds", layer.get("cache.persisted_rdds", 0.0), "count")
    run.metric("trace.op_p50_s", stats.median(traced_walls), "s")
    run.metric("trace.overhead_op_p50_s", stats.median(traced_walls) - stats.median(untraced), "s")

"""Benchmark entry point.

    python3 perfbench/run.py --workload replay_increments --seed 1 --seconds 10 --trace 0

Runs one workload from the root of a checkout and prints, as the last
line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end metrics of BENCHMARK.json; with ``--trace 1`` they are
its per-layer metrics, measured in a separate traced run. Lines before
it (prefixed ``#``) name every metric with its unit, the output-check
results and the run's stamp (git sha, code fingerprint, cores, pyspark
version, seed, load average, plan fingerprints). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import CACHE, ROOT, Run, prepare_env  # noqa: E402

WORKLOADS = ("replay_increments", "query_mix")


def code_fingerprint() -> str:
    """sha256 over the engine's Python sources (the checkout a run
    happens in need not be a git repository)."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(os.path.join(ROOT, "kaflow_spark")):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat: the steal
    share of a run tells host contention apart from the program's own
    variation."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


# -- per-layer metrics every workload reports -----------------------------

PER_LAYER = (
    ("session.start_s", "s"), ("session.python_warm_s", "s"), ("catalog.load_s", "s"),
    ("sources.rows_read_per_record", "count"), ("sources.scan_s", "s"),
    ("sources.segment_scan_s", "s"),
    ("serde.decode_s", "s"), ("serde.encode_s", "s"),
    ("app.record_handler_s", "s"), ("app.batch_handler_s", "s"), ("app.transform_s", "s"),
    ("stream.add_batch_s", "s"), ("stream.query_planning_s", "s"),
    ("stream.wal_commit_s", "s"), ("stream.commit_offsets_s", "s"),
    ("stream.latest_offset_s", "s"), ("stream.start_stop_s", "s"),
    ("sink.write_s", "s"), ("sink.bytes_per_record", "B"), ("jvm.peak_rss_mb", "MiB"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"), ("queries.exec_s", "s"),
) + tuple(
    (f"spark.{k}.{kind}", unit)
    for kind in ("heavy", "floor")
    for k, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("core_busy_share", "ratio"), ("task_run_s", "s"),
        ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"),
        ("spill_bytes", "B"), ("broadcast_bytes", "B"),
    )
) + (
    ("cache.persisted_rdds", "count"),
    ("trace.op_p50_s", "s"), ("trace.overhead_op_p50_s", "s"),
)

END_TO_END = (("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"))


def finish_layers(run: Run) -> None:
    """Session spans, then zero for every layer this workload does not
    exercise (a query workload starts no streaming batch, and so on)."""
    run.metric("session.start_s", run.tracer.total("session.start"), "s")
    run.metric("session.python_warm_s", run.tracer.total("session.python_warm"), "s")
    run.metric("catalog.load_s", run.tracer.total("catalog.load"), "s")
    for name, unit in PER_LAYER:
        run.metrics.setdefault(name, (0.0, unit))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="kaflow_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    prepare_env()
    if args.workload == "replay_increments":
        from perfbench.replay import workload
    else:
        from perfbench.querymix import workload
    load_before = os.getloadavg()
    steal_before, total_before = cpu_jiffies()
    run = Run(args)
    try:
        workload(run)
    finally:
        if run.session is not None:
            run.session.stop()
        shutil.rmtree(run.work, ignore_errors=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    if args.trace:
        finish_layers(run)
        run.tracer.dump(os.path.join(CACHE, "results", f"spans-{tag}.jsonl"))
    wanted = PER_LAYER if args.trace else END_TO_END
    metrics = {n: {"value": run.metrics[n][0], "unit": run.metrics[n][1]} for n, _u in wanted}
    import pyspark

    steal, total = (a - b for a, b in zip(cpu_jiffies(), (steal_before, total_before)))
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_sha": git_sha(), "code_sha256": code_fingerprint(),
        "nproc": os.cpu_count(), "master": run.session.master,
        "task_slots": run.session.cores, "driver_memory": run.session.driver_memory,
        "pyspark": pyspark.__version__,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "cpu_steal_share": round(steal / total, 4) if total else None,
        "failed_share": run.failed / run.attempted if run.attempted else None,
        "failures": run.failures[:20], **run.extra,
    }
    for name, m in metrics.items():
        print(f"# {args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"# {args.workload} failed_share = {stamp['failed_share']} "
          f"({run.failed}/{run.attempted} operations)")
    for f in run.failures[:20]:
        print(f"# check failed: {f}")
    print("# stamp " + json.dumps(stamp, sort_keys=True))
    with open(os.path.join(CACHE, "results", f"{tag}.json"), "w") as f:
        json.dump({"metrics": metrics, "stamp": stamp}, f, indent=1, sort_keys=True)
    print(json.dumps({
        "correct": run.failed == 0 and not run.failures and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

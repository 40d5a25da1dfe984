"""Run-wide pieces shared by the workloads: where files go, the Spark
session of a run, and the bookkeeping of outcomes and metrics."""

from __future__ import annotations

import os
import subprocess
import time

from perfbench.checks import Tally
from perfbench.trace import Tracer, jvm_peak_rss_mb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# every file a run reads or writes lives here (ignored by git)
CACHE = os.path.join(ROOT, ".perfbench_cache")


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env() -> None:
    """Keep every file the engine writes inside the checkout, and let
    Python workers import the engine and the benchmark."""
    import tempfile

    for sub in ("tmp", "spark-local", "work", "results", "inputs"):
        os.makedirs(os.path.join(CACHE, sub), exist_ok=True)
    tmp = os.path.join(CACHE, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


class Session:
    """The Spark session of one run and the JVM behind it, at the
    engine's own posture (``get_spark``'s default master and driver
    memory); only file locations and the UI are overridden."""

    def __init__(self, tracer: Tracer) -> None:
        from kaflow_spark.session import get_spark, warm_python_workers

        conf = {
            "spark.ui.enabled": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(CACHE, "tmp", "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(CACHE, "tmp"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        }
        with tracer.span("session.start"):
            self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.master = self.spark.sparkContext.master
        self.cores = self.spark.sparkContext.defaultParallelism
        self.driver_memory = self.spark.sparkContext.getConf().get("spark.driver.memory")
        self.proc = self.spark.sparkContext._gateway.proc
        with tracer.span("session.python_warm"):
            warm_python_workers(self.spark)

    def peak_rss_mb(self) -> float:
        return jvm_peak_rss_mb(self.proc.pid)

    def stop(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.proc.stdin is not None:
            self.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=30)


class Run(Tally):
    """One benchmark run: arguments, tracer, outcomes, metrics, and the
    extra facts printed in the stamp."""

    def __init__(self, args) -> None:
        super().__init__()
        self.args = args
        self.tracer = Tracer(bool(args.trace))
        self.metrics: dict[str, tuple[float, str]] = {}
        self.extra: dict[str, object] = {}
        self.gen_s = 0.0
        self.setup_s = 0.0
        self.session: Session | None = None
        self.work = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
        os.makedirs(self.work)

    def start_session(self) -> Session:
        """Start this run's Spark session; ``main`` stops it."""
        self.session = Session(self.tracer)
        return self.session

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def inputs(self, kind: str, size, build):
        """Cached input directory for (kind, seed, size); the time spent
        generating it is excluded from ``setup_s``."""
        from perfbench import gen

        t0 = time.perf_counter()
        d, meta = gen.cached(os.path.join(CACHE, "inputs"), kind, self.args.seed, size, build)
        self.gen_s += time.perf_counter() - t0
        return d, meta

    def setup_done(self) -> None:
        """Call right before the first timed operation."""
        self.setup_s = process_age() - self.gen_s

    def latency_metrics(self, cold: float, warm: float, samples: list[float], sess: Session) -> None:
        """The end-to-end metrics every workload reports, plus the
        distribution of single operations for the stamp."""
        from perfbench import stats

        self.metric("setup_s", self.setup_s, "s")
        self.metric("cold_s", cold, "s")
        self.metric("warm_s", warm, "s")
        value, pct, n = stats.tail(samples)
        self.extra["op_p50_s"] = round(stats.median(samples), 4)
        self.extra["op_tail"] = {"value_s": round(value, 4), "percentile": round(pct, 1), "samples": n}
        self.extra["peak_rss_mb"] = round(sess.peak_rss_mb(), 1)

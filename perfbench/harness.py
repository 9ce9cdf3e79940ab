"""Run context shared by the workloads: work directory, Spark session
set-up (timed, repeated), environment record, spans and shutdown."""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of ``xs``; 0 when empty."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


class Spans:
    """In-memory span log: (id, name, parent, start, end) in epoch seconds."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        sid = len(self.items)
        self.items.append({"id": sid, "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        start = time.time()
        sid = self.add(name, start, start, parent, **attrs)
        try:
            yield sid
        finally:
            if sid >= 0:
                self.items[sid]["end"] = time.time()


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    tiny: bool = False
    workdir: str = ""
    spans: Spans = field(default_factory=lambda: Spans(False))
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    spark: object = None

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what[:300])

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)


def prepare_process(workdir: str) -> None:
    """Point every scratch location of Spark, Python and the JVM into
    ``workdir`` and make Python workers import the engine package
    whatever directory the benchmark is launched from."""
    os.makedirs(workdir, exist_ok=True)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # No hsperfdata files in /tmp from the launcher or driver JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    tempfile.tempdir = tmp


def start_session(ctx: Context, master: str | None = None):
    """``session.get_spark`` with the benchmark's scratch locations."""
    from kafkastreamer_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{ctx.workload}",
        master=master,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": ctx.path("spark-local"),
            "spark.sql.warehouse.dir": ctx.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    return spark


SETUPS = 3


def timed_setups(ctx: Context, stage, warm) -> dict[str, float]:
    """Set up ``SETUPS`` times: stage the inputs, start a session with
    ``session.get_spark`` and warm it. Every set-up but the last stops
    its session again, so the last one is what the workload runs on.
    Returns the median set-up time and its parts; the first set-up
    alone also launches the JVM, reported as ``session.start_s``."""
    totals, starts, warms, stages = [], [], [], []
    for i in range(SETUPS):
        with ctx.spans.span("setup", 0, attempt=i):
            t0 = time.perf_counter()
            stage()
            t1 = time.perf_counter()
            spark = start_session(ctx)
            t2 = time.perf_counter()
            warm(spark)
            t3 = time.perf_counter()
        totals.append(t3 - t0)
        stages.append(t1 - t0)
        starts.append(t2 - t1)
        warms.append(t3 - t2)
        if i < SETUPS - 1:
            spark.stop()
    return {
        "setup_s": median(totals),
        "session.start_s": starts[0],
        "session.restart_s": median(starts[1:]),
        "session.warmup_s": median(warms),
        "setup.stage_s": median(stages),
    }


def _canary_s() -> float:
    """Fixed single-core CPU loop (the ``scripts/box_canary.py`` kernel
    at a tenth of its length): larger means a slower or busier box."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i ^ (i >> 3)
    return time.perf_counter() - t0


def environment() -> dict:
    import pyspark

    load = [round(x, 2) for x in os.getloadavg()]
    ncpu = os.cpu_count() or 1
    affinity = len(os.sched_getaffinity(0))
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    env = {
        "loadavg_at_start": load,
        "nproc": ncpu,
        "affinity_cpus": affinity,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": commit,
        "canary_s": round(_canary_s(), 4),
    }
    # A box already busy when the run starts inflates every number;
    # flag it instead of reporting it as a clean measurement.
    env["loaded_box"] = load[0] > affinity
    return env


def stop_spark(ctx: Context) -> None:
    """Stop the session and the JVM the process launched, and wait for it."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - best effort; the wait below is what matters
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, default=str)

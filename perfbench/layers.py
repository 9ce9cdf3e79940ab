"""Layer readers for traced runs, all through public Spark surfaces:
the query-execution listener (Catalyst phase times of each write),
the application status store (jobs, stages, executor metrics) and the
block manager's cached-RDD list."""

from __future__ import annotations

PHASES = ("analysis", "optimization", "planning")


def phases_ms(jqe) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded by a JVM QueryExecution."""
    ph = jqe.tracker().phases()
    return {k: float(ph.get(k).get().durationMs()) if ph.contains(k) else 0.0 for k in PHASES}


class CatalystListener:
    """``QueryExecutionListener`` that keeps the phase times of every
    successful command; ``last()`` returns those of the newest one."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self.phases: list[dict[str, float]] = []
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        self.phases.append(phases_ms(qe))

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        self.phases.append(phases_ms(qe))

    def last(self) -> dict[str, float]:
        drain(self.sc)
        return self.phases[-1] if self.phases else dict.fromkeys(PHASES, 0.0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def drain(sc) -> None:
    """Wait until the listener bus has delivered every posted event, so
    the status store and the listeners above are up to date."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


EXEC_KEYS = (
    "jobs", "stages", "skipped_stages", "tasks", "failed_tasks", "run_s", "cpu_s",
    "gc_s", "offcpu_s", "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s", "spill_mb",
    "active_s",
)
MB = 1024.0 * 1024.0


def exec_metrics(sc, groups: list[str]) -> dict[str, float]:
    """Scheduler and executor totals of every job in ``groups``, read
    from the application status store. ``active_s`` is the union of the
    jobs' submit→complete intervals."""
    drain(sc)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(EXEC_KEYS, 0.0)
    intervals = []
    stage_ids: set[int] = set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime(), comp.get().getTime()))
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - evicted from the store
            continue
        out["stages"] += 1
        if sd.status().toString() == "SKIPPED":
            out["skipped_stages"] += 1
            continue
        out["tasks"] += sd.numCompleteTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["run_s"] += sd.executorRunTime() / 1e3
        out["cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
        out["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
    # Executor time neither on CPU nor in GC: Python workers and I/O waits.
    out["offcpu_s"] = out["run_s"] - out["cpu_s"] - out["gc_s"]
    out["active_s"] = _union_ms(intervals) / 1e3
    return out


def cpu_util(ex: dict[str, float], slots: int) -> float:
    """Executor CPU time over the task slots' time while jobs were active."""
    return ex["cpu_s"] / (ex["active_s"] * slots) if ex["active_s"] > 0 else 0.0


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return float(total)


def cached_mb(spark) -> float:
    """Memory + disk bytes of every persisted RDD right now."""
    it = spark._jsparkSession.sparkContext().statusStore().rddList(False).iterator()
    used = 0
    while it.hasNext():
        r = it.next()
        used += r.memoryUsed() + r.diskUsed()
    return used / MB

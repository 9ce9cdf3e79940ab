"""Profile registry queries layer by layer, in-process.

Usage: SPARK_GRAFT_SF_DIR=<sf dir> python scripts/query_profile.py [-r RUNS] QUERY [QUERY ...]

Each query runs RUNS times (default 7, the cold run included) after
bench.py's warm-up and with its per-run isolation, each run in its own
job group ``QUERY#RUN``. ``steady`` is the median of the warm runs: at
sf0.1 warm times keep falling for 5-6 runs in one process, so the min
of two warm runs reads wherever that descent happened to be, while the
median of six sits in its later, flatter part and ignores one outlier
either way.

For the last run it prints the Catalyst phases of the write, the
executor totals of its job group with CPU use over the task slots, the
cached MiB the run left, its stages by executor run time (these add up
to the totals' ``run_s``) and the plan-node metrics of its SQL
executions. Everything is read from the status stores in-process; the
web UI stays off. The last line is every query's record as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.protocol import Py4JJavaError  # noqa: E402

from bench import timed_run, warm_up  # noqa: E402
from kafkastreamer_spark.registry import REGISTRY, _ensure_loaded  # noqa: E402
from kafkastreamer_spark.session import get_spark  # noqa: E402
from perfbench.layers import MB, CatalystListener, cached_mb, cpu_util, exec_metrics  # noqa: E402


def record(spark, listener: CatalystListener, name: str, runs: int, sf_dir: str) -> dict:
    """Run registry query ``name`` ``runs`` times; return its times and
    the layers of the last run. ``listener`` is registered on ``spark``."""
    sc = spark.sparkContext
    times = []
    for run in range(runs):
        group = f"{name}#{run}"
        sc.setJobGroup(group, name)
        times.append(timed_run(spark, REGISTRY[name].fn, sf_dir))
    ex = exec_metrics(sc, [group])
    return {
        "steady": round(statistics.median(times[1:]), 3),
        "cold": times[0],
        "warm": times[1:],
        "group": group,
        "phases": listener.last(),
        "exec": ex,
        "cpu_util": cpu_util(ex, sc.defaultParallelism),
        "cached_mb": cached_mb(spark),
        "stages": stage_rows(sc, group),
        "sql": sql_rows(spark, group),
    }


def stage_rows(sc, group: str) -> list[dict]:
    """The stages ``exec_metrics`` sums for ``group``, slowest first,
    each with the name of the first job that lists it; sizes in MiB."""
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    job_of: dict[int, str] = {}
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(jid)
        if info is None:  # evicted from the tracker
            continue
        job = store.job(jid).name()
        for sid in info.stageIds:
            job_of.setdefault(sid, job)
    rows = []
    for sid, job in job_of.items():
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        rows.append({
            "stage": sid,
            "run_ms": sd.executorRunTime(),
            "cpu_ms": sd.executorCpuTime() // 1_000_000,
            "tasks": sd.numCompleteTasks(),
            "shuffle_read_mb": _mib(sd.shuffleReadBytes()),
            "shuffle_write_mb": _mib(sd.shuffleWriteBytes()),
            "mem_spill_mb": _mib(sd.memoryBytesSpilled()),
            "disk_spill_mb": _mib(sd.diskBytesSpilled()),
            "peak_exec_mem_mb": _mib(sd.peakExecutionMemory()),
            "name": sd.name(),
            "job": job,
        })
    return sorted(rows, key=lambda r: -r["run_ms"])


def sql_rows(spark, group: str) -> list[dict]:
    """Plan-node metrics of the SQL executions whose jobs ran in
    ``group``. A metric of several tasks reads "total (min, med, max
    (stage: task))"; metrics whose total is zero are left out."""
    jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for execution in _scala(store.executionsList()):
        ex_jobs = sorted(_scala(execution.jobs().keys()))
        if not jobs.intersection(ex_jobs):
            continue
        eid = execution.executionId()
        values = store.executionMetrics(eid)
        nodes = []
        for node in _scala(store.planGraph(eid).allNodes()):
            metrics = {}
            for m in _scala(node.metrics()):
                v = values.get(m.accumulatorId())
                total = v.get().splitlines()[-1] if v.isDefined() else "0"
                if total.split(" ", 1)[0].strip("0.,"):
                    metrics[m.name()] = total
            nodes.append({"node": node.name(), "metrics": metrics})
        out.append({"execution": eid, "jobs": ex_jobs, "nodes": nodes})
    return out


def _mib(n: int) -> float:
    return round(n / MB, 2)


def _scala(collection):
    it = collection.iterator()
    while it.hasNext():
        yield it.next()


def report(name: str, rec: dict) -> None:
    print(f"\n== {name}: steady={rec['steady']} cold={rec['cold']} warm={rec['warm']}")
    print(f"catalyst ms ({rec['group']}): "
          + " ".join(f"{k}={v:.0f}" for k, v in rec["phases"].items()))
    print("exec: " + " ".join(f"{k}={round(v, 3):g}" for k, v in rec["exec"].items())
          + f" cpu_util={rec['cpu_util']:.2f} cached_mb={rec['cached_mb']:.1f}")
    print(f"{'stage':>5} {'run_ms':>7} {'cpu_ms':>7} {'tasks':>5} {'rd_MiB':>7} {'wr_MiB':>7} "
          f"{'spill':>6} {'peak':>6}  stage | job")
    for s in rec["stages"]:
        spill = s["mem_spill_mb"] + s["disk_spill_mb"]
        print(f"{s['stage']:>5} {s['run_ms']:>7} {s['cpu_ms']:>7} {s['tasks']:>5} "
              f"{s['shuffle_read_mb']:>7.1f} {s['shuffle_write_mb']:>7.1f} {spill:>6.1f} "
              f"{s['peak_exec_mem_mb']:>6.1f}  {s['name'][:40]} | {s['job'][:40]}")
    for e in rec["sql"]:
        print(f"-- SQL execution {e['execution']}, jobs {e['jobs']}")
        for n in e["nodes"]:
            if n["metrics"]:
                print(f"   {n['node'][:32]:32} "
                      + "; ".join(f"{k}={v}" for k, v in n["metrics"].items()))


def profile_queries(spark, names: list[str], runs: int, sf_dir: str) -> None:
    """Record and report each query in turn, then print every record
    as one JSON line."""
    listener = CatalystListener(spark)
    out = {}
    for name in names:
        out[name] = record(spark, listener, name, runs, sf_dir)
        report(name, out[name])
    print(json.dumps(out))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("-r", dest="runs", type=int, default=7, help="runs per query, cold included")
    p.add_argument("queries", nargs="+", metavar="QUERY", help="registry query name")
    args = p.parse_args()
    if args.runs < 2:
        p.error("-r counts the cold run and must be at least 2")
    _ensure_loaded()
    unknown = [q for q in args.queries if q not in REGISTRY]
    if unknown:
        p.error(f"not in the registry: {' '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)
    profile_queries(spark, args.queries, args.runs, sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()

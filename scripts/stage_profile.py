"""Per-stage profile of one registry query: run it steady-state with
the Spark UI enabled, then print each stage of the timed run sorted by
executor run time (with shuffle read/write bytes, spill, task count)
from the REST API — the empirical loop of the optimization guide §1.

Usage: python scripts/stage_profile.py QUERY [sf_dir] [runs]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafkastreamer_spark.registry import REGISTRY, _ensure_loaded  # noqa: E402
from kafkastreamer_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    _ensure_loaded()
    spark = get_spark(
        app_name=f"profile-{name}", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    fn = REGISTRY[name].fn

    # warm runs (codegen/JIT), then the timed run
    for _ in range(runs - 1):
        spark.catalog.clearCache()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    tracker = spark.sparkContext.statusTracker()
    before_ids = set(tracker.getJobIdsForGroup() or [])
    # stage ids are monotonically increasing: remember the watermark
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def stages():
        url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        with urllib.request.urlopen(url) as r:
            return json.load(r)

    max_before = max((s["stageId"] for s in stages()), default=-1)
    spark.sparkContext.setJobDescription(f"profile:{name}")
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0

    rows = [s for s in stages() if s["stageId"] > max_before]
    rows.sort(key=lambda s: -s["executorRunTime"])
    print(f"\n== {name}: wall {wall:.3f}s, {len(rows)} stages in timed run")
    print(
        f"{'stage':>5} {'runtime_ms':>10} {'cpu_ms':>9} {'tasks':>5} "
        f"{'in_MB':>7} {'sh_read':>8} {'sh_write':>8} {'spill':>6}  name"
    )
    for s in rows:
        print(
            f"{s['stageId']:>5} {s['executorRunTime']:>10} "
            f"{s['executorCpuTime'] // 1_000_000:>9} {s['numCompleteTasks']:>5} "
            f"{s['inputBytes'] / 1e6:>7.1f} {s['shuffleReadBytes'] / 1e6:>7.1f}M "
            f"{s['shuffleWriteBytes'] / 1e6:>7.1f}M "
            f"{s['memoryBytesSpilled'] / 1e6:>5.0f}M  {s['name'][:60]}"
        )
    total_rt = sum(s["executorRunTime"] for s in rows)
    print(f"total executorRunTime {total_rt} ms across 32 slots "
          f"(~{total_rt / 32 / 1000:.2f}s ideal wall)")

    # Map stages back to jobs so "CompletableFuture" stages get a name.
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/jobs"
    ) as r:
        jobs = json.load(r)
    sid2job = {}
    for j in jobs:
        for sid in j["stageIds"]:
            sid2job.setdefault(sid, f"job {j['jobId']}: {j['name'][:70]}")
    print("\n== stage -> job map (top 12 stages)")
    for s in rows[:12]:
        print(f"  stage {s['stageId']:>4} -> {sid2job.get(s['stageId'], '?')}")
    spark.stop()


if __name__ == "__main__":
    main()

"""Time specific registry queries with the bench.py methodology
(noop sink, clearCache + driver GC between runs) and report the
median of the warm runs as ``steady``.

Usage: python scripts/mini_bench.py [-r RUNS] QUERY [QUERY ...]

RUNS (default 7) counts the cold run too. One or two warm runs are
not a steady state: at sf0.1 warm times keep falling for 5-6 runs
in one process, so the min of two warm runs reads wherever that
descent happened to be, and two fresh processes of one tree differed
by up to 0.4 s on a 2 s query. The median of six warm runs sits in
the later, flatter part of that descent and ignores one outlier
either way.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafkastreamer_spark.registry import REGISTRY, _ensure_loaded  # noqa: E402
from kafkastreamer_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    runs = 7
    if args and args[0] == "-r":
        runs = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _ensure_loaded()
    spark = get_spark(app_name="mini-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # same warm-up as bench.py
    REGISTRY["q1_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    from kafkastreamer_spark.tables import load_table  # noqa: PLC0415

    for _t in ("documents", "embeddings", "events"):
        load_table(spark, sf_dir, _t).write.format("noop").mode("overwrite").save()

    out = {}
    for name in args:
        fn = REGISTRY[name].fn
        warm = []
        for run in range(runs):
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            if run > 0:
                warm.append(dt)
            else:
                cold = dt
        steady = round(statistics.median(warm), 3)
        out[name] = {"steady": steady, "cold": cold, "warm": warm}
        print(f"{name}: steady={steady} cold={cold} warm={warm}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

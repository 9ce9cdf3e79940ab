"""Per-operator profile of one registry query via the SQL-tab REST
API: run steady-state with the UI on, then print the final executed
plan's node metrics (rows, time) for the LAST SQL execution.

Usage: python scripts/sql_profile.py QUERY [sf_dir] [runs]
"""

from __future__ import annotations

import json
import os
import sys
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
        app_name=f"sqlprofile-{name}", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    fn = REGISTRY[name].fn
    for _ in range(runs):
        spark.catalog.clearCache()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/sql?details=true&length=1000"
    ) as r:
        sqls = json.load(r)
    # Every execution of the last run (iterative queries run several).
    n_per_run = max(1, (len(sqls)) // runs)
    last = sorted(sqls, key=lambda s: s["id"])[-n_per_run:]
    for ex in last:
        print(f"\n== SQL exec {ex['id']}: {ex['duration']} ms  "
              f"{ex['description'][:60]}")
        nodes = ex.get("nodes", [])
        scored = []
        for nd in nodes:
            mx = 0
            info = []
            for m in nd.get("metrics", []):
                v = m.get("value", "")
                if m["name"] in (
                    "time in aggregation build",
                    "shuffle write time",
                    "time to build hash map",
                    "sort time",
                    "op time",
                    "duration",
                    "scan time",
                    "task commit time",
                ):
                    # values like "1.2 s" / "345 ms" / "total (min, med, max...)"
                    info.append(f"{m['name']}={v}")
                    import re

                    tm = re.search(r"([\d.]+)\s*(ms|s|m(?!s))", v)
                    if tm:
                        x = float(tm.group(1))
                        unit = tm.group(2)
                        ms = x * (1000 if unit == "s" else 60000 if unit == "m" else 1)
                        mx = max(mx, ms)
                if m["name"] in ("number of output rows",):
                    info.append(f"rows={v}")
            scored.append((mx, nd["nodeName"], "; ".join(info)))
        scored.sort(key=lambda t: -t[0])
        for mx, nm, info in scored[:14]:
            print(f"  {mx:>9.0f}ms-max {nm[:38]:38s} {info[:110]}")
    spark.stop()


if __name__ == "__main__":
    main()

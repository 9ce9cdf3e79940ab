"""Measure an analytics twin's full drain wall at a given state
partition count (VERDICT r12 #5: apply the burn-rate state-partition
sizing lesson to the other bounded-key-domain twins).

Protocol = the THROUGHPUT.md round-10/11/12 rows: sf0.1 events fed as
4 time-ordered parquet chunks, `availableNow`, parquet sink, wall
clock over the full drain on get_spark's engine session
(local[$SPARK_GRAFT_CPUS], 32 if unset). The state-store partition
count is pinned by `spark.sql.shuffle.partitions` at FIRST query
start, so each (twin, partitions) cell must run in a FRESH process —
this script executes exactly one cell and prints one JSON line.

Usage: python scripts/twin_state_sizing.py {wau|median} <partitions>
       [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kafkastreamer_spark.session import get_spark  # noqa: E402
from kafkastreamer_spark.streaming.sketches import (  # noqa: E402
    rolling_median_stateful,
    sliding_distinct_pairs,
)
from kafkastreamer_spark.streaming.sources import file_source  # noqa: E402
from kafkastreamer_spark.tables import load_table  # noqa: E402

N_CHUNKS = 4


def main() -> None:
    twin = sys.argv[1]
    parts = int(sys.argv[2])
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    spark = get_spark(app_name=f"twin-sizing-{twin}-{parts}", shuffle_partitions=parts)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix=f"twin_sizing_{twin}_")
    inp = os.path.join(work, "in")
    try:
        if twin == "wau":
            ev = load_table(spark, sf_dir, "events")
            n_rows = ev.count()
            ids = ev.approxQuantile(
                "event_id", [i / N_CHUNKS for i in range(1, N_CHUNKS)], 0.0
            )
            bounds = [float("-inf")] + ids + [float("inf")]
            for lo, hi in zip(bounds, bounds[1:]):
                ev.filter(
                    (F.col("event_id") > lo) & (F.col("event_id") <= hi)
                ).orderBy("ts", "event_id").coalesce(1).write.mode(
                    "append"
                ).parquet(inp)
            stream = file_source(
                spark, inp, ev.schema, max_files_per_trigger=1
            )
            out_df = sliding_distinct_pairs(stream, "user_id", "ts")
        elif twin == "median":
            daily = (
                load_table(spark, sf_dir, "events")
                .groupBy(
                    "event_type",
                    F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
                )
                .agg(F.count(F.lit(1)).cast("long").alias("x"))
            )
            n_rows = daily.count()
            days = sorted(r[0] for r in daily.select("day").distinct().collect())
            cuts = [days[(i * len(days)) // N_CHUNKS] for i in range(1, N_CHUNKS)]
            bounds = [""] + cuts + ["￿"]
            for lo, hi in zip(bounds, bounds[1:]):
                daily.filter(
                    (F.col("day") >= lo) & (F.col("day") < hi)
                ).orderBy("day").coalesce(1).write.mode("append").parquet(inp)
            stream = file_source(spark, inp, daily.schema, max_files_per_trigger=1)
            out_df = rolling_median_stateful(stream)
        else:
            raise SystemExit(f"unknown twin {twin!r}")

        out = os.path.join(work, "out")
        t0 = time.time()
        q = (
            out_df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t0
        n_out = spark.read.parquet(out).count()
        print(
            json.dumps(
                {
                    "twin": twin,
                    "state_partitions": parts,
                    "input_rows": n_rows,
                    "output_rows": n_out,
                    "wall_sec": round(wall, 2),
                    "rate_rows_per_s": round(n_rows / wall, 1),
                    "loadavg_at_start": [round(x, 2) for x in os.getloadavg()],
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

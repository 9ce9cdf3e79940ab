"""Simulate the verification driver: plain SparkSession (none of the
engine's confs), call __spark_entry__.entry / queries / oracle_sql,
compare every oracle-checked query against DuckDB at sf0.01 with
order-insensitive exact value comparison.

Usage: python scripts/driver_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402
from kafkastreamer_spark.tables import TABLES  # noqa: E402
from perfbench.layers import cached_mb  # noqa: E402
from perfbench.verify import multiset  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def main() -> int:
    # Driver-style session: deliberately NOT using engine get_spark().
    builder = (
        SparkSession.builder.master("local[8]")
        # A full-registry sweep holds ~350 queries' residue in one
        # driver JVM; the 1g default heap eventually fails a broadcast
        # build late in the sf0.1 sweep even with per-query cache
        # clearing and forced GC. The graded driver samples ~50
        # queries and is unaffected; this only sizes the sweep tool.
        .config(
            "spark.driver.memory",
            os.environ.get("DRIVER_SIM_DRIVER_MEM", "6g"),
        )
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
    )
    # Partition-invariance sweeps: every oracle must hash identically
    # at ANY shuffle-partition count (fixed-point aggregation rule).

    parts = os.environ.get("DRIVER_SIM_SHUFFLE_PARTITIONS")
    if parts:
        builder = builder.config("spark.sql.shuffle.partitions", parts)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    print("== smoke: entry(spark)")
    t0 = time.time()
    rows = entrymod.entry(spark).collect()
    print(f"   entry -> {len(rows)} rows in {time.time()-t0:.1f}s; first: {rows[0]}")
    assert len(rows) > 0

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    print(f"== {len(qs)} queries, {len(oracles)} oracle-checked")
    failures = []
    n_done = 0
    peak_mb, peak_name = 0.0, ""
    for name, fn in sorted(qs.items()):
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            cols = list(df.columns)
            rows = [tuple(r) for r in df.collect()]
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"   {name}: SPARK ERROR {exc}")
            spark.catalog.clearCache()
            continue
        # Persisted DataFrames leak across queries in a 300+-query
        # single-session sweep (each query's caches are never
        # unpersisted by the query function — its returned plan may
        # still reference them; unpersist-at-return is impossible by
        # construction since the DataFrame is lazy and the caller
        # collects it AFTER the function exits); without this, driver
        # heap pressure eventually kills an unrelated broadcast build
        # mid-sweep (observed at ~260 queries at sf0.1).
        # Sample cached bytes BEFORE the clear, so the end-of-run line
        # reports the worst single-query cache footprint the sweep held.
        try:
            used = cached_mb(spark)
            if used > peak_mb:
                peak_mb, peak_name = used, name
        except Exception:  # noqa: BLE001 - telemetry only
            pass
        spark.catalog.clearCache()
        # Broadcast relations are only reclaimed by the ContextCleaner
        # after BOTH the py4j proxies are collected Python-side AND a
        # JVM GC runs; the default periodic GC (30 min) is slower than
        # the whole sweep, so force the cycle every 25 queries
        # (observed: without it, broadcast builds start failing with
        # driver OOM ~350 queries into an sf0.1 sweep).
        n_done += 1
        if n_done % 25 == 0:
            import gc

            gc.collect()
            spark._jvm.System.gc()
        if name not in oracles:
            print(f"   {name}: rows-only, {len(rows)} rows in {time.time()-t0:.1f}s")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"   {name}: ORACLE ERROR {exc}")
            continue
        ok_cols = sorted(cols) == sorted(dcols)
        ok_rows = len(rows) == len(drows)
        ok_vals = ok_cols and ok_rows and multiset(cols, rows) == multiset(dcols, drows)
        status = "OK" if (ok_cols and ok_rows and ok_vals) else "MISMATCH"
        if status != "OK":
            failures.append(name)
        print(
            f"   {name}: {status} ({len(rows)} rows, {time.time()-t0:.1f}s)"
            + ("" if ok_cols else f" cols spark={sorted(cols)} duck={sorted(dcols)}")
            + ("" if ok_rows else f" rowcount spark={len(rows)} duck={len(drows)}")
        )
        if not ok_vals and ok_cols and ok_rows:
            s, d = multiset(cols, rows), multiset(dcols, drows)
            diffs = [(a, b) for a, b in zip(s, d) if a != b][:3]
            print(f"      first diffs: {diffs}")
    print(
        f"== peak per-query cache: {peak_mb:.1f} MiB (during {peak_name!r})"
    )
    print(f"== done: {len(failures)} failures {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Regression pin for the cached-plan-AQE conf: with
spark.sql.optimizer.canChangeCachedPlanOutputPartitioning left at its
default (false), every persisted subtree compiles WITHOUT AQE, so
each shuffle under a .persist() runs at the raw
spark.sql.shuffle.partitions (200 empty-ish tasks per stage in a
default-conf driver session) and pins every downstream join to that
width — measured 3-5x wall inflation on the iterative graph kernels
under the driver's plain session (docs/PLAN_AUDIT.md).

The conf lives in ENGINE_CONF. The verification driver builds its own
SparkSession without it, so the entry adapters
(``__spark_entry__.queries()``) and ``sql.run_sql`` must apply it,
and the nanos-as-long parquet reader, through ``ensure_engine_conf``
before each query is built.
"""

from __future__ import annotations

import __spark_entry__ as entrymod
from kafkastreamer_spark.session import ENGINE_CONF
from kafkastreamer_spark.sql import run_sql

CONF = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def test_engine_conf_carries_the_flag():
    assert ENGINE_CONF.get(CONF) == "true"


def test_load_table_sets_the_flag_on_a_plain_session(spark, sf_dir):
    # simulate a driver-built session state: flip both confs off, then
    # verify each entry surface restores them before any load_table
    # plan is built. load_table itself sets no conf; the entry adapters
    # and run_sql do, through ensure_engine_conf.
    q1 = entrymod.queries()["q1_pricing_summary"]
    surfaces = (
        lambda: q1(spark, sf_dir),
        lambda: run_sql(spark, sf_dir, "SELECT count(*) FROM events"),
    )
    try:
        for build in surfaces:
            spark.conf.set(CONF, "false")
            spark.conf.set(NANOS, "false")
            build()
            assert spark.conf.get(CONF) == ENGINE_CONF[CONF]
            assert spark.conf.get(NANOS) == ENGINE_CONF[NANOS]
    finally:
        spark.conf.set(CONF, ENGINE_CONF[CONF])
        spark.conf.set(NANOS, ENGINE_CONF[NANOS])

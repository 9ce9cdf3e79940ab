"""_TABLE_MEMO contract: load_table memoizes the ANALYZED PLAN per
(session, sf_dir, table) — spark.read.parquet costs ~100 ms of driver
time per call and composed operators re-load the same table several
times per query build. The memo must (a) be per-sf_dir isolated, (b)
cache no data (actions still scan parquet), (c) set no conf — a hit
and a miss do the same work, because the engine confs are applied
once per query by session.ensure_engine_conf (pinned in
test_cached_plan_aqe_conf.py, and for a query built only from memo
hits by test_conf_still_set_on_memo_hit), and (d) expose the same invalidation
escape hatch as the shingle memo."""

from __future__ import annotations

import os

import __spark_entry__ as entrymod
from kafkastreamer_spark.session import ENGINE_CONF
from kafkastreamer_spark.tables import (
    _TABLE_MEMO,
    invalidate_table_memo,
    load_table,
)

SF_A = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_B = "/root/testdata/sf0.01"


def test_memo_hit_and_sf_dir_isolation(spark):
    invalidate_table_memo(spark)
    a = load_table(spark, SF_A, "region")
    b = load_table(spark, SF_B, "documents")
    assert load_table(spark, SF_A, "region") is a
    assert load_table(spark, SF_B, "documents") is b
    per_session = _TABLE_MEMO[spark]
    assert per_session[(SF_A, "region")] is a
    assert per_session[(SF_B, "documents")] is b
    # different dirs stay independent entries
    a2 = load_table(spark, SF_B, "region")
    assert a2 is not a


def test_memo_caches_plan_not_data(spark):
    # the memoized DataFrame must not be persisted: every action
    # recomputes from parquet (the no-result-caching bench contract)
    invalidate_table_memo(spark)
    df = load_table(spark, SF_A, "nation")
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    assert df.count() == 25


def test_invalidate_drops_one_dir_only(spark):
    invalidate_table_memo(spark)
    a = load_table(spark, SF_A, "region")
    b = load_table(spark, SF_B, "region")
    invalidate_table_memo(spark, SF_A)
    per_session = _TABLE_MEMO[spark]
    assert (SF_A, "region") not in per_session
    assert per_session[(SF_B, "region")] is b
    assert load_table(spark, SF_A, "region") is not a


def test_conf_still_set_on_memo_hit(spark):
    # a query whose every table is a memo hit still gets the conf: it
    # comes from the entry adapter, not from a load_table miss
    conf = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    q1 = entrymod.queries()["q1_pricing_summary"]
    q1(spark, SF_A)  # memoize the tables q1 reads
    memo = dict(_TABLE_MEMO[spark])
    spark.conf.set(conf, "false")
    try:
        q1(spark, SF_A)  # memo hits only
        assert dict(_TABLE_MEMO[spark]) == memo
        assert spark.conf.get(conf) == ENGINE_CONF[conf]
    finally:
        spark.conf.set(conf, ENGINE_CONF[conf])

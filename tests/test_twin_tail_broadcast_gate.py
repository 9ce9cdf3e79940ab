"""Broadcast-underestimate gate for the streaming twins' batch tails
(round-11 VERDICT item #4): tests/test_broadcast_audit_gate.py plans
every REGISTERED query against K-inflated fact tables, but the
stateful twins evaluate their shared batch tails inside foreachBatch
at runtime — those plans never pass the registry gate. This sibling
plans each twin tail over a K-fold union-inflated stage input (the
same size-estimate-scaling trick as the main gate: plan-time
estimates sum across union branches, so directionally-correct
estimates cross autoBroadcastJoinThreshold on their own while the
width-ratio-underestimate class keeps broadcasting at ANY K) and
fails on any corpus-scale broadcast build outside the classified
allowlist.

Tails covered (each is the exact function the twin's foreachBatch /
parity path calls):
- ``burn_alerts_from_buckets`` over ``bucket_error_counts`` (burn
  twin, streaming/burn_rate.py)
- ``funnel_ladder_from_latencies`` over the per-entry latency table
  (funnel twin, streaming/funnel.py)
- ``churn_from_daily`` over per-(day, user) counts (top-k churn
  twin, streaming/topk_churn.py)
- ``seed_topk_from_daily`` over (user_id, d, c) daily counts
  (incremental top-k similarity twin, streaming/ts_similarity.py)
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from kafkastreamer_spark.queries.relational17 import seed_topk_from_daily
from kafkastreamer_spark.queries.relational24 import (
    churn_from_daily,
    funnel_ladder_from_latencies,
)
from kafkastreamer_spark.queries.relational31 import (
    bucket_error_counts,
    burn_alerts_from_buckets,
)
from kafkastreamer_spark.tables import load_table

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from scripts.broadcast_audit import _flag_subtree, _subtree  # noqa: E402

K = 16

# Classified-bounded broadcasts in twin tails, same discipline as the
# registry gate: adding a tail here requires a docs/BROADCAST_AUDIT.md
# row saying WHY its flagged broadcast side is bounded. Currently
# empty: every tail plans clean — seed_topk_from_daily's explicit
# F.broadcast side aggregates on (user_id, d) and the bounded date
# key already satisfies the heuristic (verified: it does not flag),
# and its seed filter (user_id < TS_SEED_USERS, a literal constant)
# bounds it semantically besides.
ALLOWLIST: set[str] = set()


def _inflated_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = ev
    for _ in range(K - 1):
        out = out.unionByName(ev)
    return out


def _tails(spark, sf_dir):
    ev = _inflated_events(spark, sf_dir)

    buckets = bucket_error_counts(ev.select("event_type", "ts"))

    a = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.col("ts").alias("ts_a")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ts_b")
    )
    nxt = (
        a.join(b, "user_id", "left")
        .filter(F.col("ts_b").isNull() | (F.col("ts_b") > F.col("ts_a")))
        .groupBy("event_id", "ts_a")
        .agg(F.min("ts_b").alias("next_b"))
    )
    lat = nxt.select(
        "event_id",
        (F.unix_micros("next_b") - F.unix_micros("ts_a")).alias("lat_us"),
    )

    daily = ev.groupBy(F.to_date("ts").alias("day"), "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    daily_ts = ev.groupBy(
        F.col("user_id"), F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))

    return {
        "burn_alerts_from_buckets": burn_alerts_from_buckets(spark, buckets),
        "funnel_ladder_from_latencies": funnel_ladder_from_latencies(lat),
        "churn_from_daily": churn_from_daily(daily),
        "seed_topk_from_daily": seed_topk_from_daily(daily_ts),
    }


def test_twin_tails_no_unclassified_corpus_broadcasts(spark, sf_dir):
    offenders: dict[str, list[str]] = {}
    try:
        for name, df in _tails(spark, sf_dir).items():
            plan = df._jdf.queryExecution().sparkPlan().toString()
            if name in ALLOWLIST:
                continue
            lines = plan.splitlines()
            reasons = []
            for i, line in enumerate(lines):
                if "BroadcastExchange" not in line:
                    continue
                reason = _flag_subtree(_subtree(lines, i))
                if reason:
                    reasons.append(reason)
            if reasons:
                offenders[name] = reasons
    finally:
        # defensive: clear any per-tail cached relations
        spark.catalog.clearCache()
    assert not offenders, (
        "corpus-scale broadcast builds in twin batch tails outside the "
        "classified allowlist (fix with a merge hint / bounded "
        "aggregation, or classify in docs/BROADCAST_AUDIT.md + "
        f"ALLOWLIST): {offenders}"
    )

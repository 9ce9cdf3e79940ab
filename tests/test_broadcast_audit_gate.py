"""Mechanical per-round broadcast-underestimate gate (round-10
VERDICT item #2): plan EVERY registered query against k-inflated fact
tables and fail on any broadcast build side that scans a fact table
without a bounding construct, unless the (query, reason) is in the
classified allowlist from docs/BROADCAST_AUDIT.md.

Why: Catalyst's width-ratio size estimate undershoots
autoBroadcastJoinThreshold ~100-1000x once wide text/array columns
are projected away, so corpus-sized relations (band tables, posting
lists, per-doc aggregates) get planned as broadcast builds — invisible
at test scale, driver-OOM at x256, an outage at 100 TB (the round-10
x256 probe finding). scripts/broadcast_audit.py is the by-hand
discovery instrument; this test is the CI gate so a NEW corpus-scale
operator with an unbounded broadcast turns the suite red.

Method: instead of physically duplicating parquet (the script's
approach), load_table is monkeypatched to return a K-fold
unionByName of each fact table — plan-time size estimates sum across
union branches, so directionally-correct estimates scale with K and
cross the threshold into shuffle joins on their own, while the
width-ratio-underestimate class keeps broadcasting at ANY K and gets
flagged. Plans are built, never executed. Validated to reproduce the
round-10 k=64 file-inflation classification exactly (4 true positives
clean after their merge-hint fixes; the documented false-positive
classes flag and are allowlisted below).
"""

from __future__ import annotations

import os
import sys

import pytest

from kafkastreamer_spark import tables as T
from kafkastreamer_spark.operators import dedup as _dedup
from kafkastreamer_spark.registry import REGISTRY, _ensure_loaded

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from scripts.broadcast_audit import FACT_TABLES, _flag_subtree, _subtree  # noqa: E402

_ensure_loaded()

K = 16

# Classified-bounded broadcasts (docs/BROADCAST_AUDIT.md): each entry
# is a query whose flagged broadcast side is bounded by a mechanism
# the subtree heuristic can't see. Adding a query here requires a row
# in the BROADCAST_AUDIT.md table saying WHY its broadcast is bounded.
ALLOWLIST = {
    # K-bounded iterative selection pools (limit / K iterations)
    "sample_facility_location_greedy",
    "embedding_kcenter_coreset",
    # literal vec_id < 20 anchor filter
    "embedding_margin_audit",
    # per-type median/MAD via window-rank (no Aggregate node): one row
    # per event_type — bounded domain
    "events_anomaly_mad",
    # nation-level graphs: <= 25 nodes, <= 625 distinct edges; the
    # li ⋈ o broadcast is directionally-correct (orders' width ratio
    # ~6x, crosses the threshold with data size) but stays under it
    # at the union-K test scale
    "graph_label_propagation",
    "graph_modularity_regions",
    "graph_pagerank_two_iter",
    "graph_triangle_count",
    "graph_reciprocity",
    "graph_local_clustering",
    "graph_global_transitivity",
}


@pytest.fixture(scope="module")
def inflated_load_table(spark):
    """Patch every module-level load_table binding to K-fold-union
    fact tables, restoring bindings and busting the shingle memo
    (which would otherwise leak inflated plans to later tests)."""
    orig = T.load_table

    def inflated(spark, sf_dir, name):
        df = orig(spark, sf_dir, name)
        if name in FACT_TABLES:
            out = df
            for _ in range(K - 1):
                out = out.unionByName(df)
            return out
        return df

    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if (
            mod_name.startswith("kafkastreamer_spark")
            and mod is not None
            and getattr(mod, "load_table", None) is orig
        ):
            mod.load_table = inflated
            patched.append(mod_name)
    _dedup._SHINGLE_MEMO.clear()
    try:
        yield inflated
    finally:
        for mod_name in patched:
            sys.modules[mod_name].load_table = orig
        _dedup._SHINGLE_MEMO.clear()
        spark.catalog.clearCache()


def test_no_unclassified_corpus_broadcasts(spark, sf_dir, inflated_load_table):
    offenders: dict[str, list[str]] = {}
    plan_errors: dict[str, str] = {}
    for name, spec in sorted(REGISTRY.items()):
        try:
            df = spec.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().sparkPlan().toString()
        except Exception as exc:  # noqa: BLE001
            # a query that cannot even PLAN against inflated inputs is
            # its own failure mode — surface it
            plan_errors[name] = f"{type(exc).__name__}: {str(exc)[:160]}"
            continue
        finally:
            spark.catalog.clearCache()
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
    assert not plan_errors, f"queries failed to plan against inflated inputs: {plan_errors}"
    assert not offenders, (
        "corpus-scale broadcast builds outside the classified allowlist "
        "(fix with a merge hint / bounded aggregation, or classify in "
        f"docs/BROADCAST_AUDIT.md + ALLOWLIST): {offenders}"
    )

"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Queries execute to a noop sink (full pipeline runs, no driver-side
collect skew). Timings include plan+execute per query; the session is
warmed once so JVM startup isn't attributed to the first query, and
each query is reported at steady state — the MIN of its warm runs
(every run after the first), so one-time whole-stage-codegen/JIT per
distinct plan — which amortizes to zero on a real cluster — doesn't
dominate the numbers (the "methodology" field records this).

SPARK_GRAFT_BENCH_RUNS=N (default 2) sets total runs per query. The
default (one warm run, i.e. second-of-two) keeps the cost of a bench
run low; N=3+ is the de-noising mode for comparisons on a possibly
loaded box: min-of-warm-runs suppresses transient load spikes, and the
per-query [min, max] warm spread is emitted alongside so a reader can
SEE the noise instead of guessing from loadavg alone. In every mode
the per-query COLD (first-run) time is emitted too: machine load
inflates cold and warm alike, JIT only cold — so a noisy default-mode
number self-identifies without a re-run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafkastreamer_spark.registry import REGISTRY, _ensure_loaded  # noqa: E402
from kafkastreamer_spark.session import get_spark  # noqa: E402
from kafkastreamer_spark.tables import load_table  # noqa: E402

# Headline set: the flagship TPC-H-style queries plus the heaviest
# representative from each operator family (joins, windows,
# sessionization, dedup, similarity, text).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q12_priority_shipping",
    "q7_volume_shipping",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q21_sole_fault_supplier",
    "join_range_bands",
    "join_asof_prev_purchase",
    "window_running_frame",
    "events_sessionization",
    "events_type_pivot",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "similarity_topk_bruteforce",
    "similarity_ivf_probe",
    "text_quality_score",
    "text_language_id",
    "text_chunk_tokens",
    "text_distinctive_terms",
    "embedding_kmeans_assign",
    "events_retention_cohort",
    "multimodal_decode_stub",
    "pipeline_corpus_prep",
]

# Tier-2 headline set: the heaviest entries of the later families —
# graph kernels, LSH quality audit, DAG-certified corpus pipeline,
# funnel/churn analytics, semantic dedup, BM25 ranking — so the bench
# tracks what the registry actually ships. Reported under
# "queries_tier2" with its own subtotal; the tier-1 total stays a
# comparable series.
TIER2 = [
    "graph_connected_components",
    "graph_bfs_distance_histogram",
    "graph_pagerank_two_iter",
    "graph_triangle_count",
    "dedup_lsh_recall_audit",
    "dedup_semdedup_clustered",
    "pipeline_corpus_dag_cert",
    "events_funnel_window_ladder",
    "events_topk_churn",
    "text_bm25_topk",
    # the two slowest driver-scale entries, whose builders run their own
    # iterations; their comparison base is in docs/BENCH_METHODOLOGY.md
    "pipeline_training_corpus",
    "dedup_cluster_representatives",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str) -> None:
    """Pay the session's one-time costs before any query is timed: JVM
    and parquet footers (q1), the cold parquet reader and scan-path JIT
    of the non-TPC-H tables (measured 3-8 s of noise attributed to
    whichever documents query happened to run first; query-specific
    expression codegen still lands on the query that owns it), and the
    Python/Arrow worker pool (a one-time ~6 s spin-up that would
    otherwise be attributed to the first pandas-UDF query)."""
    _noop(REGISTRY["q1_pricing_summary"].fn(spark, sf_dir))
    for t in ("documents", "embeddings", "events"):
        _noop(load_table(spark, sf_dir, t))
    _noop(
        spark.range(0, 1000, 1, 32).mapInPandas(
            lambda it: (pdf for pdf in it), schema="id long"
        )
    )


def timed_run(spark, fn, sf_dir: str) -> float:
    """Seconds (3 decimals) to build ``fn``'s DataFrame and write it to
    the noop sink, from a clean slate: queries are isolated, because
    operator-internal persist() calls otherwise accumulate cached
    partitions across the run; and the driver GC nudges the
    ContextCleaner, without which shuffle files from prior queries pile
    up for the whole run and later queries degrade 3-5x (measured on
    the dedup family)."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    _noop(fn(spark, sf_dir))
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    # Loadavg BEFORE the bench generates its own load — the number
    # that actually answers "was the box idle?" (the end-of-run 1m
    # loadavg is always ~cpu_count after a 32-core Spark run).
    load_at_start = [round(x, 2) for x in os.getloadavg()]
    _ensure_loaded()
    spark = get_spark(app_name="kafkastreamer-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)

    n_runs = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    timings: dict[str, object] = {}
    timings2: dict[str, object] = {}
    spread: dict[str, list[float]] = {}
    cold: dict[str, float] = {}
    for name, sink in [(n, timings) for n in HEADLINE] + [
        (n, timings2) for n in TIER2
    ]:
        # Steady-state methodology: each query executes n_runs times
        # and the MIN of the warm runs (all but the first) is reported.
        # The first run pays one-time whole-stage-codegen + JIT
        # compilation for that plan (measured 1-6 s per distinct plan,
        # and the dominant run-to-run noise source at ±50% per query —
        # see PLANS.md "Known non-ideal spots"). On a cluster that cost
        # amortizes over minutes-long stages, so the warm number is the
        # one that predicts scale behavior; min (vs mean) additionally
        # suppresses transient box-load spikes. With the default
        # n_runs=2 the min of one warm run IS the second-of-two number,
        # so the series stays comparable. All runs do identical full
        # work: caches are cleared between them, so only JVM code-cache
        # state carries over.
        try:
            times = [timed_run(spark, REGISTRY[name].fn, sf_dir) for _ in range(n_runs)]
        except Exception as exc:  # noqa: BLE001
            # Per-query isolation: one failing query must not cost the
            # whole run its numbers.
            sink[name] = f"ERROR: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            continue
        warm = times[1:]
        sink[name] = round(min(warm), 3)
        cold[name] = times[0]
        if len(warm) > 1:
            spread[name] = [round(min(warm), 3), round(max(warm), 3)]

    total = round(sum(v for v in timings.values() if isinstance(v, float)), 3)
    total2 = round(sum(v for v in timings2.values() if isinstance(v, float)), 3)
    out = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # separate subtotal, so the tier-1 series stays comparable
        "queries_tier2": timings2,
        "tier2_total_sec": total2,
        "sf": sf,
        "methodology": (
            "steady_state_second_of_two_runs"
            if n_runs == 2
            else f"steady_state_min_of_{n_runs - 1}_warm_runs"
        ),
        "runs_per_query": n_runs,
        # Environment telemetry: a loaded driver box inflates every
        # query 1.1-2.3x; these fields let a reader tell machine load
        # from a code regression.
        "env": {
            "loadavg_at_start_1m_5m_15m": load_at_start,
            "loadavg_1m_5m_15m": [round(x, 2) for x in os.getloadavg()],
            "cpu_count": os.cpu_count(),
            "affinity_cpus": len(os.sched_getaffinity(0)),
        },
    }
    if spread:
        out["queries_warm_spread"] = spread
    # In the default 2-run mode the cold/warm pair is the noise
    # self-identifier: a loaded box inflates BOTH numbers roughly
    # equally, while normal JIT shows a large cold/warm ratio; an
    # untouched query whose warm time jumps between runs with a flat
    # cold/warm ratio is machine load, not a code regression.
    out["queries_cold_first_run"] = cold
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

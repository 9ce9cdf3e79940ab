"""Scale probe: measure how the heavy operators grow as the input
inflates x1 / x4 / x16 (documents, embeddings, events) and x1 / x2 / x4
(orders, lineitem).

The 100 TB question ("does this plan's cost grow linearly with data?")
can't be answered at one scale factor. This script materializes
inflated copies of the sf0.1 fixtures under /tmp/scale_probe/ — ids
remapped per copy, text/vectors perturbed per copy so the inflation
does NOT create exact duplicates (which would grow dedup candidate
volume quadratically and measure duplicate density, not data volume) —
and times each probed query at each inflation, steady-state (second of
two runs, caches cleared between).

Output: one JSON line per (query, k) with seconds, plus a final
summary line with the per-query growth ratio time(k_max)/time(1)
versus the ideal k_max. Ratios at or below the inflation factor mean
the operator scales no worse than linearly on this VM (32 cores, fixed
parallelism — superlinear shuffle costs would show up as ratios well
above k).

Usage: python scripts/scale_probe.py [sf_dir] (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import timed_run  # noqa: E402
from kafkastreamer_spark.registry import REGISTRY, _ensure_loaded  # noqa: E402
from kafkastreamer_spark.session import get_spark  # noqa: E402
from kafkastreamer_spark.tables import TABLES, load_table  # noqa: E402
# this script's directory heads sys.path
from query_profile import stage_rows  # noqa: E402

BASE = "/tmp/scale_probe"
# SCALE_PROBE_DISJOINT=1: make inflated document copies token-disjoint
# (constant duplicate density) instead of near-duplicates of the base.
DISJOINT = os.environ.get("SCALE_PROBE_DISJOINT", "0") == "1"
# SCALE_PROBE_REMAP_GRAPH=1: also remap l_partkey/l_suppkey per copy so
# graph probes built on the part-supplier bipartite graph see k disjoint
# graph copies (edge growth linear in k). Only for probes that never
# join the non-inflated part/supplier dims (graph_connected_components).
REMAP_GRAPH = os.environ.get("SCALE_PROBE_REMAP_GRAPH", "0") == "1"
# SCALE_PROBE_SPILL=1: print a per-stage spill/shuffle report (memory
# and disk spill, peak execution memory) of every rung's second run —
# the instrument for attributing a superlinear single-box rung to
# memory pressure vs plan pathology.
SPILL = os.environ.get("SCALE_PROBE_SPILL", "0") == "1"
# Probes verified safe under the l_partkey/l_suppkey remap: they build
# their node set from lineitem alone and never join the (non-inflated)
# part/supplier dims. Any other lineitem-scanning probe running under
# REMAP_GRAPH=1 would silently dangle its dim joins, so main() fails
# fast instead of producing a meaningless ladder reading.
REMAP_SAFE_PROBES = frozenset({"graph_connected_components"})

# query -> (tables it scans, inflation ladder)
PROBES: dict[str, tuple[tuple[str, ...], tuple[int, ...]]] = {
    "dedup_exact": (("documents",), (1, 4, 16)),
    "dedup_minhash_lsh": (("documents",), (1, 4, 16)),
    "dedup_ngram_jaccard": (("documents",), (1, 4, 16)),
    "dedup_simhash": (("documents",), (1, 4, 16)),
    "text_quality_score": (("documents",), (1, 4, 16)),
    "pipeline_corpus_prep": (("documents",), (1, 4, 16)),
    "similarity_topk_bruteforce": (("embeddings",), (1, 4, 16)),
    "similarity_ivf_probe": (("embeddings",), (1, 4, 16)),
    "embedding_kmeans_assign": (("embeddings",), (1, 4, 16)),
    "events_sessionization": (("events",), (1, 4, 16)),
    "q1_pricing_summary": (("lineitem",), (1, 2, 4)),
    "q4_order_priority": (("orders", "lineitem"), (1, 2, 4)),
    # Copy-inflated events keep their timestamps, so interval density
    # grows with k and the bucket-blocked join's candidate volume grows
    # ~k² — the designed cost model (candidates ∝ density², not rows²);
    # the probe measures it rather than hiding it.
    "join_interval_overlap": (("events",), (1, 4, 16)),
    "events_wau_sliding": (("events",), (1, 4, 16)),
    "search_hybrid_rrf": (("embeddings",), (1, 4, 16)),
    "supplier_return_rate_wilson": (("lineitem",), (1, 2, 4)),
    # Round-4 additions. Span dedup: copy inflation multiplies duplicate
    # SPAN density with k (every copy duplicates every span), so the
    # dup-occurrence join legitimately grows ~k² in copy mode — run it
    # with SCALE_PROBE_DISJOINT=1 to measure pure volume growth.
    "dedup_span_excise": (("documents",), (1, 4, 16)),
    "graph_link_prediction_jaccard": (("lineitem",), (1, 2, 4)),
    "events_top_paths": (("events",), (1, 4, 16)),
    "orders_mann_whitney_u": (("orders",), (1, 2, 4)),
    # Round-4 late additions (batches 125-137).
    "seq_pattern_gsp_support": (("events",), (1, 4, 16)),
    "split_leakage_safe": (("documents",), (1, 4, 16)),
    "orders_survival_nelson_aalen": (("orders", "lineitem"), (1, 2, 4)),
    "text_bm25_topk": (("documents",), (1, 4, 16)),
    "multimodal_video_shot_boundaries": (("documents",), (1, 4, 16)),
    "events_bootstrap_mean_ci": (("events",), (1, 4, 16)),
    "join_spatial_grid_knn": (("embeddings",), (1, 4, 16)),
    "part_substitution_affinity": (("part", "lineitem"), (1, 2, 4)),
    "supplier_borda_scorecard": (("orders", "lineitem"), (1, 2, 4)),
    # Round-4 continuation (batches 185-198).
    "text_source_vocab_jaccard": (("documents",), (1, 4, 16)),
    "lineitem_bullwhip_ratio": (("orders", "lineitem"), (1, 2, 4)),
    "graph_local_clustering": (("orders", "lineitem"), (1, 2, 4)),
    "customer_order_gap_quartiles": (("orders",), (1, 2, 4)),
    "similarity_nprobe_recall_curve": (("embeddings",), (1, 4, 16)),
    # Copy inflation multiplies docs per (source, band) block — the
    # blocking domain is fixed, so candidate pairs grow ~k² with k
    # (the join_interval_overlap phenomenon: density², not rows²).
    # Measured 12.8x wall at 16x. In production the block domain
    # (source count) grows WITH the corpus, keeping block density
    # and per-block pair volume bounded.
    "multimodal_image_histogram_pairs": (("documents",), (1, 4, 16)),
    "tokenizer_unigram_seed_vocab": (("documents",), (1, 4, 16)),
    # Round-6 recursion batch. Orders copy-inflation keeps o_custkey,
    # so per-customer chain LENGTH grows ~k x 24: the chain probe
    # measures recursion-depth sensitivity (levels = joins), the
    # spine probe the opposite regime (depth pinned at 80 months, the
    # monthly aggregate carries all the volume growth). x4 = ~96
    # levels, deliberately just under Spark's 100-level ceiling.
    "sql_text_recursive_customer_chain": (("orders",), (1, 2, 4)),
    "sql_text_recursive_month_spine": (("orders",), (1, 2, 4)),
    # Round-6 batch 223 (time-series similarity search). Events
    # inflation remaps user_id per copy: more USERS over the same
    # 30-day domain — the production regime. Seed search is linear in
    # users (fixed seed set and measured flat). Blocked pairs is the
    # honest quadratic: on noise-like series, pairs above a FIXED
    # correlation threshold are a constant fraction of all pairs, so
    # the OUTPUT itself grows ~k² (measured 18.4x wall at 4x) — the
    # ladder stops at x4 because x16 is ~256x output by construction;
    # bounded-output search is the seed/top-k entry.
    "ts_similarity_search_seed": (("events",), (1, 4, 16)),
    # Round-7 rework: sorted-neighborhood window inside each SAX block
    # caps candidates and output at n x W — ladder extended back to
    # x16 (the round-6 all-pairs form was output-quadratic and
    # stopped at x4; measured then 18.4x at 4x, now 1.24x / 6.8x).
    "ts_similarity_blocked_pairs": (("events",), (1, 4, 16)),
    # Round-6 batches 224-225: expected-linear shapes (broadcast-
    # small side + keyed aggregates), probed to confirm.
    "ts_trajectory_ngram_similarity": (("events",), (1, 4, 16)),
    "similarity_topk_incremental": (("embeddings",), (1, 4, 16)),
    "text_sentiment_lexicon": (("documents",), (1, 4, 16)),
    # Round-7 batch 226. Memorization report: copy inflation
    # multiplies each repeated n-gram's doc frequency by k (every
    # copy repeats every span) but the aggregate only carries counts,
    # so cost tracks posting volume — near-linear expected; run with
    # SCALE_PROBE_DISJOINT=1 for constant repeat density. Isotropy:
    # one map pass + a labels x 64 aggregate — expected flat.
    "dedup_memorization_ngram_report": (("documents",), (1, 4, 16)),
    "embedding_isotropy_audit": (("embeddings",), (1, 4, 16)),
    # Round-9 x64 targets (VERDICT r8 #2): the heaviest registered
    # entries still without an x64 row. training_corpus composes the
    # quality scorer with Jaccard near-dup clustering (documents only);
    # connected_components is the fixed-4-round Pregel over the
    # part-supplier bipartite graph — lineitem inflation remaps ids per
    # copy, so edges grow linearly and each superstep's join volume
    # should track the edge list.
    "pipeline_training_corpus": (("documents",), (1, 4, 16)),
    "graph_connected_components": (("lineitem",), (1, 2, 4)),
    # Round-10: the fourth query fixed by the broadcast-underestimate
    # sweep. Ladder capped at x16, and NEITHER inflation mode is a
    # volume control here: the signature reads the first 64 BYTES of
    # text, which both copy suffixing and word-suffix disjoint
    # perturbation leave near-intact — every copy stays within the
    # hamming-10 accept band, so the OUTPUT is genuinely quadratic in
    # k (measured x16 disjoint: 369x pairs / 73x wall — the run is
    # emitted-volume-bound, docs/SCALING.md round-10 ahash note).
    "multimodal_image_ahash_pairs": (("documents",), (1, 4, 16)),
    # Round-10: the recall/precision audit composes the ngram truth
    # and the minhash candidate pipelines (both broadcast-fixed this
    # round) plus two pair-set joins — expected to track the sum of
    # its parts; disjoint mode is the volume control as for both
    # parents.
    "dedup_lsh_recall_audit": (("documents",), (1, 4, 16)),
    # Round-11: the holdout-leakage audit composes the ngram truth
    # pipeline with two split-map joins; the novelty curve's
    # posting-owner join is corpus-sized on BOTH sides (merge-hinted).
    # Disjoint mode is the volume control for both (copy mode inflates
    # the near-dup pair count / kills novelty by construction).
    "sample_holdout_leakage_audit": (("documents",), (1, 4, 16)),
    "text_ngram_novelty_curve": (("documents",), (1, 4, 16)),
    # Round-12: the shingle-df family (coverage estimators, df-cap
    # audit, capture-recapture) shares one posting-grouped derivation;
    # probe the estimator entry as the family representative. Copy
    # mode inflates duplicate density (f1/f2 collapse by design);
    # disjoint is the volume control.
    "corpus_coverage_estimators": (("documents",), (1, 4, 16)),
    # Round-12 batch 249: the signature-health audit is a pure map
    # fold (one md5 per distinct token, 128-wide accumulator) plus a
    # (doc x bit) partial-sum shuffle aggregating to 128 rows — both
    # inflation modes are volume controls (the bit-bias OUTPUT shifts
    # with vocabulary, but the COST is row-linear either way).
    "dedup_simhash_bit_balance": (("documents",), (1, 4, 16)),
    # Round-13 (VERDICT r12 #4): one measured representative for the
    # batch-247/248 ML-evaluation families, whose scale posture was
    # previously argued by shape analogy only. Heaviest member: one
    # groupBy(user_id) fact pass, then windows over the tiny
    # (fold × distinct-score) relation — expected ~row-linear.
    "ml_auc_fold_stability": (("events",), (1, 4, 16)),
    # Round-13 batches 251-254: heaviest new entries per family.
    # Band occupancy shares dedup_minhash_lsh's signature map stage
    # but has NO pair join — expect the table cost only (linear).
    "dedup_lsh_band_occupancy": (("documents",), (1, 4, 16)),
    # Burrows delta: token explode + vocabulary-sized groupBy; the
    # pairwise tail is bounded by the source count (fixed domain).
    "text_burrows_delta": (("documents",), (1, 4, 16)),
    # Per-seed BFS (5 seeds, 3 rounds): state is seeds × nodes; the
    # per-round join is edge-linear.
    "graph_harmonic_centrality_seeds": (("lineitem",), (1, 2, 4)),
    # Wedge counting is Σ deg² over the near-dup graph — quadratic in
    # clique size under COPY inflation (which multiplies duplicate
    # density); disjoint mode is the volume control.
    "dedup_pair_transitivity_audit": (("documents",), (1, 4, 16)),
    # Truth-pair pipeline + three pair-bounded re-scoring joins.
    "dedup_shingle_size_sensitivity": (("documents",), (1, 4, 16)),
}


def _inflate(spark: SparkSession, sf_dir: str, name: str, k: int, out_dir: str) -> None:
    """Write k perturbed copies of one table with non-colliding ids."""
    df = load_table(spark, sf_dir, name)
    if k == 1:
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))
        return
    n = df.count()
    copies: list[DataFrame] = []
    for i in range(k):
        c = df
        if name == "documents":
            c = c.withColumn("doc_id", F.col("doc_id") + F.lit(i * n))
            if i and DISJOINT:
                # Constant-duplicate-density inflation: suffix every
                # word per copy so shingles/signatures across copies
                # are disjoint — measures volume growth, not the
                # (legitimate) near-dup candidate growth that copy
                # inflation otherwise creates.
                c = c.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"$1c{i}")
                ).withColumn("n_chars", F.length("text").cast("long"))
            elif i:
                c = c.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" copytoken{i}"))
                )
        elif name == "embeddings":
            c = c.withColumn("vec_id", F.col("vec_id") + F.lit(i * n))
            if i:
                c = c.withColumn(
                    "embedding",
                    F.concat(
                        F.array(
                            (F.element_at("embedding", 1) + F.lit(i * 1e-3)).cast(
                                "float"
                            )
                        ),
                        F.slice("embedding", 2, F.size("embedding") - F.lit(1)),
                    ),
                )
        elif name == "events":
            max_user = 100000
            c = c.withColumn("event_id", F.col("event_id") + F.lit(i * n)).withColumn(
                "user_id", F.col("user_id") + F.lit(i * max_user)
            )
        elif name == "orders":
            c = c.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * 10_000_000))
        elif name == "lineitem":
            c = c.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 10_000_000))
            if REMAP_GRAPH and i:
                # Graph probes (connected components) build their node
                # set from l_partkey/l_suppkey: without a remap the
                # DISTINCT edge set is invariant under copy inflation
                # and the probe measures nothing. Offsetting both keys
                # per copy yields k disjoint copies of the same graph —
                # edges, nodes, and per-superstep join volume all grow
                # linearly with k. NOT valid for probes that join the
                # (non-inflated) part/supplier dims.
                c = c.withColumn(
                    "l_partkey", F.col("l_partkey") + F.lit(i * 10_000_000)
                ).withColumn(
                    "l_suppkey", F.col("l_suppkey") + F.lit(i * 10_000_000)
                )
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    if len(sys.argv) > 2:  # restrict to named queries while iterating
        for bad in set(sys.argv[2:]) - set(PROBES):
            raise SystemExit(f"unknown probe {bad!r}")
        for name in list(PROBES):
            if name not in sys.argv[2:]:
                del PROBES[name]
    ladder_env = os.environ.get("SCALE_PROBE_LADDER")
    if ladder_env:  # e.g. SCALE_PROBE_LADDER=1,16,64 overrides all ladders
        ladder = tuple(int(x) for x in ladder_env.split(","))
        for name, (tables, _) in list(PROBES.items()):
            PROBES[name] = (tables, ladder)
    if REMAP_GRAPH:
        unsafe = sorted(
            name
            for name, (tables, _) in PROBES.items()
            if "lineitem" in tables and name not in REMAP_SAFE_PROBES
        )
        if unsafe:
            raise SystemExit(
                "SCALE_PROBE_REMAP_GRAPH=1 remaps l_partkey/l_suppkey in the "
                "inflated lineitem, which dangles part/supplier dim joins; "
                f"these active probes are not remap-safe: {unsafe}. "
                "Restrict the invocation to REMAP_SAFE_PROBES "
                f"({sorted(REMAP_SAFE_PROBES)}) or unset the flag."
            )
    _ensure_loaded()
    spark = get_spark(app_name="kafkastreamer-spark-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    needed: dict[tuple[str, int], None] = {}
    for tables, ladder in PROBES.values():
        for k in ladder:
            for t in tables:
                needed[(t, k)] = None

    # Build each (table, k) dir once: /tmp/scale_probe/k{k}/ holds every
    # table at that inflation; untouched tables are symlinked from sf_dir
    # so load_table finds them.
    ks = sorted({k for _, k in needed})
    for k in ks:
        out_dir = os.path.join(BASE, f"k{k}")
        os.makedirs(out_dir, exist_ok=True)
        inflated = {t for t, kk in needed if kk == k}
        for t in TABLES:
            dst = os.path.join(out_dir, f"{t}.parquet")
            if t in inflated:
                _inflate(spark, sf_dir, t, k, out_dir)
            elif not os.path.exists(dst):
                os.symlink(os.path.join(sf_dir, f"{t}.parquet"), dst)

    results: dict[str, dict[int, float]] = {}
    for name, (tables, ladder) in PROBES.items():
        results[name] = {}
        for k in ladder:
            d = os.path.join(BASE, f"k{k}")
            for run in range(2):
                group = f"{name}@k{k}#{run}"
                spark.sparkContext.setJobGroup(group, name)
                elapsed = timed_run(spark, REGISTRY[name].fn, d)
            results[name][k] = elapsed
            print(json.dumps({"query": name, "k": k, "sec": elapsed}), flush=True)
            if SPILL:
                stages = stage_rows(spark.sparkContext, group)
                stages.sort(key=lambda s: -(s["mem_spill_mb"] + s["disk_spill_mb"]))
                report = {"query": name, "k": k, "stages": stages[:12]}
                print(json.dumps({"spill_report": report}), flush=True)

    summary = {}
    for name, by_k in results.items():
        ks_q = sorted(by_k)
        k_max = ks_q[-1]
        base = by_k[ks_q[0]]
        summary[name] = {
            "ladder": {str(k): by_k[k] for k in ks_q},
            "k_max": k_max,
            "growth_ratio": round(by_k[k_max] / base, 2) if base else None,
        }
    print(json.dumps({"scale_probe_summary": summary}), flush=True)
    spark.stop()
    shutil.rmtree(BASE, ignore_errors=True)


if __name__ == "__main__":
    main()

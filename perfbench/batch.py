"""Batch workloads: passes over a fixed list of registry queries.

Each pass runs every query of the workload once, in an order drawn
from the seed, timing ``REGISTRY[name].fn`` (build) and the noop-sink
``DataFrame.write`` (execute). The first pass in the fresh JVM is the
cold pass; the passes after it are warm. Every query is then checked
once against its DuckDB oracle, outside the timed region.
"""

from __future__ import annotations

import random
import time

from harness import Context, median, quantile, timed_setups
from layers import EXEC_KEYS, PHASES, CatalystListener, cached_mb, cpu_util, exec_metrics, phases_ms

# Each list is sized so that a cold pass and two warm passes fit in a
# run of about ten seconds on four cores; see perfbench/README.md.
WORKLOADS: dict[str, list[str]] = {
    # JVM-only work: Catalyst, scans, shuffle joins, windows.
    "relational": [
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q21_sole_fault_supplier", "join_asof_prev_purchase", "window_running_frame",
        "events_sessionization",
    ],
    # The Arrow pandas_udf / Python-worker path and persist-heavy operators.
    "corpus": [
        "dedup_minhash_lsh", "text_quality_score", "embedding_kmeans_assign",
        "multimodal_decode_stub",
    ],
    # Driver-side loops and builders that launch jobs before they return.
    "iterative": ["dedup_cluster_representatives", "sql_script_iterative_trim"],
}
CORPUS_TABLES = ("documents", "embeddings")

# Fixture scale: (sf, documents). The tiny scale is the self-test's.
SCALE = (0.002, 500)
TINY_SCALE = (0.001, 200)
# --seconds buys one warm pass per WARM_PASS_S (a pass's time on four
# cores), at least two: a fixed count, so every run does the same work
# and a slow box does not also get a less warmed-up JIT.
WARM_PASS_S = 4.0


def run(ctx: Context) -> tuple[dict, dict, dict]:
    from fixture import write_fixture
    from kafkastreamer_spark.registry import REGISTRY, _ensure_loaded
    from kafkastreamer_spark.tables import TABLES, load_table

    _ensure_loaded()
    names = WORKLOADS[ctx.workload]
    data = ctx.path("data")
    sf, n_docs = TINY_SCALE if ctx.tiny else SCALE
    if ctx.workload == "relational":
        warm_tables = [t for t in TABLES if t not in CORPUS_TABLES]
    else:
        warm_tables = list(CORPUS_TABLES)

    def stage() -> None:
        write_fixture(data, sf, seed=42, n_docs=n_docs)

    def warm(spark) -> None:
        # One scan of each input table, so the cold pass measures query
        # work rather than parquet reader start-up.
        for t in warm_tables:
            load_table(spark, data, t).write.format("noop").mode("overwrite").save()

    setup = timed_setups(ctx, stage, warm)
    spark = ctx.spark
    sc = spark.sparkContext
    catalyst = CatalystListener(spark) if ctx.trace else None
    rng = random.Random(ctx.seed)
    passes: list[dict[str, dict]] = []
    frames: dict[str, object] = {}  # the newest DataFrame of each query
    peak_cache = 0.0

    def run_query(name: str, p: int, parent: int) -> dict | None:
        nonlocal peak_cache
        frames.pop(name, None)
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        if catalyst:
            sc.setJobGroup(f"b{p}:{name}", name)
        ctx.attempted += 1
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            df = REGISTRY[name].fn(spark, data)
            t1 = time.perf_counter()
            if catalyst:
                sc.setJobGroup(f"x{p}:{name}", name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - counted, never dropped
            ctx.fail(f"{name} pass {p}: {type(exc).__name__}: {exc}")
            return None
        finally:
            if catalyst:
                sc.setJobGroup("perfbench", "between queries")
        frames[name] = df
        rec = {"wall": t2 - t0, "build": t1 - t0, "execute": t2 - t1}
        qspan = ctx.spans.add("query", w0, w0 + rec["wall"], parent, query=name)
        if not catalyst:
            return rec
        df_ph = phases_ms(df._jdf.queryExecution())
        cmd_ph = catalyst.last()
        cat = {k: cmd_ph[k] for k in PHASES}
        cat["analysis"] += df_ph["analysis"]
        ex = exec_metrics(sc, [f"x{p}:{name}"])
        built = exec_metrics(sc, [f"b{p}:{name}"])
        peak_cache = max(peak_cache, cached_mb(spark))
        build_s = rec["build"] - df_ph["analysis"] / 1e3
        cat_s = (cmd_ph["analysis"] + cmd_ph["optimization"] + cmd_ph["planning"]) / 1e3
        rec.update(
            build_s=build_s,
            build_jobs=built["jobs"],
            catalyst_ms=cat,
            exec=ex,
            other_s=rec["wall"] - build_s - df_ph["analysis"] / 1e3 - cat_s - ex["active_s"],
        )
        wb = w0 + rec["build"]
        ctx.spans.add("build", w0, wb, qspan)
        ctx.spans.add("catalyst", wb, wb + cat_s, qspan)
        ctx.spans.add("execute", wb + cat_s, w0 + rec["wall"], qspan)
        return rec

    t_start = time.perf_counter()
    for _ in range(1 + max(2, round(ctx.seconds / WARM_PASS_S))):
        order = names[:]
        rng.shuffle(order)
        p = len(passes)
        with ctx.spans.span("pass", 0, index=p, cold=p == 0) as ps:
            recs = {q: run_query(q, p, ps) for q in order}
        passes.append({q: r for q, r in recs.items() if r is not None})
    measured_s = time.perf_counter() - t_start

    t_verify = time.perf_counter()
    verify_all(ctx, spark, names, frames, data, REGISTRY)
    verify_s = time.perf_counter() - t_verify

    cold, warm_passes = passes[0], passes[1:]
    per_query = {}
    for q in names:
        walls = [ps[q]["wall"] for ps in warm_passes if q in ps]
        row = {
            "cold_s": cold[q]["wall"] if q in cold else None,
            "warm_median_s": median(walls),
            "build_s": median(ps[q]["build"] for ps in warm_passes if q in ps),
        }
        if catalyst:
            row.update(_query_layers([ps[q] for ps in warm_passes if q in ps]))
        per_query[q] = row
    # p50 over every warm execution; p99 over the queries' medians, so
    # it reads as the slowest query's typical time, not one outlier.
    pooled_ms = [r["wall"] * 1e3 for ps in warm_passes for r in ps.values()]
    q_ms = [row["warm_median_s"] * 1e3 for row in per_query.values()]
    e2e = {
        "setup_s": setup["setup_s"],
        "wall_s": sum(row["warm_median_s"] for row in per_query.values()),
        "cold_wall_s": sum(r["wall"] for r in cold.values()),
        "latency_p50_ms": quantile(pooled_ms, 0.5),
        "latency_p99_ms": quantile(q_ms, 0.99),
    }
    layers = {k: v for k, v in setup.items() if k.startswith("session.")}
    if catalyst:
        layers.update(_pass_layers(warm_passes, int(sc.defaultParallelism)))
        layers["registry.eager_queries"] = sum(
            1 for q in names if any(ps[q]["build_jobs"] > 0 for ps in passes if q in ps)
        )
        layers["cache.peak_mb"] = peak_cache
    detail = {
        "passes": len(passes),
        "measured_s": measured_s,
        "verify_s": verify_s,
        "pass_walls_s": [sum(r["wall"] for r in ps.values()) for ps in passes],
        "pass_query_s": [{q: r["wall"] for q, r in ps.items()} for ps in passes],
        "queries": per_query,
        "setup": setup,
    }
    return e2e, layers, detail


def verify_all(ctx: Context, spark, names: list[str], frames: dict, data: str, registry) -> None:
    """Collect each query's newest DataFrame once and compare it with
    the query's oracle. Re-executing the returned plan, rather than
    rebuilding it, keeps builder work out of the check."""
    from verify import Oracle

    oracle = Oracle(data)
    with ctx.spans.span("verify", 0) as vs:
        for q in names:
            spark.catalog.clearCache()
            ctx.attempted += 1
            with ctx.spans.span("query", vs, query=q) as qs, ctx.spans.span("verify", qs):
                try:
                    df = frames.get(q)
                    if df is None:
                        raise RuntimeError("no successful run to check")
                    rows = [tuple(r) for r in df.collect()]
                    why = oracle.check(registry[q].oracle, list(df.columns), rows)
                except Exception as exc:  # noqa: BLE001 - counted, never dropped
                    why = f"{type(exc).__name__}: {exc}"
            if why:
                ctx.fail(f"{q} oracle: {why}")
    spark.catalog.clearCache()
    oracle.close()


def _query_layers(recs: list[dict]) -> dict:
    """Median warm layer split of one query."""
    return {
        "layers_s": {
            "build": median(r["build_s"] for r in recs),
            "catalyst": median(sum(r["catalyst_ms"].values()) / 1e3 for r in recs),
            "exec_active": median(r["exec"]["active_s"] for r in recs),
            "other": median(r["other_s"] for r in recs),
        },
        "build_jobs": median(r["build_jobs"] for r in recs),
        "exec_run_s": median(r["exec"]["run_s"] for r in recs),
        "exec_cpu_s": median(r["exec"]["cpu_s"] for r in recs),
    }


def _pass_layers(warm_passes: list[dict[str, dict]], slots: int) -> dict[str, float]:
    """Per-layer metrics: per-pass sums over queries, median over warm passes."""

    def per_pass(f) -> float:
        return median(sum(f(r) for r in ps.values()) for ps in warm_passes)

    out = {
        "registry.build_s": per_pass(lambda r: r["build_s"]),
        "registry.build_jobs": per_pass(lambda r: r["build_jobs"]),
        "driver.other_s": per_pass(lambda r: r["other_s"]),
    }
    for k in PHASES:
        out[f"catalyst.{k}_ms"] = per_pass(lambda r, k=k: r["catalyst_ms"][k])
    for k in EXEC_KEYS:
        if k != "jobs":
            out[f"exec.{k}"] = per_pass(lambda r, k=k: r["exec"][k])
    out["exec.cpu_util"] = cpu_util(
        {"cpu_s": out["exec.cpu_s"], "active_s": out["exec.active_s"]}, slots
    )
    return out

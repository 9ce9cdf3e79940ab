"""Plan-quality assertions (the .explain() discipline as tests) and
batch-sink / bucketed-join tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafkastreamer_spark.io import write_bucketed_table, write_parquet
from kafkastreamer_spark.registry import REGISTRY, _ensure_loaded
from kafkastreamer_spark.tables import load_table

_ensure_loaded()


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_pushes_filter_and_prunes_columns(spark, sf_dir):
    """The shipdate predicate must reach the parquet scan and the scan
    must not read columns Q1 doesn't use."""
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    scan_schema = plan[plan.index("ReadSchema") :].split("\n")[0]
    assert "l_orderkey" not in scan_schema  # pruned
    assert "l_quantity" in scan_schema


def test_q5_broadcasts_dims(spark, sf_dir):
    """supplier/nation/region must broadcast; lineitem never does."""
    df = REGISTRY["q5_local_supplier_volume"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in plan


def test_sort_limit_uses_topk_not_global_sort(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject."""
    df = REGISTRY["sort_limit"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in _physical_plan(df)


def test_range_join_computes_band_map_side(spark, sf_dir):
    """The uniform price bands are a computable key (r13): parts
    aggregate straight to floor(price/500)·500 map-side — no
    nested-loop over the 20 band predicates — and only the ≤20-row
    aggregate joins the band axis (broadcast hash)."""
    df = REGISTRY["join_range_bands"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_stage_chain_constant_folds(spark, sf_dir):
    """A k-stage arithmetic chain must fold to a single increment."""
    df = REGISTRY["ref_stage_chain_adder"].fn(spark, sf_dir)
    assert "+ 3" in _optimized(df)


def test_approx_agg_bounds(spark, sf_dir):
    """HLL++/quantile sketches stay within documented error of exact."""
    rows = {r["l_returnflag"]: r for r in REGISTRY["agg_approx"].fn(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    for flag, row in rows.items():
        assert abs(row["approx_orders"] - exact[flag]) / exact[flag] < 0.05
        p50, p95 = row["price_p50_p95"]
        assert 0 < p50 < p95


def test_parquet_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "nation_out")
    n = load_table(spark, sf_dir, "nation")
    write_parquet(n, out, partition_by=["n_regionkey"])
    back = spark.read.parquet(out)
    assert back.count() == n.count()
    # partition column usable for pruning
    assert back.filter(F.col("n_regionkey") == 0).count() == n.filter(
        F.col("n_regionkey") == 0
    ).count()


@pytest.mark.usefixtures("spark")
def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-bucketed tables joined on the bucket key: no Exchange in the
    plan (the materialized-partitioning scale path)."""
    spark.sql("DROP TABLE IF EXISTS o_b")
    spark.sql("DROP TABLE IF EXISTS l_b")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed_table(o, "o_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed_table(l, "l_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    # disable broadcast so the join would otherwise shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from kafkastreamer_spark.io import cobucketed_join

        joined = cobucketed_join(spark, "o_b", "l_b", ["o_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() == l.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS o_b")
        spark.sql("DROP TABLE IF EXISTS l_b")


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join must be one hash shuffle on user_id (the window
    sort), never a join operator: the union-and-sweep strategy's whole
    point is that no inequality-join candidate blowup exists."""
    df = REGISTRY["join_asof_prev_purchase"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert "Join" not in plan  # no join operator of any kind
    # exactly one exchange below the final orderBy's range partitioning
    hash_exchanges = plan.count("hashpartitioning(user_id")
    assert hash_exchanges == 1, plan


def test_q7_broadcasts_all_dims(spark, sf_dir):
    """Q7's only shuffle join is lineitem-orders; supplier/customer/
    nation enrichments must all broadcast."""
    plan = _physical_plan(REGISTRY["q7_volume_shipping"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_sampling_is_map_side(spark, sf_dir):
    """Hash-bucket sampling must not shuffle before the filter: the
    keep/drop decision is a pure projection over the scan."""
    df = REGISTRY["sample_stratified_hash"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    filter_pos = plan.index("Filter")
    exchange_pos = plan.find("Exchange")
    assert exchange_pos == -1 or exchange_pos < filter_pos  # only the final sort


def test_q2_broadcasts_all_dims(spark, sf_dir):
    """part/supplier/nation/region broadcast; the only shuffles are
    the catalog groupBy and the per-part rank window."""
    df = REGISTRY["q2_min_cost_supplier"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q9_single_big_join(spark, sf_dir):
    """lineitem-orders is the only non-broadcast join; the part
    pattern filter broadcasts and prunes before the shuffle."""
    df = REGISTRY["q9_product_profit"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3


def test_q21_semi_and_anti_hash_joins(spark, sf_dir):
    """EXISTS/NOT EXISTS decorrelate to semi + anti joins — never a
    per-row re-scan."""
    df = REGISTRY["q21_sole_fault_supplier"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_kmeans_assign_broadcasts_centroids(spark, sf_dir):
    """The K-way distance eval is a broadcast nested-loop over K rows
    — no shuffle of the embedding side before the argmin window."""
    df = REGISTRY["embedding_kmeans_assign"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunking_is_map_only(spark, sf_dir):
    """Chunking must not shuffle (the only exchange is the output
    sort's range partitioning)."""
    df = REGISTRY["text_chunk_tokens"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan


def test_packing_single_shuffle(spark, sf_dir):
    """Sequence packing = one hash exchange (the per-language window);
    no global single-partition sort of the raw docs."""
    df = REGISTRY["text_pack_sequences"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_daily_delta_lag_runs_on_aggregate(spark, sf_dir):
    """The unpartitioned LAG sort must sit above the day aggregation
    (bounded rows), never above the raw event scan."""
    df = REGISTRY["events_daily_delta"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    agg_pos = plan.find("HashAggregate")
    single_pos = plan.find("Exchange SinglePartition")
    assert agg_pos != -1 and single_pos != -1
    # executedPlan prints top-down: the SinglePartition exchange
    # (window input) must appear ABOVE the aggregate that feeds it
    assert single_pos < agg_pos


def test_cms_estimate_dominates_exact_and_broadcasts_cells(spark, sf_dir):
    """CMS guarantee: estimate >= exact count for every key; the
    256-cell sketch must come back via a broadcast join (the only
    full-data shuffle is the per-key pre-aggregation)."""
    df = REGISTRY["agg_countmin_sketch"].fn(spark, sf_dir)
    assert "BroadcastHashJoin" in _physical_plan(df)
    rows = df.collect()
    assert rows, "cms output empty"
    for r in rows:
        assert r.cms_estimate >= r.exact_cnt
        assert r.overcount == r.cms_estimate - r.exact_cnt


def test_line_dedup_keeps_each_distinct_line_once(spark, sf_dir):
    """Global invariant: total kept lines == number of distinct lines
    in the corpus (each distinct line survives exactly once)."""
    from kafkastreamer_spark.operators.quality import LINE_TOKENS

    df = REGISTRY["dedup_lines_global"].fn(spark, sf_dir)
    kept_total = df.agg(F.sum("n_lines_kept")).first()[0]
    d = load_table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("toks")
    )
    n_lines = F.ceil(F.size("toks") / F.lit(float(LINE_TOKENS))).cast("int")
    distinct_lines = (
        d.select(F.explode(F.sequence(F.lit(1), n_lines)).alias("li"), "toks")
        .select(
            F.array_join(
                F.slice(
                    F.col("toks"), (F.col("li") - 1) * LINE_TOKENS + 1, LINE_TOKENS
                ),
                " ",
            ).alias("line")
        )
        .distinct()
        .count()
    )
    assert kept_total == distinct_lines


def test_temperature_mix_hits_per_lang_targets(spark, sf_dir):
    """Kept count per language must equal min(cnt, floor(sqrt(cnt)*C))
    computed independently driver-side."""
    import math

    from kafkastreamer_spark.operators.sampling import TEMP_C

    counts = {
        r.lang: r.cnt
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    kept = {
        r.lang: r.cnt
        for r in REGISTRY["sample_temperature_mix"]
        .fn(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for lang, cnt in counts.items():
        target = min(cnt, math.floor(math.sqrt(cnt) * TEMP_C))
        assert kept.get(lang, 0) == target, (lang, cnt, target, kept.get(lang))


def test_repetition_metrics_bounds(spark, sf_dir):
    """Structural invariants: n_trigrams == n_tokens-2, the top bigram
    occurs at least once and at most n_tokens-1 times, duplicate
    trigram occurrences never exceed the total."""
    rows = REGISTRY["text_repetition_metrics"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_trigrams == r.n_tokens - 2
        assert 1 <= r.top_bigram_count <= r.n_tokens - 1
        assert 0 <= r.dup_trigram_occurrences <= r.n_trigrams
        expect = int(
            10 * r.top_bigram_count > r.n_tokens
            or 2 * r.dup_trigram_occurrences > r.n_trigrams
        )
        assert r.flagged_repetitive == expect


def test_bloom_prefilter_never_misses_and_reports_fp(spark, sf_dir):
    """Bloom guarantee: no false negatives (pass set ⊇ true-match
    set), false positives are exactly the difference, and every order
    is accounted for."""
    r = REGISTRY["join_bloom_prefilter"].fn(spark, sf_dir).first()
    orders = load_table(spark, sf_dir, "orders").count()
    assert r.probe_orders == orders
    assert r.bloom_pass_orders >= r.true_match_orders
    assert r.false_positive_orders == r.bloom_pass_orders - r.true_match_orders
    assert r.false_positive_orders >= 0


def test_cms_cells_merge_additively(spark, sf_dir):
    """CMS mergeability: sketch(cells) of the full stream equals the
    cell-wise sum of sketches built on disjoint halves — the property
    that lets per-partition / per-batch sketches combine without
    rescanning."""
    from kafkastreamer_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH

    ev = load_table(spark, sf_dir, "events")

    def cells(df):
        exact = df.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
        salted = exact.select(
            "user_id",
            "cnt",
            F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("d"),
        ).withColumn(
            "bucket",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("d").cast("string"),
                            F.lit(":"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % CMS_WIDTH,
        )
        return {
            (r.d, r.bucket): r.cell
            for r in salted.groupBy("d", "bucket")
            .agg(F.sum("cnt").alias("cell"))
            .collect()
        }

    full = cells(ev)
    even = cells(ev.filter(F.col("event_id") % 2 == 0))
    odd = cells(ev.filter(F.col("event_id") % 2 == 1))
    merged = dict(even)
    for k, v in odd.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == full


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partition layout + partition pruning: a filter on
    the partition column must prune directories at planning time (the
    scan's partition count drops), not scan-and-filter."""
    from kafkastreamer_spark.io import write_parquet

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    write_parquet(ev, path, partition_by=["day"])

    all_days = spark.read.parquet(path)
    one_day = all_days.filter(F.col("day") == F.lit("2024-01-01"))
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # Catalyst records the pushed partition predicate on the scan node
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1][:200]
    # pruning actually reduced the files read
    total_days = all_days.select("day").distinct().count()
    assert total_days > 1
    assert one_day.count() == ev.filter(F.to_date("ts") == "2024-01-01").count()


def test_python_udtf_ngram_expansion(spark):
    """Spark 4 Python UDTF surface: a table function expanding a text
    row into (position, bigram) rows — the UDF shape for row-to-many
    transforms that aren't expressible as a single explode. Kept out
    of hot paths (per-row Python); the engine's production n-gram ops
    use JVM-side transform+explode instead."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, bigram: string")
    class Bigrams:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                yield i, toks[i] + " " + toks[i + 1]

    spark.udtf.register("bigrams_udtf", Bigrams)
    out = spark.sql(
        "SELECT t.pos, t.bigram FROM bigrams_udtf('a b c d') AS t ORDER BY t.pos"
    ).collect()
    assert [(r.pos, r.bigram) for r in out] == [
        (0, "a b"),
        (1, "b c"),
        (2, "c d"),
    ]


def test_compact_small_files_preserves_rows(spark, sf_dir, tmp_path):
    from kafkastreamer_spark.io import compact_small_files

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    n = ev.count()
    path = str(tmp_path / "shattered")
    ev.repartition(32).write.parquet(path)
    import glob

    assert len(glob.glob(path + "/*.parquet")) >= 16
    files_after = compact_small_files(spark, path, target_files=2)
    assert files_after <= 2
    assert spark.read.parquet(path).count() == n


def test_merge_schema_reads_evolved_batches(spark, sf_dir, tmp_path):
    from kafkastreamer_spark.io import read_merged_schema

    path = str(tmp_path / "evolving")
    ev = load_table(spark, sf_dir, "events")
    ev.select("event_id", "user_id").write.mode("append").parquet(path)
    ev.select(
        "event_id", "user_id", F.col("value").alias("score")
    ).write.mode("append").parquet(path)
    df = read_merged_schema(spark, path)
    assert set(df.columns) == {"event_id", "user_id", "score"}
    assert df.count() == 2 * ev.count()
    # old batch surfaces null for the new column
    assert df.filter(F.col("score").isNull()).count() == ev.count()


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """Optimizer-control surface: strategy hints must switch the
    physical join operator (broadcast / shuffle-hash / sort-merge)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    bhj = o.join(c.hint("BROADCAST"), o.o_custkey == c.c_custkey)
    shj = o.join(c.hint("SHUFFLE_HASH"), o.o_custkey == c.c_custkey)
    smj = o.join(c.hint("MERGE"), o.o_custkey == c.c_custkey)
    assert "BroadcastHashJoin" in _physical_plan(bhj)
    assert "ShuffledHashJoin" in _physical_plan(shj)
    assert "SortMergeJoin" in _physical_plan(smj)


def test_observe_collects_pipeline_metrics(spark, sf_dir):
    """df.observe(): accumulate audit metrics (row counts, sums) as a
    side effect of the normal action — the cheap way to get pipeline
    telemetry without a second scan."""
    from pyspark.sql import Observation

    obs = Observation("audit")
    ev = load_table(spark, sf_dir, "events").observe(
        obs, F.count(F.lit(1)).alias("rows"), F.sum("user_id").alias("uid_sum")
    )
    n = ev.count()
    assert obs.get["rows"] == n
    assert obs.get["uid_sum"] > 0


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    path = str(tmp_path / "orc")
    ev.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.count() == ev.count()
    assert dict(back.dtypes) == dict(ev.dtypes)


def test_pagerank_broadcasts_rank_vector(spark, sf_dir):
    """Each PageRank superstep must join the (tiny) rank vector to the
    edge list as a broadcast — never shuffling edges by rank key — and
    the big lineitem⋈orders edge build is the only sort-merge join.

    Pins the intended invariants only: at least the two per-iteration
    rank joins broadcast, no more sort-merge joins than the fact-fact
    edge build, and the hinted customer/supplier dimension joins in
    ``_trade_edges`` broadcast. A total BroadcastHashJoin count would
    also count unhinted joins whose strategy floats with
    auto-broadcast estimation / partition settings."""
    from kafkastreamer_spark.queries.graph import graph_pagerank_two_iter

    plan = _physical_plan(graph_pagerank_two_iter(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # 2 iters × rank join
    assert plan.count("SortMergeJoin") <= 2  # only the fact-fact edge build
    for key in ("c_custkey", "s_suppkey"):
        joins = [ln for ln in plan.splitlines() if "Join" in ln and f"[{key}#" in ln]
        assert joins and all("BroadcastHashJoin" in ln for ln in joins), (key, joins)


def test_cooccurrence_lift_prunes_before_pairing(spark, sf_dir):
    """The quadratic token-pairing self-join must run AFTER the
    top-20 vocabulary prune (broadcast semi/hash join on the pruned
    token set), so no O(vocab²) pairing appears in the plan."""
    from kafkastreamer_spark.registry import REGISTRY

    plan = _physical_plan(REGISTRY["text_cooccurrence_lift"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kcenter_never_shuffles_points(spark, sf_dir):
    """Gonzalez refinement: each round broadcasts the 1-row new
    center; the point set itself is never exchanged by key."""
    from kafkastreamer_spark.registry import REGISTRY

    plan = _physical_plan(REGISTRY["embedding_kcenter_coreset"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # point-set joins by vec_id exist only for tiny center lookups;
    # no sort-merge join over the full point table:
    assert "SortMergeJoin" not in plan


def test_csv_permissive_corrupt_records(spark, tmp_path):
    """Malformed CSV rows must quarantine into _corrupt_record under
    PERMISSIVE mode instead of failing the read — the ingest
    robustness contract for third-party feeds."""
    p = tmp_path / "feed.csv"
    p.write_text("id,value\n1,10\nnot_a_number,oops,extra\n3,30\n")
    df = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema("id LONG, value LONG, _corrupt_record STRING")
        .csv(str(p))
    )
    rows = df.cache().collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {(r.id, r.value) for r in good} == {(1, 10), (3, 30)}
    assert len(bad) == 1 and "not_a_number" in bad[0]._corrupt_record
    df.unpersist()


def test_write_audit_publish_gates_bad_batches(spark, sf_dir, tmp_path):
    """WAP: a failing audit must leave the publish path absent and
    the staging directory inspectable; a passing audit publishes and
    removes staging."""
    import os

    from kafkastreamer_spark.io import write_audit_publish
    from kafkastreamer_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    pub = str(tmp_path / "published")

    bad = write_audit_publish(
        o,
        pub,
        checks=[
            (
                "no_pending_status",  # fixture HAS 'P' rows → must fail
                lambda d: d.filter(F.col("o_orderstatus") == "P").count(),
            )
        ],
    )
    assert not bad["published"]
    assert not os.path.exists(pub)
    assert os.path.exists(pub + "._staging")  # left for inspection

    good = write_audit_publish(
        o,
        pub,
        checks=[
            ("orderkey_not_null", lambda d: d.filter(F.col("o_orderkey").isNull()).count()),
            ("positive_price", lambda d: d.filter(F.col("o_totalprice") <= 0).count()),
        ],
    )
    assert good["published"] and good["n_rows"] == o.count()
    assert spark.read.parquet(pub).count() == o.count()
    assert not os.path.exists(pub + "._staging")  # renamed away


def test_fuzzy_join_blocks_on_equality_keys(spark, sf_dir):
    """The Levenshtein verify must ride an EQUI-join on the block keys
    (brand, type) — if the edit-distance predicate became the join
    condition itself, the plan degrades to a nested loop over all
    part pairs, the all-pairs shape the blocking exists to prevent."""
    df = REGISTRY["join_fuzzy_part_names"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert "NestedLoop" not in plan
    assert ("HashJoin" in plan) or ("SortMergeJoin" in plan)


def test_chisq_single_fact_shuffle(spark, sf_dir):
    """Everything after the contingency-cell groupBy is
    broadcast-sized: the marginal/total joins must be broadcasts, so
    the orders fact table is scanned and shuffled exactly once."""
    df = REGISTRY["orders_chisq_priority_status"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert "SortMergeJoin" not in plan  # every post-cell join broadcasts
    assert "InMemoryTableScan" in plan  # cells computed once, reused 4x


def test_zorder_bucket_agg_is_partial(spark, sf_dir):
    """The Morton-key bucket rollup must map-side combine (partial
    HashAggregate before the exchange) — the shuffle then carries 64
    bucket rows per task, not the fact table."""
    df = REGISTRY["layout_zorder_audit"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan  # max() scalar
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_hll_daily_merge_accuracy(spark, sf_dir):
    """The merged cross-day estimate must sit within 5% of the exact
    distinct-user count (Datasketches HLL_4 default lgK=12: ~1.6%
    RSE, so 5% is >3 sigma)."""
    from kafkastreamer_spark.registry import REGISTRY, _ensure_loaded
    from kafkastreamer_spark.tables import load_table

    _ensure_loaded()
    row = REGISTRY["agg_hll_sketch_daily_merge"].fn(spark, sf_dir).collect()[0]
    exact = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    est = row["distinct_users_estimate"]
    assert abs(est - exact) <= max(1, 0.05 * exact), (est, exact)


def test_hll_sketches_survive_parquet_roundtrip(spark, sf_dir, tmp_path):
    """The production value of mergeable sketches is PERSISTENCE:
    daily sketch bytes written to parquet, read back, and unioned must
    give the same estimate as a direct union — so date-range distinct
    counts never rescan raw events."""
    from kafkastreamer_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    direct = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]["est"]

    out = str(tmp_path / "daily_sketches")
    daily.write.parquet(out)
    reread = (
        spark.read.parquet(out)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]["est"]
    )
    assert reread == direct


def test_pps_cumsum_is_bucketed(spark, sf_dir):
    """The exact global running sum must be two-phase: the full-table
    window partitioned by the range bucket, and the only
    single-partition exchange feeding the per-bucket totals aggregate
    (|buckets| rows), never the documents table."""
    df = REGISTRY["sample_pps_systematic"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    cum_win = plan.index("AS cum_in")
    # the cum_in window's partition list is [b#...]
    assert "], [b#" in plan[cum_win : cum_win + 200]
    # every single-partition exchange is fed by an aggregate (bucket
    # totals / grand total — bounded rows), never by the raw table
    idx = 0
    n_sp = 0
    while True:
        idx = plan.find("Exchange SinglePartition", idx)
        if idx == -1:
            break
        assert "HashAggregate" in plan[idx : idx + 300], plan[idx : idx + 300]
        idx += 1
        n_sp += 1
    assert 1 <= n_sp <= 2


def test_theta_setops_exact_at_test_scale(spark, sf_dir):
    """Below ~4096 distinct keys a Theta sketch runs in exact mode, so
    at test scale every set-operation estimate must EQUAL its exact
    companion column (union = either-segment distinct; purchase-only =
    purchasers - both; intersection via inclusion-exclusion)."""
    from kafkastreamer_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    r = REGISTRY["agg_theta_setops_audience"].fn(spark, sf_dir).collect()[0]
    assert r["exact_either"] < 4096, (
        "fixture distinct-user count outgrew the Theta sketch's exact "
        "mode; the equality assertions below are only valid in exact "
        "mode — switch them to tolerance bounds"
    )
    exact_both = r["exact_purchasers"] + r["exact_clickers"] - r["exact_either"]
    assert r["est_union"] == r["exact_either"], r
    assert r["est_intersect"] == exact_both, r
    assert r["est_purchase_only"] == r["exact_purchasers"] - exact_both, r


def test_kll_quantiles_within_rank_error(spark, sf_dir):
    """Every KLL quantile readout must land within the sketch's rank
    error of the requested rank (k=200 -> ~1.65% one-sided rank error
    at 99% confidence; allow 3%): the TRUE rank of the returned value,
    measured against the exactly-sorted group, stays near p."""
    from kafkastreamer_spark.registry import REGISTRY, _ensure_loaded
    from kafkastreamer_spark.tables import load_table

    _ensure_loaded()
    rows = REGISTRY["agg_kll_value_quantiles"].fn(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    for r in rows:
        vals = sorted(
            x["value"]
            for x in ev.filter(F.col("event_type") == r["event_type"])
            .select("value")
            .collect()
        )
        n = len(vals)
        assert r["n"] == n
        for p, est in ((0.5, r["p50_est"]), (0.95, r["p95_est"])):
            true_rank = sum(1 for v in vals if v <= est) / n
            assert abs(true_rank - p) <= 0.03, (r["event_type"], p, est, true_rank)


def test_dynamic_partition_pruning_on_joined_dim(spark, sf_dir, tmp_path):
    """DYNAMIC partition pruning (the runtime companion of the static
    PartitionFilters test above): the fact side is partitioned by day,
    the dim side's filter is on a NON-partition attribute, so only a
    runtime subquery can know which day directories survive. Catalyst
    must inject a dynamicpruning#... predicate into the fact scan —
    at 100 TB this is the difference between scanning 3 partitions
    and 3,000."""
    from kafkastreamer_spark.io import write_parquet

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "events_by_day_dpp")
    write_parquet(ev, path, partition_by=["day"])

    fact = spark.read.parquet(path)
    dim = (
        ev.select("day").distinct()
        .withColumn("dow", F.dayofweek("day"))
    )
    pruned = fact.join(dim.filter(F.col("dow") == 2), "day")  # Mondays only

    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]

    # correctness: identical to the unpartitioned formulation
    want = ev.join(
        ev.select("day").distinct()
        .withColumn("dow", F.dayofweek("day"))
        .filter(F.col("dow") == 2),
        "day",
    ).count()
    assert pruned.count() == want and want > 0


def test_mann_whitney_cumsum_is_bucketed(spark, sf_dir):
    """The MWU rank cumsum must use the two-phase bucket shape: the
    per-value window partitions on the price bucket, and any
    SinglePartition exchange feeds only the |buckets|-row totals
    aggregate, never the distinct-value table."""
    df = REGISTRY["orders_mann_whitney_u"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    import re
    # within-bucket window partitioned by b
    assert re.search(r"windowspecdefinition\(b#\d+L?, v#", plan), plan[:1500]
    idx = 0
    while True:
        idx = plan.find("Exchange SinglePartition", idx)
        if idx == -1:
            break
        assert "HashAggregate" in plan[idx : idx + 300], plan[idx : idx + 300]
        idx += 1


def test_parquet_schema_evolution_merge(spark, sf_dir, tmp_path):
    """Schema evolution across parquet file generations: an appended
    column is visible with mergeSchema (NULL for old files), and the
    default fast path (footer of one file) stays cheap — the reader
    contract a long-lived 100 TB table relies on as columns accrete."""
    out = str(tmp_path / "evolving")
    n = load_table(spark, sf_dir, "nation")
    n.select("n_nationkey", "n_name").write.mode("append").parquet(out)
    n.select(
        "n_nationkey", "n_name", F.col("n_regionkey").alias("region_added")
    ).write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"n_nationkey", "n_name", "region_added"}
    assert merged.count() == 2 * n.count()
    # old-generation rows surface NULL for the new column
    assert merged.filter(F.col("region_added").isNull()).count() == n.count()
    # evolved column filters push down like any other
    plan = merged.filter(F.col("region_added") == 0)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PushedFilters: [IsNotNull(region_added), EqualTo(region_added,0)]" in plan


@pytest.mark.parametrize("codec", ["snappy", "zstd", "gzip"])
def test_parquet_codec_roundtrip(spark, sf_dir, tmp_path, codec):
    """Compression codec matrix: every codec the 100 TB tiering story
    needs (snappy hot, zstd warm, gzip archive) round-trips
    losslessly and actually produces the requested encoding."""
    out = str(tmp_path / f"codec_{codec}")
    o = load_table(spark, sf_dir, "orders")
    o.write.option("compression", codec).mode("overwrite").parquet(out)
    import glob as _glob
    import os as _os

    ext = {"snappy": ".snappy.parquet", "zstd": ".zstd.parquet", "gzip": ".gz.parquet"}
    files = _glob.glob(_os.path.join(out, "*.parquet"))
    assert files and all(f.endswith(ext[codec]) for f in files), files[:3]
    back = spark.read.parquet(out)
    assert back.count() == o.count()
    a = o.agg(F.sum(F.floor(F.col("o_totalprice") * 10000)).cast("long")).collect()
    b = back.agg(F.sum(F.floor(F.col("o_totalprice") * 10000)).cast("long")).collect()
    assert a == b


def test_join_strategy_hints_honored(spark, sf_dir):
    """MERGE and SHUFFLE_HASH hints must override the planner's
    default choice — the operator's escape hatch when statistics
    mislead at scale."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")

    merged = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    assert "SortMergeJoin" in _physical_plan(merged)

    hashed = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    assert "ShuffledHashJoin" in _physical_plan(hashed)

    bcast = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    assert "BroadcastHashJoin" in _physical_plan(bcast)


def test_aqe_coalesces_small_shuffle_partitions(spark, sf_dir):
    """AQE must collapse the 32 configured shuffle partitions of a
    small aggregate into far fewer actual post-shuffle partitions —
    the runtime right-sizing that keeps 100 TB configs from drowning
    small stages in empty tasks."""
    n = load_table(spark, sf_dir, "nation")
    agg = n.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n"))
    agg.collect()  # materialize so AQE finalizes the plan
    plan = _physical_plan(agg)
    assert "AQEShuffleRead coalesced" in plan, plan[:1200]
    assert agg.rdd.getNumPartitions() < int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

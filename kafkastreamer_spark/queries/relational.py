"""Relational query surface (SURVEY.md §2-B).

The reference implements only keyed running-count + four scalar int
functions (SURVEY.md §2-A, Streamer.java:166-205,264-282); the full
relational surface here is the capability-closure extension. Every
query is pure DataFrame API — no custom execution code — so Catalyst
supplies pushdown/pruning/join-selection (SURVEY.md §4.1).

Conventions: aggregates over doubles use the fixed-point discipline in
queries/_util for cross-engine exactness, every ordered output has a
total-order tie-break, timestamps are output as strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.queries._util import (
    davg,
    dsum,
    dsum0,
    sql_davg,
    sql_dsum,
    sql_dsum0,
    wsum,
)
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table


# ---------------------------------------------------------------------------
# Flagship / TPC-H-style multi-operator queries
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum("l_quantity", "sum_qty")},
               {sql_dsum("l_extendedprice", "sum_base_price")},
               {sql_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
               {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
               {sql_davg("l_quantity", "avg_qty")},
               {sql_davg("l_extendedprice", "avg_price")},
               {sql_davg("l_discount", "avg_disc")},
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    tags=("relational", "agg", "flagship"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter → groupBy → 8 aggregates.

    Scale notes: single scan of lineitem with the shipdate predicate
    pushed to parquet; partial (map-side) aggregation on 6 groups means
    the shuffle moves ~6 rows per task regardless of input size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
        SELECT l.l_orderkey,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
               strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    tags=("relational", "join", "agg", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join → agg → global top-10 by revenue.

    customer joins by planner size estimate (r14: the explicit
    broadcast hint was dropped — customer GROWS with SF, so a forced
    broadcast is wrong at 100 TB; the base-scan estimate is
    directionally correct and flips this to a shuffle join exactly
    when customer outgrows the threshold). orders⋈lineitem shuffles
    on orderkey. The LIMIT after ORDER BY uses Spark's
    TakeOrderedAndProject (no full sort at scale).
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
        SELECT n.n_name,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n_name
    """,
    tags=("relational", "join", "agg", "flagship"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way join: revenue by supplier nation.

    nation/region/supplier are broadcast; the only shuffles are
    lineitem⋈orders (orderkey) and orders⋈customer (custkey).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q10_returned_items",
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
               n.n_name
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    tags=("relational", "join", "agg", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: returned-item revenue by customer, top 20."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Join types
# ---------------------------------------------------------------------------


@register(
    "join_inner",
    oracle=f"""
        SELECT o.o_orderstatus, c.c_mktsegment, COUNT(*) AS n_orders,
               {sql_dsum("o.o_totalprice", "total")}
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_orderstatus, c.c_mktsegment
        ORDER BY o_orderstatus, c_mktsegment
    """,
    tags=("relational", "join"),
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders⋈customer, aggregated by status×segment."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("o_orderstatus", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total"))
        .orderBy("o_orderstatus", "c_mktsegment")
    )


@register(
    "join_left_outer",
    oracle=f"""
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
               {sql_dsum0("o.o_totalprice", "total")}
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
        ORDER BY c_custkey
    """,
    tags=("relational", "join"),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer with order count (0 kept)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"), dsum0("o_totalprice", "total"))
        .orderBy("c_custkey")
    )


@register(
    "join_full_outer",
    oracle="""
        WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
                    FROM customer GROUP BY c_nationkey),
             sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
                    FROM supplier GROUP BY s_nationkey)
        SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
               COALESCE(n_cust, 0) AS n_cust,
               COALESCE(n_supp, 0) AS n_supp
        FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
        ORDER BY nationkey
    """,
    tags=("relational", "join"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer vs supplier counts."""
    cn = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    sn = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        cn.join(sn, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@register(
    "join_left_semi",
    oracle="""
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        ORDER BY c_custkey
    """,
    tags=("relational", "join"),
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join: customers having at least one finished order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_left_anti",
    oracle="""
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY c_custkey
    """,
    tags=("relational", "join"),
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers with no orders at all."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_broadcast_dims",
    oracle="""
        SELECT r.r_name, n.n_name, COUNT(*) AS n_cust
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
        ORDER BY r_name, n_name
    """,
    tags=("relational", "join", "broadcast"),
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dim joins with explicit broadcast of nation+region.

    At 100 TB the fact side never shuffles for these joins — both dims
    ship to every executor (BroadcastHashJoin).
    """
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .orderBy("r_name", "n_name")
    )


@register(
    "join_range_bands",
    oracle=f"""
        SELECT b.lo AS band_lo, COUNT(p.p_partkey) AS n_parts,
               {sql_dsum0("p.p_retailprice", "band_value")}
        FROM (SELECT CAST(range AS BIGINT) AS lo FROM range(0, 10000, 500)) b
        LEFT JOIN part p ON p.p_retailprice >= b.lo AND p.p_retailprice < b.lo + 500
        GROUP BY b.lo
        ORDER BY band_lo
    """,
    tags=("relational", "join", "range"),
)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: price-band histogram of parts.

    r13 (guide §3.3): the bands are uniform half-open intervals, so
    the theta join IS a computable key — band = floor(price/500)·500
    for price in [0, 10000). The old BroadcastNestedLoopJoin streamed
    every part row through all 20 band predicates; now parts aggregate
    straight to their band in one map-side pass and the 20-row band
    axis left-joins the ≤20-row aggregate (broadcast hash) to restore
    empty bands with zero counts — same rows per band, same fixed-
    point sums, and the fact side is never widened or re-tested.
    """
    p = load_table(spark, sf_dir, "part")
    pa = (
        p.filter((p.p_retailprice >= 0) & (p.p_retailprice < 10000))
        .groupBy((F.floor(p.p_retailprice / 500) * 500).cast("long").alias("lo"))
        .agg(
            F.count("p_partkey").alias("n_parts"),
            dsum0("p_retailprice", "band_value"),
        )
    )
    bands = spark.range(0, 10000, 500).select(F.col("id").alias("band_lo"))
    return (
        bands.join(F.broadcast(pa), bands.band_lo == pa.lo, "left")
        .select(
            "band_lo",
            F.coalesce("n_parts", F.lit(0).cast("long")).alias("n_parts"),
            F.coalesce("band_value", F.lit(0.0)).alias("band_value"),
        )
        .orderBy("band_lo")
    )


# ---------------------------------------------------------------------------
# Aggregation variants
# ---------------------------------------------------------------------------


@register(
    "agg_global",
    oracle=f"""
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               {sql_dsum("l_quantity", "sum_qty")},
               CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
               CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
               {sql_davg("l_extendedprice", "avg_price")}
        FROM lineitem
    """,
    tags=("relational", "agg"),
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no grouping) aggregate battery over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        dsum("l_quantity", "sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg("l_extendedprice", "avg_price"),
    )


@register(
    "agg_count_distinct",
    oracle="""
        SELECT o_orderpriority,
               COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(DISTINCT o_orderstatus) AS n_statuses,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("relational", "agg"),
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact distinct counts (expand-based in Spark)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_rollup",
    oracle=f"""
        SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
               COALESCE(l_linestatus, '<all>') AS l_linestatus,
               COUNT(*) AS n_rows,
               {sql_dsum("l_quantity", "sum_qty")}
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY l_returnflag, l_linestatus
    """,
    tags=("relational", "agg"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy over returnflag→linestatus with grand total."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity", "sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "n_rows",
            "sum_qty",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_cube",
    oracle=f"""
        SELECT COALESCE(o_orderstatus, '<all>') AS o_orderstatus,
               COALESCE(o_orderpriority, '<all>') AS o_orderpriority,
               COUNT(*) AS n_orders,
               {sql_dsum("o_totalprice", "total")}
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus, o_orderpriority
    """,
    tags=("relational", "agg"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status×priority: all 4 grouping combinations."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("o_orderpriority"),
            "n_orders",
            "total",
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@register(
    "agg_grouping_sets",
    oracle="""
        SELECT COALESCE(c_mktsegment, '<all>') AS c_mktsegment,
               COALESCE(CAST(c_nationkey AS VARCHAR), '<all>') AS c_nationkey,
               COUNT(*) AS n_cust
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        ORDER BY c_mktsegment, c_nationkey
    """,
    tags=("relational", "agg"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: by-segment and by-nation in one pass."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT COALESCE(c_mktsegment, '<all>') AS c_mktsegment,
               COALESCE(CAST(c_nationkey AS STRING), '<all>') AS c_nationkey,
               COUNT(*) AS n_cust
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        ORDER BY c_mktsegment, c_nationkey
        """
    )


# ---------------------------------------------------------------------------
# Window (analytic) functions
# ---------------------------------------------------------------------------


@register(
    "window_rank",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice, rnk
        FROM (
            SELECT o_orderkey, o_orderstatus, o_totalprice,
                   RANK() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
            FROM orders
        )
        WHERE rnk <= 5
        ORDER BY o_orderstatus, rnk
    """,
    tags=("relational", "window"),
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK per status partition; top 5 priciest orders per status."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select("o_orderkey", "o_orderstatus", "o_totalprice", F.rank().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 5)
        .orderBy("o_orderstatus", "rnk")
    )


@register(
    "window_lag_lead",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice,
               CAST(prev_price AS DOUBLE) AS prev_price,
               CAST(next_price AS DOUBLE) AS next_price,
               CAST(o_totalprice - COALESCE(prev_price, o_totalprice) AS DOUBLE) AS delta_prev
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   LAG(o_totalprice) OVER w AS prev_price,
                   LEAD(o_totalprice) OVER w AS next_price
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        )
        ORDER BY o_custkey, o_orderkey
    """,
    tags=("relational", "window"),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD over each customer's order history (orderdate order)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
        )
        .withColumn(
            "delta_prev",
            F.col("o_totalprice") - F.coalesce("prev_price", F.col("o_totalprice")),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_running_frame",
    oracle=f"""
        SELECT o_custkey, o_orderkey,
               CAST(SUM({'CAST(FLOOR((o_totalprice) * 10000) AS BIGINT)'})
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   / 10000 AS running_total,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey) AS BIGINT)
                   AS order_seq
        FROM orders
        ORDER BY o_custkey, o_orderkey
    """,
    tags=("relational", "window"),
)
def window_running_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ROWS frame: running lifetime spend per customer."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            wsum("o_totalprice", frame).alias("running_total"),
            F.row_number().over(w).cast("long").alias("order_seq"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "topk_per_group",
    oracle="""
        SELECT p_brand, p_partkey, CAST(p_retailprice AS DOUBLE) AS p_retailprice, rn
        FROM (
            SELECT p_brand, p_partkey, p_retailprice,
                   ROW_NUMBER() OVER (PARTITION BY p_brand
                                      ORDER BY p_retailprice DESC, p_partkey) AS rn
            FROM part
        )
        WHERE rn <= 3
        ORDER BY p_brand, rn
    """,
    tags=("relational", "window", "topk"),
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (k=3 priciest parts per brand) via row_number.

    The canonical scale pattern: one shuffle on the group key, no
    global sort.
    """
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        p.select("p_brand", "p_partkey", "p_retailprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .orderBy("p_brand", "rn")
    )


# ---------------------------------------------------------------------------
# Sort / limit / set operations
# ---------------------------------------------------------------------------


@register(
    "sort_limit",
    oracle="""
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderstatus
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 25
    """,
    tags=("relational", "sort"),
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-25 by price (TakeOrderedAndProject, not a full sort)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
    )


@register(
    "setop_union_all",
    oracle="""
        SELECT kind, nationkey, COUNT(*) AS n
        FROM (
            SELECT 'customer' AS kind, c_nationkey AS nationkey FROM customer
            UNION ALL
            SELECT 'supplier' AS kind, s_nationkey AS nationkey FROM supplier
        )
        GROUP BY kind, nationkey
        ORDER BY kind, nationkey
    """,
    tags=("relational", "setop"),
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two keyed projections, then aggregate."""
    c = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"), F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"), F.col("s_nationkey").alias("nationkey")
    )
    return (
        c.unionAll(s)
        .groupBy("kind", "nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("kind", "nationkey")
    )


@register(
    "setop_intersect",
    oracle="""
        SELECT nationkey FROM (
            SELECT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT s_nationkey AS nationkey FROM supplier
        ) ORDER BY nationkey
    """,
    tags=("relational", "setop"),
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations having both customers and suppliers."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s).orderBy("nationkey")


@register(
    "setop_except",
    oracle="""
        SELECT custkey FROM (
            SELECT o_custkey AS custkey FROM orders
            EXCEPT
            SELECT user_id FROM events
        ) ORDER BY custkey
    """,
    tags=("relational", "setop"),
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers who placed orders but never emitted an event
    (the earlier nations-without-suppliers form went empty at sf0.1 —
    every nation has suppliers there; this pair stays ~90% of the
    order-customer set at every scale)."""
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("custkey")
    )
    return o.subtract(ev).orderBy("custkey")


# ---------------------------------------------------------------------------
# Scalar function groups (SURVEY.md §2-B "Scalar fns")
# ---------------------------------------------------------------------------


@register(
    "scalar_string",
    oracle="""
        SELECT p_partkey,
               UPPER(p_name) AS name_upper,
               LOWER(p_brand) AS brand_lower,
               SUBSTR(p_name, 1, 8) AS name_prefix,
               CAST(LENGTH(p_name) AS BIGINT) AS name_len,
               CONCAT(p_brand, ':', p_type) AS brand_type,
               REPLACE(p_type, ' ', '_') AS type_snake,
               TRIM(p_name) AS name_trim
        FROM part
        ORDER BY p_partkey
    """,
    tags=("relational", "scalar"),
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery: case, substring, length, concat, replace."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.lower("p_brand").alias("brand_lower"),
            F.substring("p_name", 1, 8).alias("name_prefix"),
            F.length("p_name").cast("long").alias("name_len"),
            F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
            F.regexp_replace("p_type", " ", "_").alias("type_snake"),
            F.trim(F.col("p_name")).alias("name_trim"),
        )
        .orderBy("p_partkey")
    )


@register(
    "scalar_math",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(ABS(l_quantity - 25) AS DOUBLE) AS qty_dev,
               CAST(SQRT(l_quantity) AS DOUBLE) AS qty_sqrt,
               CAST(FLOOR(l_discount * 100) AS BIGINT) AS disc_pct,
               CAST(CEIL(l_tax * 100) AS BIGINT) AS tax_pct_ceil,
               l_orderkey % 7 AS key_mod,
               CAST(l_extendedprice / l_quantity AS DOUBLE) AS unit_price
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber
    """,
    tags=("relational", "scalar"),
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery: abs/sqrt/floor/ceil/mod/div (all IEEE-exact ops)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
            F.sqrt("l_quantity").alias("qty_sqrt"),
            F.floor(F.col("l_discount") * 100).alias("disc_pct"),
            F.ceil(F.col("l_tax") * 100).alias("tax_pct_ceil"),
            (F.col("l_orderkey") % 7).alias("key_mod"),
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "scalar_date",
    oracle="""
        SELECT o_orderkey,
               CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
               CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
               CAST(EXTRACT(day FROM o_orderdate) AS INT) AS order_day,
               CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS order_quarter,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
               strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
        FROM orders
        ORDER BY o_orderkey
    """,
    tags=("relational", "scalar"),
)
def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time battery: extract parts, format, truncate."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.dayofmonth("o_orderdate").alias("order_day"),
            F.quarter("o_orderdate").alias("order_quarter"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "month_start"
            ),
        )
        .orderBy("o_orderkey")
    )


@register(
    "scalar_case",
    oracle=f"""
        SELECT tier, COUNT(*) AS n_cust,
               {sql_dsum("c_acctbal", "total_bal")}
        FROM (
            SELECT CASE WHEN c_acctbal < 0 THEN 'debt'
                        WHEN c_acctbal < 3000 THEN 'low'
                        WHEN c_acctbal < 7000 THEN 'mid'
                        ELSE 'high' END AS tier,
                   c_acctbal
            FROM customer
        )
        GROUP BY tier
        ORDER BY tier
    """,
    tags=("relational", "scalar"),
)
def scalar_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing of account balances."""
    c = load_table(spark, sf_dir, "customer")
    tier = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 3000, "low")
        .when(F.col("c_acctbal") < 7000, "mid")
        .otherwise("high")
    )
    return (
        c.select(tier.alias("tier"), "c_acctbal")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n_cust"), dsum("c_acctbal", "total_bal"))
        .orderBy("tier")
    )

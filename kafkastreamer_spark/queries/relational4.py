"""Fourth coverage batch: value window functions, ordered string
aggregation, exact percentiles, token frequency top-k, conditional
aggregation over a join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.operators._embed import SQL_TOKENS, tokens
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table, widen


@register(
    "window_value_functions",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(first_value(o_totalprice) OVER w AS DOUBLE) AS first_price,
               CAST(last_value(o_totalprice) OVER w_full AS DOUBLE) AS last_price,
               CAST(nth_value(o_totalprice, 2) OVER w_full AS DOUBLE) AS second_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_custkey, o_orderkey
    """,
    tags=("relational", "window"),
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value: each customer's first,
    latest, and second order price (full-partition frame for the
    latter two — the default running frame would make last_value ==
    current row)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.first("o_totalprice").over(w).alias("first_price"),
            F.last("o_totalprice").over(w_full).alias("last_price"),
            F.nth_value("o_totalprice", 2).over(w_full).alias("second_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "agg_string_concat",
    oracle="""
        SELECT n_regionkey,
               string_agg(n_name, ',' ORDER BY n_name) AS nations
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey
    """,
    tags=("relational", "agg"),
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG semantics) via sorted
    collect_list + array_join — deterministic output regardless of
    partitioning."""
    n = load_table(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
        )
        .orderBy("n_regionkey")
    )


@register(
    "agg_median_exact",
    oracle="""
        SELECT l_returnflag,
               CAST(FLOOR(quantile_cont(l_extendedprice, 0.5) * 100) AS BIGINT)
                   AS median_price2,
               CAST(FLOOR(quantile_cont(l_extendedprice, 0.9) * 100) AS BIGINT)
                   AS p90_price2
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    tags=("relational", "agg"),
)
def agg_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median + p90) per group —
    results floored at 2 decimals since the interpolation arithmetic
    is the one place both engines can differ in the last ulp."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.floor(F.percentile("l_extendedprice", F.lit(0.5)) * 100).alias(
                "median_price2"
            ),
            F.floor(F.percentile("l_extendedprice", F.lit(0.9)) * 100).alias(
                "p90_price2"
            ),
        )
        .orderBy("l_returnflag")
    )


@register(
    "text_top_tokens",
    oracle=f"""
        WITH tok AS (SELECT unnest({SQL_TOKENS}) AS t FROM documents)
        SELECT t AS token, COUNT(*) AS n
        FROM tok
        GROUP BY t
        ORDER BY n DESC, token
        LIMIT 50
    """,
    tags=("llm-data", "text", "topk"),
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency top-50 (explode → count → top-k): the
    vocabulary-building primitive. Partial aggregation keeps the
    shuffle at vocabulary size, not corpus size."""
    d = widen(load_table(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(50)
    )


@register(
    "q12_priority_shipping",
    oracle="""
        SELECT l.l_linestatus,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_linestatus
        ORDER BY l_linestatus
    """,
    tags=("relational", "join", "agg", "flagship"),
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: join + conditional (CASE) aggregation —
    priority mix per line status for lines shipped in 1996."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q14_promo_revenue",
    oracle="""
        SELECT CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                        THEN CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000) AS BIGINT)
                        ELSE 0 END) AS DOUBLE) / 10000 AS promo_revenue,
               CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000) AS BIGINT))
                   AS DOUBLE) / 10000 AS total_revenue,
               COUNT(*) AS n_rows
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
    """,
    tags=("relational", "join", "agg", "flagship"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: promotion revenue share — broadcast join to
    part, conditional fixed-point sums. (The ratio itself is left to
    the consumer: dividing the two exact sums is deterministic but the
    engine reports both components.)"""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    fp = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    promo = F.when(F.col("p_type").startswith("PROMO"), fp).otherwise(F.lit(0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (F.sum(promo).cast("double") / 10000).alias("promo_revenue"),
            (F.sum(fp).cast("double") / 10000).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q18_large_volume_customers",
    oracle="""
        WITH big AS (
            SELECT l_orderkey
            FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(FLOOR(l_quantity * 10000) AS BIGINT)) > 1400000
        )
        SELECT c.c_custkey, c.c_name, o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
               CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
               CAST(SUM(CAST(FLOOR(l.l_quantity * 10000) AS BIGINT)) AS DOUBLE) / 10000
                   AS total_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
        GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
    tags=("relational", "join", "agg", "subquery", "flagship"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: customers with very large orders — HAVING
    subquery as a semi join on the pre-aggregated order quantities,
    then re-join for the report columns. Quantity threshold scaled to
    the fixture (sum qty > 140)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    fpq = F.floor(F.col("l_quantity") * 10000).cast("long")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(fpq).alias("fq"))
        .filter(F.col("fq") > 1400000)
        .select("l_orderkey")
    )
    return (
        l.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg((F.sum(fpq).cast("double") / 10000).alias("total_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )

"""Seventh coverage batch: the six remaining TPC-H-style flagships
(Q2/Q9/Q11/Q16/Q20/Q21) adapted to the fixture schemas. The fixtures
have no partsupp table and no l_commitdate/l_receiptdate columns, so:

* the part-supplier catalog is derived from distinct (l_partkey,
  l_suppkey) pairs in lineitem (Q2/Q16/Q20);
* "supply cost" is the minimum extended price a supplier ever shipped
  a part at (Q2), and Q9's cost leg is p_retailprice * quantity;
* Q21's "kept waiting" predicate becomes "sole R-flagged supplier on
  a multi-supplier finished order" (same EXISTS / NOT EXISTS shape).

Reference grounding: the reference has no joins or subqueries at all
(SURVEY.md §2 Part A — its whole surface is a keyed running count plus
arithmetic maps, v1/src/main/java/Stream/Streamer.java:264-356); this
module is Part-B capability closure over Spark built-ins. The patterns
covered here that the earlier flagships don't: decorrelated per-group
MIN (Q2), scalar-subquery share-of-total HAVING (Q11), NOT-IN
exclusion feeding a count-distinct (Q16), HAVING over a scalar
aggregate of aggregates (Q20), and double correlated EXISTS/NOT
EXISTS on the same relation (Q21).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.queries._util import SCALE, fixed, sql_fixed
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table


@register(
    "q2_min_cost_supplier",
    oracle=f"""
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   MIN({sql_fixed('l_extendedprice')}) AS cost_fp
            FROM lineitem
            GROUP BY 1, 2
        ),
        cand AS (
            SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
                   s.s_acctbal, n.n_name, ps.cost_fp,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.p_partkey
                       ORDER BY ps.cost_fp, s.s_acctbal DESC, s.s_suppkey
                   ) AS rn
            FROM ps
            JOIN part p ON ps.l_partkey = p.p_partkey
            JOIN supplier s ON ps.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
              AND r.r_name = 'EUROPE'
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
               CAST(cost_fp AS DOUBLE) / {SCALE} AS min_cost
        FROM cand WHERE rn = 1
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    tags=("relational", "join", "subquery", "flagship"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style: for each qualifying part, the European supplier
    offering it at the lowest cost. The correlated scalar subquery
    (cost = MIN over suppliers of that part) is decorrelated into a
    single window rank over the part-supplier catalog — one pass, no
    per-part re-scan.

    Scale shape: the catalog build is the only lineitem-wide step and
    it partial-aggregates (l_partkey, l_suppkey) map-side before its
    shuffle; nation/region stay hinted broadcasts (fixed <= 25 rows at
    ANY SF), while part/supplier broadcast only by planner estimate
    (r14: hints dropped — both tables grow with SF, so the estimate's
    threshold crossing is the correct 100 TB behavior), and the
    part-side size/type filter prunes before the rank window. Cost
    stays in fixed-point BIGINT so MIN and the rank order are exact.
    """
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(fixed("l_extendedprice")).alias("cost_fp"))
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cand = (
        ps.join(p, ps.l_partkey == p.p_partkey)
        .join(s, ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    w = Window.partitionBy("p_partkey").orderBy(
        "cost_fp", F.col("s_acctbal").desc(), "s_suppkey"
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            (F.col("cost_fp").cast("double") / SCALE).alias("min_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q9_product_profit",
    oracle=f"""
        SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
               CAST(SUM({sql_fixed('l.l_extendedprice * (1 - l.l_discount)')}
                        - {sql_fixed('p.p_retailprice')}
                          * CAST(l.l_quantity AS BIGINT))
                    AS DOUBLE) / {SCALE} AS sum_profit
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY 1, 2
        ORDER BY nation, o_year DESC
    """,
    tags=("relational", "join", "agg", "flagship"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style: profit by supplier nation and order year over
    parts whose name matches a pattern, profit = revenue minus
    retail-price-based cost (the fixtures have no ps_supplycost).

    Scale shape: the broadcast part filter ('%red%') prunes lineitem
    BEFORE the one big-big shuffle (lineitem-orders on orderkey);
    supplier and nation are broadcast. Profit is summed as the exact
    BIGINT difference of two fixed-point legs — quantity is
    integer-valued in the fixtures so cost stays exact too."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit_fp = fixed(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ) - fixed("p_retailprice") * F.col("l_quantity").cast("long")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg((F.sum(profit_fp).cast("double") / SCALE).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "q11_important_part_value",
    oracle=f"""
        WITH v AS (
            SELECT l.l_partkey,
                   SUM({sql_fixed('l.l_extendedprice')}) AS value_fp
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_3'
            GROUP BY 1
        )
        SELECT l_partkey,
               CAST(value_fp AS DOUBLE) / {SCALE} AS part_value
        FROM v
        WHERE value_fp * (SELECT COUNT(*) FROM v) * 2
              > 3 * (SELECT SUM(value_fp) FROM v)
        ORDER BY part_value DESC, l_partkey
    """,
    tags=("relational", "agg", "subquery", "flagship"),
)
def q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style: parts whose shipped value from one nation's
    suppliers exceeds 1.5x the mean per-part value (Q11's fixed
    "fraction of total" cutoff is scale-dependent — parts grow with
    SF, so every share shrinks; a multiple-of-mean threshold selects
    a stable ~20% at every scale). The scalar subquery (count +
    total) is computed once and broadcast back as a 1-row cross join
    — the share-of-total HAVING pattern.

    Scale shape: one shuffle builds the per-part values; the
    threshold is a second aggregation OVER THE SAME small aggregate
    (not a second scan of lineitem). The compare stays in integer
    space (value*n*2 > 3*total) so no double rounding can flip a
    boundary row between engines. At 100 TB the per-part aggregate is
    ~|parts| rows — the global re-agg is trivial."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    v = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(fixed("l_extendedprice")).alias("value_fp"))
    )
    total = v.agg(
        F.sum("value_fp").alias("total_fp"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("value_fp") * F.col("n_parts") * 2 > 3 * F.col("total_fp"))
        .select(
            "l_partkey",
            (F.col("value_fp").cast("double") / SCALE).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
        SELECT p.p_brand, p.p_type, p.p_size,
               COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_type <> 'PROMO'
          AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("relational", "join", "agg", "subquery", "flagship"),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style: how many distinct suppliers can ship each
    (brand, type, size) bucket, excluding a blocklisted supplier set
    (negative balance stands in for the reference's complaint filter).
    The NOT IN becomes a broadcast left-anti join.

    Scale shape: part filters broadcast-prune lineitem first; the
    anti-join is also broadcast (blocklist is tiny); the only shuffle
    is the distinct-count aggregation. COUNT(DISTINCT) expands to a
    two-phase exact distinct — fine here because the group count is
    bounded by |brand|x|type|x|sizes|, not by data volume."""
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(
            bad,
            l.l_suppkey == bad.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_excess_shipping_suppliers",
    oracle="""
        WITH q AS (
            SELECT l.l_suppkey,
                   SUM(CAST(l.l_quantity AS BIGINT)) AS qty
            FROM lineitem l
            WHERE l.l_partkey IN (
                      SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
                  )
              AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY 1
        )
        SELECT s.s_name, s.s_acctbal
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_5'
          AND s.s_suppkey IN (
              SELECT l_suppkey FROM q
              WHERE qty * 2 * (SELECT COUNT(*) FROM q)
                    > (SELECT SUM(qty) FROM q)
          )
        ORDER BY s_name
    """,
    tags=("relational", "join", "subquery", "flagship"),
)
def q20_excess_shipping_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style: suppliers in one nation who shipped an
    above-average volume of 'small%' parts in 1997 (the fixtures have
    no ps_availqty, so "excess stock" becomes "above half the mean
    per-supplier volume"). Nested IN subqueries become a broadcast
    semi-join chain.

    Scale shape: the part-name filter broadcast-prunes lineitem, the
    date filter is pushed to the scan, one shuffle aggregates per
    supplier, and the mean threshold is a 1-row broadcast. The
    comparison is exact in integers: qty*2*n > total avoids the
    double division. The final supplier filter is a broadcast
    semi-join, so the big side never reshuffles."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    small = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    q = (
        l.join(small, l.l_partkey == small.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    stats = q.agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("qty").alias("total_qty")
    )
    heavy = (
        q.crossJoin(F.broadcast(stats))
        .filter(F.col("qty") * 2 * F.col("n_supp") > F.col("total_qty"))
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "q21_sole_fault_supplier",
    oracle="""
        SELECT s.s_name, COUNT(*) AS numwait
        FROM lineitem l1
        JOIN orders o ON l1.l_orderkey = o.o_orderkey
        JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND n.n_name = 'NATION_7'
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_returnflag = 'R'
          )
        GROUP BY 1
        ORDER BY numwait DESC, s_name
        LIMIT 100
    """,
    tags=("relational", "join", "subquery", "flagship"),
)
def q21_sole_fault_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style: suppliers who were the SOLE supplier with a
    returned ('R') line on a finished multi-supplier order (the
    fixtures lack commit/receipt dates, so "kept waiting" becomes
    "sole returned-flag contributor" — same correlated EXISTS +
    NOT EXISTS shape as the original).

    Scale shape: both correlated subqueries become joins on
    l_orderkey with the suppkey inequality as a residual predicate —
    a left-semi (EXISTS) then left-anti (NOT EXISTS) hash join, each
    one shuffle on orderkey co-partitioned with the l1-orders join.
    No per-row re-scan of lineitem, which is what the naive
    correlated plan would do at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")

    l1 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o1_key"), F.col("l_suppkey").alias("s1_key")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2_key"), F.col("l_suppkey").alias("s2_key")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3_key"), F.col("l_suppkey").alias("s3_key")
    )
    return (
        l1.join(
            l2,
            (F.col("o1_key") == F.col("o2_key"))
            & (F.col("s1_key") != F.col("s2_key")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("o1_key") == F.col("o3_key"))
            & (F.col("s1_key") != F.col("s3_key")),
            "left_anti",
        )
        .join(o, F.col("o1_key") == o.o_orderkey, "left_semi")
        .join(s, F.col("s1_key") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )

"""Sixth coverage batch: as-of (temporal) join and the remaining
TPC-H-style flagships adapted to the fixture schemas (no partsupp /
l_receiptdate / c_phone / o_comment columns exist, so Q7/Q8/Q13/Q15/
Q17/Q19/Q22 use the nearest expressible predicate on the available
columns), plus a cross join.

Reference grounding: the reference has no joins at all (SURVEY.md §2
Part A — its surface is keyed running count + arithmetic maps,
v1/src/main/java/Stream/Streamer.java:264-356); everything here is
Part-B capability closure built on Spark built-ins.

Scale notes are per-query; the as-of join is the one operator Spark
has no primitive for — implemented as union + single window pass
(one shuffle on the key, no range-explosion candidate join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.queries._util import dsum, epoch_us, fixed, sql_dsum, sql_fixed
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table


# NOTE: built lazily — a module-level Column would run F.col() when
# Python UDF workers re-import the package without an active
# SparkContext (Spark 4.1 classic asserts on that).
def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


SQL_REV = "l.l_extendedprice * (1 - l.l_discount)"


@register(
    "join_asof_prev_purchase",
    oracle="""
        WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        m AS (
            SELECT c.event_id AS click_id, p.event_id AS p_id,
                   p.value AS p_value, p.ts AS p_ts,
                   ROW_NUMBER() OVER (PARTITION BY c.event_id
                                      ORDER BY p.ts DESC, p.event_id DESC) AS rn
            FROM c JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts
        )
        SELECT c.event_id, c.user_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
               m.p_id AS prev_purchase_id,
               CAST(m.p_value AS DOUBLE) AS prev_purchase_value,
               epoch_us(c.ts) - epoch_us(m.p_ts) AS micros_since_purchase
        FROM c LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
          ON m.click_id = c.event_id
        ORDER BY c.event_id
    """,
    tags=("join", "asof", "temporal"),
)
def join_asof_prev_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click event, the most recent purchase by
    the same user at or before the click (ties on ts: highest
    event_id wins; clicks with no prior purchase keep nulls).

    Spark has no ASOF JOIN primitive, and the naive inequality join
    explodes to |clicks|x|purchases| candidates per user before the
    per-click argmax. The scalable formulation used here is the
    union-and-sweep: tag both sides, union, sort each user's timeline
    once, and carry the last-seen purchase forward with
    ``last(..., ignorenulls=True)`` over rows-unbounded-preceding.
    One hash shuffle on user_id, O(n log n) per key, no candidate
    blowup — this survives 100 TB where the inequality join does not.
    The oracle deliberately uses the naive-join + ROW_NUMBER
    formulation so the two independent strategies check each other.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("side"),
        F.col("event_id").alias("p_id"),
        F.col("value").alias("p_value"),
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("double").alias("p_value"),
        F.lit(None).cast("timestamp").alias("p_ts"),
    )
    # side=0 (purchase) sorts before side=1 (click) at equal ts, so a
    # same-instant purchase is visible to the click (p.ts <= c.ts).
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = purchases.unionByName(clicks).select(
        "user_id",
        "ts",
        "event_id",
        "side",
        F.last("p_id", ignorenulls=True).over(w).alias("prev_purchase_id"),
        F.last("p_value", ignorenulls=True).over(w).alias("prev_purchase_value"),
        F.last("p_ts", ignorenulls=True).over(w).alias("prev_ts"),
    )
    return (
        swept.filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
            "prev_purchase_id",
            "prev_purchase_value",
            (epoch_us("ts") - epoch_us("prev_ts")).alias(
                "micros_since_purchase"
            ),
        )
        .orderBy("event_id")
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l.l_shipdate) AS l_year,
               {sql_dsum(SQL_REV, "revenue")},
               COUNT(*) AS n_rows
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY 1, 2, 3
        ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("relational", "join", "agg", "flagship"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: shipping volume between two nations by year and
    direction. Scale shape: the only big-big join is lineitem-orders
    (shuffle on orderkey); supplier/nation/customer are broadcast so
    the nation predicate prunes rows before the wide shuffle."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    return (
        l.join(F.broadcast(s.join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))),
               l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))),
              o.o_custkey == c.c_custkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(_rev(), "revenue"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    oracle=f"""
        SELECT year(l.l_shipdate) AS l_year,
               CAST(SUM(CASE WHEN n1.n_name = 'NATION_5'
                        THEN {sql_fixed(SQL_REV)} ELSE 0 END) AS DOUBLE) / 10000
                   AS nation_revenue,
               {sql_dsum(SQL_REV, "total_revenue")},
               COUNT(*) AS n_rows
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        JOIN region r ON n2.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        GROUP BY 1
        ORDER BY l_year
    """,
    tags=("relational", "join", "agg", "flagship"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style market share: NATION_5 suppliers' share of PROMO
    part revenue sold to ASIA customers, by ship year. The share is
    reported as exact numerator/denominator (fixed-point conditional
    sums); the division is left to the consumer, as in q14.

    Scale shape: part/supplier/nation/region and the customer dim are
    broadcast; lineitem-orders is the single shuffle join, and the
    PROMO filter runs before it via the broadcast part join.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("c_nk")
    )
    cust = c.join(F.broadcast(n2), c.c_nationkey == F.col("c_nk")).select("c_custkey")
    supp = s.join(F.broadcast(n.select("n_nationkey", "n_name")),
                  s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    fp = fixed(_rev())
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(supp), l.l_suppkey == F.col("s_suppkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == F.col("c_custkey"))
        .groupBy(F.year("l_shipdate").alias("l_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_5", fp).otherwise(F.lit(0)))
                .cast("double")
                / 10000
            ).alias("nation_revenue"),
            (F.sum(fp).cast("double") / 10000).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_year")
    )


@register(
    "q13_customer_order_counts",
    oracle="""
        WITH co AS (
            SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                 AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        SELECT c_count, COUNT(*) AS custdist
        FROM co
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    tags=("relational", "join", "agg", "flagship"),
)
def q13_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style: distribution of per-customer order counts
    (urgent orders excluded — the fixture has no o_comment, so the
    'special requests' predicate is adapted to o_orderpriority).
    Two-level aggregation; COUNT(o_orderkey) counts only matched rows
    so no-order customers land in the c_count=0 bucket."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        co.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q15_top_supplier",
    oracle="""
        WITH rev AS (
            SELECT l_suppkey AS supplier_no,
                   SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000)
                       AS BIGINT)) AS fr
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(rev.fr AS DOUBLE) / 10000 AS total_revenue
        FROM supplier s
        JOIN rev ON s.s_suppkey = rev.supplier_no
        WHERE rev.fr = (SELECT MAX(fr) FROM rev)
        ORDER BY s.s_suppkey
    """,
    tags=("relational", "join", "agg", "subquery", "flagship"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style: supplier(s) with the maximum revenue in a
    quarter. The max-equality compares exact fixed-point BIGINTs (a
    double comparison would be rounding-hazardous); the scalar-max
    subquery becomes a broadcast single-row join."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(fixed(_rev())).alias("fr")
    )
    mx = rev.agg(F.max("fr").alias("mx"))
    return (
        rev.join(F.broadcast(mx), F.col("fr") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("fr").cast("double") / 10000).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
        WITH pf AS (SELECT p_partkey FROM part
                    WHERE p_brand = 'Brand#3' AND p_size < 15),
        li AS (
            SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
            FROM lineitem l JOIN pf ON l.l_partkey = pf.p_partkey
        ),
        st AS (
            SELECT l_partkey,
                   SUM(CAST(FLOOR(l_quantity * 10000) AS BIGINT)) AS sq,
                   COUNT(*) AS cnt
            FROM li GROUP BY l_partkey
        )
        SELECT CAST(SUM(CAST(FLOOR(li.l_extendedprice * 10000) AS BIGINT))
                   AS DOUBLE) / 10000 / 7 AS avg_yearly,
               COUNT(*) AS n_rows
        FROM li JOIN st ON li.l_partkey = st.l_partkey
        WHERE 5 * CAST(FLOOR(li.l_quantity * 10000) AS BIGINT) * st.cnt < st.sq
    """,
    tags=("relational", "join", "agg", "subquery", "flagship"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style: revenue lost to small-quantity orders — lines
    with quantity below 20% of the part's average quantity (the
    correlated AVG subquery). Adapted predicate: p_brand + p_size (no
    p_container in the fixture).

    The qty < 0.2*avg comparison is done entirely in integer space
    (5*fixed(qty)*cnt < sum_fixed(qty)) so both engines agree exactly.
    Scale shape: the correlated subquery is decorrelated into a
    per-part aggregate re-joined on partkey — both sides pre-filtered
    by the broadcast part-dim join, one shuffle on l_partkey.
    """
    pf = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#3") & (F.col("p_size") < 15))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    st = li.groupBy(F.col("l_partkey").alias("sk")).agg(
        F.sum(fixed("l_quantity")).alias("sq"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        li.join(st, li.l_partkey == st.sk)
        .filter(F.lit(5) * fixed("l_quantity") * F.col("cnt") < F.col("sq"))
        .agg(
            (F.sum(fixed("l_extendedprice")).cast("double") / 10000 / 7).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q19_disjunctive_predicates",
    oracle=f"""
        SELECT p.p_brand, {sql_dsum(SQL_REV, "revenue")}, COUNT(*) AS n_rows
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 1 AND 20)
           OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 25
               AND l.l_quantity BETWEEN 10 AND 30)
           OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 40
               AND l.l_quantity BETWEEN 20 AND 40)
        GROUP BY p.p_brand
        ORDER BY p_brand
    """,
    tags=("relational", "join", "agg", "flagship"),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style: disjunction of brand/size/quantity predicate
    groups over the part join (adapted: no p_container). The join
    stays a broadcast equi-join on partkey with the OR residual as a
    post-join filter — Catalyst also derives the implied
    brand-IN/size-range pushdown on part from the disjunction."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q, sz, br = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    disj = (
        ((br == "Brand#1") & sz.between(1, 10) & q.between(1, 20))
        | ((br == "Brand#2") & sz.between(10, 25) & q.between(10, 30))
        | ((br == "Brand#3") & sz.between(20, 40) & q.between(20, 40))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(disj)
        .groupBy("p_brand")
        .agg(dsum(_rev(), "revenue"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy("p_brand")
    )


@register(
    "q22_inactive_rich_customers",
    oracle="""
        WITH elig AS (
            SELECT c_custkey, c_nationkey, c_acctbal,
                   CAST(FLOOR(c_acctbal * 10000) AS BIGINT) AS fb
            FROM customer
            WHERE c_nationkey IN (1, 3, 5, 7, 9, 11) AND c_acctbal > 0
        ),
        stats AS (SELECT SUM(fb) AS s, COUNT(*) AS n FROM elig)
        SELECT e.c_nationkey,
               COUNT(*) AS numcust,
               CAST(SUM(e.fb) AS DOUBLE) / 10000 AS totacctbal
        FROM elig e, stats
        WHERE e.fb * stats.n > stats.s
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = e.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY e.c_nationkey
        ORDER BY c_nationkey
    """,
    tags=("relational", "join", "agg", "subquery", "flagship"),
)
def q22_inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: customers in selected nations with
    above-average positive balance and no recent orders (adapted: the
    phone-prefix country codes become c_nationkey membership, and
    "no orders" is time-bounded so the fixture produces rows). The
    bal > avg(bal) comparison is integer-exact (fb*n > sum(fb));
    NOT EXISTS is a left-anti join against the distinct order
    custkeys. Scale shape: the scalar avg is a broadcast single-row
    join; the anti join shuffles on custkey (or broadcasts the
    aggregated key set when it fits)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    elig = (
        c.filter(F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11) & (F.col("c_acctbal") > 0))
        .select("c_custkey", "c_nationkey", fixed("c_acctbal").alias("fb"))
    )
    stats = elig.agg(F.sum("fb").alias("s"), F.count(F.lit(1)).alias("n"))
    return (
        elig.join(F.broadcast(stats), F.col("fb") * F.col("n") > F.col("s"))
        .join(
            o.filter(
                F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
            ).select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("fb").cast("double") / 10000).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "window_range_frame_trailing",
    oracle="""
        WITH o2 AS (
            SELECT o_custkey, o_orderkey,
                   date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d,
                   CAST(FLOOR(o_totalprice * 10000) AS BIGINT) AS fp
            FROM orders
        )
        SELECT o_custkey, o_orderkey, d,
               CAST(SUM(fp) OVER (PARTITION BY o_custkey ORDER BY d
                    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) / 10000
                   AS trailing_30d_spend,
               COUNT(*) OVER (PARTITION BY o_custkey ORDER BY d
                    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS trailing_30d_orders
        FROM o2
        ORDER BY o_custkey, o_orderkey
    """,
    tags=("relational", "window", "range-frame"),
)
def window_range_frame_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based, not row-based): per customer,
    the trailing-30-day spend and order count as of each order. The
    frame is defined on the day offset *value*, so same-day orders
    include each other symmetrically — semantics a rowsBetween frame
    cannot express. The fixed-point sum keeps the windowed aggregate
    order-independent; one shuffle on o_custkey."""
    o = load_table(spark, sf_dir, "orders")
    d = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("d")
        .rangeBetween(-30, Window.currentRow)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            d.alias("d"),
            fixed("o_totalprice").alias("fp"),
        )
        .select(
            "o_custkey",
            "o_orderkey",
            "d",
            (F.sum("fp").over(w).cast("double") / 10000).alias("trailing_30d_spend"),
            F.count(F.lit(1)).over(w).alias("trailing_30d_orders"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "join_cross_region_segment",
    oracle="""
        WITH seg AS (SELECT DISTINCT c_mktsegment FROM customer)
        SELECT r.r_name, seg.c_mktsegment,
               r.r_name || '/' || seg.c_mktsegment AS cell
        FROM region r CROSS JOIN seg
        ORDER BY r_name, c_mktsegment
    """,
    tags=("relational", "join", "cross"),
)
def join_cross_region_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product: the full region x market-segment grid (the
    classic dimension-grid scaffold for dense reports). Both sides are
    tiny dims; Spark plans a broadcast nested-loop join — a cross join
    of two large tables would be rejected by design."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    seg = load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    return (
        r.crossJoin(F.broadcast(seg))
        .select(
            "r_name",
            "c_mktsegment",
            F.concat_ws("/", "r_name", "c_mktsegment").alias("cell"),
        )
        .orderBy("r_name", "c_mktsegment")
    )


@register(
    "scalar_hash_encode",
    oracle="""
        SELECT c_custkey,
               md5(c_name) AS h_md5,
               sha256(c_name) AS h_sha256,
               hex(c_name) AS h_hex,
               base64(encode(c_name)) AS h_b64,
               octet_length(encode(c_name)) AS n_bytes
        FROM customer
        ORDER BY c_custkey
    """,
    tags=("relational", "scalar", "hash"),
)
def scalar_hash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash / binary-encoding battery: md5, sha256, hex, base64, byte
    length — the content-addressing toolbox (cache keys, content
    dedup, URL-safe ids). All five are bit-identical across engines
    (verified; hex is uppercase in both)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.md5("c_name").alias("h_md5"),
            F.sha2("c_name", 256).alias("h_sha256"),
            F.hex("c_name").alias("h_hex"),
            F.base64(F.encode("c_name", "UTF-8")).alias("h_b64"),
            F.octet_length("c_name").cast("long").alias("n_bytes"),
        )
        .orderBy("c_custkey")
    )


@register(
    "agg_covar_corr_fixedpoint",
    oracle="""
        WITH f AS (
            SELECT l_returnflag,
                   CAST(FLOOR(l_discount * 10000) AS BIGINT) AS x,
                   CAST(FLOOR(l_tax * 10000) AS BIGINT) AS y
            FROM lineitem
        )
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS covar_num,
               CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS var_x_num,
               CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS BIGINT) AS var_y_num
        FROM f
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    tags=("relational", "agg", "statistics"),
)
def agg_covar_corr_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance/correlation moments computed EXACTLY in integer
    space: covar_pop = covar_num/n², corr = covar_num/sqrt(varx*vary)
    — the engine reports the integer co-moments (n*Σxy − ΣxΣy etc.)
    because built-in covar_pop/corr accumulate doubles in partial-
    aggregation order and are not reproducible bit-for-bit across
    engines or even across partitionings. One map-side-combined
    shuffle; the BIGINT moments hold to ~2e18 (≈ sf100 on these
    0..10^3-scale fixed columns) before needing DECIMAL(38)."""
    l = load_table(spark, sf_dir, "lineitem")
    x, y = fixed("l_discount"), fixed("l_tax")
    n = F.count(F.lit(1))
    return (
        l.select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            n.alias("n"),
            (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")).alias(
                "covar_num"
            ),
            (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")).alias(
                "var_x_num"
            ),
            (n * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y")).alias(
                "var_y_num"
            ),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_histogram_bins",
    oracle="""
        SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bin,
               COUNT(*) AS n,
               CAST(MIN(o_totalprice) AS DOUBLE) AS bin_min,
               CAST(MAX(o_totalprice) AS DOUBLE) AS bin_max
        FROM orders
        GROUP BY 1
        ORDER BY bin
    """,
    tags=("relational", "agg", "histogram"),
)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (the distributed histogram primitive):
    integer bin ids from floor division, min/max per bin exact (no
    sums, so no fixed-point needed). Map-side combine reduces each
    partition to ≤ #bins rows before the shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("bin_min"),
            F.max("o_totalprice").alias("bin_max"),
        )
        .orderBy("bin")
    )

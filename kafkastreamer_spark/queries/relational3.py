"""Third coverage batch: scalar subqueries, extended string/date
batteries, map functions, native session windows, grouped-map pandas
UDF (SURVEY.md §2-B rows "Scalar fns", "Streaming time", "UDF
surface").
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreamer_spark.queries._util import sql_davg
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table, widen


@register(
    "subquery_scalar",
    oracle=f"""
        WITH avg_price AS (
            SELECT {sql_davg("o_totalprice", "ap")} FROM orders
        )
        SELECT o_orderstatus,
               COUNT(*) AS n_above_avg
        FROM orders, avg_price
        WHERE o_totalprice > ap
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    tags=("relational", "subquery"),
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price.

    Expressed as a cross join with a 1-row aggregate — the plan Spark
    produces for an uncorrelated scalar subquery (the 1-row side
    broadcasts; the fact side streams once).
    """
    o = load_table(spark, sf_dir, "orders")
    avg_price = o.agg(
        (F.sum(F.floor(F.col("o_totalprice") * 10000).cast("long")).cast("double") / 10000
         / F.count("o_totalprice")).alias("ap")
    )
    return (
        o.crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("ap"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_above_avg"))
        .orderBy("o_orderstatus")
    )


@register(
    "scalar_string_extended",
    oracle="""
        SELECT p_partkey,
               lpad(p_brand, 12, '*') AS brand_pad,
               rpad(p_brand, 12, '.') AS brand_rpad,
               reverse(p_name) AS name_rev,
               repeat(p_brand, 2) AS brand_twice,
               left(p_name, 4) AS name_left,
               right(p_name, 4) AS name_right,
               regexp_extract(p_brand, '[0-9]+') AS brand_num,
               CAST(contains(p_type, 'a') AS INT) AS has_a,
               CAST(starts_with(p_name, 'a') AS INT) AS starts_a
        FROM part
        ORDER BY p_partkey
    """,
    tags=("relational", "scalar"),
)
def scalar_string_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string battery: padding, reverse, repeat, left/right,
    regexp extraction, predicates."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.lpad("p_brand", 12, "*").alias("brand_pad"),
            F.rpad("p_brand", 12, ".").alias("brand_rpad"),
            F.reverse(F.col("p_name")).alias("name_rev"),
            F.repeat("p_brand", 2).alias("brand_twice"),
            F.substring("p_name", 1, 4).alias("name_left"),
            F.expr("right(p_name, 4)").alias("name_right"),
            F.regexp_extract("p_brand", "[0-9]+", 0).alias("brand_num"),
            F.col("p_type").contains("a").cast("int").alias("has_a"),
            F.col("p_name").startswith("a").cast("int").alias("starts_a"),
        )
        .orderBy("p_partkey")
    )


@register(
    "scalar_date_arithmetic",
    oracle="""
        SELECT o_orderkey,
               CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT)
                   AS days_since_epoch_start,
               strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
               strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS quarter_later,
               strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end
        FROM orders
        ORDER BY o_orderkey
    """,
    tags=("relational", "scalar"),
)
def scalar_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic battery: datediff, interval add, add_months,
    last_day."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
            .cast("long")
            .alias("days_since_epoch_start"),
            F.date_format(F.date_add(F.col("o_orderdate"), 30), "yyyy-MM-dd").alias(
                "due_date"
            ),
            F.date_format(F.add_months(F.col("o_orderdate"), 3), "yyyy-MM-dd").alias(
                "quarter_later"
            ),
            F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "scalar_map_ops",
    oracle="""
        WITH per_user AS (
            SELECT user_id, event_type, COUNT(*) AS n
            FROM events GROUP BY user_id, event_type
        ),
        m AS (
            SELECT user_id,
                   map_from_entries(list_transform(
                       list_sort(list(struct_pack(k := event_type, v := n))),
                       e -> e)) AS em
            FROM per_user GROUP BY user_id
        )
        SELECT user_id,
               CAST(len(map_keys(em)) AS INT) AS n_types,
               COALESCE(em['click'][1], 0) AS clicks,
               COALESCE(em['error'][1], 0) AS errors
        FROM m
        ORDER BY user_id
    """,
    tags=("relational", "scalar", "map"),
)
def scalar_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map functions: build a per-user event_type→count map
    (map_from_entries over sorted entries), then key lookups and
    map_keys — the MapType surface of the engine's data model."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = per_user.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct(F.col("event_type").alias("k"), F.col("n").alias("v"))))
        ).alias("em")
    )
    return (
        m.select(
            "user_id",
            F.size(F.map_keys("em")).alias("n_types"),
            F.coalesce(F.element_at("em", "click"), F.lit(0)).alias("clicks"),
            F.coalesce(F.element_at("em", "error"), F.lit(0)).alias("errors"),
        )
        .orderBy("user_id")
    )


@register(
    "events_session_window_native",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 30 MINUTE
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sessions AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_id
        ORDER BY user_id, session_start
    """,
    tags=("streaming", "window-time", "session"),
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``session_window`` operator (30-min gap), checked
    against the gaps-and-islands SQL definition — the same expression
    runs on a streaming DataFrame with a watermark.

    Session start is truncated to seconds in the output (the window
    boundary carries the first event's full timestamp).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


_GROUP_STATS_SCHEMA = (
    "label int, n_vecs long, sum_vec_id long, min_vec_id long, max_vec_id long"
)


def _label_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map pandas function: one pandas DataFrame per label
    group in, one out (order-insensitive integer stats so the result
    is exact across partitionings)."""
    return pd.DataFrame(
        {
            "label": [int(pdf["label"].iloc[0])],
            "n_vecs": [len(pdf)],
            "sum_vec_id": [int(pdf["vec_id"].sum())],
            "min_vec_id": [int(pdf["vec_id"].min())],
            "max_vec_id": [int(pdf["vec_id"].max())],
        }
    )


@register(
    "udf_grouped_label_stats",
    oracle="""
        SELECT CAST(label AS INT) AS label,
               COUNT(*) AS n_vecs,
               CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id,
               MIN(vec_id) AS min_vec_id,
               MAX(vec_id) AS max_vec_id
        FROM embeddings
        GROUP BY label
        ORDER BY label
    """,
    tags=("llm-data", "udf"),
)
def udf_grouped_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDF surface (``applyInPandas``): per-label stats.

    These stats are expressible as built-ins (the oracle IS the
    built-in form) — the point is the exact-checked plumbing for
    grouped pandas logic that built-ins can't express (per-group model
    fitting, custom quantization, ...): one shuffle on the group key,
    whole groups as pandas frames."""
    e = widen(load_table(spark, sf_dir, "embeddings")).select("vec_id", "label")
    return (
        e.groupBy("label")
        .applyInPandas(_label_stats, schema=_GROUP_STATS_SCHEMA)
        .orderBy("label")
    )


@register(
    "q6_forecast_revenue",
    oracle="""
        SELECT CAST(SUM(CAST(FLOOR((l_extendedprice * l_discount) * 10000) AS BIGINT)) AS DOUBLE)
                   / 10000 AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    tags=("relational", "agg", "flagship"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure filter + global aggregate — the canonical
    scan-bound query. All four predicates push to the parquet reader;
    no shuffle beyond the single-row final aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(F.floor(F.col("l_extendedprice") * F.col("l_discount") * 10000).cast("long"))
             .cast("double") / 10000).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q4_order_priority",
    oracle="""
        SELECT o.o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
    tags=("relational", "join", "subquery", "flagship"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: correlated EXISTS as a left-semi join with a
    non-key predicate (l_shipdate > o_orderdate crosses the two
    tables), then priority counts."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )

"""Event-stream queries over the ``events`` fixture (batch views of
streaming semantics) plus reference-semantics queries (SURVEY.md §2-A).

The reference's entire query surface is keyed running-count plus
arithmetic stage chains (SURVEY.md §2-A summary); those appear here as
oracle-checked batch queries so the driver verifies the exact
semantics. Event-time windowing/sessionization are the §2-B streaming
extensions, checked in batch form (the streaming runtime reuses the
same expressions — see kafkastreamer_spark.streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.queries._util import dsum, epoch_s, epoch_us
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.streaming.stages import apply_stage_chain, parse_value
from kafkastreamer_spark.tables import load_table, widen


# ---------------------------------------------------------------------------
# Reference semantics (A4-A10)
# ---------------------------------------------------------------------------


@register(
    "ref_running_count",
    oracle="""
        SELECT CONCAT('Key', CAST(user_id % 4 AS VARCHAR)) AS key,
               COUNT(*) AS count
        FROM events
        GROUP BY 1
        ORDER BY key
    """,
    tags=("reference", "agg", "streaming-semantics"),
)
def ref_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A9: per-key count (final state of the running count).

    The reference maintains ``state[key] += 1`` per record
    (Streamer.java:264-282); its final state after a bounded input
    equals ``groupBy(key).count()``. Keys mimic the reference source
    shape ``Key<i % partitions>`` (Producer.java:74) with P=4.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.concat(F.lit("Key"), (F.col("user_id") % 4).cast("string")).alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("key")
    )


@register(
    "ref_stage_chain_adder",
    oracle="""
        SELECT CONCAT('Key', CAST(user_id % 2 AS VARCHAR)) AS key,
               CAST(event_id AS VARCHAR) AS input_value,
               CAST(event_id + 3 AS VARCHAR) AS output_value
        FROM events
        ORDER BY event_id
    """,
    tags=("reference", "scalar", "pipeline"),
)
def ref_stage_chain_adder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A4+A14: 3-stage ``adder`` chain (template.xml topology).

    Input record i → output i+3 (FIXTURES.md §B golden expectation).
    String-in/string-out like the reference's Kafka payloads; the
    chain compiles to a single constant-folded projection.
    """
    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        F.concat(F.lit("Key"), (F.col("user_id") % 2).cast("string")).alias("key"),
        F.col("event_id").cast("string").alias("value"),
        F.col("event_id").alias("_order"),
    )
    parsed = src.withColumn("value", parse_value(F.col("value")))
    out = apply_stage_chain(parsed, ["adder", "adder", "adder"])
    return (
        out.select(
            "key",
            F.col("_order").cast("string").alias("input_value"),
            F.col("value").cast("string").alias("output_value"),
            "_order",
        )
        .orderBy("_order")
        .drop("_order")
    )


@register(
    "ref_stage_functions",
    oracle="""
        SELECT event_id,
               event_id + 1 AS adder,
               CAST(POW(event_id, 1) AS BIGINT) AS power,
               event_id - 1 AS diff,
               event_id AS identity
        FROM events
        ORDER BY event_id
    """,
    tags=("reference", "scalar"),
)
def ref_stage_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A4-A7: all four stage functions side by side (arg=1)."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("event_id")
    return (
        ev.select(
            "event_id",
            (v + 1).alias("adder"),
            F.pow(v, F.lit(1)).cast("long").alias("power"),
            (v - 1).alias("diff"),
            v.alias("identity"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# JSON / semi-structured
# ---------------------------------------------------------------------------


@register(
    "events_json_extract",
    oracle="""
        SELECT event_id, event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        FROM events
        ORDER BY event_id
    """,
    tags=("relational", "json"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction from the ``props`` column."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Event-time windows (batch form of the streaming ops)
# ---------------------------------------------------------------------------


@register(
    "events_tumbling_window",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR((value) * 10000) AS BIGINT)) AS DOUBLE) / 10000 AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY window_start, event_type
    """,
    tags=("streaming", "window-time", "agg"),
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregate (Spark ``window()`` operator).

    Identical expression works on a streaming DataFrame with
    ``withWatermark`` — see streaming core tests.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "events_sliding_window",
    oracle="""
        WITH win AS (
            SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start, value FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, value FROM events
        )
        SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR((value) * 10000) AS BIGINT)) AS DOUBLE) / 10000 AS sum_value
        FROM win
        GROUP BY 1
        ORDER BY window_start
    """,
    tags=("streaming", "window-time", "agg"),
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min (each event in 2 windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("window_start")
    )


@register(
    "events_sessionization",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 30 MINUTE
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session,
                   event_id
            FROM events
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               CAST(SUM(CAST(FLOOR((value) * 10000) AS BIGINT)) AS DOUBLE) / 10000 AS session_value
        FROM sessions
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """,
    tags=("streaming", "window-time", "session"),
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessionization (gaps-and-islands; batch equivalent of
    ``session_window``).

    Scale note: one shuffle on user_id; both window passes reuse the
    same partitioning (no second exchange).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact microsecond gap — the oracle's INTERVAL comparison is exact,
    # so a second-truncated gap could diverge for true gaps in (1800, 1801)s
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            dsum("value", "session_value"),
        )
        .select("user_id", F.col("session_id").cast("long").alias("session_id"),
                "n_events", "session_start", "session_value")
        .orderBy("user_id", "session_id")
    )


@register(
    "events_type_pivot",
    oracle="""
        SELECT user_id,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    tags=("relational", "agg", "pivot"),
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type → per-user counts (explicit value list so the
    plan is a single aggregate, no distinct-values pre-pass)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types],
        )
        .orderBy("user_id")
    )


@register(
    "events_stream_static_join",
    oracle="""
        SELECT e.event_type, n.n_name, COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR((e.value) * 10000) AS BIGINT)) AS DOUBLE) / 10000 AS sum_value
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY e.event_type, n.n_name
        ORDER BY event_type, n_name
    """,
    tags=("streaming", "join"),
)
def events_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (batch form): events ⋈ customer ⋈
    nation. In streaming this is the same plan with events as a
    readStream — static sides are broadcast per micro-batch."""
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        ev.join(F.broadcast(c), ev.user_id == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("event_type", "n_name")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .orderBy("event_type", "n_name")
    )


@register(
    "pipeline_compiled_chain",
    oracle="""
        SELECT CONCAT('Key', CAST(event_id % 2 AS VARCHAR)) AS key,
               event_id + 2 AS value
        FROM events
        ORDER BY value
    """,
    tags=("reference", "pipeline"),
)
def pipeline_compiled_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A14/A15 through the real compiler path: a dict
    topology (adder, adder, identity, diff, adder) is validated and
    compiled by kafkastreamer_spark.plans into one projection —
    Catalyst folds it to value + 2."""
    from kafkastreamer_spark.plans.pipeline import compile_pipeline, from_dict

    transform = compile_pipeline(
        from_dict(
            {
                "stream_id": "1996",
                "partitions": 2,
                "stages": [
                    {"stage": 0, "operation": "adder"},
                    {"stage": 1, "operation": "adder"},
                    {"stage": 2, "operation": "identity"},
                    {"stage": 3, "operation": "diff"},
                    {"stage": 4, "operation": "adder"},
                ],
            }
        )
    )
    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        F.concat(F.lit("Key"), (F.col("event_id") % 2).cast("string")).alias("key"),
        F.col("event_id").alias("value"),
    )
    return transform(src).orderBy("value")


@register(
    "events_session_funnel",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 30 MINUTE
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sessions AS (
            SELECT user_id, ts, event_type,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        ),
        per_session AS (
            SELECT user_id, session_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
                   MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
            FROM sessions
            GROUP BY user_id, session_id
        )
        SELECT COUNT(*) AS n_sessions,
               COUNT(first_view) AS sessions_with_view,
               COUNT(CASE WHEN first_click > first_view THEN 1 END)
                   AS view_then_click,
               COUNT(CASE WHEN first_purchase > first_click
                           AND first_click > first_view THEN 1 END)
                   AS full_funnel
        FROM per_session
    """,
    tags=("streaming", "session", "funnel"),
)
def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized conversion funnel: within 30-min-gap sessions,
    count view → click → purchase progressions (ordered by each
    step's first occurrence). The standard product-analytics shape:
    sessionize, pivot first-times per step, compare."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact microsecond gap — the oracle's INTERVAL comparison is exact,
    # so a second-truncated gap could diverge for true gaps in (1800, 1801)s
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    per_session = sessions.groupBy("user_id", "session_id").agg(
        first("view").alias("first_view"),
        first("click").alias("first_click"),
        first("purchase").alias("first_purchase"),
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count("first_view").alias("sessions_with_view"),
        F.count(F.when(F.col("first_click") > F.col("first_view"), 1)).alias(
            "view_then_click"
        ),
        F.count(
            F.when(
                (F.col("first_purchase") > F.col("first_click"))
                & (F.col("first_click") > F.col("first_view")),
                1,
            )
        ).alias("full_funnel"),
    )


@register(
    "events_time_rollup",
    oracle="""
        WITH e AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day, hour(ts) AS hr, value
            FROM events
        )
        SELECT COALESCE(day, '<all>') AS day,
               COALESCE(hr, -1) AS hr,
               GROUPING(day, hr) AS lvl,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS DOUBLE) / 10000
                   AS sum_value
        FROM e
        GROUP BY GROUPING SETS ((day, hr), (day), ())
        ORDER BY lvl, day, hr
    """,
    tags=("streaming", "agg", "rollup", "time"),
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (the hypertable / continuous-aggregate
    pattern): hour, day, and grand-total aggregates of the event
    stream computed in ONE pass via GROUPING SETS — at 100 TB this is
    one shuffle instead of three separate scans+aggregations, and the
    partial (map-side) aggregation covers all three granularities.
    GROUPING() labels the level so downstream consumers can route."""
    load_table(spark, sf_dir, "events").selectExpr(
        "date_format(ts, 'yyyy-MM-dd') AS day", "hour(ts) AS hr", "value"
    ).createOrReplaceTempView("events_trunc")
    return spark.sql(
        """
        SELECT COALESCE(day, '<all>') AS day,
               COALESCE(hr, -1) AS hr,
               GROUPING_ID(day, hr) AS lvl,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS DOUBLE) / 10000
                   AS sum_value
        FROM events_trunc
        GROUP BY GROUPING SETS ((day, hr), (day), ())
        ORDER BY lvl, day, hr
        """
    )


@register(
    "events_mode_event_type",
    oracle="""
        WITH counts AS (
            SELECT user_id, event_type, COUNT(*) AS n,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY COUNT(*) DESC, event_type ASC) AS rn
            FROM events
            GROUP BY user_id, event_type
        )
        SELECT user_id, event_type AS top_event_type, n
        FROM counts WHERE rn = 1
        ORDER BY user_id
    """,
    tags=("streaming", "agg", "mode"),
)
def events_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent value): built-in
    mode()/max_by() break ties arbitrarily — engine-hostile for an
    exact contract — so the engine ranks (count DESC, value ASC) and
    keeps rank 1. Two shuffles (count, then per-user window); at scale
    the window input is already tiny (groups x distinct values)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_event_type"), "n")
        .orderBy("user_id")
    )


@register(
    "events_retention_cohort",
    oracle="""
        WITH d AS (
            SELECT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        first_seen AS (
            SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1
        )
        SELECT date_diff('day', DATE '2024-01-01', f.cohort_day) // 7
                   AS cohort_wk,
               date_diff('day', f.cohort_day, d.day) // 7 AS offset_wk,
               COUNT(DISTINCT d.user_id) AS n_users,
               COUNT(*) AS n_events
        FROM d JOIN first_seen f ON d.user_id = f.user_id
        GROUP BY 1, 2
        ORDER BY cohort_wk, offset_wk
    """,
    tags=("streaming", "agg", "time", "cohort"),
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen week,
    activity counted per week offset since their cohort week — the
    standard product-analytics rollup (rows (cohort_wk, offset_wk)
    render as the retention triangle).

    Scale shape (r13, guide §2.4): first-seen is min(day) OVER the
    user partition of the SAME shuffled pass — the old form scanned
    events twice (once to aggregate first_seen, once for the join
    probe side) and built a users-sized broadcast from a full-scan
    aggregate; the window form is one events scan, one user_id
    exchange, no join at any scale. The final (cohort_wk, offset_wk)
    aggregation is over a bounded key space. All date math is integer
    day arithmetic — engine-portable."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    return (
        ev.withColumn(
            "cohort_day", F.min("day").over(Window.partitionBy("user_id"))
        )
        .groupBy(
            F.floor(F.datediff("cohort_day", F.lit("2024-01-01").cast("date")) / 7)
            .cast("long")
            .alias("cohort_wk"),
            F.floor(F.datediff("day", F.col("cohort_day")) / 7)
            .cast("long")
            .alias("offset_wk"),
        )
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("cohort_wk", "offset_wk")
    )


@register(
    "events_daily_delta",
    oracle="""
        WITH d AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   COUNT(*) AS n_events,
                   SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS sum_fp
            FROM events GROUP BY 1
        )
        SELECT day, n_events,
               CAST(sum_fp AS DOUBLE) / 10000 AS sum_value,
               n_events - LAG(n_events) OVER (ORDER BY day) AS delta_n,
               CAST(sum_fp - LAG(sum_fp) OVER (ORDER BY day) AS DOUBLE) / 10000
                   AS delta_value
        FROM d
        ORDER BY day
    """,
    tags=("streaming", "agg", "time", "window"),
)
def events_daily_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day deltas of the event stream: daily counts and
    value sums with LAG-based differences — the time-series trend
    primitive (DAU deltas, revenue change).

    Scale shape: the heavy step is the per-day aggregation (one
    shuffle, map-side combined, bounded output = |days|). The LAG
    window is a single unpartitioned sort — safe precisely BECAUSE it
    runs on the aggregate (≤ a few thousand rows for a decade),
    never on the raw events. The delta of the fixed-point sums stays
    in integer space until the final divide."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 10000).cast("long")).alias("sum_fp"),
        )
    )
    w = Window.orderBy("day")
    return (
        d.select(
            "day",
            "n_events",
            (F.col("sum_fp").cast("double") / 10000).alias("sum_value"),
            (F.col("n_events") - F.lag("n_events").over(w)).alias("delta_n"),
            ((F.col("sum_fp") - F.lag("sum_fp").over(w)).cast("double") / 10000).alias(
                "delta_value"
            ),
        )
        .orderBy("day")
    )


@register(
    "join_time_proximity_bucketed",
    oracle="""
        WITH err AS (
            SELECT event_id, user_id, epoch_us(ts) AS us
            FROM events WHERE event_type = 'error'
        )
        SELECT a.event_id AS id_a, b.event_id AS id_b,
               b.us - a.us AS diff_us
        FROM err a JOIN err b
          ON a.event_id < b.event_id
         AND abs(b.us - a.us) <= 60000000
        ORDER BY id_a, id_b
    """,
    tags=("join", "range", "temporal", "bucketed"),
)
def join_time_proximity_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error events within 60 s of each other (incident correlation).
    A pure range self-join with NO equi key — the case where both the
    broadcast nested-loop (join_range_bands) and a naive theta join
    die at scale: |errors|² candidate pairs.

    The scalable strategy is BUCKETIZATION: bucket each event by
    60-s epoch minute; side A keeps its own bucket, side B explodes
    to {m-1, m, m+1}; join becomes a plain hash equi-join on the
    bucket, then the exact |Δt| ≤ 60 s predicate filters residually.
    Every qualifying pair meets in exactly one bucket (A's), so no
    distinct pass is needed. Candidates drop from n² to
    Σ_m n_m·(n_{m-1}+n_m+n_{m+1}) — linear in n for time-spread data.
    The oracle runs the naive theta join, cross-checking the
    strategy. At 100 TB the bucket width trades shuffle fan-out (3x
    row copies on one side) against candidate density per bucket."""
    err = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("event_id", epoch_us("ts").alias("us"))
    )
    a = err.select(
        "event_id", "us", F.floor(F.col("us") / 60_000_000).alias("m")
    )
    b = err.select(
        F.col("event_id").alias("event_id_b"),
        F.col("us").alias("us_b"),
        F.explode(
            F.array(
                F.floor(F.col("us") / 60_000_000) - 1,
                F.floor(F.col("us") / 60_000_000),
                F.floor(F.col("us") / 60_000_000) + 1,
            )
        ).alias("m"),
    )
    return (
        a.join(b, "m")
        .filter(
            (F.col("event_id") < F.col("event_id_b"))
            & (F.abs(F.col("us_b") - F.col("us")) <= 60_000_000)
        )
        .select(
            F.col("event_id").alias("id_a"),
            F.col("event_id_b").alias("id_b"),
            (F.col("us_b") - F.col("us")).alias("diff_us"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "events_value_zscore",
    oracle="""
        WITH f AS (
            SELECT event_id, user_id,
                   CAST(FLOOR(value * 10000) AS BIGINT) AS x
            FROM events
        ),
        stats AS (
            SELECT user_id, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
            FROM f GROUP BY 1
        )
        SELECT f.event_id, f.user_id,
               CAST(FLOOR(
                   (f.x - CAST(sx AS DOUBLE) / n)
                   / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                          / (CAST(n AS DOUBLE) * n))
                   * 10000) AS BIGINT) AS z4
        FROM f JOIN stats USING (user_id)
        WHERE n >= 2 AND n * sxx - sx * sx > 0
          AND abs((f.x - CAST(sx AS DOUBLE) / n)
                  / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                         / (CAST(n AS DOUBLE) * n))) >= 2.0
        ORDER BY event_id
    """,
    tags=("streaming", "agg", "anomaly", "statistics"),
)
def events_value_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score anomaly detection: events whose value is ≥ 2
    population standard deviations from that user's mean. The
    monitoring primitive behind outlier alerts.

    Scale shape: moments (n, Σx, Σx²) accumulate as exact BIGINTs in
    one map-side-combined shuffle; the stats side is one row per user
    — unbounded at scale, so it carries NO broadcast hint (the join
    key equals the groupBy key, so a shuffled join reuses the
    aggregation's partitioning; AQE still broadcasts when the side is
    actually small). Mean/std only become doubles at the final compare, and
    both engines derive them from identical integers, so the z-scores
    (and the ≥2.0 boundary) are bit-identical. Degenerate users
    (single event or zero variance) are filtered in integer space."""
    f = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 10000).cast("long").alias("x"),
    )
    stats = f.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    mean = F.col("sx").cast("double") / F.col("n")
    var = (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    ) / (F.col("n").cast("double") * F.col("n"))
    z = (F.col("x") - mean) / F.sqrt(var)
    return (
        f.join(stats, "user_id")
        .filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.abs(z) >= 2.0)
        )
        .select("event_id", "user_id", F.floor(z * 10000).cast("long").alias("z4"))
        .orderBy("event_id")
    )


@register(
    "events_resample_ffill",
    oracle="""
        WITH daily AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT)
                       AS v_fp
            FROM events GROUP BY 1, 2
        ),
        b AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
        grid AS (
            SELECT u.user_id,
                   unnest(generate_series(b.dmin, b.dmax, INTERVAL 1 DAY))::DATE
                       AS day
            FROM (SELECT DISTINCT user_id FROM daily) u, b
        ),
        j AS (
            SELECT g.user_id, g.day, d.v_fp
            FROM grid g LEFT JOIN daily d
              ON d.user_id = g.user_id AND d.day = g.day
        )
        SELECT user_id, day,
               CAST(last_value(v_fp IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) / 10000 AS value_filled,
               CAST(v_fp IS NULL AS INT) AS is_gap
        FROM j
        ORDER BY user_id, day
    """,
    tags=("events", "timeseries", "window"),
)
def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with forward fill — the gap-filling
    primitive (timescale/hypertable territory): per user, align daily
    value sums onto the complete calendar grid between the corpus's
    first and last day, carrying the last observation forward across
    missing days (flagged via is_gap). Leading gaps before a user's
    first observation stay NULL in both engines.

    Scale shape: the grid is users × days built by exploding a
    per-user date sequence against a 1-row broadcast bounds table —
    no range join; the fill is one LAST_VALUE IGNORE NULLS window
    over the (user, day)-partitioned join output, which reuses the
    daily aggregate's partitioning. Daily sums use the fixed-point
    discipline, so filled values are engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.sum(F.floor(F.col("value") * 10000).cast("long")).alias("v_fp"))
    bounds = daily.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    users = daily.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.explode(
            F.sequence(F.col("dmin"), F.col("dmax"), F.expr("interval 1 day"))
        ).alias("day"),
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "day",
        (F.last("v_fp", ignorenulls=True).over(w).cast("double") / 10000).alias(
            "value_filled"
        ),
        F.col("v_fp").isNull().cast("int").alias("is_gap"),
    ).orderBy("user_id", "day")


@register(
    "events_sliding_topk_trending",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   event_type, count(*) AS c
            FROM events GROUP BY 1, 2
        ),
        contrib AS (
            SELECT unnest(generate_series(day, day + INTERVAL 6 DAY,
                                          INTERVAL 1 DAY))::DATE AS win_end,
                   event_type, c
            FROM daily
        ),
        windowed AS (
            SELECT win_end, event_type,
                   CAST(sum(c) AS BIGINT) AS c7,
                   ROW_NUMBER() OVER (PARTITION BY win_end
                                      ORDER BY sum(c) DESC, event_type) AS rk
            FROM contrib GROUP BY win_end, event_type
        )
        SELECT win_end, event_type, c7, rk
        FROM windowed WHERE rk <= 3
        ORDER BY win_end, rk
    """,
    tags=("events", "timeseries", "window", "topk"),
)
def events_sliding_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: top-3 event types per trailing 7-day window,
    sliding daily. Computed by the replication trick — aggregate to
    days FIRST (the only event-scale shuffle), then each (day, type)
    partial contributes itself to the 7 window-ends it falls in via an
    exploded date sequence. The replication factor is window/step = 7,
    but applied to day-granularity partials, not raw events — at
    100 TB the exploded stream is |days|×|types|×7 rows, independent
    of event volume. Ties rank deterministically by event_type.

    (Structured Streaming's native sliding window does the same
    replication on raw rows pre-aggregation; pre-aggregating to the
    step granularity is the batch-side optimization.)"""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    contrib = daily.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), 6),
                F.expr("interval 1 day"),
            )
        ).alias("win_end"),
        "event_type",
        "c",
    )
    windowed = contrib.groupBy("win_end", "event_type").agg(
        F.sum("c").cast("long").alias("c7")
    )
    w = Window.partitionBy("win_end").orderBy(F.desc("c7"), "event_type")
    return (
        windowed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("win_end", "event_type", "c7", F.col("rk").cast("long").alias("rk"))
        .orderBy("win_end", "rk")
    )


@register(
    "agg_equidepth_histogram",
    oracle="""
        WITH binned AS (
            SELECT o_totalprice,
                   ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
            FROM orders
        )
        SELECT bin, count(*) AS n,
               min(o_totalprice) AS lo, max(o_totalprice) AS hi
        FROM binned GROUP BY bin ORDER BY bin
    """,
    tags=("aggregate", "histogram", "statistics"),
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram: 10 bins of equal row count
    over order totals with exact boundaries — the statistics a
    cost-based optimizer keeps per column, and the partner of the
    fixed-width `agg_histogram_bins`. Bin membership is engine-exact:
    ntile over the total order (price, then orderkey so ties split
    deterministically) is a closed-form function of each row's global
    rank, and the rank is computed skew-free.

    Since round 5 this shares the scale-safe bucketed-rank
    construction of ``agg_equidepth_histogram_sampled``
    (queries/relational12.py — the round-4 verdict's #1 item): range-
    bucket on floor(price/W) (monotone in the sort-key prefix, so the
    order is preserved), per-bucket map-side counts, a prefix-sum over
    the tiny counts table, plus a per-bucket local row_number — NO
    whole-table ``Exchange SinglePartition`` sort. Bit-identical to
    the single-window ntile formulation; the oracle is unchanged."""
    from kafkastreamer_spark.operators.deskew import (  # noqa: PLC0415
        bucketed_row_number,
    )

    o = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = bucketed_row_number(
        o,
        [],
        F.floor(F.col("o_totalprice") / 4096).cast("long"),
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        "r",
        count_name="N",
    )
    binned = ranked.select(
        "o_totalprice",
        F.expr(
            """
            CASE WHEN r <= (N % 10) * (N div 10 + 1)
                 THEN (r - 1) div (N div 10 + 1) + 1
                 ELSE (N % 10) + (r - (N % 10) * (N div 10 + 1) - 1)
                                  div (N div 10) + 1
            END
            """
        ).alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .select(F.col("bin").cast("long").alias("bin"), "n", "lo", "hi")
        .orderBy("bin")
    )


@register(
    "events_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        ),
        trans AS (
            SELECT prev_type, event_type AS next_type, count(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        ),
        tot AS (
            SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total
            FROM trans GROUP BY prev_type
        )
        SELECT t.prev_type, t.next_type, t.n,
               CAST(t.n * 10000 // o.row_total AS BIGINT) AS prob4
        FROM trans t JOIN tot o ON t.prev_type = o.prev_type
        ORDER BY t.prev_type, t.next_type
    """,
    tags=("events", "window", "sequence-mining"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: LAG pairs (ordered by ts, event_id) counted into a
    type×type matrix with fixed-point row-normalized probabilities
    (integer division — no float ratio). The sequence-mining
    primitive behind next-event prediction and anomalous-flow
    detection.

    Scale shape: one shuffle on user_id for the LAG window (the
    event-scale cost), then the matrix is |types|² rows; row totals
    come from re-aggregating the matrix, not rescanning events."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = trans.groupBy("prev_type").agg(F.sum("n").cast("long").alias("row_total"))
    return (
        trans.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("n * 10000 div row_total").alias("prob4"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "audience_overlap_matrix",
    oracle="""
        WITH membership AS (
            SELECT DISTINCT event_type, user_id FROM events
        ),
        sizes AS (
            SELECT event_type, count(*) AS n FROM membership GROUP BY 1
        ),
        inter AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   count(*) AS n_common
            FROM membership a JOIN membership b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT i.type_a, i.type_b, i.n_common,
               sa.n + sb.n - i.n_common AS n_union,
               CAST(i.n_common * 10000 // (sa.n + sb.n - i.n_common) AS BIGINT)
                   AS jaccard4
        FROM inter i
        JOIN sizes sa ON sa.event_type = i.type_a
        JOIN sizes sb ON sb.event_type = i.type_b
        ORDER BY i.type_a, i.type_b
    """,
    tags=("events", "aggregate", "set-cardinality"),
)
def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap: for every pair of event types, the exact
    intersection / union cardinality of their user sets and the
    fixed-point Jaccard — the segment-overlap matrix ad-tech computes
    with theta sketches, exact here because the oracle contract
    demands it (the sketch version is the bounded-memory drop-in at
    scale, same shape as agg_approx).

    Scale shape: memberships are DISTINCT'd first (one shuffle on
    (type, user)); the pair join fans out each user's memberships —
    bounded by |types| per user, so candidates ≤ C(|types|,2)·|users|,
    independent of raw event volume. Sizes broadcast back."""
    ev = widen(load_table(spark, sf_dir, "events"))
    membership = ev.select("event_type", "user_id").distinct()
    sizes = membership.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = membership.alias("a"), membership.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_common",
            (F.col("na") + F.col("nb") - F.col("n_common")).alias("n_union"),
            F.expr("n_common * 10000 div (na + nb - n_common)").alias("jaccard4"),
        )
        .orderBy("type_a", "type_b")
    )

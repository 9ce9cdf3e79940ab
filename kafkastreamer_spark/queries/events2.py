"""Event-stream analytics, continued: user-growth accounting,
inter-arrival distributions, and robust (median/MAD) anomaly
detection.

All three reduce unbounded raw-event volume to bounded outputs with
one or two key-partitioned shuffles, and keep every cross-engine
comparison in exact integer space (epoch microseconds, fixed-point
value units) so the DuckDB oracles hash identically.

Reference grounding: the reference's analytics surface is keyed
running aggregation over event streams (v1/src/main/java/Stream/
Streamer.java); these extend that family with the growth/latency/
outlier questions any production event pipeline answers next.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.queries._util import epoch_us
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table


@register(
    "events_cumulative_distinct_users",
    oracle="""
        WITH firsts AS (
            SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS day
            FROM events GROUP BY user_id
        ),
        daily AS (SELECT day, count(*) AS new_users FROM firsts GROUP BY day)
        SELECT day, new_users,
               CAST(sum(new_users) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_users
        FROM daily ORDER BY day
    """,
    tags=("streaming", "time", "distinct", "growth"),
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-user counts and the running distinct-user total —
    the DAU/growth curve — in ONE pass via the first-occurrence
    trick: the cumulative distinct count at day D equals the number
    of users whose FIRST event is ≤ D, so a per-user min(day) plus a
    tiny running sum replaces a per-day COUNT(DISTINCT) rescan (the
    naive form is |days| passes over the stream, or an expensive
    multi-distinct cube).  Same decomposition as text_vocab_growth.

    Scale shape: one user_id-keyed shuffle with map-side min, one
    |days|-sized rollup; the window runs on ≤ thousands of rows."""
    ev = load_table(spark, sf_dir, "events")
    firsts = (
        ev.select("user_id", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("day"))
    )
    daily = firsts.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("day")


_GAP_BUCKET_SQL = """
    CASE WHEN gap_us < 1000000 THEN '0_lt_1s'
         WHEN gap_us < 60000000 THEN '1_lt_1m'
         WHEN gap_us < 600000000 THEN '2_lt_10m'
         WHEN gap_us < 3600000000 THEN '3_lt_1h'
         WHEN gap_us < 86400000000 THEN '4_lt_1d'
         ELSE '5_ge_1d' END
"""


@register(
    "events_interarrival_histogram",
    oracle=f"""
        WITH gaps AS (
            SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
            FROM events
        )
        SELECT {_GAP_BUCKET_SQL} AS bucket,
               count(*) AS n_gaps,
               min(gap_us) AS min_gap_us,
               max(gap_us) AS max_gap_us
        FROM gaps WHERE gap_us IS NOT NULL
        GROUP BY 1 ORDER BY bucket
    """,
    tags=("streaming", "time", "distribution"),
)
def events_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-user inter-event gaps in log-spaced time
    buckets (<1s, <1m, <10m, <1h, <1d, ≥1d) — the arrival-process
    profile behind session-timeout tuning and bot detection.  Gaps
    are exact epoch-microsecond differences (Spark unix_micros ==
    DuckDB epoch_us), bucketed by integer CASE thresholds — no float
    or log() anywhere, so both engines agree exactly.

    Scale shape: one user_id shuffle for the LAG sort (same
    partitioning every sessionization query already pays), then a
    6-group aggregate with map-side combine."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us("ts")
    gaps = ev.select((us - F.lag(us).over(w)).alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    bucket = (
        F.when(F.col("gap_us") < 1_000_000, "0_lt_1s")
        .when(F.col("gap_us") < 60_000_000, "1_lt_1m")
        .when(F.col("gap_us") < 600_000_000, "2_lt_10m")
        .when(F.col("gap_us") < 3_600_000_000, "3_lt_1h")
        .when(F.col("gap_us") < 86_400_000_000, "4_lt_1d")
        .otherwise("5_ge_1d")
    )
    return (
        gaps.select(bucket.alias("bucket"), "gap_us")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .orderBy("bucket")
    )


def _lower_median_sql(src: str, val: str, tiebreak: str, out: str) -> str:
    """Rank-based lower median of an integer column — engine-exact
    (no interpolation): the element at row (n+1)//2 in (value,
    tiebreak) order within each event_type."""
    return f"""
        {out} AS (
            SELECT event_type, {val} AS {out}_v FROM (
                SELECT event_type, {val},
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY {val}, {tiebreak}) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS cnt
                FROM {src}
            ) WHERE rn = (cnt + 1) // 2
        )"""


@register(
    "events_anomaly_mad",
    oracle=f"""
        WITH v AS (
            SELECT event_type, event_id,
                   CAST(FLOOR(value * 10000) AS BIGINT) AS v_fp
            FROM events
        ),
        {_lower_median_sql("v", "v_fp", "event_id", "med")},
        dev AS (
            SELECT v.event_type, v.event_id,
                   abs(v.v_fp - med.med_v) AS d_fp
            FROM v JOIN med USING (event_type)
        ),
        {_lower_median_sql("dev", "d_fp", "event_id", "mad")}
        SELECT d.event_type,
               CAST(min(med.med_v) AS DOUBLE) / 10000 AS median_value,
               CAST(min(mad.mad_v) AS DOUBLE) / 10000 AS mad_value,
               count(*) AS n_total,
               CAST(count(*) FILTER (WHERE d.d_fp > 3 * mad.mad_v)
                    AS BIGINT) AS n_anomalies
        FROM dev d
        JOIN med USING (event_type)
        JOIN mad USING (event_type)
        GROUP BY d.event_type
        ORDER BY d.event_type
    """,
    tags=("streaming", "anomaly", "robust-statistics"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: median / MAD (median
    absolute deviation) with the classic |x − med| > 3·MAD outlier
    rule — the heavy-tail-safe alternative to z-scores
    (events_value_zscore), where one large outlier can't inflate its
    own threshold.  Both medians are rank-based LOWER medians over
    fixed-point BIGINT values (row (n+1)//2 in (value, event_id)
    order), so every comparison is exact integer arithmetic on both
    engines — interpolated percentiles would differ in the last ulp
    and flip threshold comparisons.

    Scale shape: two window passes partitioned by the same
    event_type key (one exchange, reused), each reduced to a
    |types|-sized median relation that broadcasts back onto the
    deviations; the final rollup is one map-side-combined aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", "event_id", F.floor(F.col("value") * 10000).cast("long").alias("v_fp")
    )

    def lower_median(df: DataFrame, val: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(val, "event_id")
        wc = Window.partitionBy("event_type")
        return (
            df.select(
                "event_type",
                F.col(val),
                F.row_number().over(w).alias("rn"),
                F.count(F.lit(1)).over(wc).alias("cnt"),
            )
            .filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
            .select("event_type", F.col(val).alias(out))
        )

    med = lower_median(v, "v_fp", "med_v")
    dev = (
        v.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "event_id",
            F.abs(F.col("v_fp") - F.col("med_v")).alias("d_fp"),
        )
        .persist()  # feeds both the MAD median and the final rollup
    )
    mad = lower_median(dev, "d_fp", "mad_v")
    return (
        dev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            (F.min("med_v").cast("double") / 10000).alias("median_value"),
            (F.min("mad_v").cast("double") / 10000).alias("mad_value"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("d_fp") > 3 * F.col("mad_v"), 1).otherwise(0)
            ).cast("long").alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


@register(
    "events_ks_drift",
    oracle="""
        WITH v AS (
            SELECT event_type,
                   CAST(FLOOR(value * 10000) AS BIGINT) AS v_fp,
                   CASE WHEN event_id * 2 <
                        (SELECT max(event_id) + 1 FROM events)
                        THEN 1 ELSE 2 END AS period
            FROM events
        ),
        perval AS (
            SELECT event_type, v_fp,
                   count(*) FILTER (WHERE period = 1) AS d1,
                   count(*) FILTER (WHERE period = 2) AS d2
            FROM v GROUP BY event_type, v_fp
        ),
        cdf AS (
            SELECT event_type, v_fp,
                   CAST(sum(d1) OVER w AS BIGINT) AS c1,
                   CAST(sum(d2) OVER w AS BIGINT) AS c2,
                   CAST(sum(d1) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
                   CAST(sum(d2) OVER (PARTITION BY event_type) AS BIGINT) AS n2
            FROM perval
            WINDOW w AS (PARTITION BY event_type ORDER BY v_fp
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, min(n1) AS n1, min(n2) AS n2,
               max(abs(c1 * n2 - c2 * n1)) AS ks_num,
               CAST(max(abs(c1 * n2 - c2 * n1)) AS DOUBLE)
                   / (min(n1) * min(n2)) AS ks_stat
        FROM cdf GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "drift", "statistics"),
)
def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic per event type,
    comparing the value distribution of the stream's first half
    against its second half (split by event_id midpoint) — the
    distribution-shift gate a training pipeline runs before admitting
    a new data batch.  The KS statistic D = max|F̂₁(v) − F̂₂(v)| is
    computed EXACTLY: over the common denominator n₁·n₂ the numerator
    max|c₁·n₂ − c₂·n₁| is pure integer arithmetic on running counts,
    so both engines agree to the bit; the only float op is the final
    single division.  CDFs step at every distinct value with ties
    pre-aggregated, so the max scans each distinct value once.

    Scale shape: one (type,value) pre-aggregation with map-side
    combine collapses the stream to distinct values; the CDF pass is
    one event_type-partitioned sort over that collapsed relation; the
    final rollup is map-side combined.  No per-row window over raw
    events anywhere."""
    ev = load_table(spark, sf_dir, "events")
    nmax = ev.agg((F.max("event_id") + 1).alias("nall"))
    v = ev.crossJoin(F.broadcast(nmax)).select(
        "event_type",
        F.floor(F.col("value") * 10000).cast("long").alias("v_fp"),
        F.when(F.col("event_id") * 2 < F.col("nall"), 1).otherwise(2).alias("period"),
    )
    perval = v.groupBy("event_type", "v_fp").agg(
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("period") == 2, 1).otherwise(0)).alias("d2"),
    )
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("v_fp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cdf = perval.select(
        "event_type",
        F.sum("d1").over(wrun).cast("long").alias("c1"),
        F.sum("d2").over(wrun).cast("long").alias("c2"),
        F.sum("d1").over(wall).cast("long").alias("n1"),
        F.sum("d2").over(wall).cast("long").alias("n2"),
    )
    diff = F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
    return (
        cdf.select("event_type", "n1", "n2", diff.alias("diff"))
        .groupBy("event_type")
        .agg(
            F.min("n1").alias("n1"),
            F.min("n2").alias("n2"),
            F.max("diff").alias("ks_num"),
            (
                F.max("diff").cast("double") / (F.min("n1") * F.min("n2"))
            ).alias("ks_stat"),
        )
        .orderBy("event_type")
    )


QUOTA_N = 20


@register(
    "events_quota_sample",
    oracle=f"""
        SELECT user_id, event_id, CAST(rk AS BIGINT) AS rk FROM (
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rk
            FROM events
        ) WHERE rk <= {QUOTA_N}
        ORDER BY user_id, rk
    """,
    tags=("sampling", "quota", "streaming"),
)
def events_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-sampling quota, batch form: the first QUOTA_N events per user
    in (ts, event_id) order, each with its admission rank — the batch
    twin of streaming ``quota_sample_stateful`` (tested equal when
    the stream arrives ordered).  Head sampling is the cheap
    per-source cap used before heavier scoring; contrast
    sample_stratified_hash, which samples uniformly rather than
    temporally.

    Scale shape: one user_id-partitioned sort (rank + filter —
    TakeOrdered per group semantics), output bounded at keys×N."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id", "event_id", F.row_number().over(w).cast("long").alias("rk")
        )
        .filter(F.col("rk") <= QUOTA_N)
        .orderBy("user_id", "rk")
    )


@register(
    "events_burst_detection",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hr,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        base AS (
            SELECT event_type, hr, n,
                   CAST(sum(n) OVER (PARTITION BY event_type ORDER BY hr
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                        AS BIGINT) AS trail7,
                   count(*) OVER (PARTITION BY event_type ORDER BY hr
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS w
            FROM hourly
        )
        SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
               n, trail7,
               CAST(w AS BIGINT) AS n_baseline_windows
        FROM base
        WHERE w = 7 AND n * 7 > 3 * trail7
        ORDER BY event_type, hour
    """,
    tags=("streaming", "anomaly", "burst", "window"),
)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: hours where an event type's count exceeds 3×
    its trailing-7-hour average — the ops-alerting primitive (error
    storms, traffic spikes).  The threshold comparison is the exact
    cross-multiplication n·7 > 3·Σtrail (no float division), and
    warm-up hours with fewer than 7 trailing windows are excluded
    explicitly rather than diluted.

    Scale shape: raw events collapse to (type, hour) counts in one
    map-side-combined shuffle; the trailing frame then runs on the
    calendar-bounded hourly rollup, never the raw stream."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hr")
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-7, -1)
    base = hourly.select(
        "event_type",
        "hr",
        "n",
        F.sum("n").over(wt).cast("long").alias("trail7"),
        F.count(F.lit(1)).over(wt).cast("long").alias("w"),
    )
    return (
        base.filter((F.col("w") == 7) & (F.col("n") * 7 > 3 * F.col("trail7")))
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n",
            "trail7",
            F.col("w").alias("n_baseline_windows"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "events_lateness_profile",
    oracle="""
        WITH ordered AS (
            SELECT event_id, ts,
                   max(ts) OVER (ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS max_seen
            FROM events
        ),
        late AS (
            SELECT epoch_us(max_seen) - epoch_us(ts) AS late_us FROM ordered
        )
        SELECT CASE WHEN late_us = 0 THEN '0_on_time'
                    WHEN late_us < 60000000 THEN '1_lt_1m'
                    WHEN late_us < 600000000 THEN '2_lt_10m'
                    WHEN late_us < 3600000000 THEN '3_lt_1h'
                    ELSE '4_ge_1h' END AS bucket,
               count(*) AS n_events,
               max(late_us) AS max_late_us
        FROM late GROUP BY 1 ORDER BY bucket
    """,
    tags=("streaming", "watermark", "lateness", "time"),
)
def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-lateness distribution: how far behind the running
    maximum event-time each event arrives (arrival order = event_id),
    bucketed on exact microsecond thresholds — THE input for choosing
    a watermark delay (`withWatermark(ts, X)` drops exactly the
    events in buckets beyond X; see test_watermark_drops_late_data).
    A profile that says p99.9 lateness is 8 minutes justifies a
    10-minute watermark and bounds state size accordingly.

    Scale shape: the running max uses the skew-free bucketed prefix
    aggregate of ``operators/deskew.bucketed_running_agg`` (event_id
    range buckets; per-bucket maxima prefix-combined over the tiny
    bucket table) — bit-identical to the whole-table ordered window
    the round-5 mechanized plan lint banned; the production variant
    additionally partitions by the kafka source split, since
    watermarks advance per-partition anyway."""
    from kafkastreamer_spark.operators.deskew import (  # noqa: PLC0415
        bucketed_running_agg,
    )

    ev = load_table(spark, sf_dir, "events")
    late = bucketed_running_agg(
        ev.select("event_id", "ts"),
        [],
        [(F.floor(F.col("event_id") / 4096).cast("long"), False)],
        [F.asc("event_id")],
        "ts",
        "max_seen",
        op="max",
    ).select((epoch_us("max_seen") - epoch_us("ts")).alias("late_us"))
    bucket = (
        F.when(F.col("late_us") == 0, "0_on_time")
        .when(F.col("late_us") < 60_000_000, "1_lt_1m")
        .when(F.col("late_us") < 600_000_000, "2_lt_10m")
        .when(F.col("late_us") < 3_600_000_000, "3_lt_1h")
        .otherwise("4_ge_1h")
    )
    return (
        late.select(bucket.alias("bucket"), "late_us")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("late_us").alias("max_late_us"),
        )
        .orderBy("bucket")
    )


@register(
    "features_point_in_time_join",
    oracle="""
        SELECT o.event_id, o.user_id,
               strftime(o.ts, '%Y-%m-%d %H:%M:%S') AS obs_time,
               f.event_type AS prior_state,
               f.event_id AS prior_event_id
        FROM events o
        LEFT JOIN LATERAL (
            SELECT f.event_type, f.event_id
            FROM events f
            WHERE f.user_id = o.user_id
              AND f.event_type <> 'purchase'
              AND (f.ts < o.ts OR (f.ts = o.ts AND f.event_id < o.event_id))
            ORDER BY f.ts DESC, f.event_id DESC
            LIMIT 1
        ) f ON true
        WHERE o.event_type = 'purchase'
        ORDER BY o.event_id
    """,
    tags=("relational", "asof", "feature-store", "temporal"),
)
def features_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature join — the feature-store
    operation that prevents label leakage in training data: each
    purchase (observation) is joined to the user's most recent PRIOR
    non-purchase state, never a future one, with the (ts, event_id)
    composite order making "prior" exact even at timestamp ties.

    Strategy-level verification: the oracle resolves each
    observation with a LATERAL index-lookup (the feature-store
    online-serving plan); the Spark side runs the offline batch plan
    — union both row kinds, one per-user sort, and a conditional
    LAST(feature) window over the preceding frame — which touches
    each row once instead of probing per observation.  Same result,
    opposite cost model; the batch sweep is what scales to backfills
    over years of history.

    Scale shape: one user_id-keyed shuffle + sort shared by every
    as-of/sessionization query on this stream; no join at all in the
    Spark plan."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    feature_state = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    feature_id = F.when(F.col("event_type") != "purchase", F.col("event_id"))
    enriched = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(feature_state, ignorenulls=True).over(w).alias("prior_state"),
        F.last(feature_id, ignorenulls=True).over(w).alias("prior_event_id"),
    )
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("obs_time"),
            "prior_state",
            "prior_event_id",
        )
        .orderBy("event_id")
    )


@register(
    "events_partition_skew_report",
    oracle="""
        WITH b AS (
            SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 32 AS bucket
            FROM events
        ),
        per AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                       CAST(max(n) AS BIGINT) AS max_n,
                       CAST(min(n) AS BIGINT) AS min_n,
                       count(*) AS n_buckets
                FROM per)
        SELECT n_buckets, total, max_n, min_n,
               (max_n * n_buckets * 10000) // total AS max_imbalance_bp
        FROM tot
    """,
    tags=("streaming", "skew", "partitioning", "diagnostics"),
)
def events_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-partition balance report: hash events.user_id into 32
    buckets (md5-derived, engine-portable) and report max/min bucket
    loads plus the imbalance ratio in basis points (10000 = perfectly
    balanced; 20000 = the hottest task does 2× the average) — the
    diagnostic that predicts straggler tasks BEFORE running a keyed
    shuffle, and the input for choosing a salt factor
    (join_skew_salted) or AQE skew thresholds.

    Scale shape: one 32-group aggregate with map-side combine — the
    report costs one scan regardless of stream size."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 32
    )
    per = ev.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("n").cast("long").alias("total"),
        F.max("n").cast("long").alias("max_n"),
        F.min("n").cast("long").alias("min_n"),
    ).select(
        "n_buckets",
        "total",
        "max_n",
        "min_n",
        F.expr("(max_n * n_buckets * 10000) div total").alias("max_imbalance_bp"),
    )


@register(
    "events_reactivation_report",
    oracle="""
        WITH gaps AS (
            SELECT user_id, ts,
                   epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
            FROM events
        )
        SELECT strftime(ts, '%Y-%m') AS month,
               count(*) AS n_reactivations,
               count(DISTINCT user_id) AS n_users,
               max(gap_us) AS max_dormancy_us
        FROM gaps
        WHERE gap_us > CAST(2 AS BIGINT) * 86400000000
        GROUP BY 1 ORDER BY month
    """,
    tags=("streaming", "churn", "growth", "time"),
)
def events_reactivation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy-reactivation accounting: events that end a user
    silence of more than 2 days, rolled up per month with the
    reactivated-user count and the longest dormancy broken — the
    churn-resurrection metric growth teams track next to the DAU
    curve (events_cumulative_distinct_users).  Gap arithmetic is
    exact epoch microseconds; the 2-day threshold is an integer
    comparison (chosen inside the fixture's inter-arrival range so
    the operator is exercised at every scale factor).

    Scale shape: reuses the per-user (ts, event_id) sort every
    sessionization query pays, then a month-bounded rollup."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us("ts")
    gaps = ev.select(
        "user_id", "ts", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us") > F.lit(2) * 86_400_000_000)
    return (
        gaps.groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_reactivations"),
            F.countDistinct("user_id").alias("n_users"),
            F.max("gap_us").alias("max_dormancy_us"),
        )
        .orderBy("month")
    )


SLO_ERROR_BUDGET_BP = 2000  # 20% allowed error share (fixture-scaled)


@register(
    "events_error_budget_sli",
    oracle=f"""
        WITH daily AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   count(*) AS n_total,
                   CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
                       AS n_errors
            FROM events GROUP BY 1
        )
        SELECT day, n_total, n_errors,
               (n_errors * 10000) // n_total AS error_rate_bp,
               CAST(sum(n_errors) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_errors,
               CAST(sum(n_total) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_total,
               CASE WHEN sum(n_errors) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         * 10000
                       > {SLO_ERROR_BUDGET_BP}
                         * sum(n_total) OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    THEN 1 ELSE 0 END AS budget_exhausted
        FROM daily ORDER BY day
    """,
    tags=("streaming", "sre", "slo", "time"),
)
def events_error_budget_sli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLI/error-budget accounting: daily error rate in basis points
    plus the cumulative budget-burn flag (cumulative errors vs the
    SLO's allowed share, compared by integer cross-multiplication —
    no float rates anywhere) — the SRE rollup that pages when the
    month's budget burns early.  The burn comparison
    cum_err·10⁴ > budget_bp·cum_total is the same exact-arithmetic
    pattern as events_burst_detection.

    Scale shape: one calendar-bounded daily aggregation with map-side
    combine; running sums act on |days| rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum_e = F.sum("n_errors").over(w).cast("long")
    cum_t = F.sum("n_total").over(w).cast("long")
    return daily.select(
        "day",
        "n_total",
        "n_errors",
        F.expr("(n_errors * 10000) div n_total").alias("error_rate_bp"),
        cum_e.alias("cum_errors"),
        cum_t.alias("cum_total"),
        F.when(
            cum_e * 10000 > SLO_ERROR_BUDGET_BP * cum_t, 1
        ).otherwise(0).alias("budget_exhausted"),
    ).orderBy("day")


@register(
    "events_ab_test_analysis",
    oracle="""
        WITH assign AS (
            SELECT user_id,
                   CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                   1, 8)) AS BIGINT) % 2 = 0
                        THEN 'A' ELSE 'B' END AS bucket
            FROM (SELECT DISTINCT user_id FROM events)
        ),
        conv AS (
            SELECT a.bucket, a.user_id,
                   CASE WHEN EXISTS (
                       SELECT 1 FROM events e
                       WHERE e.user_id = a.user_id
                         AND e.event_type = 'purchase'
                   ) THEN 1 ELSE 0 END AS converted
            FROM assign a
        )
        SELECT bucket,
               count(*) AS n_users,
               CAST(sum(converted) AS BIGINT) AS n_converted,
               CAST((sum(converted) * 10000) // count(*) AS BIGINT) AS conversion_bp
        FROM conv GROUP BY bucket ORDER BY bucket
    """,
    tags=("experimentation", "ab-test", "statistics"),
)
def events_ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically hash-assigned
    to arms (md5 parity — the same stable bucketing
    sample_stratified_hash uses, so assignment never flips between
    analysis runs), per-arm user counts and purchase conversion in
    integer basis points.  The per-user conversion flag is a
    semi-join-style EXISTS, not an event count — one converting user
    with 50 purchases contributes 1.

    Scale shape: distinct users (one shuffle with map-side partial
    distinct), a LEFT SEMI join against purchase events for the flag,
    and a 2-group rollup; no per-event window anywhere."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    bucket = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 2 == 0,
        "A",
    ).otherwise("B")
    purchasers = (
        ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
        .withColumn("converted", F.lit(1))
    )
    conv = (
        users.join(purchasers, "user_id", "left")
        .select(bucket.alias("bucket"), F.coalesce("converted", F.lit(0)).alias("converted"))
    )
    return (
        conv.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").cast("long").alias("n_converted"),
        )
        .select(
            "bucket",
            "n_users",
            "n_converted",
            F.expr("(n_converted * 10000) div n_users").alias("conversion_bp"),
        )
        .orderBy("bucket")
    )


_CEP_PATTERNS = (
    ("signup_then_purchase", "s.*p"),
    ("triple_purchase_run", "ppp"),
    ("error_after_purchase", "p.*e"),
)


@register(
    "events_pattern_match_cep",
    oracle=f"""
        WITH seqs AS (
            SELECT user_id,
                   string_agg(substr(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        ),
        nu AS (SELECT count(*) AS n_users FROM seqs)
        {" UNION ALL ".join(
            f'''SELECT '{name}' AS pattern,
                   CAST(count(*) FILTER (WHERE regexp_matches(seq, '{rx}'))
                        AS BIGINT) AS n_matched,
                   (SELECT n_users FROM nu) AS n_users,
                   (count(*) FILTER (WHERE regexp_matches(seq, '{rx}'))
                        * 10000) // (SELECT n_users FROM nu) AS match_bp
               FROM seqs'''
            for name, rx in _CEP_PATTERNS
        )}
        ORDER BY pattern
    """,
    tags=("streaming", "cep", "pattern", "sequence"),
)
def events_pattern_match_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern matching (the
    MATCH_RECOGNIZE / Flink-CEP capability) on event sequences: each
    user's history compresses to a time-ordered type-initial string
    ('s'ignup,'p'urchase,'e'rror,…) and behavioral patterns become
    RE2-safe regexes over it — signup-eventually-purchase,
    a 3-purchase run, error-after-purchase — reported as matched-user
    counts and integer-bp shares.  Sequence-as-string turns CEP's NFA
    into the regex engine both systems already have, with identical
    leftmost semantics because the patterns avoid backrefs and
    lookaround.

    Spark has no ordered string_agg, so the sequence is built with
    the array_sort-struct digest pattern (corpus_shard_manifest) —
    deterministic under any partitioning.

    Scale shape: one user-keyed aggregation builds all sequences
    (map-side combine on the collect), then pattern evaluation is
    map-only regex over |users| rows — no per-event state machine,
    no window.  Histories too long for a row fold would chunk by
    session first (events_sessionization) and match per session."""
    ev = load_table(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "ts", "event_id", F.substring("event_type", 1, 1).alias("l")
                    )
                )
            ),
            lambda s: s.l,
        ),
        "",
    )
    seqs = ev.groupBy("user_id").agg(seq.alias("seq")).persist()
    nu = seqs.agg(F.count(F.lit(1)).alias("n_users"))
    parts = []
    for name, rx in _CEP_PATTERNS:
        parts.append(
            seqs.crossJoin(F.broadcast(nu)).agg(
                F.lit(name).alias("pattern"),
                F.count_if(F.regexp_like("seq", F.lit(rx))).alias("n_matched"),
                F.min("n_users").alias("n_users"),
                F.expr(
                    f"(count_if(regexp_like(seq, '{rx}')) * 10000)"
                    " div min(n_users)"
                ).alias("match_bp"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("pattern")


@register(
    "events_offset_gap_audit",
    oracle="""
        WITH bounds AS (
            SELECT min(event_id) AS lo, max(event_id) AS hi, count(*) AS n
            FROM events
        ),
        gaps AS (
            SELECT event_id,
                   LEAD(event_id) OVER (ORDER BY event_id) - event_id - 1
                       AS gap_len
            FROM events
        )
        SELECT (SELECT hi - lo + 1 - n FROM bounds) AS n_missing,
               CAST(count(*) FILTER (WHERE gap_len > 0) AS BIGINT) AS n_gaps,
               CAST(coalesce(max(gap_len), 0) AS BIGINT) AS max_gap_len,
               (SELECT lo FROM bounds) AS first_id,
               (SELECT hi FROM bounds) AS last_id
        FROM gaps
    """,
    tags=("streaming", "completeness", "audit"),
)
def events_offset_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-completeness audit: missing-id count from the
    bounds identity (hi − lo + 1 − n, which needs NO sort), plus the
    gap-run census from a LEAD pass — the Kafka-offset/CDC-LSN
    continuity check that distinguishes "nothing lost" from "lost a
    contiguous chunk" (one long gap = a dropped partition epoch; many
    short gaps = sporadic producer loss).

    Scale shape: the headline n_missing is a min/max/count scan
    aggregate — O(1) state, no shuffle; the gap census is computed
    skew-free (round 5): LEAD runs per event_id-range bucket (each
    sort task holds one 4096-id slice), and the cross-bucket boundary
    gaps come from a window over the tiny per-bucket (min, max) table
    — next bucket's min vs this bucket's max. The union of local and
    boundary gaps is exactly the global consecutive-pair census, so
    the result is bit-identical to the whole-table LEAD the
    mechanized plan lint banned."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    ids = ev.select(
        "event_id", F.floor(F.col("event_id") / 4096).cast("long").alias("_b")
    )
    wl = Window.partitionBy("_b").orderBy("event_id")
    local_gaps = ids.select(
        (F.lead("event_id").over(wl) - F.col("event_id") - 1).alias("gap_len")
    ).filter(F.col("gap_len").isNotNull())
    per_bucket = ids.groupBy("_b").agg(
        F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
    )
    wb = Window.orderBy("_b")
    boundary_gaps = per_bucket.select(
        (F.lead("mn").over(wb) - F.col("mx") - 1).alias("gap_len")
    ).filter(F.col("gap_len").isNotNull())
    gaps = local_gaps.unionByName(boundary_gaps)
    gap_stats = gaps.agg(
        F.count_if(F.col("gap_len") > 0).alias("n_gaps"),
        F.coalesce(F.max(F.when(F.col("gap_len") > 0, F.col("gap_len"))), F.lit(0))
        .cast("long")
        .alias("max_gap_len"),
    )
    return (
        gap_stats.crossJoin(F.broadcast(bounds))
        .select(
            (F.col("hi") - F.col("lo") + 1 - F.col("n")).alias("n_missing"),
            "n_gaps",
            "max_gap_len",
            F.col("lo").alias("first_id"),
            F.col("hi").alias("last_id"),
        )
    )


@register(
    "events_simpson_diversity",
    oracle="""
        WITH per AS (
            SELECT user_id, event_type, count(*) AS c
            FROM events GROUP BY user_id, event_type
        ),
        u AS (
            SELECT user_id,
                   CAST(sum(c) AS BIGINT) AS n,
                   CAST(sum(c * c) AS BIGINT) AS sum_c2
            FROM per GROUP BY user_id
        ),
        d AS (
            SELECT user_id,
                   1000000 - (sum_c2 * 1000000) // (n * n) AS diversity_ppm
            FROM u WHERE n > 0
        )
        SELECT diversity_ppm // 100000 AS decile,
               count(*) AS n_users,
               min(diversity_ppm) AS min_ppm,
               max(diversity_ppm) AS max_ppm
        FROM d GROUP BY 1 ORDER BY decile
    """,
    tags=("streaming", "statistics", "diversity"),
)
def events_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user via the Simpson index
    1 − Σpᵢ² (the log-free diversity measure — Shannon entropy needs
    log(), Simpson is pure integer over the common denominator n²),
    bucketed into deciles across users — 0 = does one thing only,
    →1e6 ppm = spreads evenly across event types.  The same Σc²
    arithmetic as the HHI concentration audit, inverted and applied
    per user; feeds bot detection (bots are low-diversity) and
    engagement scoring.

    Scale shape: one (user, type) count shuffle with map-side
    combine, a user-level rollup, and a 10-group histogram."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    u = per.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )
    d = u.filter(F.col("n") > 0).select(
        F.expr("1000000 - (sum_c2 * 1000000) div (n * n)").alias("diversity_ppm")
    )
    return (
        d.groupBy(F.expr("diversity_ppm div 100000").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("diversity_ppm").alias("min_ppm"),
            F.max("diversity_ppm").alias("max_ppm"),
        )
        .orderBy("decile")
    )


@register(
    "events_winsorized_mean",
    oracle="""
        WITH v AS (
            SELECT event_type, event_id,
                   CAST(FLOOR(value * 10000) AS BIGINT) AS v_fp
            FROM events
        ),
        ranked AS (
            SELECT event_type, v_fp,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY v_fp, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS cnt
            FROM v
        ),
        cuts AS (
            SELECT event_type,
                   max(CASE WHEN rn = (cnt * 5 + 99) // 100 THEN v_fp END)
                       AS lo_fp,
                   max(CASE WHEN rn = (cnt * 95 + 99) // 100 THEN v_fp END)
                       AS hi_fp
            FROM ranked GROUP BY event_type
        )
        SELECT v.event_type,
               count(*) AS n,
               CAST(c.lo_fp AS DOUBLE) / 10000 AS p5,
               CAST(c.hi_fp AS DOUBLE) / 10000 AS p95,
               CAST(sum(least(greatest(v.v_fp, c.lo_fp), c.hi_fp)) AS DOUBLE)
                   / (10000 * count(*)) AS winsorized_mean,
               CAST(sum(v.v_fp) AS DOUBLE) / (10000 * count(*)) AS raw_mean
        FROM v JOIN cuts c USING (event_type)
        GROUP BY v.event_type, c.lo_fp, c.hi_fp
        ORDER BY v.event_type
    """,
    tags=("streaming", "statistics", "robust"),
)
def events_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: clamp values to the discrete
    [p5, p95] rank cuts (the shared ceil(p·n) formula), then the
    exact fixed-point mean of the clamped values next to the raw
    mean — the outlier-robust average that, unlike trimming, keeps n
    constant.  The winsorized−raw spread quantifies how much tails
    drive the metric.  Clamps, sums and cuts are all integer; each
    mean is one final division.

    Scale shape: one event_type-partitioned rank pass (shared with
    the percentile battery), cuts broadcast back, one
    map-side-combined rollup."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 10000).cast("long").alias("v_fp"),
    )
    wr = Window.partitionBy("event_type").orderBy("v_fp", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = v.select(
        "event_type",
        "v_fp",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    cuts = ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(cnt * 5 + 99) div 100"), F.col("v_fp"))
        ).alias("lo_fp"),
        F.max(
            F.when(F.col("rn") == F.expr("(cnt * 95 + 99) div 100"), F.col("v_fp"))
        ).alias("hi_fp"),
    )
    clamped = F.least(F.greatest(F.col("v_fp"), F.col("lo_fp")), F.col("hi_fp"))
    return (
        v.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "lo_fp", "hi_fp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(clamped).cast("double") / (10000 * F.count(F.lit(1)))).alias(
                "winsorized_mean"
            ),
            (F.sum("v_fp").cast("double") / (10000 * F.count(F.lit(1)))).alias(
                "raw_mean"
            ),
        )
        .select(
            "event_type",
            "n",
            (F.col("lo_fp").cast("double") / 10000).alias("p5"),
            (F.col("hi_fp").cast("double") / 10000).alias("p95"),
            "winsorized_mean",
            "raw_mean",
        )
        .orderBy("event_type")
    )

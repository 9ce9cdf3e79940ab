"""Entity-resolution and statistical-test queries (round 3 closure).

The reference has no relational surface (its operators are the keyed
arithmetic stages, Streamer.java:443-466); these extend the engine's
capability closure along two axes a curation pipeline hits:

* blocked fuzzy matching — the entity-resolution join shape: cheap
  equality blocking bounds the candidate set, an edit-distance verify
  runs per candidate pair only;
* contingency-table independence testing — the chi-square companion
  to the exact-KS drift gate in events2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.queries._util import SCALE, fixed
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table


@register(
    "join_fuzzy_part_names",
    oracle="""
        SELECT a.p_brand, a.p_type,
               a.p_partkey AS k1, b.p_partkey AS k2,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_type = b.p_type
         AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 4
        ORDER BY k1, k2
    """,
    tags=("relational", "join", "fuzzy", "llm-data"),
)
def join_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join (entity-resolution shape): equality
    blocking on (p_brand, p_type) bounds the candidate pairs, then a
    Levenshtein verify runs per candidate only — never all-pairs.

    Scale shape: the block join shuffles on the block key, so candidate
    volume is sum over blocks of |block|^2, controlled by block-key
    selectivity — the same guardrail as the LSH band joins in
    operators/dedup.py. At 100 TB one adds a length-band to the block
    key (|len(a)-len(b)| <= threshold implies lev > threshold is
    impossible to pass) to subdivide hot blocks; semantics unchanged.
    Both engines implement textbook Levenshtein, so the verify
    predicate is exact cross-engine.
    """
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_type")
    a = p.alias("a")
    b = p.alias("b")
    lev = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_type") == F.col("b.p_type"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(lev <= 4)
        .select(
            F.col("a.p_brand").alias("p_brand"),
            F.col("a.p_type").alias("p_type"),
            F.col("a.p_partkey").alias("k1"),
            F.col("b.p_partkey").alias("k2"),
            lev.cast("long").alias("lev"),
        )
        .orderBy("k1", "k2")
    )


@register(
    "orders_chisq_priority_status",
    oracle=f"""
        WITH cells AS (
            SELECT o_orderpriority AS p, o_orderstatus AS s,
                   COUNT(*) AS obs
            FROM orders GROUP BY 1, 2
        ),
        rt AS (SELECT p, SUM(obs) AS rt FROM cells GROUP BY p),
        ct AS (SELECT s, SUM(obs) AS ct FROM cells GROUP BY s),
        n AS (SELECT SUM(obs) AS n FROM cells),
        terms AS (
            SELECT CAST(FLOOR(
                       (obs - CAST(rt AS DOUBLE) * ct / n)
                     * (obs - CAST(rt AS DOUBLE) * ct / n)
                     / (CAST(rt AS DOUBLE) * ct / n) * {SCALE}
                   ) AS BIGINT) AS t4
            FROM cells JOIN rt USING (p) JOIN ct USING (s) CROSS JOIN n
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cells) AS n_cells,
               (SELECT CAST((COUNT(DISTINCT p) - 1)
                          * (COUNT(DISTINCT s) - 1) AS BIGINT)
                  FROM cells) AS dof,
               CAST(SUM(t4) AS DOUBLE) / {SCALE} AS chi2
        FROM terms
    """,
    tags=("relational", "statistics"),
)
def orders_chisq_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test over the o_orderpriority x
    o_orderstatus contingency table (companion to the exact-KS drift
    gate): expected counts from row/column marginals, per-cell terms
    floored to fixed-point BIGINT so the final sum is
    partial-aggregation-order independent.

    Scale shape: one groupBy over the fact table produces the cell
    counts (map-side combined, |priorities x statuses| rows); the
    marginals and total are aggregates OF THE CELLS, so everything
    after the first shuffle is broadcast-sized regardless of fact
    cardinality.
    """
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.groupBy(
            F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("s")
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    cells = cells.persist()
    rt = cells.groupBy("p").agg(F.sum("obs").alias("rt"))
    ct = cells.groupBy("s").agg(F.sum("obs").alias("ct"))
    n = cells.agg(F.sum("obs").alias("n"))
    exp = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    term = (F.col("obs") - exp) * (F.col("obs") - exp) / exp
    terms = (
        cells.join(F.broadcast(rt), "p")
        .join(F.broadcast(ct), "s")
        .crossJoin(F.broadcast(n))
        .select(fixed(term).alias("t4"))
    )
    meta = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (
            (F.countDistinct("p") - 1) * (F.countDistinct("s") - 1)
        )
        .cast("long")
        .alias("dof"),
    )
    chi2 = terms.agg((F.sum("t4").cast("double") / SCALE).alias("chi2"))
    return meta.crossJoin(F.broadcast(chi2))


_ZBITS = 12  # bits per dimension -> 24-bit Morton key
_ZBUCKETS = 64  # files/buckets = top 6 bits of the key


def _z_interleave(divop: str) -> str:
    """Morton interleave of the normalized dims ``xn``/``dn`` as pure
    integer arithmetic — identical in Spark SQL (divop='div') and
    DuckDB (divop='//'), no engine-specific bit operators."""
    return " + ".join(
        f"((xn {divop} {1 << i}) % 2) * {1 << (2 * i)}"
        f" + ((dn {divop} {1 << i}) % 2) * {1 << (2 * i + 1)}"
        for i in range(_ZBITS)
    )


@register(
    "layout_zorder_audit",
    oracle=f"""
        WITH base AS (
            SELECT o_custkey,
                   CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01'
                        AS BIGINT) AS days
            FROM orders
        ),
        mx AS (
            SELECT MAX(o_custkey) AS ckmax, MAX(days) AS dmax FROM base
        ),
        norm AS (
            SELECT o_custkey, days,
                   (o_custkey * {1 << _ZBITS}) // (ckmax + 1) AS xn,
                   (days * {1 << _ZBITS}) // (dmax + 1) AS dn
            FROM base CROSS JOIN mx
        ),
        keyed AS (
            SELECT o_custkey, days,
                   ({_z_interleave('//')}) AS z
            FROM norm
        )
        SELECT CAST(z // {(1 << (2 * _ZBITS)) // _ZBUCKETS} AS BIGINT)
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(o_custkey) AS BIGINT) AS ck_min,
               CAST(MAX(o_custkey) AS BIGINT) AS ck_max,
               CAST(MIN(days) AS BIGINT) AS d_min,
               CAST(MAX(days) AS BIGINT) AS d_max
        FROM keyed GROUP BY 1 ORDER BY bucket
    """,
    tags=("relational", "layout", "scale"),
)
def layout_zorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-key) layout audit: normalize (o_custkey,
    order-date-days) to 12 bits each, interleave into a 24-bit Morton
    key, assign rows to 64 "files" by key prefix, and report each
    file's min/max range in BOTH dimensions.

    This is the multi-dimensional clustering that makes min/max
    zone-map pruning work on a 100 TB table for queries filtering on
    EITHER column: under single-column sort, every file spans the full
    range of the other dimension; under z-order both per-file spans
    shrink to ~sqrt(files) fractions. The audit output IS the zone
    map a scan planner would prune with. The interleave is pure
    integer arithmetic (div/mod/multiply), bit-identical across
    engines and fully whole-stage-codegen'd; the only shuffle is the
    64-key prefix groupBy, map-side combined.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days"),
    )
    mx = o.agg(
        F.max("o_custkey").alias("ckmax"), F.max("days").alias("dmax")
    )
    norm = o.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        "days",
        F.expr(f"o_custkey * {1 << _ZBITS} div (ckmax + 1)").alias("xn"),
        F.expr(f"days * {1 << _ZBITS} div (dmax + 1)").alias("dn"),
    )
    keyed = norm.select(
        "o_custkey", "days", F.expr(_z_interleave("div")).alias("z")
    )
    return (
        keyed.groupBy(
            F.expr(f"z div {(1 << (2 * _ZBITS)) // _ZBUCKETS}")
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_custkey").cast("long").alias("ck_min"),
            F.max("o_custkey").cast("long").alias("ck_max"),
            F.min("days").cast("long").alias("d_min"),
            F.max("days").cast("long").alias("d_max"),
        )
        .orderBy("bucket")
    )


@register(
    "events_variant_extract",
    oracle="""
        WITH x AS (
            SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k
            FROM events
        )
        SELECT k // 10 AS k_decade,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(k) AS BIGINT) AS k_min,
               CAST(MAX(k) AS BIGINT) AS k_max
        FROM x GROUP BY 1 ORDER BY k_decade
    """,
    tags=("relational", "scalar", "json", "variant"),
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` once into a variant column, ``variant_get`` typed
    paths out of it — the modern replacement for per-path
    ``get_json_object`` re-parsing (each get_json_object call
    re-parses the string; a variant column parses once into a binary
    form and every extraction is an O(log n) field lookup, the right
    shape when a 100 TB event stream carries wide JSON payloads read
    by many paths). The companion string-function form is
    ``events_json_extract``.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select(k.alias("k"))
        .groupBy(F.expr("k div 10").alias("k_decade"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
        )
        .orderBy("k_decade")
    )


# The late-arrival batch is the top 5% of the event_id range, so the
# scenario exists at every scale factor (a fixed id cutoff would make
# the query degenerate-empty below the SF it was tuned for).


@register(
    "events_window_restatement",
    oracle=f"""
        WITH cut AS (
            SELECT (MAX(event_id) + 1) * 95 // 100 AS c FROM events
        ),
        base AS (
            SELECT e.* FROM events e CROSS JOIN cut WHERE e.event_id < cut.c
        ),
        late AS (
            SELECT e.* FROM events e CROSS JOIN cut WHERE e.event_id >= cut.c
        ),
        affected AS (
            SELECT DISTINCT date_trunc('hour', ts) AS hr FROM late
        ),
        old AS (
            SELECT date_trunc('hour', b.ts) AS hr,
                   COUNT(*) AS old_n,
                   SUM(CAST(FLOOR(b.value * 10000) AS BIGINT)) AS old_s4
            FROM base b JOIN affected a ON date_trunc('hour', b.ts) = a.hr
            GROUP BY 1
        ),
        corrected AS (
            SELECT date_trunc('hour', ts) AS hr,
                   COUNT(*) AS new_n,
                   SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS new_s4
            FROM (SELECT * FROM base UNION ALL SELECT * FROM late) u
            JOIN affected ON date_trunc('hour', u.ts) = affected.hr
            GROUP BY 1
        )
        SELECT strftime(c.hr, '%Y-%m-%d %H:%M:%S') AS hour,
               CAST(COALESCE(o.old_n, 0) AS BIGINT) AS old_n,
               CAST(c.new_n AS BIGINT) AS new_n,
               CAST(c.new_n - COALESCE(o.old_n, 0) AS BIGINT) AS delta_n,
               CAST(c.new_s4 - COALESCE(o.old_s4, 0) AS DOUBLE) / 10000
                   AS delta_sum
        FROM corrected c LEFT JOIN old o ON c.hr = o.hr
        ORDER BY hour
    """,
    tags=("events", "streaming", "backfill"),
)
def events_window_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data backfill correction: given a published hourly
    aggregate (events below the cutoff) and a late-arrival batch
    (events at/above it), recompute ONLY the hour windows the late
    batch touches and emit correction records (old/new/delta) — the
    batch restatement pattern that pairs with the streaming
    watermark: watermarked pipelines drop what this job repairs.

    Scale shape: the affected-window set is tiny (distinct hours of
    the late batch) and broadcast into both the old and corrected
    aggregations, so the recompute scans prune to affected windows
    instead of re-aggregating history; deltas join on the hour key
    (bounded rows).
    """
    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        F.expr("(max(event_id) + 1) * 95 div 100").alias("c")
    )
    withc = ev.crossJoin(F.broadcast(cut))
    base = withc.filter(F.col("event_id") < F.col("c")).drop("c")
    late = withc.filter(F.col("event_id") >= F.col("c")).drop("c")
    hr = F.date_trunc("hour", F.col("ts")).alias("hr")
    affected = late.select(hr).distinct()
    s4 = F.sum(F.floor(F.col("value") * 10000).cast("long"))
    old = (
        base.select(hr, "value")
        .join(F.broadcast(affected), "hr")
        .groupBy("hr")
        .agg(F.count(F.lit(1)).alias("old_n"), s4.alias("old_s4"))
    )
    corrected = (
        base.unionByName(late)
        .select(hr, "value")
        .join(F.broadcast(affected), "hr")
        .groupBy("hr")
        .agg(F.count(F.lit(1)).alias("new_n"), s4.alias("new_s4"))
    )
    return (
        corrected.join(old, "hr", "left")
        .select(
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce(F.col("old_n"), F.lit(0)).cast("long").alias("old_n"),
            F.col("new_n").cast("long").alias("new_n"),
            (F.col("new_n") - F.coalesce(F.col("old_n"), F.lit(0)))
            .cast("long")
            .alias("delta_n"),
            (
                (F.col("new_s4") - F.coalesce(F.col("old_s4"), F.lit(0))).cast(
                    "double"
                )
                / 10000
            ).alias("delta_sum"),
        )
        .orderBy("hour")
    )


@register(
    "events_purchase_attribution",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_id, ts, event_type,
                   LAG(CASE WHEN event_type <> 'purchase'
                            THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS last_touch
            FROM events
        )
        SELECT COALESCE(last_touch, 'none') AS touch,
               CAST(COUNT(*) AS BIGINT) AS n_purchases
        FROM ordered WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY touch
    """,
    tags=("events", "attribution", "window"),
)
def events_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent preceding NON-purchase event of the same user (LAG ... 
    IGNORE NULLS over the user timeline — purchases masked to NULL so
    they can't self-attribute), rolled up to purchases per touch type.

    Scale shape: one shuffle on user_id for the timeline window, then
    a counts-only groupBy over five touch keys. Hot users are the
    usual skew concern; the window carries only (event_id, ts, type),
    never payloads. (ts, event_id) is the total order — event_id alone
    is unique (fixture-canaried) and breaks timestamp ties.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("last_touch"),
    )
    return (
        ordered.filter(F.col("event_type") == "purchase")
        .select(F.coalesce(F.col("last_touch"), F.lit("none")).alias("touch"))
        .groupBy("touch")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("touch")
    )

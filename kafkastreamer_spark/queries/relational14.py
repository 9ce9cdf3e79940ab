"""Survival analysis (Nelson–Aalen), entity resolution, ranking
metrics (ROC-AUC, calibration), the t-closeness privacy audit,
sequential pattern mining, robust regression (Theil–Sen), and WOE/IV
feature binning.

The reference has no relational/statistical surface (its operators
are the keyed arithmetic stages, Streamer.java:443-466); these extend
the §2-C inventory. Determinism discipline as everywhere else in the
engine: exact integer/fixed-point arithmetic shared verbatim with the
DuckDB oracles, no libm transcendentals in compared columns, windows
only over post-aggregation calendar- or bucket-bounded series.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.operators._embed import tokens
from kafkastreamer_spark.operators._graph import min_label_step
from kafkastreamer_spark.operators.deskew import bucketed_row_number
from kafkastreamer_spark.operators.sampling import sql_hash_bucket
from kafkastreamer_spark.queries.graph import _cc_iter_sql, part_supplier_half
from kafkastreamer_spark.queries.relational2 import _BPE_PATTERN
from kafkastreamer_spark.queries._util import epoch_s
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table


@register(
    "orders_survival_nelson_aalen",
    oracle="""
        WITH fs AS (
            SELECT l_orderkey, min(l_shipdate) AS ship0
            FROM lineitem GROUP BY l_orderkey
        ),
        se AS (SELECT max(CAST(l_shipdate AS DATE)) AS study_end FROM lineitem),
        obs AS (
            SELECT
                CASE WHEN o.o_orderstatus <> 'O' AND fs.ship0 IS NOT NULL
                     THEN 1 ELSE 0 END AS evt,
                CAST(greatest(0, date_diff('day',
                    CAST(o.o_orderdate AS DATE),
                    CASE WHEN o.o_orderstatus <> 'O' AND fs.ship0 IS NOT NULL
                         THEN CAST(fs.ship0 AS DATE)
                         ELSE se.study_end END)) AS BIGINT) AS t_days
            FROM orders o
            LEFT JOIN fs ON o.o_orderkey = fs.l_orderkey
            CROSS JOIN se
        ),
        per AS (
            SELECT t_days,
                   CAST(sum(evt) AS BIGINT) AS d_events,
                   CAST(sum(1 - evt) AS BIGINT) AS c_censored
            FROM obs GROUP BY t_days
        ),
        nt AS (SELECT count(*) AS n_total FROM orders),
        risk AS (
            SELECT t_days, d_events, c_censored,
                   CAST(n_total - coalesce(sum(d_events + c_censored) OVER (
                       ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS n_risk
            FROM per CROSS JOIN nt
        )
        SELECT t_days, n_risk, d_events, c_censored,
               (100000000 * d_events) // n_risk AS hazard_fp8,
               CAST(sum((100000000 * d_events) // n_risk) OVER (
                   ORDER BY t_days) AS BIGINT) AS cumhaz_fp8
        FROM risk ORDER BY t_days
    """,
    tags=("stats", "survival", "reporting"),
)
def orders_survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard table for order fulfillment:
    time-to-first-ship in days from order date, with right-censoring.
    An order whose status is 'O' (still open) or that has no lineitem
    rows yet is censored at the study end (the corpus-wide max ship
    date); everything else is an event at its first ship date. The
    synthetic fixture contains ship dates before the order date, so
    durations clamp at 0 (documented, applied identically in the
    oracle).

    Nelson–Aalen is the sum-form survival estimator — H(t) =
    Σ_{t'≤t} d_{t'}/n_{t'} — chosen over Kaplan–Meier's product form
    precisely because a sum fixes exactly: each per-day hazard is the
    integer (1e8·d) div n (both engines floor on positives), and the
    cumulative hazard is an exact BIGINT prefix sum. S(t) = exp(−H)
    is left to the consumer; no libm call appears in any compared
    column.

    Scale shape: one groupBy(l_orderkey) min, one orders-side join,
    one per-day aggregation. The two ordered windows run over the
    PER-DAY table, whose cardinality is bounded by the calendar span
    (a few thousand rows regardless of data volume) — the same
    post-aggregation-series precedent as orders_monthly_yoy_growth,
    not a global sort of the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    fs = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship0"))
    se = li.agg(F.max(F.to_date("l_shipdate")).alias("study_end"))
    nt = o.agg(F.count(F.lit(1)).alias("n_total"))

    is_evt = (F.col("o_orderstatus") != "O") & F.col("ship0").isNotNull()
    obs = (
        o.join(fs, o.o_orderkey == fs.l_orderkey, "left")
        .crossJoin(F.broadcast(se))
        .select(
            F.when(is_evt, F.lit(1)).otherwise(F.lit(0)).alias("evt"),
            F.greatest(
                F.lit(0),
                F.datediff(
                    F.when(is_evt, F.to_date("ship0")).otherwise(
                        F.col("study_end")
                    ),
                    F.to_date("o_orderdate"),
                ),
            )
            .cast("long")
            .alias("t_days"),
        )
    )
    per = obs.groupBy("t_days").agg(
        F.sum("evt").cast("long").alias("d_events"),
        F.sum(F.lit(1) - F.col("evt")).cast("long").alias("c_censored"),
    )
    w_prev = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    risk = per.crossJoin(F.broadcast(nt)).select(
        "t_days",
        "d_events",
        "c_censored",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("d_events") + F.col("c_censored")).over(w_prev),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("n_risk"),
    )
    return (
        risk.withColumn(
            "hazard_fp8", F.expr("(100000000 * d_events) div n_risk")
        )
        .withColumn(
            "cumhaz_fp8", F.sum("hazard_fp8").over(w_cum).cast("long")
        )
        .select(
            "t_days", "n_risk", "d_events", "c_censored",
            "hazard_fp8", "cumhaz_fp8",
        )
        .orderBy("t_days")
    )


@register(
    "er_part_entity_clusters",
    oracle=f"""
        WITH nm AS (
            SELECT DISTINCT p_name AS name,
                   string_split(p_name, ' ')[-1] AS noun
            FROM part
        ),
        edges AS (
            SELECT a.name AS src, b.name AS dst
            FROM nm a JOIN nm b
              ON a.noun = b.noun AND levenshtein(a.name, b.name) <= 4
        ),
        l0 AS (SELECT name AS node, name AS lbl FROM nm),
        {_cc_iter_sql("l0", "l1")},
        {_cc_iter_sql("l1", "l2")},
        {_cc_iter_sql("l2", "l3")},
        {_cc_iter_sql("l3", "l4")},
        asg AS (
            SELECT p.p_name, p.p_brand, p.p_retailprice, l4.lbl AS entity
            FROM part p JOIN l4 ON l4.node = p.p_name
        )
        SELECT entity,
               CAST(count(DISTINCT p_name) AS BIGINT) AS n_names,
               CAST(count(*) AS BIGINT) AS n_records,
               CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands,
               min(p_retailprice) AS min_price,
               max(p_retailprice) AS max_price
        FROM asg GROUP BY entity ORDER BY entity
    """,
    tags=("er", "dedup", "graph", "llm-data"),
)
def er_part_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over part records: blocking + pairwise match
    + transitive closure + canonical entity assignment — the classic
    record-linkage pipeline the dedup family stops short of (dedup
    clusters exact/near duplicates; ER clusters records that REFER to
    the same thing under different spellings).

    Match rule: two part NAMES refer to one entity when they share
    their head noun (blocking key: last name token) and sit within
    levenshtein distance 4. Matching runs on the DISTINCT-NAME
    vocabulary, not on records: entity identity is a property of the
    spelling, so the quadratic step touches |vocab| rows (64 here;
    bounded by the name domain, not the record count), and records
    get their entity by a vocabulary equi-join afterwards. Transitive
    closure is the engine's standard FIXED 4-round min-label
    propagation (same contract as graph_connected_components: the
    output is the deterministic 4-step state; the self-pair from the
    non-strict block join doubles as the self-loop carry-over).
    Entity id = lexicographically-least member name.

    Scale shape: at 100 TB the record table is the big side and is
    touched exactly twice — one distinct() to extract the vocabulary
    and one broadcast equi-join to assign entities; everything
    quadratic or iterative runs on the tiny vocabulary. This is the
    canonical production ER layout (match on canonicalized keys,
    assign by join), so no salting or capping is needed on the fact
    side at any scale."""
    p = load_table(spark, sf_dir, "part")
    labels = part_entities(spark, sf_dir)
    asg = p.join(
        F.broadcast(labels.select(F.col("node").alias("p_name"), "lbl")),
        "p_name",
    )
    return (
        asg.groupBy(F.col("lbl").alias("entity"))
        .agg(
            F.count_distinct("p_name").cast("long").alias("n_names"),
            F.count(F.lit(1)).cast("long").alias("n_records"),
            F.count_distinct("p_brand").cast("long").alias("n_brands"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
        )
        .orderBy("entity")
    )


def part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct part-name vocabulary ``(name, noun)``; ``noun`` is
    the last name token, the ER blocking key."""
    return (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .select(
            F.col("p_name").alias("name"),
            F.element_at(F.split("p_name", " "), -1).alias("noun"),
        )
    )


def part_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part-name entity closure ``(node, lbl)``: names sharing a
    head noun within levenshtein distance 4 are matched, then 4 fixed
    rounds of min-label propagation label each name with the least
    name reachable in 4 hops. The block join is non-strict, so every
    name matches itself and the edge list is closed."""
    nm = part_names(spark, sf_dir)
    a, b = nm.alias("a"), nm.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.levenshtein(F.col("a.name"), F.col("b.name")) <= 4),
        )
        .select(F.col("a.name").alias("src"), F.col("b.name").alias("dst"))
        # every round joins it; unpersisted, the levenshtein self-join
        # would run once per round
        .persist()
    )
    labels = nm.select(F.col("name").alias("node"), F.col("name").alias("lbl"))
    for _ in range(4):
        labels = min_label_step(edges, labels)
    return labels


@register(
    "ml_click_purchase_auc",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(count_if(event_type = 'click') AS BIGINT) AS score,
                   CASE WHEN count_if(event_type = 'purchase')
                             > count_if(event_type = 'error')
                        THEN 1 ELSE 0 END AS y
            FROM events GROUP BY user_id
        ),
        per_v AS (
            SELECT score AS v, CAST(sum(y) AS BIGINT) AS a,
                   CAST(count(*) AS BIGINT) AS m
            FROM per_user GROUP BY score
        ),
        cum AS (
            SELECT v, a, m,
                   CAST(coalesce(sum(m) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS c
            FROM per_v
        ),
        sums AS (
            SELECT CAST(sum(a) AS BIGINT) AS n_pos,
                   CAST(sum(m - a) AS BIGINT) AS n_neg,
                   CAST(sum(a * (2*c + m + 1)) AS BIGINT) AS two_r
            FROM cum
        ),
        brier AS (
            SELECT CAST(sum((least(score, 10) - 10*y)
                            * (least(score, 10) - 10*y)) AS BIGINT) AS sq,
                   CAST(count(*) AS BIGINT) AS n
            FROM per_user
        )
        SELECT n_pos, n_neg,
               two_r - n_pos * (n_pos + 1) AS two_u,
               (100000000 * (two_r - n_pos * (n_pos + 1)))
                   // (2 * n_pos * n_neg) AS auc_fp8,
               (10000 * sq) // n AS brier_fp6
        FROM sums CROSS JOIN brier
    """,
    tags=("ml", "metrics", "statistics"),
)
def ml_click_purchase_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC and Brier score for a ranking signal: per-user
    click count as the score; the label is scale-invariant class
    membership — the user fired more purchase than error events
    (both classes populated at every fixture SF; an "ever purchased"
    label is degenerate here, every synthetic user purchases).
    AUC is computed through the tie-corrected rank-sum identity
    (AUC = U/(n⁺n⁻), the Mann–Whitney link — same doubled-rank
    integerization as orders_mann_whitney_u: per distinct score,
    2·Σranks of positives = Σ a·(2c+m+1), everything BIGINT until one
    final integer division to 1e-8 fixed point). The Brier score uses
    the naive calibration map p = min(score,10)/10, so each term
    (p−y)² is an integer in 1/100 units and the mean is again a
    single integer division (1e-6 fixed point). No doubles anywhere.

    Scale shape: one groupBy(user_id) over the fact table, then the
    rank cumulation runs on the DISTINCT-SCORE table — cardinality
    bounded by the score domain (small-integer click counts), not by
    users — and two scalar aggregates broadcast-joined. AUC over 100
    TB of events is therefore exactly one fact-table shuffle."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "click").cast("long").alias("score"),
        F.when(
            F.count_if(F.col("event_type") == "purchase")
            > F.count_if(F.col("event_type") == "error"),
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    per_v = pu.groupBy(F.col("score").alias("v")).agg(
        F.sum("y").cast("long").alias("a"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    w_prev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_v.withColumn(
        "c", F.coalesce(F.sum("m").over(w_prev), F.lit(0)).cast("long")
    )
    sums = cum.agg(
        F.sum("a").cast("long").alias("n_pos"),
        F.sum(F.col("m") - F.col("a")).cast("long").alias("n_neg"),
        F.sum(F.col("a") * (2 * F.col("c") + F.col("m") + 1))
        .cast("long")
        .alias("two_r"),
    )
    term = F.least(F.col("score"), F.lit(10)) - 10 * F.col("y")
    brier = pu.agg(
        F.sum(term * term).cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        sums.crossJoin(F.broadcast(brier))
        .withColumn("two_u", F.expr("two_r - n_pos * (n_pos + 1)"))
        .select(
            "n_pos",
            "n_neg",
            "two_u",
            F.expr("(100000000 * two_u) div (2 * n_pos * n_neg)").alias(
                "auc_fp8"
            ),
            F.expr("(10000 * sq) div n").alias("brier_fp6"),
        )
    )


@register(
    "governance_t_closeness_audit",
    oracle="""
        WITH cells AS (
            SELECT n.n_name AS nation, c.c_mktsegment AS segment,
                   CAST(floor(c.c_acctbal / 1000) AS BIGINT) AS band,
                   CAST(count(*) AS BIGINT) AS n_gb
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2, 3
        ),
        bands AS (SELECT band, CAST(sum(n_gb) AS BIGINT) AS n_b
                  FROM cells GROUP BY band),
        tot AS (SELECT CAST(sum(n_gb) AS BIGINT) AS n_total FROM cells),
        per_grp AS (
            SELECT c.nation, c.segment,
                   CAST(sum(c.n_gb) AS BIGINT) AS n_g,
                   CAST(count(*) AS BIGINT) AS n_bands_present,
                   CAST(sum(abs(c.n_gb * t.n_total - b.n_b * g.n_g2)
                            - b.n_b * g.n_g2) AS BIGINT) AS s_present
            FROM cells c
            JOIN bands b ON b.band = c.band
            JOIN (SELECT nation, segment, CAST(sum(n_gb) AS BIGINT) AS n_g2
                  FROM cells GROUP BY 1, 2) g
              ON g.nation = c.nation AND g.segment = c.segment
            CROSS JOIN tot t
            GROUP BY 1, 2
        )
        SELECT p.nation, p.segment, p.n_g, p.n_bands_present,
               (1000000 * (p.s_present + p.n_g * t.n_total))
                   // (2 * p.n_g * t.n_total) AS tv_fp6,
               CASE WHEN (1000000 * (p.s_present + p.n_g * t.n_total))
                         // (2 * p.n_g * t.n_total) > 200000
                    THEN 'violates' ELSE 'ok' END AS t02_status
        FROM per_grp p CROSS JOIN tot t
        ORDER BY nation, segment
    """,
    tags=("governance", "privacy", "aggregate"),
)
def governance_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third leg of the privacy triad after
    k-anonymity (group size) and l-diversity (distinct sensitive
    values): a group can be large AND diverse yet still leak if its
    sensitive-value DISTRIBUTION deviates from the global one. Per
    (nation, segment) group, the total-variation distance between the
    group's banded-acctbal distribution and the corpus-wide one;
    groups beyond t = 0.2 are flagged.

    Exactness: TV = ½ Σ_b |n_gb/n_g − n_b/N| is computed over the
    common denominator n_g·N, so every numerator |n_gb·N − n_b·n_g|
    is an exact BIGINT. Bands the group is MISSING still contribute
    (|0 − n_b·n_g| = n_b·n_g); rather than densifying group×band,
    that tail telescopes: Σ_absent n_b·n_g = n_g·N − Σ_present n_b·n_g,
    so one pass over PRESENT cells plus the closed-form remainder
    gives the full sum. One integer division at the end (1e-6 fixed
    point).

    Scale shape: one groupBy over the joined fact produces the cell
    table; everything after runs on cells (groups × ≤ band-domain
    rows). The band totals and the scalar N broadcast; no shuffle
    touches the fact table twice."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cells = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("band"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_gb"))
    )
    bands = cells.groupBy("band").agg(F.sum("n_gb").cast("long").alias("n_b"))
    tot = cells.agg(F.sum("n_gb").cast("long").alias("n_total"))
    grp = cells.groupBy("nation", "segment").agg(
        F.sum("n_gb").cast("long").alias("n_g2")
    )
    per_grp = (
        cells.join(F.broadcast(bands), "band")
        .join(F.broadcast(grp), ["nation", "segment"])
        .crossJoin(F.broadcast(tot))
        .groupBy("nation", "segment")
        .agg(
            F.max("n_g2").alias("n_g"),
            F.count(F.lit(1)).cast("long").alias("n_bands_present"),
            F.sum(
                F.abs(
                    F.col("n_gb") * F.col("n_total")
                    - F.col("n_b") * F.col("n_g2")
                )
                - F.col("n_b") * F.col("n_g2")
            )
            .cast("long")
            .alias("s_present"),
        )
    )
    out = per_grp.crossJoin(F.broadcast(tot)).withColumn(
        "tv_fp6",
        F.expr(
            "(1000000 * (s_present + n_g * n_total))"
            " div (2 * n_g * n_total)"
        ),
    )
    return out.select(
        "nation",
        "segment",
        "n_g",
        "n_bands_present",
        "tv_fp6",
        F.when(F.col("tv_fp6") > 200000, "violates")
        .otherwise("ok")
        .alias("t02_status"),
    ).orderBy("nation", "segment")


@register(
    "seq_pattern_gsp_support",
    oracle="""
        WITH ev AS (SELECT user_id, event_type AS t, ts FROM events),
        nt AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
               FROM ev),
        s1 AS (
            SELECT user_id, t AS a, min(ts) AS ma
            FROM ev GROUP BY user_id, t
        ),
        s2 AS (
            SELECT s1.user_id, s1.a, e.t AS b, min(e.ts) AS mab
            FROM s1 JOIN ev e
              ON e.user_id = s1.user_id AND e.ts > s1.ma
            GROUP BY s1.user_id, s1.a, e.t
        ),
        s3 AS (
            SELECT DISTINCT s2.user_id, s2.a, s2.b, e.t AS c
            FROM s2 JOIN ev e
              ON e.user_id = s2.user_id AND e.ts > s2.mab
        ),
        sup AS (
            SELECT a || '>' || b || '>' || c AS pattern,
                   CAST(count(*) AS BIGINT) AS support_users
            FROM s3 GROUP BY 1
        )
        SELECT pattern, support_users,
               (10000 * support_users) // n_users AS support_pct4
        FROM sup CROSS JOIN nt
        ORDER BY support_users DESC, pattern
    """,
    tags=("sequence", "mining", "events"),
)
def seq_pattern_gsp_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GSP-style sequential pattern mining: support of every length-3
    event-type SUBSEQUENCE a→b→c (gaps allowed — the events need not
    be adjacent, unlike events_top_paths' contiguous trigrams).
    Support = number of users whose history contains the pattern,
    decided by the greedy-earliest witness (first a, then first b
    strictly after it, then any c strictly after that — greedy is
    complete for subsequence existence and gives each engine the same
    deterministic min-based witness; simultaneous-timestamp events
    don't chain, by the strict inequality).

    Scale shape: two equi-joins of the fact table against per-user
    per-type minima (fan-out bounded by the event-type domain, 5
    here), one DISTINCT on (user, a, b, c) — all shuffles keyed on
    user_id, so at 100 TB this is ordinary hash-partitioned linear
    work; nothing is quadratic in events and the pattern lattice
    (|types|³) never materializes beyond observed combinations."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("event_type").alias("t"), "ts"
    )
    nt = ev.agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    s1 = ev.groupBy("user_id", F.col("t").alias("a")).agg(
        F.min("ts").alias("ma")
    )
    e2 = ev.select(F.col("user_id").alias("u2"), F.col("t").alias("b"), "ts")
    s2 = (
        s1.join(
            e2, (F.col("u2") == F.col("user_id")) & (F.col("ts") > F.col("ma"))
        )
        .groupBy("user_id", "a", "b")
        .agg(F.min("ts").alias("mab"))
    )
    e3 = ev.select(F.col("user_id").alias("u3"), F.col("t").alias("c"), "ts")
    s3 = s2.join(
        e3, (F.col("u3") == F.col("user_id")) & (F.col("ts") > F.col("mab"))
    ).select("user_id", "a", "b", "c").distinct()
    sup = s3.groupBy(
        F.concat_ws(">", "a", "b", "c").alias("pattern")
    ).agg(F.count(F.lit(1)).cast("long").alias("support_users"))
    return (
        sup.crossJoin(F.broadcast(nt))
        .select(
            "pattern",
            "support_users",
            F.expr("(10000 * support_users) div n_users").alias(
                "support_pct4"
            ),
        )
        .orderBy(F.desc("support_users"), "pattern")
    )


@register(
    "orders_theil_sen_trend",
    oracle="""
        WITH m AS (
            SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mi,
                   CAST(sum(CAST(floor(o_totalprice * 10000) AS BIGINT))
                        AS BIGINT) AS rev_fp
            FROM orders GROUP BY 1
        ),
        pairs AS (
            SELECT a.mi AS i, b.mi AS j,
                   b.rev_fp - a.rev_fp AS drev,
                   CAST(floor(CAST(b.rev_fp - a.rev_fp AS DOUBLE)
                              / (b.mi - a.mi)) AS BIGINT) AS slope_fp
            FROM m a JOIN m b ON b.mi > a.mi
        ),
        ranked AS (
            SELECT slope_fp,
                   row_number() OVER (ORDER BY slope_fp) AS rn
            FROM pairs
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(count_if(drev > 0) AS BIGINT) AS kendall_c,
                   CAST(count_if(drev < 0) AS BIGINT) AS kendall_d
            FROM pairs
        ),
        med AS (
            SELECT r.slope_fp AS sen_slope_fp4
            FROM ranked r CROSS JOIN stats s
            WHERE r.rn = (s.n_pairs + 1) // 2
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_points,
               s.n_pairs, m2.sen_slope_fp4, s.kendall_c, s.kendall_d,
               CAST(floor(1000000.0 * (s.kendall_c - s.kendall_d)
                          / s.n_pairs) AS BIGINT) AS tau_fp6
        FROM stats s CROSS JOIN med m2
    """,
    tags=("stats", "robust", "timeseries"),
)
def orders_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of monthly revenue plus the matching
    Mann–Kendall test statistics — the outlier-resistant companion to
    agg_ols_trend (one wild month shifts OLS arbitrarily; the median
    pairwise slope has a 29% breakdown point, and Kendall's tau from
    the SAME pairs gives the monotone-trend significance inputs).

    Determinism: monthly revenue is the exact fixed-point BIGINT sum;
    each pairwise slope is floor(drev / dm) via double division of
    exact integers (identical IEEE op both engines; exact while
    |drev| < 2^53, i.e. revenue-per-month below ~10^11 currency
    units); the Sen slope is the lower-median ORDER STATISTIC (value
    at rank ⌈n/2⌉ — unique as a value even under slope ties), and tau
    is one floored division of integer concordant/discordant counts.

    Scale shape: the fact table collapses to the monthly series in
    one aggregation; the pairwise self-join and the ranking window
    run on the calendar-bounded series (|months|² pairs ≈ 3k here,
    independent of data volume) — the standard series-side compute
    pattern, nothing quadratic touches the fact table."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mi")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 10000).cast("long"))
        .cast("long")
        .alias("rev_fp")
    )
    a = m.select(F.col("mi").alias("i"), F.col("rev_fp").alias("ra"))
    b = m.select(F.col("mi").alias("j"), F.col("rev_fp").alias("rb"))
    pairs = a.join(b, F.col("j") > F.col("i")).select(
        (F.col("rb") - F.col("ra")).alias("drev"),
        F.floor(
            (F.col("rb") - F.col("ra")).cast("double")
            / (F.col("j") - F.col("i"))
        )
        .cast("long")
        .alias("slope_fp"),
    )
    ranked = pairs.select(
        "slope_fp",
        F.row_number().over(Window.orderBy("slope_fp")).alias("rn"),
    )
    stats = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.count_if(F.col("drev") > 0).cast("long").alias("kendall_c"),
        F.count_if(F.col("drev") < 0).cast("long").alias("kendall_d"),
    )
    med = (
        ranked.crossJoin(F.broadcast(stats.select("n_pairs")))
        .filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select(F.col("slope_fp").alias("sen_slope_fp4"))
    )
    np_ = m.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    return (
        stats.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_points",
            "n_pairs",
            "sen_slope_fp4",
            "kendall_c",
            "kendall_d",
            F.floor(
                1000000.0
                * (F.col("kendall_c") - F.col("kendall_d")).cast("double")
                / F.col("n_pairs")
            )
            .cast("long")
            .alias("tau_fp6"),
        )
    )


@register(
    "ml_woe_binning_views",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(least(count_if(event_type = 'view'), 99) // 5
                        AS BIGINT) AS bin,
                   CASE WHEN count_if(event_type = 'purchase')
                             > count_if(event_type = 'error')
                        THEN 1 ELSE 0 END AS y
            FROM events GROUP BY user_id
        ),
        bins AS (
            SELECT bin, CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(1 - y) AS BIGINT) AS n_neg
            FROM per_user GROUP BY bin
        ),
        tot AS (
            SELECT CAST(sum(n_pos) AS BIGINT) AS pos,
                   CAST(sum(n_neg) AS BIGINT) AS neg
            FROM bins
        )
        SELECT b.bin, b.n_pos, b.n_neg,
               (10000 * (b.n_pos + 1) * (t.neg + 2))
                   // ((b.n_neg + 1) * (t.pos + 2)) AS odds_ratio_fp4,
               CAST(floor(1000000.0
                    * CAST(b.n_pos * t.neg - b.n_neg * t.pos AS DOUBLE)
                    / (CAST(t.pos AS DOUBLE) * t.neg)) AS BIGINT)
                   AS dist_gap_fp6
        FROM bins b CROSS JOIN tot t
        ORDER BY b.bin
    """,
    tags=("ml", "features", "binning"),
)
def ml_woe_binning_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence feature-binning table: per-user view count
    bucketed into width-5 bins (clamped at 99 — the per-user event
    rate is SF-invariant in the fixture, so the bin domain is stable),
    crossed with the scale-invariant purchase>error label. Emits the
    exact per-bin contingency (n_pos, n_neg), the Laplace-smoothed
    odds ratio in 1e-4 fixed point ((pos+1)(NEG+2) / (neg+1)(POS+2) —
    smoothing keeps empty bins finite), and the class-distribution gap
    pos_b/POS − neg_b/NEG in 1e-6 fixed point (the IV factor). WOE
    itself is ln(odds-ratio) and IV is Σ gap·WOE — both are one libm
    call on these exact columns, left to the consumer because ln is
    not bit-stable across engines (the repo-wide transcendental rule).

    Scale shape: one groupBy(user_id) over the fact table, then
    everything runs on the ≤20-row bin table with two broadcast
    scalars. Same single-shuffle contract as ml_click_purchase_auc."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.expr(
            "least(count_if(event_type = 'view'), 99) div 5"
        ).alias("bin"),
        F.when(
            F.count_if(F.col("event_type") == "purchase")
            > F.count_if(F.col("event_type") == "error"),
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    bins = pu.groupBy("bin").agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("n_neg"),
    )
    tot = bins.agg(
        F.sum("n_pos").cast("long").alias("pos"),
        F.sum("n_neg").cast("long").alias("neg"),
    )
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_pos",
            "n_neg",
            F.expr(
                "(10000 * (n_pos + 1) * (neg + 2))"
                " div ((n_neg + 1) * (pos + 2))"
            ).alias("odds_ratio_fp4"),
            F.floor(
                1000000.0
                * (F.col("n_pos") * F.col("neg") - F.col("n_neg") * F.col("pos"))
                .cast("double")
                / (F.col("pos").cast("double") * F.col("neg"))
            )
            .cast("long")
            .alias("dist_gap_fp6"),
        )
        .orderBy("bin")
    )


_BM25_TERMS = ("spark", "merge", "scan")


@register(
    "text_bm25_topk",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest({toks}) AS term FROM documents
        ),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
               FROM tok GROUP BY doc_id),
        corpus AS (
            SELECT CAST(sum(dl) AS BIGINT) AS tot,
                   CAST(count(*) AS BIGINT) AS n
            FROM dl
        ),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM tok WHERE term IN {terms}
            GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id,
                   ((1000000 * 22 * tf.tf)
                        // (10 * tf.tf + 3 + (9 * dl.dl * c.n) // c.tot))
                   * ((1000000 * (2*c.n - 2*df.df + 1)) // (2*df.df + 1))
                   // 1000000 AS term_score
            FROM tf
            JOIN df USING (term)
            JOIN dl USING (doc_id)
            CROSS JOIN corpus c
        )
        SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS bm25_fp6
        FROM scored GROUP BY doc_id
        ORDER BY bm25_fp6 DESC, doc_id LIMIT 20
    """.replace("{terms}", str(_BM25_TERMS)).replace(
        "{toks}", "string_split_regex(lower(text), '\\s+')"
    ),
    tags=("text", "ranking", "llm-data"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed 3-term query — the
    probabilistic successor to text_tfidf_topk (adds per-document
    length normalization and term-frequency saturation; k1 = 1.2,
    b = 0.75). The whole score is EXACT rational arithmetic: the
    standard log-IDF is replaced by its argument, the Robertson odds
    ratio (N−df+0.5)/(df+0.5) (a strictly monotone transform, so
    top-k by rational-IDF BM25 equals top-k by a log-free scoring —
    the engine's transcendental rule), and the length-normalized TF
    factor tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) is cleared of
    fractions by multiplying through by 10·TOT (avgdl = TOT/N):
    numerator 22·TOT·tf, denominator 10·TOT·tf + 3·TOT + 9·dl·N.
    One floored integer division per (doc, term) at 1e-6 fixed point,
    summed per doc. Overflow bound: products stay under 2^63 while
    TOT·tf·N < ~4·10^11 — held by orders of magnitude at fixture
    scale; a 100 TB corpus shards the scoring per index partition
    before any product crosses the bound.

    Scale shape: the postings table is filtered to the query terms at
    the scan (predicate pushdown on term), df and the two corpus
    scalars broadcast, and the final top-20 is a TakeOrderedAndProject
    with the doc_id tie-break — no global sort."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    corpus = dl.agg(
        F.sum("dl").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    tf = (
        tok.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.expr(
                "((1000000 * 22 * tf)"
                "     div (10 * tf + 3 + (9 * dl * n) div tot))"
                " * ((1000000 * (2*n - 2*df + 1)) div (2*df + 1))"
                " div 1000000"
            ).alias("term_score"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("term_score").cast("long").alias("bm25_fp6"))
        .orderBy(F.desc("bm25_fp6"), "doc_id")
        .limit(20)
    )


def _split_case(bucket_expr: str) -> str:
    return (
        f"CASE WHEN {bucket_expr} < 80 THEN 'train' "
        f"WHEN {bucket_expr} < 90 THEN 'valid' ELSE 'test' END"
    )


@register(
    "split_leakage_safe",
    oracle=f"""
        WITH fp AS (
            SELECT doc_id,
                   md5(array_to_string(
                       string_split_regex(lower(text), '\\s+')[1:8], ' '))
                       AS ck
            FROM documents
        ),
        asg AS (
            SELECT doc_id, ck,
                   {_split_case(sql_hash_bucket("ck"))} AS split,
                   {_split_case(sql_hash_bucket("doc_id"))} AS doc_split
            FROM fp
        ),
        leak AS (
            SELECT
                CAST(count_if(n_ds > 1) AS BIGINT) AS leaky_by_doc_hash,
                CAST(count_if(n_cs > 1) AS BIGINT) AS leaky_by_cluster_hash
            FROM (
                SELECT ck, count(DISTINCT doc_split) AS n_ds,
                       count(DISTINCT split) AS n_cs
                FROM asg GROUP BY ck
            )
        )
        SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT ck) AS BIGINT) AS n_clusters,
               max(leaky_by_doc_hash) AS leaky_by_doc_hash,
               max(leaky_by_cluster_hash) AS leaky_by_cluster_hash
        FROM asg CROSS JOIN leak
        GROUP BY split ORDER BY split
    """,
    tags=("llm-data", "split", "dedup", "governance"),
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe train/valid/test split: the split key is the
    near-duplicate CLUSTER (prefix fingerprint: md5 of the first 8
    tokens — the engine's cross-source duplicate key), not the
    document id, so every member of a duplicate cluster lands in the
    same split by construction and eval can never see a near-copy of
    a training document. The output carries its own evidence: per
    split, document and cluster counts, plus two corpus-wide audit
    columns — clusters that straddle splits under a naive doc_id-hash
    assignment (nonzero exactly when duplicate clusters exist) versus
    under the cluster-key assignment (structurally zero). Same 80/10/
    10 md5-bucket arithmetic as split_train_valid_test.

    Scale shape: fingerprint and both split labels are map-side
    expressions; one groupBy(ck) for the audit and one groupBy(split)
    for the report — two shuffles, both on high-cardinality keys, no
    joins against the fact table. At 100 TB the cluster key doubles
    as the natural shard key for downstream corpus writes
    (corpus_shard_assignment)."""
    from kafkastreamer_spark.operators.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(tokens("text"), 1, 8))).alias("ck"),
    )

    def split_of(col):
        b = hash_bucket(col)
        return (
            F.when(b < 80, "train").when(b < 90, "valid").otherwise("test")
        )

    asg = fp.select(
        "doc_id",
        "ck",
        split_of(F.col("ck")).alias("split"),
        split_of(F.col("doc_id")).alias("doc_split"),
    )
    leak = (
        asg.groupBy("ck")
        .agg(
            F.count_distinct("doc_split").alias("n_ds"),
            F.count_distinct("split").alias("n_cs"),
        )
        .agg(
            F.count_if(F.col("n_ds") > 1)
            .cast("long")
            .alias("leaky_by_doc_hash"),
            F.count_if(F.col("n_cs") > 1)
            .cast("long")
            .alias("leaky_by_cluster_hash"),
        )
    )
    return (
        asg.crossJoin(F.broadcast(leak))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("ck").cast("long").alias("n_clusters"),
            F.max("leaky_by_doc_hash").alias("leaky_by_doc_hash"),
            F.max("leaky_by_cluster_hash").alias("leaky_by_cluster_hash"),
        )
        .orderBy("split")
    )


@register(
    "events_funnel_latency_quartiles",
    oracle="""
        WITH s1 AS (
            SELECT user_id, min(ts) AS su
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        p1 AS (
            SELECT s1.user_id,
                   min(e.ts) AS pu
            FROM s1 JOIN events e
              ON e.user_id = s1.user_id
             AND e.event_type = 'purchase' AND e.ts > s1.su
            GROUP BY s1.user_id
        ),
        lat AS (
            SELECT epoch_us(p1.pu) // 1000000 - epoch_us(s1.su) // 1000000
                       AS latency_s
            FROM s1 JOIN p1 USING (user_id)
        ),
        nt AS (
            SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
                    FROM events) AS n_users,
                   (SELECT CAST(count(*) AS BIGINT) FROM lat) AS n_converted
        ),
        pv AS (
            SELECT latency_s, CAST(count(*) AS BIGINT) AS cnt
            FROM lat GROUP BY latency_s
        ),
        cum AS (
            SELECT latency_s,
                   CAST(sum(cnt) OVER (ORDER BY latency_s) AS BIGINT) AS c
            FROM pv
        )
        SELECT t.n_users, t.n_converted,
               (10000 * t.n_converted) // t.n_users AS conv_pct4,
               min(CASE WHEN c >= (t.n_converted + 3) // 4
                        THEN latency_s END) AS p25_s,
               min(CASE WHEN c >= (t.n_converted + 1) // 2
                        THEN latency_s END) AS p50_s,
               min(CASE WHEN c >= (3 * t.n_converted + 3) // 4
                        THEN latency_s END) AS p75_s,
               min(CASE WHEN c >= (9 * t.n_converted + 9) // 10
                        THEN latency_s END) AS p90_s
        FROM cum CROSS JOIN nt t
        GROUP BY t.n_users, t.n_converted
    """,
    tags=("events", "funnel", "statistics"),
)
def events_funnel_latency_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution for the signup→purchase funnel:
    per user, seconds from first signup to the first purchase strictly
    after it; the output row is the conversion rate plus the exact
    p25/p50/p75/p90 order statistics of that latency (upper-discrete
    convention: smallest value whose cumulative count reaches ⌈q·n⌉ —
    percentile_disc semantics, computed on whole-second integers so
    both engines agree bit-for-bit; second truncation is the floored
    epoch in both, see _util.epoch_s).

    Scale shape: two user-keyed aggregations and one user-keyed join
    (identical shuffle key, so AQE coalesces to one exchange chain);
    the quantile selection runs on the DISTINCT-LATENCY table via one
    cumulative window + conditional mins in a single pass — the same
    distinct-value-domain pattern as ml_click_purchase_auc, never a
    global sort of per-user rows."""
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("su"))
    )
    ep = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu_user"), F.col("ts").alias("pts")
    )
    p1 = (
        s1.join(
            ep,
            (F.col("pu_user") == F.col("user_id"))
            & (F.col("pts") > F.col("su")),
        )
        .groupBy("user_id", "su")
        .agg(F.min("pts").alias("pu"))
    )
    lat = p1.select(
        (epoch_s("pu") - epoch_s("su")).alias("latency_s")
    )
    n_users = ev.agg(
        F.count_distinct("user_id").cast("long").alias("n_users")
    )
    n_conv = lat.agg(F.count(F.lit(1)).cast("long").alias("n_converted"))
    pv = lat.groupBy("latency_s").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w_cum = Window.orderBy("latency_s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = pv.select(
        "latency_s", F.sum("cnt").over(w_cum).cast("long").alias("c")
    )

    def pick(rank_expr: str, alias: str) -> Column:
        return F.min(
            F.when(F.col("c") >= F.expr(rank_expr), F.col("latency_s"))
        ).alias(alias)

    return (
        cum.crossJoin(F.broadcast(n_users))
        .crossJoin(F.broadcast(n_conv))
        .groupBy("n_users", "n_converted")
        .agg(
            pick("(n_converted + 3) div 4", "p25_s"),
            pick("(n_converted + 1) div 2", "p50_s"),
            pick("(3 * n_converted + 3) div 4", "p75_s"),
            pick("(9 * n_converted + 9) div 10", "p90_s"),
        )
        .select(
            "n_users",
            "n_converted",
            F.expr("(10000 * n_converted) div n_users").alias("conv_pct4"),
            "p25_s",
            "p50_s",
            "p75_s",
            "p90_s",
        )
    )


@register(
    "embedding_dim_variance_profile",
    oracle="""
        WITH comp AS (
            SELECT CAST(i AS BIGINT) AS dim,
                   CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000)
                        AS BIGINT) AS x
            FROM embeddings,
                 unnest(range(1, len(embedding) + 1)) AS t(i)
        ),
        per AS (
            SELECT dim, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(min(x) AS BIGINT) AS min_fp,
                   CAST(max(x) AS BIGINT) AS max_fp
            FROM comp GROUP BY dim
        )
        SELECT dim, n, sx AS sum_fp, n * sxx - sx * sx AS var_num_fp8,
               min_fp, max_fp,
               CASE WHEN n * sxx - sx * sx < n * (n - 1) * 100000
                    THEN 'dead' ELSE 'live' END AS dim_status
        FROM per ORDER BY dim
    """,
    tags=("embedding", "profile", "llm-data"),
)
def embedding_dim_variance_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension moment profile of the embedding matrix — the
    pre-whitening / dead-dimension audit an embedding pipeline runs
    before PCA or product quantization: a dimension whose variance
    collapses carries no information and distorts cosine geometry.
    Components are fixed-pointed (floor(x·1e4), the shared embedding
    discipline), so each dim's sum, sum-of-squares, min and max are
    exact BIGINTs and the variance NUMERATOR n·Σx²−(Σx)² (1e-8 fixed
    point, population-variance scale n²) is exact; a dim is flagged
    'dead' when its sample variance falls below 1e-3 — the comparison
    var_num < n(n−1)·1e5 stays all-integer.

    Scale shape: one posexplode (map-side, 64× row multiply of a thin
    projection) and one groupBy(dim) with 64 groups — partial
    aggregation makes the shuffle 64 rows per task regardless of
    corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        F.posexplode("embedding").alias("pos", "v")
    ).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.floor(F.col("v").cast("double") * 10000).cast("long").alias("x"),
    )
    per = comp.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.min("x").alias("min_fp"),
        F.max("x").alias("max_fp"),
    )
    return per.select(
        "dim",
        "n",
        F.col("sx").alias("sum_fp"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "var_num_fp8"
        ),
        "min_fp",
        "max_fp",
        F.when(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
            < F.col("n") * (F.col("n") - 1) * 100000,
            "dead",
        )
        .otherwise("live")
        .alias("dim_status"),
    ).orderBy("dim")


@register(
    "events_poisson_dispersion",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ),
        per AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(x) AS BIGINT) AS total,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM daily GROUP BY event_type
        )
        SELECT event_type, n_days, total,
               (10000 * (n_days * sxx - total * total))
                   // ((n_days - 1) * total) AS vmr_fp4,
               CASE WHEN (10000 * (n_days * sxx - total * total))
                         // ((n_days - 1) * total) > 10000
                    THEN 'overdispersed' ELSE 'poisson-like' END AS verdict
        FROM per ORDER BY event_type
    """,
    tags=("events", "statistics", "timeseries"),
)
def events_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson dispersion test per event type: the variance-to-mean
    ratio of DAILY event counts (the index of dispersion — a Poisson
    arrival process has VMR 1; bursty traffic is overdispersed, load-
    balanced/paced traffic underdispersed). Complements
    events_burst_detection (which finds WHERE the bursts are; this
    quantifies HOW bursty each stream is overall). Daily counts are
    integers, so sample-variance/mean reduces to one exact rational —
    (n·Σx²−(Σx)²) / ((n−1)·Σx) — floored once into 1e-4 fixed point;
    no doubles anywhere.

    Scale shape: one (type, day) aggregation — the fact table's only
    shuffle, combiner-friendly — then per-type moments over the
    calendar-bounded daily table. The VMR is a pure scalar pass at
    any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    per = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("total"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return per.select(
        "event_type",
        "n_days",
        "total",
        F.expr(
            "(10000 * (n_days * sxx - total * total))"
            " div ((n_days - 1) * total)"
        ).alias("vmr_fp4"),
        F.when(
            F.expr(
                "(10000 * (n_days * sxx - total * total))"
                " div ((n_days - 1) * total)"
            )
            > 10000,
            "overdispersed",
        )
        .otherwise("poisson-like")
        .alias("verdict"),
    ).orderBy("event_type")


_KCORE_K = 30  # degree threshold for the fixed-round peel


def _kcore_peel_sql(prev: str, out: str) -> str:
    """One peeling round in SQL: recompute degrees over the surviving
    edge set and keep nodes with degree >= K."""
    return f"""
        {out} AS (
            SELECT src AS node
            FROM edges e
            WHERE EXISTS (SELECT 1 FROM {prev} a WHERE a.node = e.src)
              AND EXISTS (SELECT 1 FROM {prev} b WHERE b.node = e.dst)
            GROUP BY src
            HAVING count(*) >= {_KCORE_K}
        )"""


@register(
    "graph_kcore_peel",
    oracle=f"""
        WITH edges0 AS (
            SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM lineitem
        ),
        edges AS (
            SELECT src, dst FROM edges0
            UNION SELECT dst, src FROM edges0
        ),
        k0 AS (SELECT DISTINCT src AS node FROM edges),
        {_kcore_peel_sql("k0", "k1")},
        {_kcore_peel_sql("k1", "k2")},
        {_kcore_peel_sql("k2", "k3")}
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM k0) AS n_nodes,
            (SELECT CAST(count(*) AS BIGINT) FROM k1) AS n_round1,
            (SELECT CAST(count(*) AS BIGINT) FROM k2) AS n_round2,
            (SELECT CAST(count(*) AS BIGINT) FROM k3) AS n_round3,
            (SELECT CAST(count(*) AS BIGINT)
             FROM k3 WHERE node % 2 = 0) AS n_parts_in_core,
            (SELECT CAST(count(*) AS BIGINT)
             FROM k3 WHERE node % 2 = 1) AS n_suppliers_in_core
    """,
    tags=("graph", "iterative", "kcore"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling over the bipartite
    part–supplier graph (k = 30): each round drops every node whose
    degree IN THE SURVIVING SUBGRAPH falls below k, since removing a
    neighbor can knock out nodes that looked safe — the density
    filter behind community seeding and graph-cleaning pipelines.
    Like graph_connected_components the round count is FIXED (3), so
    the output — the shrinking node-count ladder plus the round-3
    core's composition by side — is the deterministic 3-step peeling
    state on both engines rather than a run-to-convergence whose
    round count depends on the data.

    Scale shape: each round is one semi-join of the edge list against
    the surviving node set (twice, for both endpoints) and one
    degree count — the same edges-stay-put / small-relation-moves
    Pregel shape as the CC queries; the node set only shrinks. At
    100 TB the edge list stays hash-partitioned on src across all
    rounds and the survivor sets broadcast once they fit. Each
    round's survivor set is persisted and the whole ladder (all four
    node counts plus the core composition) folds into ONE action:
    round r's survivors are read by round r+1 and by the ladder, so
    without the cache every read would re-run every earlier round.
    The persisted sets are intentionally NOT unpersisted inside the
    function: the returned plan still references them, and they are a
    few thousand node ids."""
    half = part_supplier_half(spark, sf_dir)
    edges = (
        half.unionByName(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(spark.sparkContext.defaultParallelism, "src")
        .persist()
    )
    survivors = edges.select(F.col("src").alias("node")).distinct().persist()
    rounds = [survivors]
    for _ in range(3):
        alive_src = survivors.select(F.col("node").alias("src"))
        alive_dst = survivors.select(F.col("node").alias("dst"))
        survivors = (
            edges.join(F.broadcast(alive_src), "src", "left_semi")
            .join(F.broadcast(alive_dst), "dst", "left_semi")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("node"))
            .persist()
        )
        rounds.append(survivors)
    names = ["n_nodes", "n_round1", "n_round2", "n_round3"]
    ladder = None
    for nm, r in zip(names, rounds):
        c = r.agg(F.count(F.lit(1)).cast("long").alias("cnt")).select(
            F.lit(nm).alias("k"), "cnt"
        )
        ladder = c if ladder is None else ladder.unionByName(c)
    wide = ladder.agg(
        *[
            F.max(F.when(F.col("k") == nm, F.col("cnt"))).alias(nm)
            for nm in names
        ]
    )
    core = survivors.agg(
        F.count_if(F.col("node") % 2 == 0).cast("long").alias(
            "n_parts_in_core"
        ),
        F.count_if(F.col("node") % 2 == 1).cast("long").alias(
            "n_suppliers_in_core"
        ),
    )
    return wide.crossJoin(F.broadcast(core)).select(
        "n_nodes",
        "n_round1",
        "n_round2",
        "n_round3",
        "n_parts_in_core",
        "n_suppliers_in_core",
    )


@register(
    "lineitem_eoq_policy",
    oracle="""
        WITH dem AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(FLOOR(l_quantity * 10000) AS BIGINT))
                        AS DOUBLE) / 10000 AS demand_qty
            FROM lineitem GROUP BY l_partkey
        )
        SELECT d.l_partkey AS p_partkey, d.demand_qty,
               CAST(floor(10000 * sqrt((2 * d.demand_qty * 100)
                                       / (p.p_retailprice / 5)))
                    AS BIGINT) AS eoq_fp4,
               CAST(floor(10000 * (d.demand_qty / 365 * 7)) AS BIGINT)
                   AS rop_fp4
        FROM dem d JOIN part p ON p.p_partkey = d.l_partkey
        ORDER BY p_partkey
    """,
    tags=("inventory", "operations", "reporting"),
)
def lineitem_eoq_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic-order-quantity policy table per part: EOQ =
    √(2·D·S / H) with observed demand D = total lineitem quantity,
    fixed order cost S = 100 and holding cost H = 20% of the retail
    price (written price/5 — a bare 0.2 literal is DECIMAL in DuckDB
    and DOUBLE in Spark, a known dialect trap), plus the 7-day-lead
    reorder point D/365·7. Demand sums through the fixed-point BIGINT
    discipline; the scoring itself uses only +, *, /, sqrt — the
    correctly-rounded IEEE subset that is bit-identical across
    engines (the repo-wide rule: those four are safe, ln/exp/pow are
    not) — so even the floored 1e-4 outputs hash-match exactly.

    Scale shape: one groupBy(l_partkey) over the fact table, one
    broadcast join against the part dim, map-side arithmetic. Nothing
    else."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    dem = li.groupBy("l_partkey").agg(
        (
            F.sum(F.floor(F.col("l_quantity") * 10000).cast("long")).cast(
                "double"
            )
            / 10000
        ).alias("demand_qty")
    )
    return (
        dem.join(
            F.broadcast(p.select("p_partkey", "p_retailprice")),
            dem.l_partkey == F.col("p_partkey"),
        )
        .select(
            "p_partkey",
            "demand_qty",
            F.floor(
                10000
                * F.sqrt(
                    (2 * F.col("demand_qty") * 100)
                    / (F.col("p_retailprice") / 5)
                )
            )
            .cast("long")
            .alias("eoq_fp4"),
            F.floor(10000 * (F.col("demand_qty") / 365 * 7))
            .cast("long")
            .alias("rop_fp4"),
        )
        .orderBy("p_partkey")
    )


@register(
    "quality_length_percentile_by_source",
    oracle="""
        WITH base AS (
            SELECT doc_id, source,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, source, n_chars,
                   CAST(row_number() OVER (
                       PARTITION BY source ORDER BY n_chars, doc_id
                   ) AS BIGINT) AS rank_in_source,
                   CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
                       AS n_in_source
            FROM base
        )
        SELECT doc_id, source, n_chars, rank_in_source, n_in_source,
               (10000 * (rank_in_source - 1)) // (n_in_source - 1)
                   AS pctile_fp4
        FROM ranked ORDER BY doc_id
    """,
    tags=("llm-data", "quality", "deskew", "sampling"),
)
def quality_length_percentile_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source quantile normalization of document length: each
    document's percentile rank among its OWN source's documents — the
    transform that makes a single "keep the top X%" threshold
    comparable across feeds whose raw length distributions differ
    (absolute cutoffs systematically starve short-form sources).
    Rank is the exact row_number under (n_chars, doc_id) — the
    value-plus-unique-id sort key the fixture discipline requires —
    and the percentile is the integer (rank−1)·1e4 div (n−1).

    Scale shape: the rank is computed by the engine's two-phase
    de-skew core (operators/deskew.py bucketed_row_number: per-bucket
    counts + prefix offsets + bucket-local windows), so no source's
    documents ever funnel through one task the way the naive
    PARTITION BY source window would — the oracle states the naive
    window, the plan runs the de-skewed equivalent; the per-source
    count rides along from the counts aggregate for free."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source", F.length("text").cast("long").alias("n_chars")
    )
    ranked = bucketed_row_number(
        base,
        ["source"],
        F.col("n_chars"),
        [F.col("doc_id")],
        "rank_in_source",
        count_name="n_in_source",
    )
    return ranked.select(
        "doc_id",
        "source",
        "n_chars",
        F.col("rank_in_source").cast("long").alias("rank_in_source"),
        F.col("n_in_source").cast("long").alias("n_in_source"),
        F.expr(
            "(10000 * (rank_in_source - 1)) div (n_in_source - 1)"
        ).alias("pctile_fp4"),
    ).orderBy("doc_id")


@register(
    "ml_conformal_threshold",
    oracle=f"""
        WITH pu AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS score,
                   CASE WHEN {sql_hash_bucket("user_id")} < 50
                        THEN 'cal' ELSE 'eval' END AS fold
            FROM events GROUP BY user_id
        ),
        nt AS (
            SELECT CAST(count_if(fold = 'cal') AS BIGINT) AS n_cal,
                   CAST(count_if(fold = 'eval') AS BIGINT) AS n_eval
            FROM pu
        ),
        pv AS (
            SELECT score, CAST(count(*) AS BIGINT) AS cnt
            FROM pu WHERE fold = 'cal' GROUP BY score
        ),
        cum AS (
            SELECT score,
                   CAST(sum(cnt) OVER (ORDER BY score) AS BIGINT) AS c
            FROM pv
        ),
        thr AS (
            SELECT min(CASE WHEN c >= (9 * (n_cal + 1) + 9) // 10
                            THEN score END) AS threshold
            FROM cum CROSS JOIN nt
        )
        SELECT t.n_cal, t.n_eval, h.threshold,
               (SELECT CAST(count(*) AS BIGINT) FROM pu, thr
                WHERE fold = 'eval' AND score > thr.threshold)
                   AS n_eval_exceed,
               (10000 * (SELECT count(*) FROM pu, thr
                         WHERE fold = 'eval' AND score > thr.threshold))
                   // t.n_eval AS exceed_pct4
        FROM nt t CROSS JOIN thr h
    """,
    tags=("ml", "calibration", "statistics"),
)
def ml_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal threshold calibration: users are hash-split
    50/50 into calibration and evaluation folds (the engine's md5
    bucket, so the split is deterministic and identical in the
    oracle); the anomaly threshold is the ⌈0.9·(n_cal+1)⌉-th order
    statistic of calibration activity scores — the finite-sample
    conformal quantile whose guarantee is that a fresh point exceeds
    it with probability ≤ 10% — and the held-out fold reports its
    actual exceed rate as the validity audit. Scores are integer
    event counts, the quantile is a distinct-value cumsum selection,
    and the exceed rate one integer division: exact end to end.

    Scale shape: one groupBy(user_id), then the quantile runs on the
    distinct-score table and the audit is a broadcast-threshold
    filter-count — the conformal machinery costs one fact shuffle
    regardless of corpus size."""
    from kafkastreamer_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("score")
    ).select(
        "score",
        F.when(hash_bucket(F.col("user_id")) < 50, "cal")
        .otherwise("eval")
        .alias("fold"),
    )
    nt = pu.agg(
        F.count_if(F.col("fold") == "cal").cast("long").alias("n_cal"),
        F.count_if(F.col("fold") == "eval").cast("long").alias("n_eval"),
    )
    pv = (
        pu.filter(F.col("fold") == "cal")
        .groupBy("score")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w_cum = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    cum = pv.select("score", F.sum("cnt").over(w_cum).cast("long").alias("c"))
    thr = (
        cum.crossJoin(F.broadcast(nt.select("n_cal")))
        .agg(
            F.min(
                F.when(
                    F.col("c") >= F.expr("(9 * (n_cal + 1) + 9) div 10"),
                    F.col("score"),
                )
            ).alias("threshold")
        )
    )
    exceed = (
        pu.filter(F.col("fold") == "eval")
        .crossJoin(F.broadcast(thr))
        .agg(
            F.count_if(F.col("score") > F.col("threshold"))
            .cast("long")
            .alias("n_eval_exceed")
        )
    )
    return (
        nt.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(exceed))
        .select(
            "n_cal",
            "n_eval",
            "threshold",
            "n_eval_exceed",
            F.expr("(10000 * n_eval_exceed) div n_eval").alias(
                "exceed_pct4"
            ),
        )
    )


@register(
    "orders_did_estimator",
    oracle="""
        WITH cells AS (
            SELECT
                CASE WHEN o_orderpriority = '1-URGENT'
                     THEN 'treat' ELSE 'control' END AS grp,
                CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                     THEN 'post' ELSE 'pre' END AS period,
                CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(CAST(FLOOR(o_totalprice * 10000) AS BIGINT))
                     AS BIGINT) AS s
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
            GROUP BY 1, 2
        ),
        m AS (
            SELECT
                max(CASE WHEN grp='treat' AND period='pre'
                         THEN s // n END) AS m_t_pre,
                max(CASE WHEN grp='treat' AND period='post'
                         THEN s // n END) AS m_t_post,
                max(CASE WHEN grp='control' AND period='pre'
                         THEN s // n END) AS m_c_pre,
                max(CASE WHEN grp='control' AND period='post'
                         THEN s // n END) AS m_c_post,
                CAST(sum(n) AS BIGINT) AS n_orders
            FROM cells
        )
        SELECT n_orders, m_t_pre, m_t_post, m_c_pre, m_c_post,
               (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did_fp4
        FROM m
    """,
    tags=("stats", "causal", "reporting"),
)
def orders_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator: treated = urgent orders,
    control = low-priority orders, pre/post split at 1998-01-01; the
    estimand is the treated group's excess change in mean order value
    over the control group's change — the workhorse quasi-experimental
    design when a policy lands on one segment at a known date and the
    parallel-trends assumption carries the rest. Each cell mean is
    the exact fixed-point sum integer-divided by the cell count
    (1e-4 units), so the four means and their double difference are
    deterministic BIGINTs on both engines.

    Scale shape: one conditional-aggregation pass over the filtered
    fact table (4 groups, combiner-friendly), then pure scalar
    arithmetic. Nothing joins, nothing sorts."""
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(
            F.when(F.col("o_orderpriority") == "1-URGENT", "treat")
            .otherwise("control")
            .alias("grp"),
            F.when(
                F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"),
                "post",
            )
            .otherwise("pre")
            .alias("period"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 10000).cast("long"))
            .cast("long")
            .alias("s"),
        )
    )

    def cell(g: str, p: str, alias: str) -> Column:
        return F.max(
            F.when(
                (F.col("grp") == g) & (F.col("period") == p),
                F.expr("s div n"),
            )
        ).alias(alias)

    m = cells.agg(
        cell("treat", "pre", "m_t_pre"),
        cell("treat", "post", "m_t_post"),
        cell("control", "pre", "m_c_pre"),
        cell("control", "post", "m_c_post"),
        F.sum("n").cast("long").alias("n_orders"),
    )
    return m.select(
        "n_orders",
        "m_t_pre",
        "m_t_post",
        "m_c_pre",
        "m_c_post",
        (
            (F.col("m_t_post") - F.col("m_t_pre"))
            - (F.col("m_c_post") - F.col("m_c_pre"))
        ).alias("did_fp4"),
    )


@register(
    "lineitem_price_volume_mix",
    oracle="""
        WITH per AS (
            SELECT l_partkey,
                   year(l_shipdate) AS yr,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 10000) AS BIGINT))
                        AS BIGINT) AS r_fp,
                   CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
                       AS q
            FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
            GROUP BY 1, 2
        ),
        y0 AS (SELECT l_partkey, r_fp AS r0, q AS q0,
                      r_fp // q AS p0_fp FROM per WHERE yr = 1996),
        y1 AS (SELECT l_partkey, r_fp AS r1, q AS q1,
                      r_fp // q AS p1_fp FROM per WHERE yr = 1997),
        eff AS (
            SELECT
                CAST(sum(CASE WHEN q0 IS NOT NULL AND q1 IS NOT NULL
                         THEN (p1_fp - p0_fp) * q0 END) AS BIGINT)
                    AS price_eff,
                CAST(sum(CASE WHEN q0 IS NOT NULL AND q1 IS NOT NULL
                         THEN (q1 - q0) * p0_fp END) AS BIGINT)
                    AS volume_eff,
                CAST(sum(CASE WHEN q0 IS NOT NULL AND q1 IS NOT NULL
                         THEN (p1_fp - p0_fp) * (q1 - q0) END) AS BIGINT)
                    AS mix_eff,
                CAST(sum(CASE WHEN q0 IS NULL THEN r1 END) AS BIGINT)
                    AS new_eff,
                CAST(-sum(CASE WHEN q1 IS NULL THEN r0 END) AS BIGINT)
                    AS lost_eff,
                CAST(sum(coalesce(r0, 0)) AS BIGINT) AS rev0_fp,
                CAST(sum(coalesce(r1, 0)) AS BIGINT) AS rev1_fp
            FROM y0 FULL OUTER JOIN y1 USING (l_partkey)
        )
        SELECT rev0_fp, rev1_fp, rev1_fp - rev0_fp AS delta_fp,
               price_eff, volume_eff, mix_eff, new_eff, lost_eff,
               (rev1_fp - rev0_fp)
                   - (price_eff + volume_eff + mix_eff + new_eff + lost_eff)
                   AS rounding_gap_fp
        FROM eff
    """,
    tags=("finance", "decomposition", "reporting"),
)
def lineitem_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix decomposition of the 1996→1997 revenue change:
    per part, the realized unit price is the floored fixed-point
    revenue over integral quantity (r_fp div q), and the year-over-
    year delta splits into price effect (Δp·q₀), volume effect
    (Δq·p₀), mix/cross effect (Δp·Δq), plus new-part and lost-part
    revenue for parts present in only one year — the standard FP&A
    bridge, fully integer. Flooring the unit price makes each effect
    exact but leaves a small reconciliation residue against the actual
    delta; that gap is REPORTED as its own column rather than hidden,
    the engine's usual honesty-about-rounding posture.

    Scale shape: one (part, year) aggregation over the filtered fact,
    one part-keyed full-outer self-alignment of two year slices, one
    scalar conditional aggregation. The decomposition is linear in
    parts at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(1996, 1997)
    )
    per = li.groupBy("l_partkey", F.year("l_shipdate").alias("yr")).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 10000).cast("long"))
        .cast("long")
        .alias("r_fp"),
        F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("q"),
    )
    y0 = per.filter(F.col("yr") == 1996).select(
        "l_partkey",
        F.col("r_fp").alias("r0"),
        F.col("q").alias("q0"),
        F.expr("r_fp div q").alias("p0_fp"),
    )
    y1 = per.filter(F.col("yr") == 1997).select(
        "l_partkey",
        F.col("r_fp").alias("r1"),
        F.col("q").alias("q1"),
        F.expr("r_fp div q").alias("p1_fp"),
    )
    both = F.col("q0").isNotNull() & F.col("q1").isNotNull()
    eff = y0.join(y1, "l_partkey", "full_outer").agg(
        F.sum(F.when(both, (F.col("p1_fp") - F.col("p0_fp")) * F.col("q0")))
        .cast("long")
        .alias("price_eff"),
        F.sum(F.when(both, (F.col("q1") - F.col("q0")) * F.col("p0_fp")))
        .cast("long")
        .alias("volume_eff"),
        F.sum(
            F.when(
                both,
                (F.col("p1_fp") - F.col("p0_fp"))
                * (F.col("q1") - F.col("q0")),
            )
        )
        .cast("long")
        .alias("mix_eff"),
        F.sum(F.when(F.col("q0").isNull(), F.col("r1")))
        .cast("long")
        .alias("new_eff"),
        (-F.sum(F.when(F.col("q1").isNull(), F.col("r0"))))
        .cast("long")
        .alias("lost_eff"),
        F.sum(F.coalesce(F.col("r0"), F.lit(0))).cast("long").alias("rev0_fp"),
        F.sum(F.coalesce(F.col("r1"), F.lit(0))).cast("long").alias("rev1_fp"),
    )
    return eff.select(
        "rev0_fp",
        "rev1_fp",
        (F.col("rev1_fp") - F.col("rev0_fp")).alias("delta_fp"),
        "price_eff",
        "volume_eff",
        "mix_eff",
        "new_eff",
        "lost_eff",
        (
            (F.col("rev1_fp") - F.col("rev0_fp"))
            - (
                F.col("price_eff")
                + F.col("volume_eff")
                + F.col("mix_eff")
                + F.col("new_eff")
                + F.col("lost_eff")
            )
        ).alias("rounding_gap_fp"),
    )


@register(
    "orders_aging_buckets",
    oracle="""
        WITH ls AS (
            SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS last_ship
            FROM lineitem GROUP BY l_orderkey
        ),
        open_o AS (
            SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
                             DATE '1999-06-30') AS age_days,
                   CAST(FLOOR(o.o_totalprice * 10000) AS BIGINT) AS v_fp
            FROM orders o LEFT JOIN ls ON ls.l_orderkey = o.o_orderkey
            WHERE CAST(o.o_orderdate AS DATE) <= DATE '1999-06-30'
              AND (ls.last_ship IS NULL OR ls.last_ship > DATE '1999-06-30')
        ),
        bucketed AS (
            SELECT CASE WHEN age_days <= 30 THEN 0
                        WHEN age_days <= 90 THEN 1
                        WHEN age_days <= 365 THEN 2
                        ELSE 3 END AS bucket_id,
                   v_fp
            FROM open_o
        ),
        agg AS (
            SELECT bucket_id, CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(v_fp) AS BIGINT) AS value_fp
            FROM bucketed GROUP BY bucket_id
        ),
        tot AS (SELECT CAST(sum(value_fp) AS BIGINT) AS tv FROM agg)
        SELECT bucket_id,
               CASE bucket_id WHEN 0 THEN '0-30d' WHEN 1 THEN '31-90d'
                    WHEN 2 THEN '91-365d' ELSE 'over-1y' END AS bucket,
               n_orders, value_fp,
               (10000 * value_fp) // tv AS value_pct4
        FROM agg CROSS JOIN tot ORDER BY bucket_id
    """,
    tags=("reporting", "operations", "finance"),
)
def orders_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging report at the 1999-06-30 snapshot: orders
    placed on or before the snapshot that have not finished shipping
    by it (no lineitems ever, or last ship date after the snapshot),
    bucketed by age into the standard receivables bands 0-30 / 31-90 /
    91-365 / over-a-year, with order counts, fixed-point open value
    and each band's share of open value — the one-date cross-section
    that complements orders_open_backlog_sweep's full time series.

    Scale shape: one groupBy(l_orderkey) max, one orders-side join
    with the age/bucket arithmetic map-side, a 4-group aggregation
    and one broadcast total. Classic two-shuffle report at any
    volume."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    snap = F.lit("1999-06-30").cast("date")
    ls = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("last_ship")
    )
    open_o = (
        o.join(ls, o.o_orderkey == ls.l_orderkey, "left")
        .filter(
            (F.to_date("o_orderdate") <= snap)
            & (F.col("last_ship").isNull() | (F.col("last_ship") > snap))
        )
        .select(
            F.datediff(snap, F.to_date("o_orderdate")).alias("age_days"),
            F.floor(F.col("o_totalprice") * 10000).cast("long").alias("v_fp"),
        )
    )
    agg = (
        open_o.select(
            F.when(F.col("age_days") <= 30, 0)
            .when(F.col("age_days") <= 90, 1)
            .when(F.col("age_days") <= 365, 2)
            .otherwise(3)
            .alias("bucket_id"),
            "v_fp",
        )
        .groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("v_fp").cast("long").alias("value_fp"),
        )
    )
    tot = agg.agg(F.sum("value_fp").cast("long").alias("tv"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "bucket_id",
            F.when(F.col("bucket_id") == 0, "0-30d")
            .when(F.col("bucket_id") == 1, "31-90d")
            .when(F.col("bucket_id") == 2, "91-365d")
            .otherwise("over-1y")
            .alias("bucket"),
            "n_orders",
            "value_fp",
            F.expr("(10000 * value_fp) div tv").alias("value_pct4"),
        )
        .orderBy("bucket_id")
    )


@register(
    "nation_trade_balance_matrix",
    oracle="""
        WITH flow AS (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(SUM(CAST(FLOOR(l.l_extendedprice
                                       * (1 - l.l_discount) * 10000)
                                 AS BIGINT)) AS BIGINT) AS rev_fp,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            WHERE n1.n_name <> n2.n_name
            GROUP BY 1, 2
        )
        SELECT f.supp_nation, f.cust_nation, f.rev_fp, f.n_lines,
               f.rev_fp - coalesce(r.rev_fp, 0) AS net_export_fp
        FROM flow f
        LEFT JOIN flow r
          ON r.supp_nation = f.cust_nation
         AND r.cust_nation = f.supp_nation
        ORDER BY f.supp_nation, f.cust_nation
    """,
    tags=("reporting", "join", "finance"),
)
def nation_trade_balance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cross-border trade matrix — the generalization of
    q7_volume_shipping's two-nation corridor to every ordered nation
    pair: discounted revenue flowing supplier-nation → customer-
    nation, plus each direction's NET export position (flow minus the
    reverse flow, via a self-join of the aggregated matrix on the
    swapped pair). Revenue is the exact fixed-point sum; domestic
    trade is excluded as in q7.

    Scale shape: the star join chains the fact table through orders
    (fact-sized shuffle) and broadcasts customer/supplier/nation
    dims; everything after the (nation, nation) aggregation —
    including the reverse-pair self-join — runs on a matrix bounded
    by |nations|² rows. One fact shuffle, dimension-bounded tail."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    flow = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 10000
                ).cast("long")
            )
            .cast("long")
            .alias("rev_fp"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )
    rev = flow.select(
        F.col("supp_nation").alias("r_supp"),
        F.col("cust_nation").alias("r_cust"),
        F.col("rev_fp").alias("r_rev_fp"),
    )
    return (
        flow.join(
            F.broadcast(rev),
            (F.col("r_supp") == F.col("cust_nation"))
            & (F.col("r_cust") == F.col("supp_nation")),
            "left",
        )
        .select(
            "supp_nation",
            "cust_nation",
            "rev_fp",
            "n_lines",
            (F.col("rev_fp") - F.coalesce(F.col("r_rev_fp"), F.lit(0))).alias(
                "net_export_fp"
            ),
        )
        .orderBy("supp_nation", "cust_nation")
    )


@register(
    "part_substitution_affinity",
    oracle=f"""
        WITH nm AS (
            SELECT DISTINCT p_name AS name,
                   string_split(p_name, ' ')[-1] AS noun
            FROM part
        ),
        edges AS (
            SELECT a.name AS src, b.name AS dst
            FROM nm a JOIN nm b
              ON a.noun = b.noun AND levenshtein(a.name, b.name) <= 4
        ),
        l0 AS (SELECT name AS node, name AS lbl FROM nm),
        {_cc_iter_sql("l0", "l1")},
        {_cc_iter_sql("l1", "l2")},
        {_cc_iter_sql("l2", "l3")},
        {_cc_iter_sql("l3", "l4")},
        lab AS (
            SELECT p.p_partkey, l4.lbl AS entity
            FROM part p JOIN l4 ON l4.node = p.p_name
        ),
        op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        nt AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
               FROM op),
        pc AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_p
               FROM op GROUP BY l_partkey),
        pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                   CAST(count(*) AS BIGINT) AS n_ab
            FROM op a JOIN op b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        ),
        lifted AS (
            SELECT CASE WHEN la.entity = lb.entity
                        THEN 'same_entity' ELSE 'cross_entity' END AS scope,
                   (10000 * t.n_orders * p.n_ab) // (ca.n_p * cb.n_p)
                       AS lift_fp4
            FROM pairs p
            JOIN pc ca ON ca.l_partkey = p.pa
            JOIN pc cb ON cb.l_partkey = p.pb
            JOIN lab la ON la.p_partkey = p.pa
            JOIN lab lb ON lb.p_partkey = p.pb
            CROSS JOIN nt t
        )
        SELECT scope, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(lift_fp4) AS BIGINT) // count(*) AS avg_lift_fp4,
               CAST(max(lift_fp4) AS BIGINT) AS max_lift_fp4
        FROM lifted GROUP BY scope ORDER BY scope
    """,
    tags=("er", "basket", "statistics", "reporting"),
)
def part_substitution_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substitution-affinity audit composing two engine layers: the
    ER entity clusters (``part_entities``, the blocking + edit-
    distance + fixed-round closure of er_part_entity_clusters) and
    basket co-occurrence lift. For every part pair bought together in
    at least one order, lift = N·n_ab/(n_a·n_b) in exact 1e-4 fixed
    point; pairs are then split into SAME-entity (candidate
    substitutes/variants of one product) versus CROSS-entity, and
    each scope reports pair count, integer-mean and max lift. The
    interesting read: substitutes co-bought MORE than baseline hints
    at variant bundling; less, at true substitution.

    Scale shape: the pair join runs per-order over DISTINCT order
    parts (per-order quadratic, corpus-linear — the basket-pair
    shape, cappable exactly like basket_pair_cooccurrence if order
    width ever grows); part frequencies and entity labels are
    dimension-sized broadcasts; the final aggregate has two groups."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    labels = part_entities(spark, sf_dir)
    lab = p.join(
        F.broadcast(labels.select(F.col("node").alias("p_name"), "lbl")),
        "p_name",
    ).select("p_partkey", F.col("lbl").alias("entity"))

    op = li.select("l_orderkey", "l_partkey").distinct()
    nt = op.agg(
        F.count_distinct("l_orderkey").cast("long").alias("n_orders")
    )
    pc = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_p")
    )
    b_side = op.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("pb")
    )
    pairs = (
        op.join(
            b_side,
            (F.col("l_orderkey") == F.col("ok2"))
            & (F.col("l_partkey") < F.col("pb")),
        )
        .groupBy(F.col("l_partkey").alias("pa"), "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    lifted = (
        pairs.join(
            F.broadcast(pc.select(F.col("l_partkey").alias("pa"),
                                  F.col("n_p").alias("na"))),
            "pa",
        )
        .join(
            F.broadcast(pc.select(F.col("l_partkey").alias("pb"),
                                  F.col("n_p").alias("nb"))),
            "pb",
        )
        .join(
            F.broadcast(lab.select(F.col("p_partkey").alias("pa"),
                                   F.col("entity").alias("ea"))),
            "pa",
        )
        .join(
            F.broadcast(lab.select(F.col("p_partkey").alias("pb"),
                                   F.col("entity").alias("eb"))),
            "pb",
        )
        .crossJoin(F.broadcast(nt))
        .select(
            F.when(F.col("ea") == F.col("eb"), "same_entity")
            .otherwise("cross_entity")
            .alias("scope"),
            F.expr("(10000 * n_orders * n_ab) div (na * nb)").alias(
                "lift_fp4"
            ),
        )
    )
    return (
        lifted.groupBy("scope")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr(
                "CAST(sum(lift_fp4) AS BIGINT) div count(*)"
            ).alias("avg_lift_fp4"),
            F.max("lift_fp4").cast("long").alias("max_lift_fp4"),
        )
        .orderBy("scope")
    )


@register(
    "supplier_network_resilience",
    oracle="""
        WITH vol AS (
            SELECT l_suppkey,
                   CAST(SUM(CAST(FLOOR(l_quantity * 10000) AS BIGINT))
                        AS BIGINT) AS q_fp
            FROM lineitem GROUP BY l_suppkey
        ),
        rk AS (
            SELECT l_suppkey,
                   CAST(row_number() OVER (ORDER BY q_fp DESC, l_suppkey)
                        AS BIGINT) AS rnk
            FROM vol
        ),
        pr AS (
            SELECT ps.l_partkey,
                   CAST(max(r.rnk) AS BIGINT) AS rmax,
                   CAST(count(*) AS BIGINT) AS n_suppliers
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
            JOIN rk r ON r.l_suppkey = ps.l_suppkey
            GROUP BY ps.l_partkey
        ),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS n_parts FROM pr)
        SELECT k.k,
               (SELECT CAST(count(*) AS BIGINT) FROM pr
                WHERE rmax <= k.k) AS stranded_parts,
               (10000 * (SELECT count(*) FROM pr WHERE rmax <= k.k))
                   // t.n_parts AS stranded_pct4
        FROM unnest([1, 2, 3, 5, 10]) AS k(k) CROSS JOIN nt t
        ORDER BY k.k
    """,
    tags=("operations", "whatif", "reporting"),
)
def supplier_network_resilience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-network resilience what-if: if the top-k suppliers by
    shipped volume disappeared, how many parts would be left with NO
    remaining supplier? A part is stranded at k exactly when the
    LARGEST volume-rank among its suppliers is <= k (all of its
    sources sit inside the removed set), so one per-part max-rank and
    a cumulative count answer every k at once — the ladder reports
    k in {1, 2, 3, 5, 10} with counts and coverage share. Volume is
    the fixed-point sum; ranking ties break on suppkey, the
    value-plus-unique-id discipline.

    Scale shape: one groupBy over the fact for supplier volumes, a
    supplier-DIMENSION-sized ranking window (bounded by |suppliers|,
    not data volume), one distinct part-supplier projection joined
    against the broadcast ranks, one per-part max. The what-if ladder
    itself is a 5-row conditional aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    vol = li.groupBy("l_suppkey").agg(
        F.sum(F.floor(F.col("l_quantity") * 10000).cast("long"))
        .cast("long")
        .alias("q_fp")
    )
    rk = vol.select(
        "l_suppkey",
        F.row_number()
        .over(Window.orderBy(F.desc("q_fp"), "l_suppkey"))
        .cast("long")
        .alias("rnk"),
    )
    ps = li.select("l_partkey", "l_suppkey").distinct()
    pr = (
        ps.join(F.broadcast(rk), "l_suppkey")
        .groupBy("l_partkey")
        .agg(
            F.max("rnk").cast("long").alias("rmax"),
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        )
    )
    nt = pr.agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in (1, 2, 3, 5, 10)])).alias("k")
    )
    return (
        pr.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count_if(F.col("rmax") <= F.col("k"))
            .cast("long")
            .alias("stranded_parts")
        )
        .crossJoin(F.broadcast(nt))
        .select(
            F.col("k").cast("long").alias("k"),
            "stranded_parts",
            F.expr("(10000 * stranded_parts) div n_parts").alias(
                "stranded_pct4"
            ),
        )
        .orderBy("k")
    )


def _haar_level_sql(level: int) -> str:
    half = 1 << (level - 1)
    blk = 1 << level
    return f"""
        SELECT {level} AS level,
               CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(sum(d * d) AS BIGINT) AS detail_energy
        FROM (
            SELECT idx // {blk} AS blk,
                   CAST(sum(CASE WHEN (idx // {half}) % 2 = 0
                            THEN x ELSE -x END) AS BIGINT) AS d
            FROM daily GROUP BY idx // {blk}
        )"""


@register(
    "events_haar_wavelet_energy",
    oracle=f"""
        WITH d0 AS (
            SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ),
        m AS (SELECT min(day) AS d_min FROM d0),
        daily AS (
            SELECT date_diff('day', m.d_min, d0.day) AS idx, d0.x
            FROM d0 CROSS JOIN m
        )
        SELECT * FROM ({_haar_level_sql(1)})
        UNION ALL SELECT * FROM ({_haar_level_sql(2)})
        UNION ALL SELECT * FROM ({_haar_level_sql(3)})
        ORDER BY level
    """,
    tags=("timeseries", "signal", "statistics"),
)
def events_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet detail-energy decomposition of the daily event
    count series, levels 1-3 (2-, 4- and 8-day scales): high level-1
    energy means day-to-day churn, high level-3 means week-scale
    swings — the multi-resolution complement to
    events_autocorrelation_lag7's single-lag view and the seasonal
    decomposition's fixed weekly model. Each level-l detail
    coefficient is one signed integer sum over a 2^l-day block
    (sign flips on the (l-1)-scale half — the cascade algebra folded
    into a single pass per level over raw days), so coefficients and
    energies are exact BIGINTs; calendar gaps contribute implicit
    zeros identically in both engines because the day INDEX, not the
    row position, drives the pairing.

    Scale shape: one (day) aggregation of the fact table, then three
    calendar-bounded block aggregations — the same post-aggregation
    series contract as the rest of the time-series family."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    m = d0.agg(F.min("day").alias("d_min"))
    daily = d0.crossJoin(F.broadcast(m)).select(
        F.datediff(F.col("day"), F.col("d_min")).cast("long").alias("idx"),
        "x",
    )
    out = None
    for level in (1, 2, 3):
        half, blk = 1 << (level - 1), 1 << level
        lvl = (
            daily.groupBy((F.col("idx") / blk).cast("long").alias("blk"))
            .agg(
                F.sum(
                    F.when(
                        ((F.col("idx") / half).cast("long") % 2) == 0,
                        F.col("x"),
                    ).otherwise(-F.col("x"))
                )
                .cast("long")
                .alias("d")
            )
            .agg(
                F.lit(level).cast("long").alias("level"),
                F.count(F.lit(1)).cast("long").alias("n_blocks"),
                F.sum(F.col("d") * F.col("d"))
                .cast("long")
                .alias("detail_energy"),
            )
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out.orderBy("level")


@register(
    "events_growth_accounting",
    oracle="""
        WITH mu AS (
            SELECT DISTINCT
                   date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7
                       AS mi,
                   user_id
            FROM events
        ),
        fm AS (SELECT user_id, min(mi) AS first_mi FROM mu GROUP BY user_id),
        flags AS (
            SELECT m.mi, m.user_id,
                   CASE WHEN f.first_mi = m.mi THEN 1 ELSE 0 END AS is_new,
                   CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END
                       AS is_retained
            FROM mu m
            JOIN fm f ON f.user_id = m.user_id
            LEFT JOIN mu p ON p.user_id = m.user_id AND p.mi = m.mi - 1
        ),
        per AS (
            SELECT mi, CAST(count(*) AS BIGINT) AS mau,
                   CAST(sum(is_new) AS BIGINT) AS n_new,
                   CAST(sum(is_retained) AS BIGINT) AS n_retained,
                   CAST(sum(1 - is_new - is_retained) AS BIGINT)
                       AS n_resurrected
            FROM flags GROUP BY mi
        )
        SELECT mi, mau, n_new, n_retained, n_resurrected,
               CAST(coalesce(lag(mau) OVER (ORDER BY mi), 0)
                    - n_retained AS BIGINT) AS n_churned
        FROM per ORDER BY mi
    """,
    tags=("events", "growth", "reporting"),
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — the canonical quad decomposition
    of active users: every week's WAU splits EXACTLY into new (first
    week ever), retained (also active the previous week) and
    resurrected (returning after a gap), and churned is last week's
    WAU minus this week's retained. (Weekly, not monthly: the events
    fixture spans 30 days, so months would be a single degenerate
    bucket; the week index is Monday-anchored epoch-days div 7.) Identity mau = new + retained +
    resurrected holds by construction (resurrected is computed as the
    remainder), so the table self-audits. Complements
    events_retention_cohort (fixed-cohort decay) and
    events_reactivation_report (gap-based resurrection events) with
    the week-over-week flow view growth teams actually chart;
    "previous week" is integer index arithmetic, identical in both
    engines.

    Scale shape: one DISTINCT (week, user) projection, a per-user
    min, one self-join shifted by a week — all shuffles keyed on
    user_id — then the calendar-bounded weekly rollup with one tiny
    lag window."""
    ev = load_table(spark, sf_dir, "events")
    mu = ev.select(
        F.expr(
            "datediff(to_date(ts), date'1970-01-05') div 7"
        ).cast("long").alias("mi"),
        "user_id",
    ).distinct()
    fm = mu.groupBy("user_id").agg(F.min("mi").alias("first_mi"))
    prev = mu.select(
        F.col("user_id").alias("p_user"), (F.col("mi") + 1).alias("p_mi")
    )
    flags = (
        mu.join(fm, "user_id")
        .join(
            prev,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_mi") == F.col("mi")),
            "left",
        )
        .select(
            "mi",
            F.when(F.col("first_mi") == F.col("mi"), 1)
            .otherwise(0)
            .alias("is_new"),
            F.when(F.col("p_user").isNotNull(), 1).otherwise(0).alias(
                "is_retained"
            ),
        )
    )
    per = flags.groupBy("mi").agg(
        F.count(F.lit(1)).cast("long").alias("mau"),
        F.sum("is_new").cast("long").alias("n_new"),
        F.sum("is_retained").cast("long").alias("n_retained"),
        F.sum(F.lit(1) - F.col("is_new") - F.col("is_retained"))
        .cast("long")
        .alias("n_resurrected"),
    )
    w = Window.orderBy("mi")
    return per.select(
        "mi",
        "mau",
        "n_new",
        "n_retained",
        "n_resurrected",
        (F.coalesce(F.lag("mau").over(w), F.lit(0)) - F.col("n_retained"))
        .cast("long")
        .alias("n_churned"),
    ).orderBy("mi")


_GRID_CELL = 1000  # fixed-point units per grid cell (1e-4 coords)


@register(
    "join_spatial_grid_knn",
    oracle=f"""
        WITH pts AS (
            SELECT vec_id,
                   CAST(floor(CAST(embedding[1] AS DOUBLE) * 10000)
                        AS BIGINT) AS x,
                   CAST(floor(CAST(embedding[2] AS DOUBLE) * 10000)
                        AS BIGINT) AS y
            FROM embeddings
        ),
        cs AS (
            SELECT greatest(1, CAST(floor(
                       {_GRID_CELL} / sqrt(CAST(count(*) AS DOUBLE) / 500))
                       AS BIGINT)) AS cell
            FROM pts
        ),
        cells AS (
            SELECT vec_id, x, y,
                   CAST(floor(CAST(x AS DOUBLE) / cs.cell) AS BIGINT) AS cx,
                   CAST(floor(CAST(y AS DOUBLE) / cs.cell) AS BIGINT) AS cy
            FROM pts CROSS JOIN cs
        ),
        probes AS (
            SELECT c.vec_id, c.x, c.y,
                   c.cx + dx.dx AS ncx, c.cy + dy.dy AS ncy
            FROM cells c,
                 unnest([-1, 0, 1]) AS dx(dx),
                 unnest([-1, 0, 1]) AS dy(dy)
        ),
        cand AS (
            SELECT p.vec_id AS a, b.vec_id AS b,
                   (p.x - b.x) * (p.x - b.x)
                       + (p.y - b.y) * (p.y - b.y) AS d2
            FROM probes p
            JOIN cells b ON b.cx = p.ncx AND b.cy = p.ncy
            WHERE b.vec_id <> p.vec_id
        ),
        md AS (SELECT a, min(d2) AS d2 FROM cand GROUP BY a)
        SELECT m.a AS vec_id, CAST(min(c.b) AS BIGINT) AS nn_id,
               CAST(m.d2 AS BIGINT) AS nn_dist2
        FROM md m JOIN cand c ON c.a = m.a AND c.d2 = m.d2
        GROUP BY m.a, m.d2 ORDER BY vec_id
    """,
    tags=("join", "spatial", "similarity"),
)
def join_spatial_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial nearest-neighbor join over the first two
    embedding dimensions as a 2-D point set: each point searches only
    its own and the 8 adjacent grid cells, the classic uniform-grid
    spatial join that turns an all-pairs O(n²) NN into O(n · local
    density) — with the cell edge ADAPTIVE to density: edge =
    base/√(n/500) (floored, min 1), so cells hold a roughly constant
    point count as the corpus grows and total candidate volume stays
    linear (the fixed-cell first cut measured 54x wall at 16x data on
    the scale probe — density² — before this fix; the adaptive rule
    uses only count, /, sqrt, floor, so both engines derive the
    identical edge). Coordinates are
    fixed-pointed, distances are exact integer squares, and the
    argmin is the deterministic two-step (min distance per probe,
    then min neighbor id among ties). Points whose 3x3 neighborhood
    is empty have no row — the documented grid-bounded-NN semantic,
    identical in both engines.

    Scale shape: the candidate join shuffles on the cell key, so
    cost tracks sum-of-cell-density², which the adaptive edge keeps
    bounded; the 9x probe fan-out is map-side and the 1-row cell
    scalar broadcasts. Skewed CLUSTERS (not volume) can still load
    single cells — there one salts hot cells, the same dial every
    bucketed join in the engine exposes."""
    e = load_table(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.floor(F.element_at("embedding", 1).cast("double") * 10000)
        .cast("long")
        .alias("x"),
        F.floor(F.element_at("embedding", 2).cast("double") * 10000)
        .cast("long")
        .alias("y"),
    )
    cs = pts.agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(
                _GRID_CELL / F.sqrt(F.count(F.lit(1)).cast("double") / 500)
            ).cast("long"),
        ).alias("cell")
    )
    cells = pts.crossJoin(F.broadcast(cs)).select(
        "vec_id",
        "x",
        "y",
        F.floor(F.col("x").cast("double") / F.col("cell"))
        .cast("long")
        .alias("cx"),
        F.floor(F.col("y").cast("double") / F.col("cell"))
        .cast("long")
        .alias("cy"),
    )
    offs = spark.range(1).select(
        F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dx")
    ).crossJoin(
        spark.range(1).select(
            F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dy")
        )
    )
    probes = cells.crossJoin(F.broadcast(offs)).select(
        "vec_id",
        "x",
        "y",
        (F.col("cx") + F.col("dx")).alias("ncx"),
        (F.col("cy") + F.col("dy")).alias("ncy"),
    )
    b = cells.select(
        F.col("vec_id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("bcx"),
        F.col("cy").alias("bcy"),
    )
    cand = (
        probes.join(
            b,
            (F.col("bcx") == F.col("ncx")) & (F.col("bcy") == F.col("ncy")),
        )
        .filter(F.col("b_id") != F.col("vec_id"))
        .select(
            F.col("vec_id").alias("a"),
            F.col("b_id").alias("bid"),
            (
                (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
                + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by"))
            ).alias("d2"),
        )
    )
    md = cand.groupBy("a").agg(F.min("d2").alias("d2"))
    return (
        md.join(cand, ["a", "d2"])
        .groupBy("a", "d2")
        .agg(F.min("bid").cast("long").alias("nn_id"))
        .select(
            F.col("a").alias("vec_id"),
            "nn_id",
            F.col("d2").cast("long").alias("nn_dist2"),
        )
        .orderBy("vec_id")
    )


@register(
    "text_tokenizer_fertility_by_lang",
    oracle=f"""
        WITH per AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(regexp_extract_all(lower(text),
                        '{_BPE_PATTERN}'))) AS BIGINT) AS n_bpe,
                   CAST(sum(len(string_split_regex(lower(text), '\\s+')))
                        AS BIGINT) AS n_words
            FROM documents GROUP BY lang
        ),
        en AS (
            SELECT (10000 * n_bpe) // n_words AS en_fert
            FROM per WHERE lang = 'en'
        )
        SELECT p.lang, p.n_docs, p.n_words, p.n_bpe,
               (10000 * p.n_bpe) // p.n_words AS fertility_fp4,
               (10000 * p.n_bpe) // p.n_words - e.en_fert
                   AS premium_vs_en_fp4
        FROM per p CROSS JOIN en e
        ORDER BY p.lang
    """,
    tags=("llm-data", "text", "tokenizer"),
)
def text_tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens (the
    text_token_count_bpe regex — letter runs / digit runs / single
    punctuation) per whitespace word, and each language's premium
    over English — the audit a multilingual pretraining pipeline runs
    to expose token-budget skew (a language with 1.8x fertility
    consumes 1.8x budget per word; English-centric tokenizers
    routinely tax CJK and morphology-rich languages this way).
    Everything is integer counts and one integer division per
    language; this variant stays entirely JVM-side
    (regexp_extract_all) where the per-doc query demonstrates the
    Arrow UDF path on the identical regex.

    Scale shape: one map-side regex count + groupBy(lang) with a
    language-domain-bounded output, and a 1-row broadcast for the
    English baseline."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.size(
                F.regexp_extract_all(
                    F.lower("text"), F.lit(_BPE_PATTERN), F.lit(0)
                )
            )
        )
        .cast("long")
        .alias("n_bpe"),
        F.sum(F.size(F.split(F.lower("text"), r"\s+")))
        .cast("long")
        .alias("n_words"),
    )
    en = per.filter(F.col("lang") == "en").select(
        F.expr("(10000 * n_bpe) div n_words").alias("en_fert")
    )
    return (
        per.crossJoin(F.broadcast(en))
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_bpe",
            F.expr("(10000 * n_bpe) div n_words").alias("fertility_fp4"),
            F.expr(
                "(10000 * n_bpe) div n_words - en_fert"
            ).alias("premium_vs_en_fp4"),
        )
        .orderBy("lang")
    )


@register(
    "supplier_borda_scorecard",
    oracle="""
        WITH kpi AS (
            SELECT l.l_suppkey,
                   CAST(SUM(CAST(FLOOR(l.l_quantity * 10000) AS BIGINT))
                        AS BIGINT) AS vol_fp,
                   CAST(count_if(l.l_returnflag = 'R') AS BIGINT) AS n_ret,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(greatest(0, date_diff('day',
                        CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)))) AS BIGINT) AS delay_sum
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY l.l_suppkey
        ),
        ranked AS (
            SELECT l_suppkey,
                   CAST(row_number() OVER (ORDER BY vol_fp DESC, l_suppkey)
                        AS BIGINT) AS r_volume,
                   CAST(row_number() OVER (
                        ORDER BY (1000000 * n_ret) // n_lines, l_suppkey)
                        AS BIGINT) AS r_returns,
                   CAST(row_number() OVER (
                        ORDER BY delay_sum // n_lines, l_suppkey)
                        AS BIGINT) AS r_delay,
                   CAST(count(*) OVER () AS BIGINT) AS n
            FROM kpi
        )
        SELECT l_suppkey, r_volume, r_returns, r_delay,
               3 * n - (r_volume + r_returns + r_delay) AS borda_score
        FROM ranked
        ORDER BY borda_score DESC, l_suppkey
    """,
    tags=("reporting", "ranking", "operations"),
)
def supplier_borda_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-KPI supplier scorecard by Borda rank aggregation — the
    deterministic cousin of search_hybrid_rrf's reciprocal-rank
    fusion, applied to operations: each supplier is ranked on shipped
    volume (more is better), return rate (less is better, compared as
    the exact integer ratio 1e6·returns div lines — no double ever
    enters a sort key) and mean ship delay (less is better, integer
    floor-mean of clamped day gaps), and the Borda score sums the
    points n−rank across the three ballots. Rank ties break on
    suppkey, so every rank, and hence the composite, is reproducible
    bit-for-bit.

    Scale shape: one fact-table join+groupBy to the supplier KPI
    table, then three ranking windows over the supplier DIMENSION
    (bounded by |suppliers|, the same dimension-window contract as
    supplier_network_resilience). Nothing else touches the fact."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    kpi = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.floor(F.col("l_quantity") * 10000).cast("long"))
            .cast("long")
            .alias("vol_fp"),
            F.count_if(F.col("l_returnflag") == "R")
            .cast("long")
            .alias("n_ret"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.greatest(
                    F.lit(0),
                    F.datediff(
                        F.to_date("l_shipdate"), F.to_date("o_orderdate")
                    ),
                )
            )
            .cast("long")
            .alias("delay_sum"),
        )
    )
    ranked = kpi.select(
        "l_suppkey",
        F.row_number()
        .over(Window.orderBy(F.desc("vol_fp"), "l_suppkey"))
        .cast("long")
        .alias("r_volume"),
        F.row_number()
        .over(
            Window.orderBy(F.expr("(1000000 * n_ret) div n_lines"), "l_suppkey")
        )
        .cast("long")
        .alias("r_returns"),
        F.row_number()
        .over(Window.orderBy(F.expr("delay_sum div n_lines"), "l_suppkey"))
        .cast("long")
        .alias("r_delay"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n"),
    )
    return ranked.select(
        "l_suppkey",
        "r_volume",
        "r_returns",
        "r_delay",
        (
            3 * F.col("n")
            - (F.col("r_volume") + F.col("r_returns") + F.col("r_delay"))
        ).alias("borda_score"),
    ).orderBy(F.desc("borda_score"), "l_suppkey")


@register(
    "text_template_mining",
    oracle="""
        WITH norm AS (
            SELECT doc_id, source,
                   string_split_regex(
                       regexp_replace(lower(text), '[0-9]+', '#', 'g'),
                       '\\s+') AS w
            FROM documents
        ),
        tpl AS (
            SELECT doc_id, source,
                   array_to_string(w[1:6], ' ') AS template
            FROM norm WHERE len(w) >= 6
        ),
        agg AS (
            SELECT template,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources
            FROM tpl GROUP BY template
        )
        SELECT template, n_docs, n_sources
        FROM agg
        WHERE n_docs >= 2
        ORDER BY n_docs DESC, template LIMIT 20
    """,
    tags=("llm-data", "text", "dedup"),
)
def text_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate template mining: lowercase, mask every digit run to
    '#', and take the first six normalized tokens as the document's
    opening TEMPLATE — the normalization that makes "Order 1234
    shipped on 2024-01-05" and "Order 98 shipped on 2024-01-07"
    collide. Templates hit by two or more documents, with their doc
    and source fan-out, are the boilerplate candidates a pretraining
    pipeline strips BEFORE near-dup hashing (masked templates defeat
    shingle dedup precisely because the digits differ). Top-20 with
    the template itself as tie-break.

    Scale shape: map-side regex + slice, one groupBy(template) with a
    two-phase distinct-source count, TakeOrderedAndProject for the
    top-k. One shuffle."""
    d = load_table(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        "source",
        F.split(
            F.regexp_replace(F.lower("text"), "[0-9]+", "#"), r"\s+"
        ).alias("w"),
    )
    tpl = norm.filter(F.size("w") >= 6).select(
        "source", F.concat_ws(" ", F.slice("w", 1, 6)).alias("template")
    )
    return (
        tpl.groupBy("template")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("source").cast("long").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "template")
        .limit(20)
    )


@register(
    "graph_assortativity",
    oracle="""
        WITH e AS (
            SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
        ),
        pd AS (SELECT p, CAST(count(*) AS BIGINT) AS dp FROM e GROUP BY p),
        sd AS (SELECT s, CAST(count(*) AS BIGINT) AS ds FROM e GROUP BY s),
        ed AS (
            SELECT pd.dp AS x, sd.ds AS y
            FROM e JOIN pd ON pd.p = e.p JOIN sd ON sd.s = e.s
        ),
        sums AS (
            SELECT CAST(count(*) AS BIGINT) AS m,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy
            FROM ed
        )
        SELECT m, sx, sy, sxy,
               CAST(floor(10000 * (CAST(m * sxy - sx * sy AS DOUBLE)
                    / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                           * CAST(m * syy - sy * sy AS DOUBLE))))
                    AS BIGINT) AS assortativity_fp4
        FROM sums
    """,
    tags=("graph", "statistics"),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the bipartite part-supplier graph: the
    Pearson correlation between the part-side degree and the
    supplier-side degree over EDGES — negative means high-degree
    parts attach to low-degree suppliers (hub-and-spoke sourcing),
    positive means degree-matched pairing. All five moment sums are
    exact BIGINTs from integer degrees, and the final coefficient
    uses only the safe IEEE subset (integer-exact doubles through
    *, -, /, sqrt, then one floor to 1e-4 — the lineitem_eoq_policy
    discipline).

    Scale shape: one distinct edge projection, two degree
    aggregations joined back (supplier side broadcasts; part side is
    an equi-join on the edge's own partition key), one scalar moment
    pass. Linear in edges at any volume."""
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    pd_ = e.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("dp"))
    sd = e.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("ds"))
    ed = e.join(pd_, "p").join(F.broadcast(sd), "s").select(
        F.col("dp").alias("x"), F.col("ds").alias("y")
    )
    sums = ed.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return sums.select(
        "m",
        "sx",
        "sy",
        "sxy",
        F.floor(
            10000
            * (
                (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
                .cast("double")
                / F.sqrt(
                    (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    .cast("double")
                    * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
                    .cast("double")
                )
            )
        )
        .cast("long")
        .alias("assortativity_fp4"),
    )


@register(
    "orders_quantile_treatment_effect",
    oracle="""
        WITH ab AS (
            SELECT CASE WHEN o_orderpriority = '1-URGENT'
                        THEN 'treat' ELSE 'control' END AS grp,
                   CAST(FLOOR(o_totalprice * 10000) AS BIGINT) AS v_fp
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        pv AS (
            SELECT grp, v_fp, CAST(count(*) AS BIGINT) AS cnt
            FROM ab GROUP BY grp, v_fp
        ),
        cum AS (
            SELECT grp, v_fp,
                   CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY v_fp)
                        AS BIGINT) AS c,
                   CAST(sum(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n
            FROM pv
        ),
        qs AS (
            SELECT q.q, cum.grp,
                   min(CASE WHEN c >= (q.q * n + 99) // 100
                            THEN v_fp END) AS v_q
            FROM cum, unnest([25, 50, 75, 90]) AS q(q)
            GROUP BY q.q, cum.grp
        )
        SELECT t.q, t.v_q AS treat_fp, c.v_q AS control_fp,
               t.v_q - c.v_q AS qte_fp
        FROM qs t JOIN qs c ON c.q = t.q
        WHERE t.grp = 'treat' AND c.grp = 'control'
        ORDER BY t.q
    """,
    tags=("stats", "causal", "statistics"),
)
def orders_quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile treatment effects for urgent vs low-priority orders:
    the difference of the two groups' exact p25/p50/p75/p90 order
    values — the distribution-level companion to the mean-level
    orders_did_estimator and the rank-level orders_mann_whitney_u
    (a treatment can move the tail without moving the median; QTE
    shows WHERE in the distribution the effect lives). Quantiles use
    the upper-discrete ⌈q·n⌉ convention on fixed-point BIGINTs via
    the distinct-value cumulative table, so every cell and difference
    is engine-exact.

    Scale shape: one conditional projection of the fact, one
    (group, value) aggregation, windows over the DISTINCT-VALUE
    domain per group, then a 4-row quantile lattice. Same
    single-fact-shuffle contract as the rank-statistics family."""
    o = load_table(spark, sf_dir, "orders")
    ab = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", "treat")
        .otherwise("control")
        .alias("grp"),
        F.floor(F.col("o_totalprice") * 10000).cast("long").alias("v_fp"),
    )
    pv = ab.groupBy("grp", "v_fp").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("v_fp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("grp")
    cum = pv.select(
        "grp",
        "v_fp",
        F.sum("cnt").over(w_cum).cast("long").alias("c"),
        F.sum("cnt").over(w_all).cast("long").alias("n"),
    )
    qgrid = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in (25, 50, 75, 90)])).alias("q")
    )
    qs = (
        cum.crossJoin(F.broadcast(qgrid))
        .groupBy("q", "grp")
        .agg(
            F.min(
                F.when(
                    F.col("c") >= F.expr("(q * n + 99) div 100"),
                    F.col("v_fp"),
                )
            ).alias("v_q")
        )
    )
    t = qs.filter(F.col("grp") == "treat").select(
        "q", F.col("v_q").alias("treat_fp")
    )
    c = qs.filter(F.col("grp") == "control").select(
        F.col("q").alias("cq"), F.col("v_q").alias("control_fp")
    )
    return (
        t.join(F.broadcast(c), t.q == c.cq)
        .select(
            F.col("q").cast("long").alias("q"),
            "treat_fp",
            "control_fp",
            (F.col("treat_fp") - F.col("control_fp")).alias("qte_fp"),
        )
        .orderBy("q")
    )


_BOOT_B = 100  # bootstrap replicates


@register(
    "events_bootstrap_mean_ci",
    oracle=f"""
        WITH x AS (
            SELECT event_id,
                   CAST(FLOOR(value * 10000) AS BIGINT) AS v_fp
            FROM events
        ),
        reps AS (
            SELECT b.b,
                   CAST(('0x' || substr(md5(CAST(x.event_id AS VARCHAR)
                        || ':' || CAST(b.b AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 3 AS w,
                   x.v_fp
            FROM x, unnest(range(0, {_BOOT_B})) AS b(b)
        ),
        means AS (
            SELECT b, CAST(sum(w * v_fp) AS BIGINT)
                      // CAST(sum(w) AS BIGINT) AS m_fp
            FROM reps GROUP BY b
        ),
        ranked AS (
            SELECT m_fp, row_number() OVER (ORDER BY m_fp, b) AS rn
            FROM means
        ),
        pt AS (
            SELECT CAST(sum(v_fp) AS BIGINT) // count(*) AS point_fp,
                   CAST(count(*) AS BIGINT) AS n
            FROM x
        )
        SELECT p.n, {_BOOT_B} AS n_replicates, p.point_fp,
               (SELECT m_fp FROM ranked WHERE rn = 5) AS lo_fp,
               (SELECT m_fp FROM ranked WHERE rn = 95) AS hi_fp
        FROM pt p
    """,
    tags=("stats", "bootstrap", "statistics"),
)
def events_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multiplier-bootstrap confidence interval for the
    mean event value: 100 replicates, each reweighting every row
    by a hash-derived weight in {0, 1, 2} (md5 of (event_id,
    replicate) — mean-1 multiplier weights, the Poisson-bootstrap
    trick made reproducible: no RNG, so both engines draw the SAME
    "random" weights and the interval is engine-exact). The CI is the
    5th/95th order statistic of the replicate means; replicate means
    are integer-exact fixed-point ratios. The {0, 1, 2} multiplier has
    variance 2/3 of Poisson(1), so the interval is conservative-
    narrow by a known √(2/3) factor — documented rather than hidden.

    Scale shape: the replicate fan-out is a map-side 100x row
    multiply (one explode, no extra scan) into a 100-group
    aggregation — combiner-friendly, one shuffle of 100 partial rows
    per task regardless of corpus size; the order-statistics table
    has exactly 100 rows."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.select(
        "event_id", F.floor(F.col("value") * 10000).cast("long").alias("v_fp")
    )
    reps = x.select(
        "event_id",
        "v_fp",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).select(
        "b",
        "v_fp",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("event_id").cast("string"),
                            F.lit(":"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 3
        ).alias("w"),
    )
    means = reps.groupBy("b").agg(
        F.expr(
            "CAST(sum(w * v_fp) AS BIGINT) div CAST(sum(w) AS BIGINT)"
        ).alias("m_fp")
    )
    ranked = means.select(
        "m_fp", F.row_number().over(Window.orderBy("m_fp", "b")).alias("rn")
    )
    lo = ranked.filter(F.col("rn") == 5).select(
        F.col("m_fp").alias("lo_fp")
    )
    hi = ranked.filter(F.col("rn") == 95).select(
        F.col("m_fp").alias("hi_fp")
    )
    pt = x.agg(
        F.expr("CAST(sum(v_fp) AS BIGINT) div count(*)").alias("point_fp"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        pt.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n",
            F.lit(_BOOT_B).cast("long").alias("n_replicates"),
            "point_fp",
            "lo_fp",
            "hi_fp",
        )
    )


_CHUNK_BYTES = 256  # small so fixture blobs span multiple chunks; 4 MiB in prod


@register(
    "multimodal_blob_chunk_manifest",
    oracle=f"""
        WITH blobs AS (
            SELECT doc_id, text, length(text) AS n
            FROM documents
        ),
        chunks AS (
            SELECT doc_id, i AS chunk_idx,
                   i * {_CHUNK_BYTES} AS byte_offset,
                   length(substr(text, CAST(i * {_CHUNK_BYTES} + 1 AS INTEGER),
                                 {_CHUNK_BYTES})) AS chunk_len,
                   md5(substr(text, CAST(i * {_CHUNK_BYTES} + 1 AS INTEGER),
                              {_CHUNK_BYTES})) AS chunk_md5
            FROM blobs,
                 unnest(range(0, greatest(1,
                     CAST(ceil(CAST(n AS DOUBLE) / {_CHUNK_BYTES})
                          AS BIGINT)))) AS t(i)
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(byte_offset AS BIGINT) AS byte_offset,
               CAST(chunk_len AS BIGINT) AS chunk_len,
               chunk_md5
        FROM chunks ORDER BY doc_id, chunk_idx
    """,
    tags=("llm-data", "multimodal", "storage"),
)
def multimodal_blob_chunk_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Content-addressed chunk manifest for opaque blobs: each
    payload split into fixed-size chunks (256 B here so the fixture
    exercises multi-chunk blobs; a production blob store uses MiB) with byte offset, actual
    chunk length (the tail chunk is short) and per-chunk md5 — the
    manifest a blob store needs for resumable upload, dedup at the
    chunk level (identical chunks share storage) and integrity
    verification, computed here entirely JVM-side (sequence + explode
    + substring + md5, no UDF) so the whole manifest stays inside
    whole-stage codegen. Empty payloads still emit one zero-length
    chunk row, so every blob appears in the manifest.

    Scale shape: pure map-side fan-out (rows x ceil(len/4096)) — no
    shuffle at all before the output sort; chunk-level dedup
    downstream is then one groupBy(chunk_md5) away."""
    d = load_table(spark, sf_dir, "documents")
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil(F.length("text").cast("double") / _CHUNK_BYTES).cast("long"),
    )
    chunks = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * _CHUNK_BYTES).cast("long").alias("byte_offset"),
        F.length(
            F.substring(
                F.col("text"),
                (F.col("chunk_idx") * _CHUNK_BYTES + 1).cast("int"),
                _CHUNK_BYTES,
            )
        )
        .cast("long")
        .alias("chunk_len"),
        F.md5(
            F.substring(
                F.col("text"),
                (F.col("chunk_idx") * _CHUNK_BYTES + 1).cast("int"),
                _CHUNK_BYTES,
            )
        ).alias("chunk_md5"),
    )
    return chunks.orderBy("doc_id", "chunk_idx")


@register(
    "dedup_chunk_storage_savings",
    oracle=f"""
        WITH blobs AS (SELECT doc_id, text, length(text) AS n FROM documents),
        chunks AS (
            SELECT doc_id,
                   length(substr(text, CAST(i * {_CHUNK_BYTES} + 1 AS INTEGER),
                                 {_CHUNK_BYTES})) AS chunk_len,
                   md5(substr(text, CAST(i * {_CHUNK_BYTES} + 1 AS INTEGER),
                              {_CHUNK_BYTES})) AS chunk_md5
            FROM blobs,
                 unnest(range(0, greatest(1,
                     CAST(ceil(CAST(n AS DOUBLE) / {_CHUNK_BYTES})
                          AS BIGINT)))) AS t(i)
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(chunk_len) AS BIGINT) AS raw_bytes,
                   CAST(count(DISTINCT chunk_md5) AS BIGINT) AS n_unique
            FROM chunks
        ),
        uniq AS (
            SELECT CAST(sum(chunk_len) AS BIGINT) AS stored_bytes
            FROM (
                SELECT chunk_md5, min(chunk_len) AS chunk_len
                FROM chunks GROUP BY chunk_md5
            )
        )
        SELECT s.n_chunks, s.n_unique, s.raw_bytes, u.stored_bytes,
               s.raw_bytes - u.stored_bytes AS saved_bytes,
               (10000 * (s.raw_bytes - u.stored_bytes)) // s.raw_bytes
                   AS saved_pct4
        FROM stats s CROSS JOIN uniq u
    """,
    tags=("llm-data", "dedup", "storage"),
)
def dedup_chunk_storage_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed storage savings audit — the payoff
    measurement for multimodal_blob_chunk_manifest's chunking: bytes
    a naive store writes versus a store that keeps each distinct
    chunk hash once, with the absolute and fractional saving
    (identical chunk content across blobs — shared headers, repeated
    boilerplate, exact-duplicate files — is the entire benefit case
    for chunk-level CAS, and this query tells you whether YOUR corpus
    has enough chunk-level redundancy to justify it). chunk_len per
    hash is min-aggregated only to have one value per group; equal
    hashes have equal lengths.

    Scale shape: the same map-side chunk fan-out as the manifest,
    one groupBy(chunk_md5) — high-cardinality, combiner-friendly —
    and two scalar aggregates. One shuffle."""
    d = load_table(spark, sf_dir, "documents")
    n_chunks_col = F.greatest(
        F.lit(1),
        F.ceil(F.length("text").cast("double") / _CHUNK_BYTES).cast("long"),
    )
    piece = F.substring(
        F.col("text"),
        (F.col("chunk_idx") * _CHUNK_BYTES + 1).cast("int"),
        _CHUNK_BYTES,
    )
    chunks = d.select(
        "text",
        F.explode(F.sequence(F.lit(0), n_chunks_col - 1)).alias("chunk_idx"),
    ).select(
        F.length(piece).cast("long").alias("chunk_len"),
        F.md5(piece).alias("chunk_md5"),
    )
    stats = chunks.agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("chunk_len").cast("long").alias("raw_bytes"),
        F.count_distinct("chunk_md5").cast("long").alias("n_unique"),
    )
    uniq = (
        chunks.groupBy("chunk_md5")
        .agg(F.min("chunk_len").alias("chunk_len"))
        .agg(F.sum("chunk_len").cast("long").alias("stored_bytes"))
    )
    return (
        stats.crossJoin(F.broadcast(uniq))
        .select(
            "n_chunks",
            "n_unique",
            "raw_bytes",
            "stored_bytes",
            (F.col("raw_bytes") - F.col("stored_bytes")).alias("saved_bytes"),
            F.expr(
                "(10000 * (raw_bytes - stored_bytes)) div raw_bytes"
            ).alias("saved_pct4"),
        )
    )


@register(
    "events_alarm_hysteresis",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ),
        base AS (
            SELECT event_type,
                   CAST(sum(x) AS BIGINT) AS tot,
                   CAST(count(*) AS BIGINT) AS nd
            FROM daily GROUP BY event_type
        ),
        flagged AS (
            SELECT d.event_type, d.day, d.x,
                   CASE WHEN 100 * d.x * b.nd > 120 * b.tot THEN 1
                        WHEN 100 * d.x * b.nd <  80 * b.tot THEN 0
                        END AS crossing
            FROM daily d JOIN base b ON b.event_type = d.event_type
        ),
        state AS (
            SELECT event_type, day,
                   coalesce(last_value(crossing IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ), 0) AS alarm_on
            FROM flagged
        ),
        trans AS (
            SELECT event_type, day, alarm_on,
                   CASE WHEN alarm_on <> coalesce(lag(alarm_on) OVER (
                        PARTITION BY event_type ORDER BY day), 0)
                        THEN 1 ELSE 0 END AS flip
            FROM state
        )
        SELECT event_type,
               CAST(sum(alarm_on) AS BIGINT) AS n_days_alarmed,
               CAST(sum(flip) AS BIGINT) AS n_transitions,
               CAST(min(CASE WHEN alarm_on = 1 THEN day END) AS VARCHAR)
                   AS first_alarm_day
        FROM trans GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "monitoring", "timeseries"),
)
def events_alarm_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alarm debouncing with hysteresis over the daily event-count
    series: the alarm LATCHES on when a type's daily count exceeds
    120% of its own average and only releases below 80% — the
    two-threshold Schmitt-trigger that kills the flapping a single
    threshold produces on noisy counts. The latch state is
    reconstructed declaratively: days between crossings carry NULL
    and last_value(IGNORE NULLS) over the ordered window replays the
    most recent crossing — sequential state without any stateful UDF.
    Thresholds compare as integer cross-products (100·x·nd vs
    120·tot), so the whole signal path is exact.

    Scale shape: one (type, day) aggregation of the fact table, then
    per-type windows over the calendar-bounded daily series. The
    streaming twin of this latch is one applyInPandasWithState with a
    single int of state per key (the running_zscore_stateful
    pattern)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    base = daily.groupBy("event_type").agg(
        F.sum("x").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    flagged = daily.join(F.broadcast(base), "event_type").select(
        "event_type",
        "day",
        F.when(100 * F.col("x") * F.col("nd") > 120 * F.col("tot"), 1)
        .when(100 * F.col("x") * F.col("nd") < 80 * F.col("tot"), 0)
        .alias("crossing"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    state = flagged.select(
        "event_type",
        "day",
        F.coalesce(
            F.last("crossing", ignorenulls=True).over(w), F.lit(0)
        ).alias("alarm_on"),
    )
    wl = Window.partitionBy("event_type").orderBy("day")
    trans = state.select(
        "event_type",
        "day",
        "alarm_on",
        F.when(
            F.col("alarm_on")
            != F.coalesce(F.lag("alarm_on").over(wl), F.lit(0)),
            1,
        )
        .otherwise(0)
        .alias("flip"),
    )
    return (
        trans.groupBy("event_type")
        .agg(
            F.sum("alarm_on").cast("long").alias("n_days_alarmed"),
            F.sum("flip").cast("long").alias("n_transitions"),
            F.min(F.when(F.col("alarm_on") == 1, F.col("day")))
            .cast("string")
            .alias("first_alarm_day"),
        )
        .orderBy("event_type")
    )


@register(
    "supplier_pchart_control",
    oracle="""
        WITH per AS (
            SELECT l_suppkey,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(count_if(l_returnflag <> 'R') AS BIGINT) AS n_ok
            FROM lineitem GROUP BY l_suppkey
        ),
        tot AS (
            SELECT CAST(sum(n_ok) AS BIGINT) AS ok_all,
                   CAST(sum(n_lines) AS BIGINT) AS n_all
            FROM per
        ),
        lim AS (
            SELECT p.l_suppkey, p.n_lines, p.n_ok,
                   (10000 * p.n_ok) // p.n_lines AS rate_fp4,
                   CAST(floor(10000 * (CAST(t.ok_all AS DOUBLE) / t.n_all
                        - 3 * sqrt((CAST(t.ok_all AS DOUBLE) / t.n_all)
                                   * (1 - CAST(t.ok_all AS DOUBLE) / t.n_all)
                                   / p.n_lines))) AS BIGINT) AS lcl_fp4,
                   CAST(floor(10000 * (CAST(t.ok_all AS DOUBLE) / t.n_all
                        + 3 * sqrt((CAST(t.ok_all AS DOUBLE) / t.n_all)
                                   * (1 - CAST(t.ok_all AS DOUBLE) / t.n_all)
                                   / p.n_lines))) AS BIGINT) AS ucl_fp4
            FROM per p CROSS JOIN tot t
        )
        SELECT l_suppkey, n_lines, rate_fp4, lcl_fp4, ucl_fp4,
               CASE WHEN rate_fp4 < lcl_fp4 THEN 'below'
                    WHEN rate_fp4 > ucl_fp4 THEN 'above'
                    ELSE 'in_control' END AS control_status
        FROM lim ORDER BY l_suppkey
    """,
    tags=("operations", "statistics", "monitoring"),
)
def supplier_pchart_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binomial p-chart over supplier non-return rates — statistical
    process control: each supplier's OK-rate is compared against the
    fleet center line p-bar with 3-sigma binomial limits
    p-bar ± 3·√(p-bar(1−p-bar)/nᵢ), which widen for low-volume
    suppliers (the whole point of a p-chart: a 70% rate on 10 lines
    is noise, on 10,000 lines it's a signal). Rates compare in exact
    1e-4 fixed point; the limits use only the safe IEEE subset
    (/, *, −, sqrt, floor — the engine's transcendental rule), so
    every verdict is engine-exact.

    Scale shape: one groupBy over the fact table, one 1-row scalar
    broadcast, map-side limit arithmetic. The canonical one-shuffle
    monitoring query."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.count_if(F.col("l_returnflag") != "R").cast("long").alias("n_ok"),
    )
    tot = per.agg(
        F.sum("n_ok").cast("long").alias("ok_all"),
        F.sum("n_lines").cast("long").alias("n_all"),
    )
    pbar = F.col("ok_all").cast("double") / F.col("n_all")
    margin = 3 * F.sqrt(pbar * (1 - pbar) / F.col("n_lines"))
    lim = per.crossJoin(F.broadcast(tot)).select(
        "l_suppkey",
        "n_lines",
        F.expr("(10000 * n_ok) div n_lines").alias("rate_fp4"),
        F.floor(10000 * (pbar - margin)).cast("long").alias("lcl_fp4"),
        F.floor(10000 * (pbar + margin)).cast("long").alias("ucl_fp4"),
    )
    return lim.select(
        "l_suppkey",
        "n_lines",
        "rate_fp4",
        "lcl_fp4",
        "ucl_fp4",
        F.when(F.col("rate_fp4") < F.col("lcl_fp4"), "below")
        .when(F.col("rate_fp4") > F.col("ucl_fp4"), "above")
        .otherwise("in_control")
        .alias("control_status"),
    ).orderBy("l_suppkey")


@register(
    "part_rank_movers",
    oracle="""
        WITH per AS (
            SELECT l_partkey, year(l_shipdate) AS yr,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 10000) AS BIGINT))
                        AS BIGINT) AS rev_fp
            FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT l_partkey, yr,
                   CAST(row_number() OVER (
                       PARTITION BY yr ORDER BY rev_fp DESC, l_partkey
                   ) AS BIGINT) AS rnk
            FROM per
        )
        SELECT a.l_partkey AS p_partkey,
               a.rnk AS rank_1996, b.rnk AS rank_1997,
               a.rnk - b.rnk AS rank_gain
        FROM ranked a JOIN ranked b
          ON a.l_partkey = b.l_partkey AND a.yr = 1996 AND b.yr = 1997
        ORDER BY abs(a.rnk - b.rnk) DESC, p_partkey
        LIMIT 20
    """,
    tags=("reporting", "ranking", "movers"),
)
def part_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank movers report: the 20 parts whose revenue RANK shifted
    most between 1996 and 1997 (positive rank_gain = climbed). Rank
    deltas surface re-ordering that absolute revenue deltas hide — a
    mid-tail part doubling matters more than a leader wobbling — and
    pair naturally with the price-volume-mix bridge that explains
    WHY. Ranks are per-year row_numbers over exact fixed-point
    revenue with the partkey tie-break, and the top-20 carries the
    |delta| plus partkey total order, so the LIMIT is deterministic.

    Scale shape: one filtered fact aggregation, two part-DIMENSION
    ranking windows (one per year partition), a part-keyed self-join,
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(1996, 1997)
    )
    per = li.groupBy("l_partkey", F.year("l_shipdate").alias("yr")).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 10000).cast("long"))
        .cast("long")
        .alias("rev_fp")
    )
    ranked = per.select(
        "l_partkey",
        "yr",
        F.row_number()
        .over(
            Window.partitionBy("yr").orderBy(F.desc("rev_fp"), "l_partkey")
        )
        .cast("long")
        .alias("rnk"),
    )
    a = ranked.filter(F.col("yr") == 1996).select(
        F.col("l_partkey").alias("p_partkey"), F.col("rnk").alias("rank_1996")
    )
    b = ranked.filter(F.col("yr") == 1997).select(
        F.col("l_partkey").alias("pk2"), F.col("rnk").alias("rank_1997")
    )
    return (
        a.join(b, a.p_partkey == b.pk2)
        .select(
            "p_partkey",
            "rank_1996",
            "rank_1997",
            (F.col("rank_1996") - F.col("rank_1997")).alias("rank_gain"),
        )
        .orderBy(F.abs(F.col("rank_gain")).desc(), "p_partkey")
        .limit(20)
    )


@register(
    "orders_pareto_skyline",
    oracle="""
        WITH pts AS (
            SELECT o.o_orderkey,
                   CAST(FLOOR(o.o_totalprice * 10000) AS BIGINT) AS x,
                   CAST(date_diff('day',
                        CAST(o.o_orderdate AS DATE),
                        CAST(fs.ship0 AS DATE)) AS BIGINT) AS y
            FROM orders o
            JOIN (SELECT l_orderkey, min(l_shipdate) AS ship0
                  FROM lineitem GROUP BY l_orderkey) fs
              ON fs.l_orderkey = o.o_orderkey
        ),
        marked AS (
            SELECT o_orderkey, x, y,
                   min(y) OVER (ORDER BY x
                       RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                       AS best_above
            FROM pts
        )
        SELECT o_orderkey, x AS price_fp, y AS ship_days
        FROM marked
        WHERE best_above IS NULL OR best_above >= y
        ORDER BY o_orderkey
    """,
    tags=("operator", "skyline", "deskew"),
)
def orders_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) operator: orders not DOMINATED on
    (maximize total price, minimize days-to-first-ship) — an order is
    dominated when some strictly-more-expensive order also shipped
    strictly faster (raw first-ship minus order-date gap, negative in
    this synthetic fixture for pre-dated ships — dominance only needs
    the ordering, so no clamp: a clamp would pile every early ship
    onto y=0 and bloat the frontier with ties). The classic multi-criteria shortlist operator
    the relational family lacked.

    The dominance test reduces to a suffix minimum over the price
    order (dominated iff min{y : x' > x} < y) — the oracle states it
    as the naive RANGE window. The Spark plan computes the SAME
    suffix-min two-phase, never sorting globally in one task:
    price-range buckets (x div 1e9, ~price div 1e5 in currency units)
    get per-bucket minima, a tiny bucket-level window produces each
    bucket's strictly-above suffix min, and a bucket-LOCAL descending
    window handles the same-bucket strictly-greater part — the
    bucketed-prefix de-skew pattern of operators/deskew.py applied to
    a running aggregate instead of a rank. RANGE (not ROWS) semantics
    on price ties are preserved exactly: equal-x rows never dominate
    each other in either formulation.

    Scale shape: one fact join, one bucket aggregation, one window
    over the BUCKET table (bounded by the price-domain bucketing),
    and bucket-local windows whose width is the per-bucket row count
    — tunable via the bucket size, same dial as every two-phase
    pattern in the engine."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    fs = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship0"))
    pts = o.join(fs, o.o_orderkey == fs.l_orderkey).select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 10000).cast("long").alias("x"),
        F.datediff(F.to_date("ship0"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("y"),
    ).withColumn("bkt", F.expr("x div 1000000000"))

    bmin = pts.groupBy("bkt").agg(F.min("y").alias("bkt_min_y"))
    w_above = (
        Window.orderBy("bkt")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    boff = bmin.select(
        "bkt", F.min("bkt_min_y").over(w_above).alias("above_bkt_min")
    )
    # strictly-greater-x within the bucket: collapse to DISTINCT x
    # first (grouping enforces the RANGE tie semantics — equal-x rows
    # must never dominate each other), then a rows-desc prefix min
    # over the distinct-x ladder.
    dx = pts.groupBy("bkt", "x").agg(F.min("y").alias("xy_min"))
    w_dx = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("x"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    dxo = dx.select(
        "bkt", "x", F.min("xy_min").over(w_dx).alias("local_min_above")
    )
    marked = (
        pts.join(dxo, ["bkt", "x"])
        .join(F.broadcast(boff), "bkt")
        .withColumn(
            "best_above",
            F.least(F.col("local_min_above"), F.col("above_bkt_min")),
        )
    )
    return (
        marked.filter(
            F.col("best_above").isNull()
            | (F.col("best_above") >= F.col("y"))
        )
        .select(
            "o_orderkey",
            F.col("x").alias("price_fp"),
            F.col("y").alias("ship_days"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "events_dau_wau_stickiness",
    oracle="""
        WITH du AS (
            SELECT date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7
                       AS wi,
                   CAST(ts AS DATE) AS day,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS dau
            FROM events GROUP BY 1, 2
        ),
        wu AS (
            SELECT date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7
                       AS wi,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS wau
            FROM events GROUP BY 1
        ),
        d AS (
            SELECT wi, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(dau) AS BIGINT) AS dau_sum
            FROM du GROUP BY wi
        )
        SELECT d.wi, d.n_days, d.dau_sum, w.wau,
               (10000 * d.dau_sum) // (d.n_days * w.wau)
                   AS stickiness_fp4
        FROM d JOIN wu w ON w.wi = d.wi
        ORDER BY d.wi
    """,
    tags=("events", "growth", "reporting"),
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per week: average daily active users over
    weekly active users — the engagement-frequency ratio growth teams
    chart next to the growth-accounting quad (a WAU can be flat while
    stickiness collapses; this is the column that tells them apart).
    Weeks are the same Monday-anchored epoch-day index as
    events_growth_accounting; the ratio is one integer division of
    exact distinct counts.

    Scale shape: two distinct-count aggregations over the fact table
    (per day and per week — both user-keyed partial-aggregating),
    joined on the calendar-bounded week table."""
    ev = load_table(spark, sf_dir, "events")
    wi = F.expr("datediff(to_date(ts), date'1970-01-05') div 7").cast("long")
    du = ev.groupBy(
        wi.alias("wi"), F.to_date("ts").alias("day")
    ).agg(F.count_distinct("user_id").cast("long").alias("dau"))
    wu = ev.groupBy(wi.alias("wi")).agg(
        F.count_distinct("user_id").cast("long").alias("wau")
    )
    d = du.groupBy("wi").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("dau").cast("long").alias("dau_sum"),
    )
    return (
        d.join(wu, "wi")
        .select(
            "wi",
            "n_days",
            "dau_sum",
            "wau",
            F.expr("(10000 * dau_sum) div (n_days * wau)").alias(
                "stickiness_fp4"
            ),
        )
        .orderBy("wi")
    )


@register(
    "events_activity_ccdf",
    oracle="""
        WITH pu AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY user_id
        ),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM pu)
        SELECT t.thr,
               (SELECT CAST(count(*) AS BIGINT) FROM pu
                WHERE n >= t.thr) AS n_ge,
               (10000 * (SELECT count(*) FROM pu WHERE n >= t.thr))
                   // u.n_users AS ccdf_fp4
        FROM unnest([1, 2, 4, 8, 16, 32, 64, 128, 256, 512]) AS t(thr)
        CROSS JOIN nt u
        ORDER BY t.thr
    """,
    tags=("events", "statistics", "distribution"),
)
def events_activity_ccdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complementary CDF of per-user activity at dyadic thresholds
    (1, 2, 4, ..., 512): the fraction of users with at least k events
    — read on log-log paper this IS the power-law tail check (a
    straight line means Pareto-distributed engagement), computed
    entirely with exact counts at fixed probes so no logarithm ever
    enters a compared column (the engine's transcendental rule; the
    consumer plots log(thr) vs log(ccdf) if they want the slope).

    Scale shape: one groupBy(user_id), a 10-row probe fan-out folded
    into one conditional aggregation pass — the events_value_ecdf
    pattern pointed at the tail instead of the body."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    nt = pu.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    probes = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in (1, 2, 4, 8, 16, 32, 64, 128, 256, 512)])
        ).alias("thr")
    )
    return (
        pu.crossJoin(F.broadcast(probes))
        .groupBy("thr")
        .agg(F.count_if(F.col("n") >= F.col("thr")).cast("long").alias("n_ge"))
        .crossJoin(F.broadcast(nt))
        .select(
            F.col("thr").cast("long").alias("thr"),
            "n_ge",
            F.expr("(10000 * n_ge) div n_users").alias("ccdf_fp4"),
        )
        .orderBy("thr")
    )


@register(
    "lineitem_demand_classification",
    oracle="""
        WITH months AS (
            SELECT CAST(count(DISTINCT year(l_shipdate) * 12
                               + month(l_shipdate)) AS BIGINT) AS n_periods
            FROM lineitem
        ),
        pm AS (
            SELECT l_partkey,
                   year(l_shipdate) * 12 + month(l_shipdate) AS mi,
                   CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
                       AS q
            FROM lineitem GROUP BY 1, 2
        ),
        per AS (
            SELECT l_partkey,
                   CAST(count(*) AS BIGINT) AS n_active,
                   CAST(sum(q) AS BIGINT) AS sq,
                   CAST(sum(q * q) AS BIGINT) AS sqq
            FROM pm GROUP BY l_partkey
        ),
        cls AS (
            SELECT p.l_partkey, p.n_active, m.n_periods,
                   (10000 * m.n_periods) // p.n_active AS adi_fp4,
                   CASE WHEN p.n_active > 1
                        THEN (10000 * p.n_active
                              * (p.n_active * p.sqq - p.sq * p.sq))
                             // ((p.n_active - 1) * p.sq * p.sq)
                        ELSE 0 END AS cv2_fp4
            FROM per p CROSS JOIN months m
        )
        SELECT l_partkey AS p_partkey, n_active, adi_fp4, cv2_fp4,
               CASE WHEN adi_fp4 < 13200 AND cv2_fp4 < 4900
                        THEN 'smooth'
                    WHEN adi_fp4 < 13200 THEN 'erratic'
                    WHEN cv2_fp4 < 4900 THEN 'intermittent'
                    ELSE 'lumpy' END AS demand_class
        FROM cls ORDER BY p_partkey
    """,
    tags=("inventory", "operations", "statistics"),
)
def lineitem_demand_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Syntetos-Boylan demand classification per part: ADI (average
    inter-demand interval — total months over months WITH demand) and
    CV² (squared coefficient of variation of nonzero monthly demand)
    place every part in the smooth / erratic / intermittent / lumpy
    quadrant at the standard cutoffs ADI 1.32 and CV² 0.49 — the
    classification that decides WHICH forecasting model a part gets
    (exponential smoothing for smooth, Croston-family for
    intermittent), complementing part_abc_xyz_matrix's value-
    variability view. ADI is one integer division; CV² reduces to the
    exact rational n(nΣq²−(Σq)²) / ((n−1)(Σq)²) in 1e-4 fixed point;
    the cutoffs compare as integers (13200, 4900).

    Scale shape: one (part, month) aggregation, one per-part moment
    pass, a 1-row month-count broadcast. Calendar-bounded windows
    nowhere — this is pure grouped arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    months = li.agg(
        F.count_distinct(
            F.year("l_shipdate") * 12 + F.month("l_shipdate")
        )
        .cast("long")
        .alias("n_periods")
    )
    pm = li.groupBy(
        "l_partkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("mi"),
    ).agg(
        F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("q")
    )
    per = pm.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
    )
    cls = per.crossJoin(F.broadcast(months)).select(
        "l_partkey",
        "n_active",
        "n_periods",
        F.expr("(10000 * n_periods) div n_active").alias("adi_fp4"),
        F.when(
            F.col("n_active") > 1,
            F.expr(
                "(10000 * n_active * (n_active * sqq - sq * sq))"
                " div ((n_active - 1) * sq * sq)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("cv2_fp4"),
    )
    return cls.select(
        F.col("l_partkey").alias("p_partkey"),
        "n_active",
        "adi_fp4",
        "cv2_fp4",
        F.when(
            (F.col("adi_fp4") < 13200) & (F.col("cv2_fp4") < 4900), "smooth"
        )
        .when(F.col("adi_fp4") < 13200, "erratic")
        .when(F.col("cv2_fp4") < 4900, "intermittent")
        .otherwise("lumpy")
        .alias("demand_class"),
    ).orderBy("p_partkey")


@register(
    "part_sku_rationalization",
    oracle=f"""
        WITH rev AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 10000) AS BIGINT))
                        AS BIGINT) AS rev_fp
            FROM lineitem GROUP BY l_partkey
        ),
        rk AS (
            SELECT l_partkey, rev_fp,
                   CAST(row_number() OVER (ORDER BY rev_fp, l_partkey)
                        AS BIGINT) AS rnk,
                   CAST(count(*) OVER () AS BIGINT) AS n
            FROM rev
        ),
        pm AS (
            SELECT l_partkey,
                   year(l_shipdate) * 12 + month(l_shipdate) AS mi,
                   CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
                       AS q
            FROM lineitem GROUP BY 1, 2
        ),
        adi AS (
            SELECT p.l_partkey,
                   (10000 * m.n_periods) // count(*) AS adi_fp4
            FROM pm p CROSS JOIN (
                SELECT CAST(count(DISTINCT year(l_shipdate) * 12
                                   + month(l_shipdate)) AS BIGINT)
                       AS n_periods
                FROM lineitem
            ) m
            GROUP BY p.l_partkey, m.n_periods
        ),
        nm AS (
            SELECT DISTINCT p_name AS name,
                   string_split(p_name, ' ')[-1] AS noun
            FROM part
        ),
        edges AS (
            SELECT a.name AS src, b.name AS dst
            FROM nm a JOIN nm b
              ON a.noun = b.noun AND levenshtein(a.name, b.name) <= 4
        ),
        l0 AS (SELECT name AS node, name AS lbl FROM nm),
        {_cc_iter_sql("l0", "l1")},
        {_cc_iter_sql("l1", "l2")},
        {_cc_iter_sql("l2", "l3")},
        {_cc_iter_sql("l3", "l4")},
        lab AS (
            SELECT p.p_partkey, l4.lbl AS entity
            FROM part p JOIN l4 ON l4.node = p.p_name
        ),
        emax AS (
            SELECT la.entity, max(r.rev_fp) AS max_rev
            FROM lab la JOIN rev r ON r.l_partkey = la.p_partkey
            GROUP BY la.entity
        ),
        scored AS (
            SELECT rk.l_partkey AS p_partkey,
                   CAST(rk.rnk * 5 <= rk.n AS INT) AS c_class,
                   CAST(a.adi_fp4 >= 13200 AS INT) AS irregular,
                   CAST(e.max_rev > rk.rev_fp AS INT) AS has_bigger_twin
            FROM rk
            JOIN adi a ON a.l_partkey = rk.l_partkey
            JOIN lab la ON la.p_partkey = rk.l_partkey
            JOIN emax e ON e.entity = la.entity
        )
        SELECT p_partkey, c_class, irregular, has_bigger_twin,
               CASE WHEN c_class + irregular + has_bigger_twin = 3
                    THEN 'rationalize'
                    WHEN c_class + irregular + has_bigger_twin = 2
                    THEN 'review' ELSE 'keep' END AS verdict
        FROM scored ORDER BY p_partkey
    """,
    tags=("capstone", "inventory", "er", "reporting"),
)
def part_sku_rationalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKU rationalization capstone composing three engine layers
    into one decision table: a part is flagged for rationalization
    when it (a) sits in the bottom revenue quintile (C-class — exact
    rank·5 <= n, tie-broken on partkey), (b) has irregular demand
    (ADI >= 1.32, the Syntetos-Boylan intermittency cutoff from
    lineitem_demand_classification) AND (c) a same-ENTITY substitute
    out-earns it (the er_part_entity_clusters closure: a variant
    spelling of the same product that customers already prefer). All
    three flags all-integer; 3/3 = rationalize, 2/3 = review.

    Scale shape: the revenue rank runs over the part DIMENSION; the
    ADI aggregation is the demand-classification shape; the ER chain
    is vocabulary-sized; the final join fan-in is dimension-keyed
    throughout. The fact table is scanned twice (revenue and monthly
    demand), both single-shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 10000).cast("long"))
        .cast("long")
        .alias("rev_fp")
    )
    rk = rev.select(
        "l_partkey",
        "rev_fp",
        F.row_number()
        .over(Window.orderBy("rev_fp", "l_partkey"))
        .cast("long")
        .alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n"),
    )
    months = li.agg(
        F.count_distinct(F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("long")
        .alias("n_periods")
    )
    adi = (
        li.groupBy(
            "l_partkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("mi"),
        )
        .agg(F.lit(1).alias("_one"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
        .crossJoin(F.broadcast(months))
        .select(
            "l_partkey",
            F.expr("(10000 * n_periods) div n_active").alias("adi_fp4"),
        )
    )
    labels = part_entities(spark, sf_dir)
    lab = p.join(
        F.broadcast(labels.select(F.col("node").alias("p_name"), "lbl")),
        "p_name",
    ).select("p_partkey", F.col("lbl").alias("entity"))
    emax = (
        lab.join(rev, lab.p_partkey == rev.l_partkey)
        .groupBy("entity")
        .agg(F.max("rev_fp").alias("max_rev"))
    )
    scored = (
        rk.join(adi, "l_partkey")
        .join(
            F.broadcast(lab.withColumnRenamed("p_partkey", "l_partkey")),
            "l_partkey",
        )
        .join(F.broadcast(emax), "entity")
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("rnk") * 5 <= F.col("n")).cast("int").alias("c_class"),
            (F.col("adi_fp4") >= 13200).cast("int").alias("irregular"),
            (F.col("max_rev") > F.col("rev_fp"))
            .cast("int")
            .alias("has_bigger_twin"),
        )
    )
    total = F.col("c_class") + F.col("irregular") + F.col("has_bigger_twin")
    return scored.select(
        "p_partkey",
        "c_class",
        "irregular",
        "has_bigger_twin",
        F.when(total == 3, "rationalize")
        .when(total == 2, "review")
        .otherwise("keep")
        .alias("verdict"),
    ).orderBy("p_partkey")


@register(
    "text_readability_scores",
    oracle="""
        WITH feat AS (
            SELECT doc_id,
                   CAST(len(string_split_regex(lower(text), '\\s+'))
                        AS BIGINT) AS w,
                   CAST(greatest(1,
                        len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT)
                       AS s,
                   CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                        AS BIGINT) AS y
            FROM documents
        )
        SELECT doc_id, w AS n_words, s AS n_sentences, y AS n_syllables,
               CAST(floor(100.0 * (CAST(39 * w * w AS DOUBLE) / 100
                          + CAST(1180 * y * s AS DOUBLE) / 100
                          - CAST(1559 * w * s AS DOUBLE) / 100)
                          / (CAST(w AS DOUBLE) * s)) AS BIGINT) AS fk_grade_fp2
        FROM feat ORDER BY doc_id
    """,
    tags=("llm-data", "text", "quality"),
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per document — the readability
    signal quality-filtering pipelines use alongside Gopher rules
    (too-low FK often means listicles/fragments, too-high means
    OCR garbage or run-ons). Syllables are approximated by vowel-
    group runs ([aeiouy]+, the standard regex proxy) and sentences by
    terminal-punctuation runs (min 1), so every feature is an exact
    integer; the grade 0.39·(W/S) + 11.8·(Y/W) − 15.59 is evaluated
    over the common denominator W·S with integer numerators and one
    floored double division (exact-integer doubles through the safe
    op subset; can be negative for fragment-like text, which floor
    handles identically in both engines).

    Scale shape: pure map-side regex counting — zero shuffles before
    the output sort."""
    d = load_table(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id",
        F.size(F.split(F.lower("text"), r"\s+")).cast("long").alias("w"),
        F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), F.lit(0))),
        )
        .cast("long")
        .alias("s"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), F.lit(0))
        )
        .cast("long")
        .alias("y"),
    )
    num = (
        (39 * F.col("w") * F.col("w")).cast("double") / 100
        + (1180 * F.col("y") * F.col("s")).cast("double") / 100
        - (1559 * F.col("w") * F.col("s")).cast("double") / 100
    )
    return feat.select(
        "doc_id",
        F.col("w").alias("n_words"),
        F.col("s").alias("n_sentences"),
        F.col("y").alias("n_syllables"),
        F.floor(100.0 * num / (F.col("w").cast("double") * F.col("s")))
        .cast("long")
        .alias("fk_grade_fp2"),
    ).orderBy("doc_id")


@register(
    "events_multitouch_attribution",
    oracle="""
        WITH pur AS (
            SELECT event_id AS pid, user_id, ts AS pts,
                   CAST(FLOOR(value * 10000) AS BIGINT) AS v_fp
            FROM events WHERE event_type = 'purchase'
        ),
        touch AS (
            SELECT event_id AS tid, user_id, ts AS tts, event_type
            FROM events WHERE event_type IN ('click', 'view')
        ),
        cand AS (
            SELECT p.pid, p.v_fp, t.tid, t.event_type, t.tts,
                   CAST(count(*) OVER (PARTITION BY p.pid) AS BIGINT) AS n,
                   row_number() OVER (PARTITION BY p.pid
                                      ORDER BY t.tts, t.tid) AS rn
            FROM pur p JOIN touch t
              ON t.user_id = p.user_id
             AND t.tts < p.pts
             AND t.tts >= p.pts - INTERVAL 7 DAY
        ),
        credit AS (
            SELECT event_type,
                   v_fp // n + CASE WHEN rn = 1
                                    THEN v_fp - n * (v_fp // n)
                                    ELSE 0 END AS c_fp
            FROM cand
        ),
        per_type AS (
            SELECT event_type AS channel,
                   CAST(count(*) AS BIGINT) AS n_credits,
                   CAST(sum(c_fp) AS BIGINT) AS credited_fp
            FROM credit GROUP BY event_type
        ),
        direct AS (
            SELECT 'direct' AS channel,
                   CAST(count(*) AS BIGINT) AS n_credits,
                   CAST(coalesce(sum(p.v_fp), 0) AS BIGINT) AS credited_fp
            FROM pur p
            WHERE NOT EXISTS (
                SELECT 1 FROM touch t
                WHERE t.user_id = p.user_id AND t.tts < p.pts
                  AND t.tts >= p.pts - INTERVAL 7 DAY
            )
        )
        SELECT * FROM per_type
        UNION ALL SELECT * FROM direct
        ORDER BY channel
    """,
    tags=("events", "attribution", "marketing"),
)
def events_multitouch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear multi-touch attribution: every purchase's value splits
    EQUALLY across the user's click/view touches in the 7 days before
    it, integer-exactly — each touch gets v div n and the remainder
    goes to the EARLIEST touch (ts, event_id order), so credited
    totals reconcile to purchase revenue to the last fixed-point unit
    (no float leakage, no lost pennies). Purchases with no preceding
    touch land in the 'direct' channel. Complements
    events_purchase_attribution's single-touch rules with the
    fractional model marketing actually argues about.

    Scale shape: the touch join is user-keyed with a 7-day time band
    (per-user fan-out bounded by activity × window — the
    seq_pattern_gsp_support shape); the per-purchase windows
    partition on purchase id, whose groups are the same bounded
    fan-out. At 100 TB one adds the day-bucketed band join
    (join_time_proximity_bucketed) if user histories are long."""
    ev = load_table(spark, sf_dir, "events")
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        F.floor(F.col("value") * 10000).cast("long").alias("v_fp"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("tid"),
        F.col("user_id").alias("tu"),
        F.col("ts").alias("tts"),
        "event_type",
    )
    cond = (
        (F.col("tu") == F.col("pu"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 7 DAY"))
    )
    cand = (
        pur.join(touch, cond)
        .withColumn(
            "n",
            F.count(F.lit(1))
            .over(Window.partitionBy("pid"))
            .cast("long"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("pid").orderBy("tts", "tid")
            ),
        )
    )
    credit = cand.select(
        "event_type",
        (
            F.expr("v_fp div n")
            + F.when(
                F.col("rn") == 1, F.expr("v_fp - n * (v_fp div n)")
            ).otherwise(F.lit(0))
        ).alias("c_fp"),
    )
    per_type = credit.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_credits"),
        F.sum("c_fp").cast("long").alias("credited_fp"),
    )
    direct = (
        pur.join(touch, cond, "left_anti")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_credits"),
            F.coalesce(F.sum("v_fp"), F.lit(0))
            .cast("long")
            .alias("credited_fp"),
        )
        .select(F.lit("direct").alias("channel"), "n_credits", "credited_fp")
    )
    return per_type.unionByName(direct).orderBy("channel")


@register(
    "events_rolling_trend_slope",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                       AS di,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ),
        rolled AS (
            SELECT event_type, di, x,
                   CAST(count(*) OVER w AS BIGINT) AS n,
                   CAST(sum(di) OVER w AS BIGINT) AS si,
                   CAST(sum(x) OVER w AS BIGINT) AS sx,
                   CAST(sum(di * di) OVER w AS BIGINT) AS sii,
                   CAST(sum(di * x) OVER w AS BIGINT) AS six
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY di
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, di, x, n,
               CASE WHEN n >= 3 AND n * sii - si * si <> 0
                    THEN CAST(floor(10000.0 * (n * six - si * sx)
                              / (n * sii - si * si)) AS BIGINT)
                    END AS slope_fp4
        FROM rolled ORDER BY event_type, di
    """,
    tags=("timeseries", "regression", "window"),
)
def events_rolling_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS trend slope of each event type's daily count
    — the windowed companion to agg_ols_trend's global fit and the
    leading indicator behind events_changepoint_single (the slope
    flips sign BEFORE a level change is confirmable). The RANGE
    6-PRECEDING frame is over the day INDEX, so calendar gaps
    correctly shrink the window rather than silently stretching it;
    all four running sums (n, Σi, Σx, Σi², Σix) are exact BIGINTs and
    the slope is the textbook (nΣix − ΣiΣx)/(nΣi² − (Σi)²) — integer
    numerator and denominator, one floored double division to 1e-4
    (both can be negative, so floor-of-double rather than div, the
    engine's signed-division rule). Days with under 3 points in
    window emit NULL.

    Scale shape: one (type, day) fact aggregation, then frame-bounded
    windows over the calendar-bounded daily table. The frame never
    exceeds 7 rows, so window state is O(1) per row."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("di"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("di")
        .rangeBetween(-6, 0)
    )
    rolled = daily.select(
        "event_type",
        "di",
        "x",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("di").over(w).cast("long").alias("si"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum(F.col("di") * F.col("di")).over(w).cast("long").alias("sii"),
        F.sum(F.col("di") * F.col("x")).over(w).cast("long").alias("six"),
    )
    num = F.col("n") * F.col("six") - F.col("si") * F.col("sx")
    den = F.col("n") * F.col("sii") - F.col("si") * F.col("si")
    return rolled.select(
        "event_type",
        "di",
        "x",
        "n",
        F.when(
            (F.col("n") >= 3) & (den != 0),
            F.floor(10000.0 * num.cast("double") / den.cast("double")).cast(
                "long"
            ),
        ).alias("slope_fp4"),
    ).orderBy("event_type", "di")


@register(
    "agg_mean_family_battery",
    oracle="""
        WITH x AS (
            SELECT CAST(FLOOR(value * 10000) AS BIGINT) AS v
            FROM events
        ),
        pv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY v),
        cum AS (
            SELECT v, cnt,
                   CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS c
            FROM pv
        ),
        nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM pv),
        trim AS (
            SELECT CAST(sum(
                       (least(c, (SELECT 9 * n // 10 FROM nt))
                        - greatest(c - cnt, (SELECT n // 10 FROM nt)))
                       * v) AS BIGINT) AS kept_sum,
                   CAST(sum(
                       least(c, (SELECT 9 * n // 10 FROM nt))
                       - greatest(c - cnt, (SELECT n // 10 FROM nt)))
                       AS BIGINT) AS kept_n
            FROM cum
            WHERE c > (SELECT n // 10 FROM nt)
              AND c - cnt < (SELECT 9 * n // 10 FROM nt)
        ),
        plain AS (
            SELECT CAST(sum(v) AS BIGINT) AS sv,
                   CAST(sum(CASE WHEN v > 0 THEN 100000000 // v END)
                        AS BIGINT) AS srecip,
                   CAST(count_if(v > 0) AS BIGINT) AS n_pos,
                   CAST(min(v) AS BIGINT) AS vmin,
                   CAST(max(v) AS BIGINT) AS vmax
            FROM x
        )
        SELECT t.n,
               p.sv // t.n AS mean_fp4,
               tr.kept_sum // tr.kept_n AS trimmed10_mean_fp4,
               (p.n_pos * 100000000) // p.srecip AS harmonic_fp4,
               (p.vmin + p.vmax) // 2 AS midrange_fp4
        FROM nt t CROSS JOIN plain p CROSS JOIN trim tr
    """,
    tags=("aggregate", "statistics", "means"),
)
def agg_mean_family_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The means family in one exact pass: arithmetic mean, 10%-
    trimmed mean, harmonic mean and midrange of the event values —
    the robust-location battery next to agg_median_exact and the
    winsorized mean. The trimmed mean keeps ranks (n/10, 9n/10] and
    is computed EXACTLY from the distinct-value cumulative table
    (each value contributes overlap-of-rank-interval x value — no
    per-row sort anywhere). The harmonic mean uses documented-floor
    reciprocals (Σ floor(1e8/v₄) over STRICTLY POSITIVE fixed-point values —
    sub-1e-4 values floor to v₄=0 and are excluded with their count,
    the only defensible treatment; floor semantics identical in both
    engines, error bounded by n/1e8), and midrange is the exact integer (min+max) div 2.

    Scale shape: one value-domain aggregation plus one scalar pass;
    the cumulative window runs over DISTINCT values — the engine's
    standard order-statistics shape."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.select(F.floor(F.col("value") * 10000).cast("long").alias("v"))
    pv = x.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = pv.select("v", "cnt", F.sum("cnt").over(w).cast("long").alias("c"))
    nt = pv.agg(F.sum("cnt").cast("long").alias("n"))
    trim = (
        cum.crossJoin(F.broadcast(nt))
        .filter(
            (F.col("c") > F.expr("n div 10"))
            & (F.col("c") - F.col("cnt") < F.expr("(9 * n) div 10"))
        )
        .select(
            (
                F.least(F.col("c"), F.expr("(9 * n) div 10"))
                - F.greatest(F.col("c") - F.col("cnt"), F.expr("n div 10"))
            ).alias("keep"),
            "v",
        )
        .agg(
            F.sum(F.col("keep") * F.col("v")).cast("long").alias("kept_sum"),
            F.sum("keep").cast("long").alias("kept_n"),
        )
    )
    plain = x.agg(
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.when(F.col("v") > 0, F.expr("100000000 div v")))
        .cast("long")
        .alias("srecip"),
        F.count_if(F.col("v") > 0).cast("long").alias("n_pos"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    )
    return (
        nt.crossJoin(F.broadcast(plain))
        .crossJoin(F.broadcast(trim))
        .select(
            "n",
            F.expr("sv div n").alias("mean_fp4"),
            F.expr("kept_sum div kept_n").alias("trimmed10_mean_fp4"),
            F.expr("(n_pos * 100000000) div srecip").alias("harmonic_fp4"),
            F.expr("(vmin + vmax) div 2").alias("midrange_fp4"),
        )
    )


@register(
    "graph_rich_club_ladder",
    oracle="""
        WITH e AS (
            SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
        ),
        pd AS (SELECT p, CAST(count(*) AS BIGINT) AS dp FROM e GROUP BY p),
        sd AS (SELECT s, CAST(count(*) AS BIGINT) AS ds FROM e GROUP BY s),
        k AS (SELECT CAST(kk AS BIGINT) AS k
              FROM unnest([4, 8, 16, 32, 64]) AS t(kk))
        SELECT k.k,
               (SELECT CAST(count(*) AS BIGINT) FROM pd
                WHERE dp > k.k) AS n_parts_rich,
               (SELECT CAST(count(*) AS BIGINT) FROM sd
                WHERE ds > k.k) AS n_supp_rich,
               (SELECT CAST(count(*) AS BIGINT)
                FROM e JOIN pd ON pd.p = e.p JOIN sd ON sd.s = e.s
                WHERE pd.dp > k.k AND sd.ds > k.k) AS n_edges_rich,
               CASE WHEN (SELECT count(*) FROM pd WHERE dp > k.k) > 0
                     AND (SELECT count(*) FROM sd WHERE ds > k.k) > 0
                    THEN (10000 * (SELECT count(*)
                          FROM e JOIN pd ON pd.p = e.p
                                 JOIN sd ON sd.s = e.s
                          WHERE pd.dp > k.k AND sd.ds > k.k))
                         // ((SELECT count(*) FROM pd WHERE dp > k.k)
                             * (SELECT count(*) FROM sd WHERE ds > k.k))
                    END AS phi_fp4
        FROM k ORDER BY k.k
    """,
    tags=("graph", "statistics"),
)
def graph_rich_club_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient ladder for the bipartite part-supplier
    graph: among nodes with degree > k on BOTH sides, what fraction
    of the possible part x supplier pairs actually trade? A rising
    φ(k) means the high-degree core is disproportionately
    interconnected (the rich club), the structural sibling of
    graph_assortativity's correlation view and graph_kcore_peel's
    density filter. φ is the exact rational 1e4·E_k div (n_p·n_s) —
    bipartite "possible edges" is the product of the two rich sets —
    over the k ladder 4..64.

    Scale shape: degree tables as before (one distinct + two
    aggregations), the rich-edge count is the edge list joined to
    both broadcast degree tables with a conditional ladder
    aggregation — one pass over edges answers every k."""
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    pd_ = e.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("dp"))
    sd = e.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("ds"))
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in (4, 8, 16, 32, 64)])).alias(
            "k"
        )
    )
    ed = e.join(pd_, "p").join(F.broadcast(sd), "s")
    edges_rich = (
        ed.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count_if(
                (F.col("dp") > F.col("k")) & (F.col("ds") > F.col("k"))
            )
            .cast("long")
            .alias("n_edges_rich")
        )
    )
    parts_rich = (
        pd_.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count_if(F.col("dp") > F.col("k"))
            .cast("long")
            .alias("n_parts_rich")
        )
    )
    supp_rich = (
        sd.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count_if(F.col("ds") > F.col("k"))
            .cast("long")
            .alias("n_supp_rich")
        )
    )
    return (
        parts_rich.join(supp_rich, "k")
        .join(edges_rich, "k")
        .select(
            F.col("k").cast("long").alias("k"),
            "n_parts_rich",
            "n_supp_rich",
            "n_edges_rich",
            F.when(
                (F.col("n_parts_rich") > 0) & (F.col("n_supp_rich") > 0),
                F.expr(
                    "(10000 * n_edges_rich)"
                    " div (n_parts_rich * n_supp_rich)"
                ),
            ).alias("phi_fp4"),
        )
        .orderBy("k")
    )


@register(
    "supplier_xbar_control",
    oracle="""
        WITH d AS (
            SELECT l.l_suppkey,
                   year(l.l_shipdate) * 12 + month(l.l_shipdate) AS mi,
                   CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                  CAST(l.l_shipdate AS DATE)) AS BIGINT)
                       AS x
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        g AS (
            SELECT l_suppkey,
                   CAST(count(*) AS BIGINT) AS nn,
                   CAST(sum(x) AS BIGINT) AS s,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM d GROUP BY l_suppkey
        ),
        m AS (
            SELECT l_suppkey, mi,
                   CAST(count(*) AS BIGINT) AS nm,
                   CAST(sum(x) AS BIGINT) AS sm
            FROM d GROUP BY l_suppkey, mi
        ),
        v AS (
            SELECT m.l_suppkey, m.mi,
                   CASE WHEN (m.sm * g.nn - g.s * m.nm)
                             * (m.sm * g.nn - g.s * m.nm)
                             * (g.nn - 1)
                            > 9 * (g.nn * g.sxx - g.s * g.s)
                                * m.nm * g.nn
                        THEN 1 ELSE 0 END AS ooc
            FROM m JOIN g ON g.l_suppkey = m.l_suppkey
            WHERE g.nn > 1
        )
        SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_months,
               CAST(sum(ooc) AS BIGINT) AS n_ooc_months
        FROM v GROUP BY l_suppkey ORDER BY l_suppkey
    """,
    tags=("operations", "statistics", "monitoring"),
)
def supplier_xbar_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-bar control chart over supplier ship delays — the continuous
    twin of supplier_pchart_control's attribute chart: each supplier's
    MONTHLY mean delay is tested against its own grand mean with
    3-sigma-of-the-subgroup-mean limits. The verdict is evaluated as
    one fully-INTEGER cross-multiplied inequality —
    (sm·N − S·nm)²·(N−1) > 9·(N·Σx² − S²)·nm·N — the squared-z
    trick of running_zscore_stateful lifted to subgroups, so no
    sqrt, no division, no doubles, bit-identical verdicts. (Overflow
    bound: |sm·N| < ~3·10⁹ per supplier at sf0.1, squared well under
    2^63; a 100 TB deployment shards the chart per supplier anyway.)

    Scale shape: one fact join + two aggregations (per supplier, per
    supplier-month) sharing the shuffle key, then a dimension-sized
    join. No windows at all."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_suppkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("mi"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("x"),
    )
    g = d.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    m = d.groupBy("l_suppkey", "mi").agg(
        F.count(F.lit(1)).cast("long").alias("nm"),
        F.sum("x").cast("long").alias("sm"),
    )
    dev = F.col("sm") * F.col("nn") - F.col("s") * F.col("nm")
    v = (
        m.join(F.broadcast(g), "l_suppkey")
        .filter(F.col("nn") > 1)
        .select(
            "l_suppkey",
            F.when(
                dev * dev * (F.col("nn") - 1)
                > 9
                * (F.col("nn") * F.col("sxx") - F.col("s") * F.col("s"))
                * F.col("nm")
                * F.col("nn"),
                1,
            )
            .otherwise(0)
            .alias("ooc"),
        )
    )
    return (
        v.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_months"),
            F.sum("ooc").cast("long").alias("n_ooc_months"),
        )
        .orderBy("l_suppkey")
    )


@register(
    "events_burstiness_coefficient",
    oracle="""
        WITH ordered AS (
            SELECT event_type,
                   epoch_us(ts) // 1000000 AS t,
                   lag(epoch_us(ts) // 1000000) OVER (
                       PARTITION BY event_type
                       ORDER BY ts, event_id) AS pt
            FROM events
        ),
        gaps AS (
            SELECT event_type, t - pt AS g
            FROM ordered WHERE pt IS NOT NULL
        ),
        mom AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(g) AS BIGINT) AS sg,
                   CAST(sum(g * g) AS BIGINT) AS sgg
            FROM gaps GROUP BY event_type
        )
        SELECT event_type, n,
               sg // n AS mean_gap_s,
               CAST(floor(10000.0
                    * (sqrt(CAST(n * sgg - sg * sg AS DOUBLE)
                            / (CAST(n AS DOUBLE) * (n - 1)))
                       - CAST(sg AS DOUBLE) / n)
                    / (sqrt(CAST(n * sgg - sg * sg AS DOUBLE)
                            / (CAST(n AS DOUBLE) * (n - 1)))
                       + CAST(sg AS DOUBLE) / n)) AS BIGINT)
                   AS burstiness_fp4
        FROM mom WHERE n > 1 ORDER BY event_type
    """,
    tags=("events", "statistics", "timeseries"),
)
def events_burstiness_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goh-Barabási burstiness coefficient per event type:
    B = (σ−μ)/(σ+μ) over the inter-event gaps (whole seconds,
    lag-ordered by (ts, event_id)) — B → −1 for a metronome, 0 for a
    Poisson process, → 1 for extreme burst trains. The
    point-process-level companion to events_poisson_dispersion's
    binned variance-to-mean: dispersion says the DAILY counts are
    overdispersed, B says how the gaps themselves cluster. Moments
    are exact BIGINTs; σ and the final ratio use only the safe IEEE
    subset (sqrt, /, −, +, floor), so the 1e-4 coefficient is
    engine-exact.

    Scale shape: one per-type lag window (partitioned on the type
    key — the only ordered pass, over the fact but key-partitioned,
    not global), one moment aggregation, map-side arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "event_type",
            epoch_s("ts").alias("t"),
            F.lag(epoch_s("ts")).over(w).alias("pt"),
        )
        .filter(F.col("pt").isNotNull())
        .select("event_type", (F.col("t") - F.col("pt")).alias("g"))
    )
    mom = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("g").cast("long").alias("sg"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("sgg"),
    )
    sigma = F.sqrt(
        (F.col("n") * F.col("sgg") - F.col("sg") * F.col("sg")).cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    mu = F.col("sg").cast("double") / F.col("n")
    return (
        mom.filter(F.col("n") > 1)
        .select(
            "event_type",
            "n",
            F.expr("sg div n").alias("mean_gap_s"),
            F.floor(10000.0 * (sigma - mu) / (sigma + mu))
            .cast("long")
            .alias("burstiness_fp4"),
        )
        .orderBy("event_type")
    )


@register(
    "events_value_max_drawdown",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
                        AS BIGINT) AS v_fp
            FROM events GROUP BY 1
        ),
        cumul AS (
            SELECT day,
                   CAST(sum(v_fp) OVER (ORDER BY day) AS BIGINT) AS c
            FROM daily
        ),
        dd AS (
            SELECT day, c,
                   CAST(max(c) OVER (ORDER BY day) AS BIGINT) AS peak,
                   CAST(max(c) OVER (ORDER BY day) - c AS BIGINT)
                       AS drawdown
            FROM cumul
        )
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(max(c) AS BIGINT) AS peak_cum_fp,
               CAST(max(drawdown) AS BIGINT) AS max_drawdown_fp,
               CAST(min(CASE WHEN drawdown = (SELECT max(drawdown) FROM dd)
                        THEN day END) AS VARCHAR) AS trough_day
        FROM dd
    """,
    tags=("timeseries", "finance", "statistics"),
)
def events_value_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily event-value series:
    the deepest peak-to-trough fall, with the trough date — the
    risk-curve metric (how far below its best-so-far did the running
    total sink) that CUSUM/change-point detection doesn't report. Two
    stacked running windows (prefix sum, prefix max) over the daily
    series, all exact fixed-point BIGINTs; the trough day is the
    earliest day attaining the max drawdown (deterministic tie rule).

    Scale shape: one daily aggregation of the fact, then
    calendar-bounded running windows — the standard series-side
    contract."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 10000).cast("long"))
        .cast("long")
        .alias("v_fp")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        "day",
        F.sum("v_fp").over(w).cast("long").alias("c"),
    ).select(
        "day",
        "c",
        F.max("c").over(w).cast("long").alias("peak"),
        (F.max("c").over(w) - F.col("c")).cast("long").alias("drawdown"),
    )
    mx = dd.agg(F.max("drawdown").alias("mdd"))
    return (
        dd.crossJoin(F.broadcast(mx))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.max("c").cast("long").alias("peak_cum_fp"),
            F.max("drawdown").cast("long").alias("max_drawdown_fp"),
            F.min(
                F.when(F.col("drawdown") == F.col("mdd"), F.col("day"))
            )
            .cast("string")
            .alias("trough_day"),
        )
    )


@register(
    "orders_kruskal_wallis_dow",
    oracle="""
        WITH ab AS (
            SELECT dayofweek(o_orderdate) AS grp,
                   CAST(FLOOR(o_totalprice * 10000) AS BIGINT) AS v
            FROM orders
        ),
        gv AS (
            SELECT grp, v, CAST(count(*) AS BIGINT) AS a
            FROM ab GROUP BY grp, v
        ),
        pv AS (
            SELECT v, CAST(sum(a) AS BIGINT) AS m FROM gv GROUP BY v
        ),
        cum AS (
            SELECT v, m,
                   CAST(coalesce(sum(m) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS c
            FROM pv
        ),
        ranks AS (
            SELECT g.grp,
                   CAST(sum(g.a) AS BIGINT) AS n_i,
                   CAST(sum(g.a * (2 * c.c + c.m + 1)) AS BIGINT) AS two_r
            FROM gv g JOIN cum c ON c.v = g.v
            GROUP BY g.grp
        ),
        tot AS (
            SELECT CAST(sum(n_i) AS BIGINT) AS n,
                   CAST(sum(CAST(floor(
                       CAST(two_r AS DOUBLE) * two_r / (4 * n_i))
                       AS BIGINT)) AS BIGINT) AS sum_r2n,
                   CAST(count(*) AS BIGINT) AS k
            FROM ranks
        ),
        ties AS (
            SELECT CAST(sum(m * m * m - m) AS BIGINT) AS tie_term FROM pv
        )
        SELECT t.k, t.n,
               CAST(floor(10000.0
                    * (12.0 * t.sum_r2n / (CAST(t.n AS DOUBLE) * (t.n + 1))
                       - 3.0 * (t.n + 1))
                    / (1.0 - CAST(e.tie_term AS DOUBLE)
                             / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n)))
                    AS BIGINT) AS h_fp4
        FROM tot t CROSS JOIN ties e
    """,
    tags=("stats", "statistics", "deskew"),
)
def orders_kruskal_wallis_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test across the seven order-day-of-week
    groups — the k-group generalization of orders_mann_whitney_u
    (rank-based one-way ANOVA: does order value depend on weekday at
    all, before any pairwise comparison?). Rank sums come from the
    same doubled-rank distinct-value machinery (2R_i = Σ a·(2c+m+1)
    per group over the shared value domain), the tie correction uses
    the Σ(t³−t) term, and H is assembled with safe double ops from
    exact integer sums (one interior floor on Σ(2R)²/(4n) keeps every
    cross-engine product below 2^63; the bias is < k ranks out of
    N², far under the 1e-4 output grain).

    Scale shape: one (group, value) aggregation, the cumulative
    window over the DISTINCT-VALUE domain, and 7-row arithmetic — the
    rank-statistics single-shuffle contract."""
    o = load_table(spark, sf_dir, "orders")
    ab = o.select(
        F.dayofweek("o_orderdate").alias("grp"),
        F.floor(F.col("o_totalprice") * 10000).cast("long").alias("v"),
    )
    gv = ab.groupBy("grp", "v").agg(F.count(F.lit(1)).cast("long").alias("a"))
    pv = gv.groupBy("v").agg(F.sum("a").cast("long").alias("m"))
    w_prev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = pv.select(
        "v",
        "m",
        F.coalesce(F.sum("m").over(w_prev), F.lit(0)).cast("long").alias("c"),
    )
    ranks = (
        gv.join(cum, "v")
        .groupBy("grp")
        .agg(
            F.sum("a").cast("long").alias("n_i"),
            F.sum(F.col("a") * (2 * F.col("c") + F.col("m") + 1))
            .cast("long")
            .alias("two_r"),
        )
    )
    tot = ranks.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum(
            F.floor(
                F.col("two_r").cast("double")
                * F.col("two_r")
                / (4 * F.col("n_i"))
            ).cast("long")
        )
        .cast("long")
        .alias("sum_r2n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    ties = pv.agg(
        F.sum(F.col("m") * F.col("m") * F.col("m") - F.col("m"))
        .cast("long")
        .alias("tie_term")
    )
    h = (
        12.0
        * F.col("sum_r2n").cast("double")
        / (F.col("n").cast("double") * (F.col("n") + 1))
        - 3.0 * (F.col("n") + 1)
    ) / (
        1.0
        - F.col("tie_term").cast("double")
        / (
            F.col("n").cast("double") * F.col("n") * F.col("n")
            - F.col("n")
        )
    )
    return (
        tot.crossJoin(F.broadcast(ties))
        .select(
            "k",
            "n",
            F.floor(10000.0 * h).cast("long").alias("h_fp4"),
        )
    )


@register(
    "lineitem_newsvendor_backtest",
    oracle="""
        WITH pm AS (
            SELECT l_partkey,
                   year(l_shipdate) AS yr,
                   year(l_shipdate) * 12 + month(l_shipdate) AS mi,
                   CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
                       AS q
            FROM lineitem WHERE year(l_shipdate) BETWEEN 1995 AND 1997
            GROUP BY 1, 2, 3
        ),
        train AS (SELECT l_partkey, q FROM pm WHERE yr <= 1996),
        ranked AS (
            SELECT l_partkey, q,
                   CAST(row_number() OVER (PARTITION BY l_partkey
                        ORDER BY q, mi2) AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY l_partkey) AS BIGINT)
                       AS n
            FROM (SELECT l_partkey, q,
                         row_number() OVER (PARTITION BY l_partkey
                                            ORDER BY q) AS mi2
                  FROM train)
        ),
        policy AS (
            SELECT l_partkey, q AS order_up_to
            FROM ranked WHERE rn = (8 * n + 9) // 10
        ),
        test AS (
            SELECT l_partkey, CAST(sum(q) AS BIGINT) AS demand,
                   CAST(sum(least(q, (SELECT p.order_up_to FROM policy p
                                      WHERE p.l_partkey = pm.l_partkey)))
                        AS BIGINT) AS filled
            FROM pm WHERE yr = 1997
              AND EXISTS (SELECT 1 FROM policy p
                          WHERE p.l_partkey = pm.l_partkey)
            GROUP BY l_partkey
        )
        SELECT CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(demand) AS BIGINT) AS total_demand,
               CAST(sum(filled) AS BIGINT) AS total_filled,
               CAST((10000 * sum(filled)) // sum(demand) AS BIGINT) AS fill_rate_fp4,
               CAST(count_if(10 * filled >= 8 * demand) AS BIGINT)
                   AS n_parts_above_80
        FROM test
    """,
    tags=("inventory", "backtest", "operations"),
)
def lineitem_newsvendor_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newsvendor quantile-policy backtest: set each part's monthly
    order-up-to level at the 80th-percentile (critical fractile) of
    its 1995-96 monthly demand, then replay 1997 — realized fill rate
    = Σ min(demand, S) / Σ demand, overall and per part — the
    out-of-time policy evaluation that belongs next to
    lineitem_demand_classification (WHICH model) and
    lineitem_eoq_policy (HOW MUCH): this one measures whether the
    quantile policy would actually have held service. The percentile
    is the exact ⌈0.8(n+1)⌉-ish order statistic per part (upper
    convention, ties broken by a nested stable rank), every fill
    figure is an exact integer, and parts without training months are
    excluded from the test identically in both engines.

    Scale shape: one (part, month) aggregation feeds train and test
    slices; the per-part quantile window partitions on the part key
    (frames bounded by ≤ 24 training months); the policy table joins
    back broadcast-sized. Single fact shuffle, part-keyed tail."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").between(1995, 1997)
    )
    pm = li.groupBy(
        "l_partkey",
        F.year("l_shipdate").alias("yr"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("mi"),
    ).agg(F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("q"))
    train = pm.filter(F.col("yr") <= 1996).select("l_partkey", "q")
    w_inner = Window.partitionBy("l_partkey").orderBy("q")
    ranked = train.withColumn("mi2", F.row_number().over(w_inner)).select(
        "l_partkey",
        "q",
        F.row_number()
        .over(Window.partitionBy("l_partkey").orderBy("q", "mi2"))
        .cast("long")
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("l_partkey"))
        .cast("long")
        .alias("n"),
    )
    policy = ranked.filter(
        F.col("rn") == F.expr("(8 * n + 9) div 10")
    ).select("l_partkey", F.col("q").alias("order_up_to"))
    test = (
        pm.filter(F.col("yr") == 1997)
        .join(policy, "l_partkey")
        .groupBy("l_partkey")
        .agg(
            F.sum("q").cast("long").alias("demand"),
            F.sum(F.least(F.col("q"), F.col("order_up_to")))
            .cast("long")
            .alias("filled"),
        )
    )
    return test.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("demand").cast("long").alias("total_demand"),
        F.sum("filled").cast("long").alias("total_filled"),
        F.expr("(10000 * sum(filled)) div sum(demand)").alias(
            "fill_rate_fp4"
        ),
        F.count_if(10 * F.col("filled") >= 8 * F.col("demand"))
        .cast("long")
        .alias("n_parts_above_80"),
    )

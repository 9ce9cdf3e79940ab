"""Round-4 batches 185-191: ML evaluation metrics (calibration,
precision/recall ladder, uplift/Qini), graph local clustering, the
Fisher/Paasche index-number completion, Copeland pairwise ranking,
and the cross-source vocabulary-overlap matrix.

These extend the SURVEY §2-C inventory families already certified in
rounds 3-4 (the reference engine itself has no relational surface —
its operators are the keyed arithmetic stages, Streamer.java:443-466):
the ML-metrics family (ml_click_purchase_auc, ml_woe_binning_views)
gains the two evaluation views every model report needs next to AUC —
a reliability diagram with ECE and an operating-point ladder — plus
the causal companion (Qini-style uplift by targeting depth); the
graph family gains the per-node clustering coefficient the global
triangle count cannot answer; the economics family completes the
index-number triple (Laspeyres → Paasche → Fisher); and the
LLM-corpus profiling family gains the source×source vocabulary
Jaccard matrix used to decide which ingestion sources are redundant.

Determinism discipline as everywhere else: counts and rank sums stay
BIGINT end-to-end; ratios are fixed-point integer divisions on
non-negative operands (floor == truncate in both engines) with signed
cases routed through an explicit sign split; the only doubles are
+,*,/,sqrt (IEEE correctly-rounded, engine-exact) in the price
indices, following orders_laspeyres_price_index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.queries.graph import _TRADE_EDGES_SQL, _trade_edges
from kafkastreamer_spark.queries.relational14 import part_names
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table

# Shared score/label model of the ML-metrics family (same as
# ml_click_purchase_auc): per-user click count as the ranking score,
# label = fired more purchases than errors (both classes populated at
# every fixture SF).
_PER_USER_SQL = """
    SELECT user_id,
           CAST(count_if(event_type = 'click') AS BIGINT) AS score,
           CASE WHEN count_if(event_type = 'purchase')
                     > count_if(event_type = 'error')
                THEN 1 ELSE 0 END AS y
    FROM events GROUP BY user_id
"""


def _per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "click").cast("long").alias("score"),
        F.when(
            F.count_if(F.col("event_type") == "purchase")
            > F.count_if(F.col("event_type") == "error"),
            1,
        )
        .otherwise(0)
        .alias("y"),
    )


# --- batch 185: per-node local clustering coefficient -----------------------


@register(
    "graph_local_clustering",
    oracle=f"""
        WITH und AS MATERIALIZED (
            -- MATERIALIZED: und is referenced 5x (degree scan + the
            -- 3-way wedge join); DuckDB's default CTE inlining
            -- re-plans the 5-way trade-edge join per reference and
            -- the wedge join degrades ~300x (measured 73s -> 0.3s).
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM ({_TRADE_EDGES_SQL})
            WHERE src <> dst
        ),
        deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS deg
            FROM (SELECT a AS node FROM und
                  UNION ALL SELECT b AS node FROM und)
            GROUP BY node
        ),
        tri AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        tcnt AS (
            SELECT node, CAST(count(*) AS BIGINT) AS tri
            FROM (SELECT unnest([a, b, c]) AS node FROM tri)
            GROUP BY node
        )
        SELECT n.n_name AS nation,
               CAST(coalesce(d.deg, 0) AS BIGINT) AS degree,
               CAST(coalesce(t.tri, 0) AS BIGINT) AS n_triangles,
               CAST(CASE WHEN coalesce(d.deg, 0) >= 2
                         THEN (10000 * 2 * coalesce(t.tri, 0))
                              // (d.deg * (d.deg - 1))
                         ELSE 0 END AS BIGINT) AS lcc_fp4
        FROM nation n
        LEFT JOIN deg d ON d.node = n.n_nationkey
        LEFT JOIN tcnt t ON t.node = n.n_nationkey
        ORDER BY nation
    """,
    tags=("graph", "triangles", "clustering"),
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the undirected nation
    trade graph: c(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — how close each
    node's neighborhood is to a clique. The global triangle count
    (graph_triangle_count) says how cliquish the graph is overall;
    the LOCAL coefficient ranks nodes by it, which is the form
    community detection and fraud heuristics actually consume.
    Triangles enumerate once via the oriented wedge-close join
    (a<b<c, exactly the graph_triangle_count machinery) and explode
    to corners; degree comes from the canonicalized edge list's
    endpoint multiset. The coefficient is an exact fixed-point ratio
    of BIGINTs (numerator 2T·10⁴, denominator deg·(deg−1); deg<2 → 0
    by convention).

    Scale shape: identical to graph_triangle_count — the edge list is
    DISTINCT-collapsed before any self-join, orientation bounds the
    wedge join, degrees are a counts-only aggregate, and the final
    assembly joins three node-indexed tables of |V| rows under
    broadcast. No windows, no single-partition stages."""
    nation = load_table(spark, sf_dir, "nation")
    e = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    und = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .persist()  # endpoint degree scan + three-way wedge join below
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    e2 = und.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        und.join(e2, und.b == e2.b2)
        .join(e3, (und.a == e3.a3) & (e2.c == e3.c3))
        .select("a", "b", "c")
    )
    tcnt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("tri"))
    )
    out = (
        nation.join(
            F.broadcast(deg), deg.node == nation.n_nationkey, "left"
        )
        .drop("node")
        .join(F.broadcast(tcnt), tcnt.node == nation.n_nationkey, "left")
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("degree"),
            F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.coalesce(F.col("deg"), F.lit(0)) >= 2,
                F.expr("(10000 * 2 * coalesce(tri, 0)) div (deg * (deg - 1))"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("lcc_fp4"),
        )
        .orderBy("nation")
    )
    return out


# --- batch 186: calibration reliability bins + ECE ---------------------------


@register(
    "ml_calibration_bins",
    oracle=f"""
        WITH per_user AS ({_PER_USER_SQL}),
        b AS (
            SELECT least(score, 10) AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS pos
            FROM per_user GROUP BY 1
        ),
        g AS (
            SELECT bin, n, pos,
                   CAST(1000 * bin AS BIGINT) AS pred_fp4,
                   (10000 * pos) // n AS obs_fp4,
                   abs(1000 * bin - (10000 * pos) // n) AS gap_fp4
            FROM b
        ),
        e AS (
            SELECT CAST((sum(n * gap_fp4)) // sum(n) AS BIGINT) AS ece_fp4 FROM g
        )
        SELECT bin, n AS n_users, pos AS n_pos,
               pred_fp4, obs_fp4, gap_fp4, e.ece_fp4
        FROM g CROSS JOIN e ORDER BY bin
    """,
    tags=("ml", "metrics", "calibration"),
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error for the
    click-count propensity model of ml_click_purchase_auc (the same
    naive calibration map its Brier term uses: p = min(score,10)/10).
    One row per predicted-probability bin: user count, positives,
    predicted probability (exact, 1e-4 fixed point), observed rate,
    and the |pred − obs| gap; ECE is the n-weighted mean gap — the
    number a model card quotes next to AUC/Brier. AUC says the
    ranking is good; the reliability diagram says whether the scores
    can be READ as probabilities, and which bins lie.

    Scale shape: one groupBy(user_id) over the fact table (the family's
    single fact shuffle), then an 11-bin aggregate and a broadcast of
    the 1-row ECE scalar back onto the bins. Every compared value is
    an exact BIGINT (pred is exact by construction; obs and ECE are
    single floor divisions on non-negative integers)."""
    pu = _per_user(spark, sf_dir)
    b = pu.groupBy(F.least("score", F.lit(10)).alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    g = b.select(
        "bin",
        "n",
        "pos",
        (F.lit(1000) * F.col("bin")).cast("long").alias("pred_fp4"),
        F.expr("(10000 * pos) div n").alias("obs_fp4"),
        F.abs(
            F.lit(1000) * F.col("bin") - F.expr("(10000 * pos) div n")
        ).alias("gap_fp4"),
    )
    e = g.agg(F.expr("sum(n * gap_fp4) div sum(n)").alias("ece_fp4"))
    return (
        g.crossJoin(F.broadcast(e))
        .select("bin", F.col("n").alias("n_users"), F.col("pos").alias("n_pos"),
                "pred_fp4", "obs_fp4", "gap_fp4", "ece_fp4")
        .orderBy("bin")
    )


# --- batch 187: precision/recall operating-point ladder ----------------------


@register(
    "ml_pr_threshold_ladder",
    oracle=f"""
        WITH per_user AS ({_PER_USER_SQL}),
        pv AS (
            SELECT score AS v, CAST(sum(y) AS BIGINT) AS a,
                   CAST(count(*) AS BIGINT) AS m
            FROM per_user GROUP BY score
        ),
        tot AS (
            SELECT CAST(sum(a) AS BIGINT) AS n_pos,
                   CAST(sum(m - a) AS BIGINT) AS n_neg
            FROM pv
        ),
        th AS (SELECT unnest([1,2,3,4,5,6,7,8,9,10]) AS t),
        agg AS (
            SELECT th.t,
                   CAST(coalesce(sum(CASE WHEN pv.v >= th.t
                                          THEN pv.a END), 0) AS BIGINT) AS tp,
                   CAST(coalesce(sum(CASE WHEN pv.v >= th.t
                                          THEN pv.m - pv.a END), 0)
                        AS BIGINT) AS fp
            FROM th LEFT JOIN pv ON pv.v >= th.t
            GROUP BY th.t
        )
        SELECT t AS threshold, tp, fp,
               n_pos - tp AS fn, n_neg - fp AS tn,
               CAST(CASE WHEN tp + fp = 0 THEN 0
                         ELSE (10000 * tp) // (tp + fp) END
                    AS BIGINT) AS precision_fp4,
               CAST(CASE WHEN n_pos = 0 THEN 0
                         ELSE (10000 * tp) // n_pos END
                    AS BIGINT) AS recall_fp4,
               CAST(CASE WHEN tp + fp + n_pos = 0 THEN 0
                         ELSE (20000 * tp) // (tp + fp + n_pos) END
                    AS BIGINT) AS f1_fp4
        FROM agg CROSS JOIN tot ORDER BY t
    """,
    tags=("ml", "metrics", "classification"),
)
def ml_pr_threshold_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix and precision/recall/F1 at every operating
    point of the click-count score (predict positive when
    score ≥ t, t = 1..10): the table behind a precision-recall curve
    and the artifact used to PICK a threshold, which AUC alone cannot
    do. F1 uses the integer identity 2PR/(P+R) = 2tp/(tp+fp+n_pos),
    so precision, recall, and F1 are each ONE floor division on
    non-negative BIGINTs — engine-exact with no intermediate ratio.

    Scale shape: the fact table collapses to per-user rows (single
    shuffle), then to the distinct-score table pv — cardinality
    bounded by the score domain, not by users — and the threshold
    ladder is a broadcast theta-join of a 10-row literal table
    against pv. Thresholds above the observed maximum keep their row
    (LEFT JOIN, zero-filled) so the ladder's shape is stable across
    scale factors."""
    pu = _per_user(spark, sf_dir)
    pv = pu.groupBy(F.col("score").alias("v")).agg(
        F.sum("y").cast("long").alias("a"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    tot = pv.agg(
        F.sum("a").cast("long").alias("n_pos"),
        F.sum(F.col("m") - F.col("a")).cast("long").alias("n_neg"),
    )
    th = spark.range(1, 11).select(F.col("id").cast("long").alias("t"))
    agg = (
        F.broadcast(th)
        .join(pv, pv.v >= F.col("t"), "left")
        .groupBy("t")
        .agg(
            F.coalesce(F.sum("a"), F.lit(0)).cast("long").alias("tp"),
            F.coalesce(F.sum(F.col("m") - F.col("a")), F.lit(0))
            .cast("long")
            .alias("fp"),
        )
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            F.col("t").alias("threshold"),
            "tp",
            "fp",
            (F.col("n_pos") - F.col("tp")).cast("long").alias("fn"),
            (F.col("n_neg") - F.col("fp")).cast("long").alias("tn"),
            F.when(F.col("tp") + F.col("fp") == 0, F.lit(0))
            .otherwise(F.expr("(10000 * tp) div (tp + fp)"))
            .cast("long")
            .alias("precision_fp4"),
            F.when(F.col("n_pos") == 0, F.lit(0))
            .otherwise(F.expr("(10000 * tp) div n_pos"))
            .cast("long")
            .alias("recall_fp4"),
            F.when(F.col("tp") + F.col("fp") + F.col("n_pos") == 0, F.lit(0))
            .otherwise(F.expr("(20000 * tp) div (tp + fp + n_pos)"))
            .cast("long")
            .alias("f1_fp4"),
        )
        .orderBy("threshold")
    )


# --- batch 188: Paasche + Fisher price indices -------------------------------


@register(
    "orders_fisher_price_index",
    oracle="""
        WITH pm AS (
            SELECT l_partkey AS part, strftime(l_shipdate, '%Y-%m') AS m,
                   CAST(sum(CAST(floor(l_extendedprice * 10000) AS BIGINT))
                        AS BIGINT) AS e4,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
            FROM lineitem GROUP BY 1, 2
        ),
        priced AS (SELECT part, m, e4 // q AS p4, q FROM pm),
        base AS (
            SELECT part, p4 AS p0, q AS q0 FROM priced
            WHERE m = (SELECT min(m) FROM priced)
        ),
        idx AS (
            SELECT pr.m,
                   CAST(sum(pr.p4 * b.q0) AS BIGINT) AS lasp_cur,
                   CAST(sum(b.p0 * b.q0) AS BIGINT) AS lasp_ref,
                   CAST(sum(pr.p4 * pr.q) AS BIGINT) AS paas_cur,
                   CAST(sum(b.p0 * pr.q) AS BIGINT) AS paas_ref
            FROM priced pr JOIN base b ON b.part = pr.part
            GROUP BY pr.m
        )
        SELECT m AS month,
               CAST(floor(CAST(lasp_cur AS DOUBLE) * 10000 / lasp_ref)
                    AS BIGINT) AS laspeyres4,
               CAST(floor(CAST(paas_cur AS DOUBLE) * 10000 / paas_ref)
                    AS BIGINT) AS paasche4,
               CAST(floor(sqrt((CAST(lasp_cur AS DOUBLE) * 10000 / lasp_ref)
                               * (CAST(paas_cur AS DOUBLE) * 10000 / paas_ref)))
                    AS BIGINT) AS fisher4
        FROM idx ORDER BY month
    """,
    tags=("relational", "aggregate", "economics"),
)
def orders_fisher_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paasche and Fisher price indices per ship month, completing
    the index-number triple started by orders_laspeyres_price_index
    (same exact integer micro-price table): Laspeyres weights by the
    BASE month's quantities (overstates inflation — consumers
    substitute away), Paasche by the CURRENT month's (understates),
    and Fisher is their geometric mean — the "ideal index" both
    national statistics offices publish. Basket totals are exact
    BIGINT dot products; the two ratios and the final sqrt stay in
    the engine-exact double subset (+, *, /, sqrt are correctly
    rounded IEEE in both engines), floored once at 1e-4.

    Scale shape: identical to the Laspeyres query — one map-side
    aggregate of lineitem per (part, month), the base-month slice
    joined back on part (AQE broadcasts it), a |months|-row result."""
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_format("l_shipdate", "yyyy-MM").alias("m"),
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 10000).cast("long"))
        .cast("long")
        .alias("e4"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"),
    )
    priced = pm.select(
        "part", "m", F.expr("e4 div q").alias("p4"), "q"
    ).persist()  # base-month slice + monthly join both read it
    base_month = priced.agg(F.min("m").alias("m0"))
    base = priced.join(
        F.broadcast(base_month), priced.m == F.col("m0")
    ).select("part", F.col("p4").alias("p0"), F.col("q").alias("q0"))
    idx = (
        priced.join(base, "part")
        .groupBy("m")
        .agg(
            F.sum(F.col("p4") * F.col("q0")).cast("long").alias("lasp_cur"),
            F.sum(F.col("p0") * F.col("q0")).cast("long").alias("lasp_ref"),
            F.sum(F.col("p4") * F.col("q")).cast("long").alias("paas_cur"),
            F.sum(F.col("p0") * F.col("q")).cast("long").alias("paas_ref"),
        )
    )
    lasp = F.col("lasp_cur").cast("double") * 10000 / F.col("lasp_ref")
    paas = F.col("paas_cur").cast("double") * 10000 / F.col("paas_ref")
    return idx.select(
        F.col("m").alias("month"),
        F.floor(lasp).cast("long").alias("laspeyres4"),
        F.floor(paas).cast("long").alias("paasche4"),
        F.floor(F.sqrt(lasp * paas)).cast("long").alias("fisher4"),
    ).orderBy("month")


# --- batch 189: uplift / Qini targeting-depth ladder -------------------------


@register(
    "ml_uplift_qini",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   CAST(count_if(event_type = 'click') AS BIGINT) AS score,
                   CASE WHEN count_if(event_type = 'purchase')
                             > count_if(event_type = 'error')
                        THEN 1 ELSE 0 END AS y,
                   CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                             IN ('0','1','2','3','4','5','6','7')
                        THEN 1 ELSE 0 END AS trt
            FROM events GROUP BY user_id
        ),
        pv AS (
            SELECT score AS v,
                   CAST(count_if(trt = 1) AS BIGINT) AS nt_v,
                   CAST(sum(CASE WHEN trt = 1 THEN y ELSE 0 END)
                        AS BIGINT) AS at_v,
                   CAST(count_if(trt = 0) AS BIGINT) AS nc_v,
                   CAST(sum(CASE WHEN trt = 0 THEN y ELSE 0 END)
                        AS BIGINT) AS ac_v
            FROM per_user GROUP BY score
        ),
        cum AS (
            SELECT v,
                   CAST(sum(nt_v) OVER (ORDER BY v DESC) AS BIGINT) AS nt,
                   CAST(sum(at_v) OVER (ORDER BY v DESC) AS BIGINT) AS conv_t,
                   CAST(sum(nc_v) OVER (ORDER BY v DESC) AS BIGINT) AS nc,
                   CAST(sum(ac_v) OVER (ORDER BY v DESC) AS BIGINT) AS conv_c
            FROM pv
        )
        SELECT v AS score_cutoff, nt, conv_t, nc, conv_c,
               conv_t * nc - conv_c * nt AS uplift_num,
               nt * nc AS uplift_den,
               CAST(CASE WHEN nt * nc = 0 THEN 0
                         WHEN conv_t * nc - conv_c * nt < 0
                         THEN -((10000 * (conv_c * nt - conv_t * nc))
                                // (nt * nc))
                         ELSE (10000 * (conv_t * nc - conv_c * nt))
                              // (nt * nc) END
                    AS BIGINT) AS uplift_fp4
        FROM cum ORDER BY score_cutoff DESC
    """,
    tags=("ml", "causal", "uplift"),
)
def ml_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift (Qini-curve) ladder for the click-count score under a
    deterministic md5 A/B split of users (first hex digit 0-7 →
    treatment, the engine's standard hash-membership idiom — engine-,
    partition-, and scale-invariant): at every targeting depth
    "treat users with score ≥ v", the cumulative treated/control
    sizes and conversions and the incremental conversion rate
    conv_t/nt − conv_c/nc. This is the causal companion of the PR
    ladder: precision asks "of those flagged, how many convert";
    uplift asks "how many conversions did flagging CAUSE", which is
    what a campaign-targeting decision actually needs. The rate
    difference is emitted as an exact integer numerator/denominator
    pair plus a sign-split fixed-point quotient (negatives routed
    through -((10⁴·|num|) div den) so both engines truncate toward
    zero identically).

    Scale shape: one groupBy(user_id) fact shuffle with the split
    and label computed in-aggregate, then all four cumulatives come
    from ONE descending window over the distinct-score table —
    domain-bounded like the AUC rank cumulation, never user-bounded."""
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
    ).withColumn(
        "trt",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
                *"01234567"
            ),
            1,
        ).otherwise(0),
    )
    pv = pu.groupBy(F.col("score").alias("v")).agg(
        F.count_if(F.col("trt") == 1).cast("long").alias("nt_v"),
        F.sum(F.when(F.col("trt") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("at_v"),
        F.count_if(F.col("trt") == 0).cast("long").alias("nc_v"),
        F.sum(F.when(F.col("trt") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("ac_v"),
    )
    w = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = pv.select(
        "v",
        F.sum("nt_v").over(w).cast("long").alias("nt"),
        F.sum("at_v").over(w).cast("long").alias("conv_t"),
        F.sum("nc_v").over(w).cast("long").alias("nc"),
        F.sum("ac_v").over(w).cast("long").alias("conv_c"),
    )
    num = F.col("conv_t") * F.col("nc") - F.col("conv_c") * F.col("nt")
    den = F.col("nt") * F.col("nc")
    return cum.select(
        F.col("v").alias("score_cutoff"),
        "nt",
        "conv_t",
        "nc",
        "conv_c",
        num.cast("long").alias("uplift_num"),
        den.cast("long").alias("uplift_den"),
        F.when(den == 0, F.lit(0))
        .when(
            num < 0,
            -F.expr(
                "(10000 * (conv_c * nt - conv_t * nc)) div (nt * nc)"
            ),
        )
        .otherwise(
            F.expr("(10000 * (conv_t * nc - conv_c * nt)) div (nt * nc)")
        )
        .cast("long")
        .alias("uplift_fp4"),
    ).orderBy(F.col("score_cutoff").desc())


# --- batch 190: Copeland pairwise trade-dominance ranking --------------------

_FLOW_SQL = """
    SELECT n1.n_name AS a, n2.n_name AS b,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice
                               * (1 - l.l_discount) * 10000)
                         AS BIGINT)) AS BIGINT) AS v
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY 1, 2
"""


@register(
    "nation_copeland_ranking",
    oracle=f"""
        WITH flow AS ({_FLOW_SQL}),
        pairs AS (
            SELECT na.n_name AS a, nb.n_name AS b
            FROM nation na JOIN nation nb ON na.n_name < nb.n_name
        ),
        scored AS (
            SELECT p.a, p.b,
                   coalesce(f1.v, 0) AS vab, coalesce(f2.v, 0) AS vba
            FROM pairs p
            LEFT JOIN flow f1 ON f1.a = p.a AND f1.b = p.b
            LEFT JOIN flow f2 ON f2.a = p.b AND f2.b = p.a
        ),
        res AS (
            SELECT a AS nation,
                   CASE WHEN vab > vba THEN 1 ELSE 0 END AS w,
                   CASE WHEN vab < vba THEN 1 ELSE 0 END AS lo,
                   CASE WHEN vab = vba THEN 1 ELSE 0 END AS ti
            FROM scored
            UNION ALL
            SELECT b,
                   CASE WHEN vba > vab THEN 1 ELSE 0 END,
                   CASE WHEN vba < vab THEN 1 ELSE 0 END,
                   CASE WHEN vab = vba THEN 1 ELSE 0 END
            FROM scored
        )
        SELECT nation,
               CAST(sum(w) AS BIGINT) AS wins,
               CAST(sum(lo) AS BIGINT) AS losses,
               CAST(sum(ti) AS BIGINT) AS ties,
               CAST(sum(w) - sum(lo) AS BIGINT) AS copeland
        FROM res GROUP BY nation
        ORDER BY copeland DESC, nation
    """,
    tags=("graph", "ranking", "economics"),
)
def nation_copeland_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copeland pairwise-majority ranking of nations by bilateral
    trade dominance: nation A "beats" B when A exports more to B than
    B exports to A (exact fixed-point discounted revenue, the
    nation_trade_balance_matrix flow); Copeland score = wins − losses
    over all 24 opponents. This is the tournament-method companion to
    supplier_borda_scorecard — Borda sums positional ranks (scores
    are comparable magnitudes), Copeland counts pairwise victories
    (robust to one outlier corridor distorting a rank sum). Missing
    corridors count as zero flow, so every pair is decided; equal
    flows (including double-missing) are ties.

    Scale shape: the star join aggregates the fact to the
    |nations|²-bounded flow matrix (one fact shuffle, dims
    broadcast); the complete pair grid is a broadcast self-join of
    the 25-row nation dim, the two flow lookups are broadcast hash
    joins against the matrix, and the verdict explosion + rollup
    touch ≤ 2·C(25,2) rows."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("k1"), F.col("n_name").alias("a"))
    n2 = n.select(F.col("n_nationkey").alias("k2"), F.col("n_name").alias("b"))
    flow = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("k1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("k2"))
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("long")
            )
            .cast("long")
            .alias("v")
        )
    )
    na = n.select(F.col("n_name").alias("pa"))
    nb = n.select(F.col("n_name").alias("pb"))
    pairs = na.join(F.broadcast(nb), F.col("pa") < F.col("pb"))
    f1 = flow.select(F.col("a").alias("f1a"), F.col("b").alias("f1b"), F.col("v").alias("vab0"))
    f2 = flow.select(F.col("a").alias("f2a"), F.col("b").alias("f2b"), F.col("v").alias("vba0"))
    scored = (
        pairs.join(
            F.broadcast(f1),
            (F.col("f1a") == F.col("pa")) & (F.col("f1b") == F.col("pb")),
            "left",
        )
        .join(
            F.broadcast(f2),
            (F.col("f2a") == F.col("pb")) & (F.col("f2b") == F.col("pa")),
            "left",
        )
        .select(
            "pa",
            "pb",
            F.coalesce(F.col("vab0"), F.lit(0)).alias("vab"),
            F.coalesce(F.col("vba0"), F.lit(0)).alias("vba"),
        )
    )
    res = scored.select(
        F.col("pa").alias("nation"),
        F.when(F.col("vab") > F.col("vba"), 1).otherwise(0).alias("w"),
        F.when(F.col("vab") < F.col("vba"), 1).otherwise(0).alias("lo"),
        F.when(F.col("vab") == F.col("vba"), 1).otherwise(0).alias("ti"),
    ).unionAll(
        scored.select(
            F.col("pb").alias("nation"),
            F.when(F.col("vba") > F.col("vab"), 1).otherwise(0).alias("w"),
            F.when(F.col("vba") < F.col("vab"), 1).otherwise(0).alias("lo"),
            F.when(F.col("vab") == F.col("vba"), 1).otherwise(0).alias("ti"),
        )
    )
    return (
        res.groupBy("nation")
        .agg(
            F.sum("w").cast("long").alias("wins"),
            F.sum("lo").cast("long").alias("losses"),
            F.sum("ti").cast("long").alias("ties"),
            (F.sum("w") - F.sum("lo")).cast("long").alias("copeland"),
        )
        .orderBy(F.col("copeland").desc(), "nation")
    )


# --- batch 191: cross-source vocabulary Jaccard matrix -----------------------


@register(
    "text_source_vocab_jaccard",
    oracle="""
        WITH tok0 AS (
            SELECT source,
                   unnest(string_split_regex(lower(text), '\\s+')) AS t
            FROM documents
        ),
        tok AS (
            SELECT DISTINCT source, t FROM tok0 WHERE t <> ''
        ),
        vs AS (
            SELECT source, CAST(count(*) AS BIGINT) AS vocab
            FROM tok GROUP BY source
        ),
        inter AS (
            SELECT x.source AS sa, y.source AS sb,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM tok x JOIN tok y
              ON x.t = y.t AND x.source < y.source
            GROUP BY 1, 2
        )
        SELECT i.sa AS source_a, i.sb AS source_b,
               va.vocab AS vocab_a, vb.vocab AS vocab_b, i.n_common,
               (10000 * i.n_common)
                   // (va.vocab + vb.vocab - i.n_common) AS jaccard_fp4
        FROM inter i
        JOIN vs va ON va.source = i.sa
        JOIN vs vb ON vb.source = i.sb
        ORDER BY source_a, source_b
    """,
    tags=("llm-data", "text", "profiling"),
)
def text_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source×source vocabulary-overlap matrix: the Jaccard
    similarity of each pair of ingestion sources' distinct-token
    vocabularies (shared whitespace tokenization, parity with
    string_split_regex). dedup_cross_source_matrix asks whether
    sources share whole DOCUMENTS; this asks whether they speak the
    same LANGUAGE — a high vocabulary Jaccard with low document
    overlap marks a source as topically redundant, the signal used
    when deciding which sources to down-weight in a corpus mix
    (complementing sample_temperature_mix).

    Scale shape: tokenization is a map-only explode; the (source,
    token) DISTINCT is a counts-free aggregate with map-side partial
    dedup; the pair intersection joins the inverted index with
    ITSELF ON THE TOKEN KEY, so candidate volume is Σ_t df_t² with
    df bounded by the source count (a few dozen), i.e. linear in
    vocabulary — the same bounded-fanout shape as the shingle
    inverted index in dedup_ngram_jaccard, never |vocab|² pairs.
    The final assembly joins the tiny per-source vocab sizes under
    broadcast."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("t"),
        )
        .filter(F.col("t") != "")
        .distinct()
        .persist()  # vocab sizes + self-join both read it
    )
    vs = tok.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    right = tok.select(F.col("source").alias("sb"), F.col("t").alias("t2"))
    inter = (
        tok.join(
            right,
            (F.col("t") == F.col("t2")) & (F.col("source") < F.col("sb")),
        )
        .groupBy(F.col("source").alias("sa"), "sb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    va = vs.select(F.col("source").alias("va_s"), F.col("vocab").alias("vocab_a"))
    vb = vs.select(F.col("source").alias("vb_s"), F.col("vocab").alias("vocab_b"))
    return (
        inter.join(F.broadcast(va), F.col("va_s") == F.col("sa"))
        .join(F.broadcast(vb), F.col("vb_s") == F.col("sb"))
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "vocab_a",
            "vocab_b",
            "n_common",
            F.expr(
                "(10000 * n_common) div (vocab_a + vocab_b - n_common)"
            ).alias("jaccard_fp4"),
        )
        .orderBy("source_a", "source_b")
    )


# --- batch 192: bullwhip-effect variance amplification -----------------------


@register(
    "lineitem_bullwhip_ratio",
    oracle="""
        WITH months AS (
            SELECT DISTINCT m FROM (
                SELECT strftime(l_shipdate, '%Y-%m') AS m FROM lineitem
                UNION ALL
                SELECT strftime(o.o_orderdate, '%Y-%m') AS m
                FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            )
        ),
        parts AS (SELECT DISTINCT l_partkey AS part FROM lineitem),
        ord_m AS (
            SELECT l.l_partkey AS part, strftime(o.o_orderdate, '%Y-%m') AS m,
                   CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        ),
        ship_m AS (
            SELECT l_partkey AS part, strftime(l_shipdate, '%Y-%m') AS m,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
            FROM lineitem GROUP BY 1, 2
        ),
        grid AS (
            SELECT p.part, mo.m,
                   CAST(coalesce(o.q, 0) AS BIGINT) AS qo,
                   CAST(coalesce(s.q, 0) AS BIGINT) AS qs
            FROM parts p
            CROSS JOIN months mo
            LEFT JOIN ord_m o ON o.part = p.part AND o.m = mo.m
            LEFT JOIN ship_m s ON s.part = p.part AND s.m = mo.m
        ),
        ss AS (
            SELECT part,
                   CAST(count(*) AS BIGINT) AS n_months,
                   CAST(count(*) * sum(qo * qo) - sum(qo) * sum(qo)
                        AS BIGINT) AS ss_order,
                   CAST(count(*) * sum(qs * qs) - sum(qs) * sum(qs)
                        AS BIGINT) AS ss_ship
            FROM grid GROUP BY part
        )
        SELECT part, n_months, ss_order, ss_ship,
               CAST(CASE WHEN ss_order = 0 THEN 0
                         ELSE (10000 * ss_ship) // ss_order END
                    AS BIGINT) AS bullwhip_fp4,
               CAST(CASE WHEN ss_ship > ss_order THEN 1 ELSE 0 END
                    AS BIGINT) AS amplifying
        FROM ss ORDER BY part
    """,
    tags=("supply-chain", "statistics", "variance"),
)
def lineitem_bullwhip_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bullwhip-effect ratio per part: the variance of monthly SHIPPED
    quantity over the variance of monthly ORDERED quantity (demand as
    stated on the order date vs supply as executed on ship dates).
    Shipping consolidates and delays order lines, so the shipped
    series is a re-batched transform of the demand series; a ratio
    above 1 is the classic bullwhip amplification a supply chain
    measures before sizing safety stock (the diagnostic companion to
    lineitem_eoq_policy / lineitem_croston_forecast /
    lineitem_demand_classification). Both series are zero-filled onto
    the SAME global month spine so the two variances share n, letting
    the ratio reduce to the exact integer sum-of-squares quotient
    SS = n·Σq² − (Σq)² — no division until the final fixed point.

    Scale shape: two counts-only (part, month) aggregates of the fact
    (map-side combine), the month spine is a tiny DISTINCT broadcast
    cross-joined onto the part list (map-only row build, |parts|·|months|
    rows — linear in parts), two broadcast-key left joins, and one
    final part-keyed aggregate. No windows; nothing ever sorts the
    fact."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lo = li.join(o, li.l_orderkey == o.o_orderkey)
    months = (
        li.select(F.date_format("l_shipdate", "yyyy-MM").alias("m"))
        .unionAll(lo.select(F.date_format("o_orderdate", "yyyy-MM").alias("m")))
        .distinct()
    )
    parts = li.select(F.col("l_partkey").alias("part")).distinct()
    ord_m = lo.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_format("o_orderdate", "yyyy-MM").alias("m"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qo0"))
    ship_m = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_format("l_shipdate", "yyyy-MM").alias("m"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qs0"))
    grid = (
        parts.crossJoin(F.broadcast(months))
        .join(ord_m, ["part", "m"], "left")
        .join(ship_m, ["part", "m"], "left")
        .select(
            "part",
            "m",
            F.coalesce(F.col("qo0"), F.lit(0)).cast("long").alias("qo"),
            F.coalesce(F.col("qs0"), F.lit(0)).cast("long").alias("qs"),
        )
    )
    ss = grid.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        (
            F.count(F.lit(1)) * F.sum(F.col("qo") * F.col("qo"))
            - F.sum("qo") * F.sum("qo")
        )
        .cast("long")
        .alias("ss_order"),
        (
            F.count(F.lit(1)) * F.sum(F.col("qs") * F.col("qs"))
            - F.sum("qs") * F.sum("qs")
        )
        .cast("long")
        .alias("ss_ship"),
    )
    return ss.select(
        "part",
        "n_months",
        "ss_order",
        "ss_ship",
        F.when(F.col("ss_order") == 0, F.lit(0))
        .otherwise(F.expr("(10000 * ss_ship) div ss_order"))
        .cast("long")
        .alias("bullwhip_fp4"),
        F.when(F.col("ss_ship") > F.col("ss_order"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("amplifying"),
    ).orderBy("part")


# --- batch 193: directed-graph reciprocity ------------------------------------


@register(
    "graph_reciprocity",
    oracle=f"""
        WITH flow AS MATERIALIZED ({_FLOW_SQL}),
        paired AS (
            SELECT f.a, f.b, f.v AS vab, r.v AS vba
            FROM flow f
            LEFT JOIN flow r ON r.a = f.b AND r.b = f.a
        )
        SELECT a AS nation,
               CAST(count(*) AS BIGINT) AS out_edges,
               CAST(count_if(vba IS NOT NULL) AS BIGINT) AS reciprocated,
               CAST((10000 * count_if(vba IS NOT NULL)) // count(*)
                   AS BIGINT) AS reciprocity_fp4,
               CAST(sum(least(vab, coalesce(vba, 0))) AS BIGINT)
                   AS matched_flow_fp,
               CAST(sum(vab) AS BIGINT) AS out_flow_fp,
               CAST((10000 * sum(least(vab, coalesce(vba, 0)))) // sum(vab)
                   AS BIGINT) AS weighted_reciprocity_fp4
        FROM paired GROUP BY a ORDER BY nation
    """,
    tags=("graph", "reciprocity", "economics"),
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation directed-edge reciprocity on the weighted trade
    graph: of this nation's outgoing corridors, how many have ANY
    return flow (edge reciprocity), and how much of its outgoing
    trade value is matched by return value on the same corridor
    (weighted reciprocity, Σ min(v_ab, v_ba) / Σ v_ab — the
    Squartini-Garlaschelli weighted form). Complements
    nation_copeland_ranking (who WINS each corridor) with how
    SYMMETRIC each nation's trade relationships are; a pure exporter
    scores near 0, balanced-trade nations near 1. All flows are
    exact fixed-point revenue sums; both ratios are single floor
    divisions on non-negative BIGINTs.

    Scale shape: one star-join fact aggregate to the |nations|²
    matrix, one broadcast self-join on the swapped pair, one
    25-group rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("k1"), F.col("n_name").alias("a"))
    n2 = n.select(F.col("n_nationkey").alias("k2"), F.col("n_name").alias("b"))
    flow = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("k1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("k2"))
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("long")
            )
            .cast("long")
            .alias("v")
        )
        .persist()  # forward scan + swapped-pair self-join below
    )
    rev = flow.select(
        F.col("a").alias("ra"), F.col("b").alias("rb"), F.col("v").alias("vba")
    )
    paired = flow.join(
        F.broadcast(rev),
        (F.col("ra") == F.col("b")) & (F.col("rb") == F.col("a")),
        "left",
    )
    return (
        paired.groupBy(F.col("a").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("out_edges"),
            F.count_if(F.col("vba").isNotNull())
            .cast("long")
            .alias("reciprocated"),
            F.expr(
                "(10000 * count_if(vba IS NOT NULL)) div count(*)"
            ).alias("reciprocity_fp4"),
            F.sum(F.least(F.col("v"), F.coalesce(F.col("vba"), F.lit(0))))
            .cast("long")
            .alias("matched_flow_fp"),
            F.sum("v").cast("long").alias("out_flow_fp"),
            F.expr(
                "(10000 * sum(least(v, coalesce(vba, 0)))) div sum(v)"
            ).alias("weighted_reciprocity_fp4"),
        )
        .orderBy("nation")
    )


# --- batch 194: zone-map / partition-pruning audit ---------------------------

# (predicate name, lo, hi) value ranges probed against per-day
# partition min/max stats — the file-skipping question a lakehouse
# zone map answers.
_PRUNE_PREDICATES = [
    ("value_0_10", 0.0, 10.0),
    ("value_40_60", 40.0, 60.0),
    ("value_90_100", 90.0, 100.0),
    ("value_top_tail", 99.0, 1e9),
]


def _prune_pred_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT '{name}' AS pred, CAST({lo} AS DOUBLE) AS lo,"
        f" CAST({hi} AS DOUBLE) AS hi"
        for name, lo, hi in _PRUNE_PREDICATES
    )


@register(
    "layout_stats_pruning_audit",
    oracle=f"""
        WITH stats AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   min(value) AS v_min, max(value) AS v_max
            FROM events GROUP BY 1
        ),
        preds AS ({_prune_pred_sql()}),
        audit AS (
            SELECT p.pred, s.day, s.n_rows,
                   CASE WHEN s.v_max < p.lo OR s.v_min > p.hi
                        THEN 1 ELSE 0 END AS skipped
            FROM preds p CROSS JOIN stats s
        )
        SELECT pred,
               CAST(count(*) AS BIGINT) AS n_partitions,
               CAST(sum(skipped) AS BIGINT) AS skipped_partitions,
               CAST(sum(CASE WHEN skipped = 1 THEN n_rows ELSE 0 END)
                    AS BIGINT) AS skipped_rows,
               CAST(sum(CASE WHEN skipped = 0 THEN n_rows ELSE 0 END)
                    AS BIGINT) AS scanned_rows,
               CAST((10000 * sum(CASE WHEN skipped = 1 THEN n_rows ELSE 0 END))
                   // sum(n_rows) AS BIGINT) AS skip_ratio_fp4
        FROM audit GROUP BY pred ORDER BY pred
    """,
    tags=("layout", "zone-map", "lakehouse-ops"),
)
def layout_stats_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map / partition-pruning effectiveness audit: build per-day
    partition statistics (row count, min/max of the value column) —
    exactly what parquet footers and Iceberg manifests store — then
    replay a set of range predicates against the stats alone and
    report how many partitions and rows each predicate could SKIP
    without reading data. A partition is skippable iff its [min, max]
    interval misses [lo, hi] entirely. This quantifies whether the
    current time-partitioned layout serves value-range queries (low
    skip ratio → the table wants Z-ordering on value, the decision
    layout_zorder_audit then scores).

    Scale shape: the stats table is one counts-and-extremes aggregate
    per partition key (map-side combine; at 100 TB this is the
    manifest scan, not a data scan), and the audit is a 4-row literal
    table cross-applied to |days| stat rows — dimension-bounded.
    Min/max comparisons on doubles are exact (no arithmetic, just
    ordering), and every reported number is a BIGINT count or one
    floor division."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )
    preds = spark.createDataFrame(
        [(name, float(lo), float(hi)) for name, lo, hi in _PRUNE_PREDICATES],
        "pred string, lo double, hi double",
    )
    audit = F.broadcast(preds).crossJoin(stats).select(
        "pred",
        "n_rows",
        F.when(
            (F.col("v_max") < F.col("lo")) | (F.col("v_min") > F.col("hi")), 1
        )
        .otherwise(0)
        .alias("skipped"),
    )
    return (
        audit.groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_partitions"),
            F.sum("skipped").cast("long").alias("skipped_partitions"),
            F.sum(F.when(F.col("skipped") == 1, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("skipped_rows"),
            F.sum(F.when(F.col("skipped") == 0, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("scanned_rows"),
            F.expr(
                "(10000 * sum(CASE WHEN skipped = 1 THEN n_rows ELSE 0 END))"
                " div sum(n_rows)"
            ).alias("skip_ratio_fp4"),
        )
        .orderBy("pred")
    )


# --- batch 195: KS separation of the score distributions ---------------------


@register(
    "ml_score_ks_separation",
    oracle=f"""
        WITH per_user AS ({_PER_USER_SQL}),
        pv AS (
            SELECT score AS v, CAST(sum(y) AS BIGINT) AS a,
                   CAST(count(*) - sum(y) AS BIGINT) AS b
            FROM per_user GROUP BY score
        ),
        cum AS (
            SELECT v,
                   CAST(sum(a) OVER (ORDER BY v) AS BIGINT) AS cp,
                   CAST(sum(b) OVER (ORDER BY v) AS BIGINT) AS cn
            FROM pv
        ),
        tot AS (
            SELECT CAST(sum(a) AS BIGINT) AS n_pos,
                   CAST(sum(b) AS BIGINT) AS n_neg
            FROM pv
        ),
        gaps AS (
            SELECT v, abs(cp * n_neg - cn * n_pos) AS gap_num
            FROM cum CROSS JOIN tot
        )
        SELECT t.n_pos, t.n_neg,
               (SELECT max(gap_num) FROM gaps) AS ks_num,
               CAST(t.n_pos * t.n_neg AS BIGINT) AS ks_den,
               (10000 * (SELECT max(gap_num) FROM gaps))
                   // (t.n_pos * t.n_neg) AS ks_fp4,
               (SELECT min(v) FROM gaps
                WHERE gap_num = (SELECT max(gap_num) FROM gaps))
                   AS ks_cutoff
        FROM tot t
    """,
    tags=("ml", "metrics", "statistics"),
)
def ml_score_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov separation of the click-count score between
    converters and non-converters: max over cutoffs v of
    |F_pos(v) − F_neg(v)| — the credit-scoring industry's standard
    single-number discrimination metric next to AUC (KS reports the
    BEST single cutoff's separation; AUC integrates over all of
    them), plus the cutoff where the maximum is attained (smallest
    such score on ties). The gap is kept as the exact integer
    |cp·n_neg − cn·n_pos| over the common denominator n_pos·n_neg, so
    the max, the argmax, and the final fixed-point ratio are all
    engine-exact. Completes the ML-metrics family's discrimination
    views: AUC (ranking), KS (best cutoff), PR ladder (all cutoffs),
    calibration (probability quality), Qini (causal value).

    Scale shape: one groupBy(user_id) fact shuffle, then the ECDF
    cumulation runs on the distinct-score table (domain-bounded, the
    AUC/Qini pattern) and reduces to a single row."""
    pu = _per_user(spark, sf_dir)
    pv = pu.groupBy(F.col("score").alias("v")).agg(
        F.sum("y").cast("long").alias("a"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("b"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = pv.select(
        "v",
        F.sum("a").over(w).cast("long").alias("cp"),
        F.sum("b").over(w).cast("long").alias("cn"),
    )
    tot = pv.agg(
        F.sum("a").cast("long").alias("n_pos"),
        F.sum("b").cast("long").alias("n_neg"),
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        F.abs(F.col("cp") * F.col("n_neg") - F.col("cn") * F.col("n_pos")).alias(
            "gap_num"
        ),
        "n_pos",
        "n_neg",
    )
    mx = gaps.agg(F.max("gap_num").alias("mx"))
    return (
        gaps.crossJoin(F.broadcast(mx))
        .agg(
            F.max("n_pos").cast("long").alias("n_pos"),
            F.max("n_neg").cast("long").alias("n_neg"),
            F.max("gap_num").cast("long").alias("ks_num"),
            (F.max("n_pos") * F.max("n_neg")).cast("long").alias("ks_den"),
            F.expr(
                "(10000 * max(gap_num)) div (max(n_pos) * max(n_neg))"
            ).alias("ks_fp4"),
            F.min(F.when(F.col("gap_num") == F.col("mx"), F.col("v")))
            .cast("long")
            .alias("ks_cutoff"),
        )
    )


# --- batch 196: customer segment migration matrix ----------------------------

_MIG_SPLIT = "1996-01-01"  # fixture order dates span 1992-1998


def _freq_class_sql(cnt: str) -> str:
    return (
        f"CASE WHEN {cnt} = 0 THEN 'none' WHEN {cnt} = 1 THEN 'one'"
        f" WHEN {cnt} <= 3 THEN 'repeat' ELSE 'loyal' END"
    )


@register(
    "customer_segment_migration",
    oracle=f"""
        WITH per AS (
            SELECT o_custkey AS cust,
                   CAST(count_if(o_orderdate < DATE '{_MIG_SPLIT}')
                        AS BIGINT) AS c1,
                   CAST(count_if(o_orderdate >= DATE '{_MIG_SPLIT}')
                        AS BIGINT) AS c2
            FROM orders GROUP BY o_custkey
        ),
        seg AS (
            SELECT {_freq_class_sql('c1')} AS seg_before,
                   {_freq_class_sql('c2')} AS seg_after
            FROM per
        ),
        mat AS (
            SELECT seg_before, seg_after, CAST(count(*) AS BIGINT) AS n_cust
            FROM seg GROUP BY 1, 2
        ),
        tot AS (
            SELECT seg_before, CAST(sum(n_cust) AS BIGINT) AS row_total
            FROM mat GROUP BY seg_before
        )
        SELECT m.seg_before, m.seg_after, m.n_cust, t.row_total,
               (10000 * m.n_cust) // t.row_total AS row_share_fp4
        FROM mat m JOIN tot t USING (seg_before)
        ORDER BY seg_before, seg_after
    """,
    tags=("crm", "reporting", "migration"),
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer frequency-segment migration matrix across a fixed
    period split (orders before vs since {split}): each customer is
    classed none/one/repeat/loyal by order count IN EACH PERIOD, and
    the matrix counts every (before → after) transition with its
    row-conditional share — the CRM view behind churn and win-back
    programs (a heavy none→loyal column means acquisition; a heavy
    loyal→none column means churn). The class boundaries are fixed
    CASE buckets on exact BIGINT counts (not quantiles), so the
    matrix is engine- and scale-exact; row shares are one floor
    division each. Complements customer_rfm_segmentation (a single
    period's segments) and events_growth_accounting (daily user-level
    accounting) with the period-over-period transition structure.

    Scale shape: one conditional-count groupBy(custkey) over the
    fact (map-side combine), a map-only CASE classification, a
    ≤16-cell matrix aggregate, and a broadcast of the 4-row row
    totals. Single fact shuffle."""
    o = load_table(spark, sf_dir, "orders")
    split = F.lit(_MIG_SPLIT).cast("date")

    def klass(c):
        return (
            F.when(c == 0, "none")
            .when(c == 1, "one")
            .when(c <= 3, "repeat")
            .otherwise("loyal")
        )

    per = o.groupBy("o_custkey").agg(
        F.count_if(F.col("o_orderdate") < split).cast("long").alias("c1"),
        F.count_if(F.col("o_orderdate") >= split).cast("long").alias("c2"),
    )
    seg = per.select(
        klass(F.col("c1")).alias("seg_before"),
        klass(F.col("c2")).alias("seg_after"),
    )
    mat = seg.groupBy("seg_before", "seg_after").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust")
    )
    tot = mat.groupBy("seg_before").agg(
        F.sum("n_cust").cast("long").alias("row_total")
    )
    return (
        mat.join(F.broadcast(tot), "seg_before")
        .select(
            "seg_before",
            "seg_after",
            "n_cust",
            "row_total",
            F.expr("(10000 * n_cust) div row_total").alias("row_share_fp4"),
        )
        .orderBy("seg_before", "seg_after")
    )


customer_segment_migration.__doc__ = customer_segment_migration.__doc__.format(
    split=_MIG_SPLIT
)


# --- batch 197: Neyman stratified-sampling allocation -------------------------

_NEYMAN_BUDGET = 1000


@register(
    "sample_neyman_allocation",
    oracle=f"""
        WITH s AS (
            SELECT event_type AS stratum,
                   CAST(count(*) AS BIGINT) AS n_h,
                   CAST(count(*) * sum(v2 * v2) - sum(v2) * sum(v2)
                        AS BIGINT) AS ss_h
            FROM (SELECT event_type,
                         CAST(floor(value * 100) AS BIGINT) AS v2
                  FROM events)
            GROUP BY event_type
        ),
        w AS (
            SELECT stratum, n_h, ss_h,
                   CAST(floor(n_h * sqrt(CAST(ss_h AS DOUBLE)
                                         / (n_h * (n_h - 1))))
                        AS BIGINT) AS weight
            FROM s WHERE n_h >= 2
        ),
        tot AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w)
        SELECT w.stratum, w.n_h, w.ss_h, w.weight,
               ({_NEYMAN_BUDGET} * w.weight) // t.wsum AS n_alloc,
               (10000 * w.weight) // t.wsum AS alloc_share_fp4
        FROM w CROSS JOIN tot t
        ORDER BY stratum
    """,
    tags=("sampling", "statistics", "design"),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation over event
    types: sample budget n_h ∝ N_h·S_h (stratum size × stratum
    standard deviation) — the design that minimizes the variance of
    the stratified mean for a fixed total budget, the step a survey
    or eval-set designer runs BEFORE sample_stratified_hash draws the
    actual rows. Values are fixed-pointed to integers (floor(v·100)),
    the per-stratum sum of squares n·Σv² − (Σv)² stays exact BIGINT,
    and S_h enters through one sqrt on the sample-variance ratio —
    inside the engine-exact double subset — floored immediately back
    to an integer weight so the ALLOCATION arithmetic (shares, seat
    counts) is pure BIGINT division; no order-dependent double
    summation anywhere.

    Scale shape: one counts-and-moments aggregate per stratum
    (map-side combine over the fact), then all allocation math on the
    |strata|-row table with the 1-row weight total broadcast back.
    Single fact shuffle."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.col("event_type").alias("stratum"),
        F.floor(F.col("value") * 100).cast("long").alias("v2"),
    ).groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        (
            F.count(F.lit(1)) * F.sum(F.col("v2") * F.col("v2"))
            - F.sum("v2") * F.sum("v2")
        )
        .cast("long")
        .alias("ss_h"),
    )
    w = s.filter(F.col("n_h") >= 2).select(
        "stratum",
        "n_h",
        "ss_h",
        F.floor(
            F.col("n_h")
            * F.sqrt(
                F.col("ss_h").cast("double")
                / (F.col("n_h") * (F.col("n_h") - 1))
            )
        )
        .cast("long")
        .alias("weight"),
    )
    tot = w.agg(F.sum("weight").cast("long").alias("wsum"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n_h",
            "ss_h",
            "weight",
            F.expr(f"({_NEYMAN_BUDGET} * weight) div wsum").alias("n_alloc"),
            F.expr("(10000 * weight) div wsum").alias("alloc_share_fp4"),
        )
        .orderBy("stratum")
    )


# --- batch 198: inter-order gap quartiles per segment -------------------------


@register(
    "customer_order_gap_quartiles",
    oracle="""
        WITH seq AS (
            SELECT c.c_mktsegment AS segment, o.o_custkey,
                   datediff('day', DATE '1970-01-01', o.o_orderdate)
                       AS eday,
                   o.o_orderkey
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        gaps AS (
            SELECT segment,
                   eday - lag(eday) OVER (
                       PARTITION BY o_custkey
                       ORDER BY eday, o_orderkey) AS gap
            FROM seq
        ),
        gv AS (
            SELECT segment, gap, CAST(count(*) AS BIGINT) AS cnt
            FROM gaps WHERE gap IS NOT NULL GROUP BY 1, 2
        ),
        cum AS (
            SELECT segment, gap,
                   CAST(sum(cnt) OVER (PARTITION BY segment ORDER BY gap)
                        AS BIGINT) AS c,
                   CAST(sum(cnt) OVER (PARTITION BY segment) AS BIGINT) AS n
            FROM gv
        )
        SELECT segment,
               CAST(max(n) AS BIGINT) AS n_gaps,
               min(CASE WHEN c >= (25 * n + 99) // 100 THEN gap END)
                   AS p25_days,
               min(CASE WHEN c >= (50 * n + 99) // 100 THEN gap END)
                   AS p50_days,
               min(CASE WHEN c >= (75 * n + 99) // 100 THEN gap END)
                   AS p75_days,
               min(CASE WHEN c >= (90 * n + 99) // 100 THEN gap END)
                   AS p90_days
        FROM cum GROUP BY segment ORDER BY segment
    """,
    tags=("crm", "statistics", "quantiles"),
)
def customer_order_gap_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-cadence distribution per market segment: exact
    p25/p50/p75/p90 of the day gaps between each customer's
    consecutive orders — the reorder-cycle numbers a replenishment or
    churn-risk model is calibrated against (a customer 2× past their
    segment's p75 gap is a churn candidate). Dates are converted to
    epoch-day integers FIRST (date subtraction is interval-typed in
    DuckDB and unit-string-divergent across engines — integer
    subtraction of epoch days is not), the per-customer LAG orders by
    (eday, orderkey) so same-day order pairs break ties identically
    in both engines, and the quantiles use the upper-discrete ⌈q·n⌉
    convention on the per-segment distinct-gap cumulative table —
    the exact-quantile machinery of orders_quantile_treatment_effect.

    Scale shape: one fact-dim broadcast join, a LAG window
    partitioned by customer (parallel across the key domain, never
    global), a (segment, gap) counts aggregate, and windows over the
    DISTINCT-GAP domain per segment. No single-partition stages."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seq = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("eday"),
        "o_orderkey",
    )
    wlag = Window.partitionBy("o_custkey").orderBy("eday", "o_orderkey")
    gaps = seq.select(
        "segment", (F.col("eday") - F.lag("eday").over(wlag)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    gv = gaps.groupBy("segment", "gap").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wcum = (
        Window.partitionBy("segment")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("segment")
    cum = gv.select(
        "segment",
        "gap",
        F.sum("cnt").over(wcum).cast("long").alias("c"),
        F.sum("cnt").over(wall).cast("long").alias("n"),
    )

    def q(p: int, name: str):
        return F.min(
            F.when(F.col("c") >= F.expr(f"({p} * n + 99) div 100"), F.col("gap"))
        ).alias(name)

    return (
        cum.groupBy("segment")
        .agg(
            F.max("n").cast("long").alias("n_gaps"),
            q(25, "p25_days"),
            q(50, "p50_days"),
            q(75, "p75_days"),
            q(90, "p90_days"),
        )
        .orderBy("segment")
    )


# --- batch 199: Kraljic procurement portfolio matrix --------------------------


@register(
    "part_kraljic_matrix",
    oracle="""
        WITH bs AS (
            SELECT p.p_brand AS brand, l.l_suppkey AS supp,
                   CAST(sum(CAST(floor(l.l_extendedprice
                                       * (1 - l.l_discount) * 10000)
                                 AS BIGINT)) AS BIGINT) AS rev_fp
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2
        ),
        sh AS (
            SELECT brand, rev_fp,
                   (10000 * rev_fp)
                       // sum(rev_fp) OVER (PARTITION BY brand) AS share_fp4
            FROM bs
        ),
        b AS (
            SELECT brand,
                   CAST(sum(rev_fp) AS BIGINT) AS brand_rev_fp,
                   CAST(count(*) AS BIGINT) AS n_suppliers,
                   CAST(sum(share_fp4 * share_fp4) AS BIGINT) AS hhi_fp8
            FROM sh GROUP BY brand
        ),
        tot AS (SELECT CAST(sum(brand_rev_fp) AS BIGINT) AS t FROM b)
        SELECT brand, n_suppliers, brand_rev_fp, hhi_fp8,
               (10000 * brand_rev_fp) // t.t AS rev_share_fp4,
               CASE
                 WHEN hhi_fp8 >= 25000000
                      AND (10000 * brand_rev_fp) // t.t
                          >= 10000 // (SELECT count(*) FROM b)
                   THEN 'strategic'
                 WHEN hhi_fp8 >= 25000000 THEN 'bottleneck'
                 WHEN (10000 * brand_rev_fp) // t.t
                      >= 10000 // (SELECT count(*) FROM b)
                   THEN 'leverage'
                 ELSE 'non_critical'
               END AS quadrant
        FROM b CROSS JOIN tot t
        ORDER BY brand
    """,
    tags=("supply-chain", "reporting", "portfolio"),
)
def part_kraljic_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kraljic procurement-portfolio matrix per part brand: profit
    impact (the brand's share of total discounted revenue) against
    supply risk (the supplier-concentration HHI within the brand,
    Σ share², share in exact 1e-4 fixed point → HHI in 1e-8), and the
    resulting quadrant — strategic (high/high), bottleneck (high
    risk, low impact), leverage (low risk, high impact), non-critical.
    Thresholds are structural, not fitted: risk is "high" above
    HHI 0.25 (one supplier holds ≥ half in the 2-supplier worst case),
    impact is "high" above the uniform share 1/|brands|. This is the
    classification a sourcing organization runs before negotiating —
    composing supplier_market_concentration's HHI arithmetic with the
    revenue rollup at brand grain.

    Scale shape: one fact×part broadcast join aggregated to
    (brand, supplier) — map-side combine — then brand-grain window +
    rollup over a dimension-bounded table (|brands|·|suppliers| ≤
    dim²) and a 1-row total broadcast. Single fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    bs = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_suppkey").alias("supp"))
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("long")
            )
            .cast("long")
            .alias("rev_fp")
        )
    )
    share = F.expr(
        "(10000 * rev_fp) div (sum(rev_fp) OVER (PARTITION BY brand))"
    )
    b = (
        bs.withColumn("share_fp4", share)
        .groupBy("brand")
        .agg(
            F.sum("rev_fp").cast("long").alias("brand_rev_fp"),
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum(F.col("share_fp4") * F.col("share_fp4"))
            .cast("long")
            .alias("hhi_fp8"),
        )
    )
    tot = b.agg(
        F.sum("brand_rev_fp").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("n_brands"),
    )
    j = b.crossJoin(F.broadcast(tot)).withColumn(
        "rev_share_fp4", F.expr("(10000 * brand_rev_fp) div t")
    )
    hi_risk = F.col("hhi_fp8") >= 25000000
    hi_impact = F.col("rev_share_fp4") >= F.expr("10000 div n_brands")
    return (
        j.select(
            "brand",
            "n_suppliers",
            "brand_rev_fp",
            "hhi_fp8",
            "rev_share_fp4",
            F.when(hi_risk & hi_impact, "strategic")
            .when(hi_risk, "bottleneck")
            .when(hi_impact, "leverage")
            .otherwise("non_critical")
            .alias("quadrant"),
        )
        .orderBy("brand")
    )


# --- batch 200: unigram-LM seed vocabulary (SentencePiece-style) --------------

_SEED_LENS = (2, 3, 4, 5)
_SEED_TOPK = 200


def _seed_len_sql(k: int) -> str:
    return f"""
        SELECT ng, CAST(count(*) AS BIGINT) AS n
        FROM (
            SELECT unnest(list_transform(
                       range(1, length(lower(text)) - {k} + 2),
                       i -> substr(lower(text), CAST(i AS BIGINT), {k})))
                   AS ng
            FROM documents
        )
        GROUP BY ng
    """


@register(
    "tokenizer_unigram_seed_vocab",
    oracle=f"""
        WITH counted AS (
            {" UNION ALL ".join(_seed_len_sql(k) for k in _SEED_LENS)}
        )
        SELECT ng AS piece,
               CAST(length(ng) AS BIGINT) AS piece_len,
               n AS n_occurrences,
               CAST(n * (length(ng) - 1) AS BIGINT) AS seed_score
        FROM counted
        ORDER BY seed_score DESC, piece
        LIMIT {_SEED_TOPK}
    """,
    tags=("llm-data", "tokenizer", "topk"),
)
def tokenizer_unigram_seed_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-vocabulary candidates for a unigram-LM tokenizer
    (SentencePiece-style): every character n-gram of length 2-5 over
    the lowercased corpus (whitespace kept — a real unigram tokenizer
    treats the space as a meta-symbol), scored count·(len−1) — the
    standard "suffix-array substring frequency × compressed chars"
    seeding heuristic — and the top-{_SEED_TOPK} kept. Complements
    tokenizer_bpe_first_merges (greedy pair merges) with the OTHER
    mainstream tokenizer-training entry point: unigram starts from a
    large seeded candidate set and prunes by EM, and this query is
    that seed. Counts and scores are pure BIGINTs; ties break on the
    piece string.

    Scale shape: substring generation is a map-only explode (≈4
    windows per character — the simhash/shingle cost envelope), the
    count shuffles (ngram, partial-count) pairs with map-side
    combine, and the top-K is TakeOrderedAndProject. At 100 TB the
    candidate domain is the bottleneck exactly as in real
    SentencePiece seeding — production runs cap it the same way this
    ladder does (bounded lengths, frequency floor at the reducer)."""
    d = load_table(spark, sf_dir, "documents")
    parts = []
    for k in _SEED_LENS:
        parts.append(
            d.select(
                F.explode(
                    F.when(
                        F.length(F.lower(F.col("text"))) >= k,
                        F.expr(
                            f"transform(sequence(1, char_length(lower(text)) - {k} + 1),"
                            f" i -> substring(lower(text), i, {k}))"
                        ),
                    ).otherwise(F.array().cast("array<string>"))
                ).alias("ng")
            )
        )
    from functools import reduce as _reduce

    counted = (
        _reduce(DataFrame.unionAll, parts)
        .groupBy("ng")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        counted.select(
            F.col("ng").alias("piece"),
            F.length("ng").cast("long").alias("piece_len"),
            F.col("n").alias("n_occurrences"),
            (F.col("n") * (F.length("ng") - 1)).cast("long").alias("seed_score"),
        )
        .orderBy(F.col("seed_score").desc(), "piece")
        .limit(_SEED_TOPK)
    )


# --- batch 201: rolling 7-day exact median ------------------------------------


@register(
    "events_rolling_median_7d",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1
        ),
        rolled AS (
            SELECT day, c,
                   list(c) OVER (ORDER BY day
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS win
            FROM daily
        )
        SELECT day, c AS n_events,
               CAST(len(win) AS BIGINT) AS window_days,
               CAST(list_sort(win)[(len(win) + 1) // 2] AS BIGINT)
                   AS rolling_median,
               CAST(c - list_sort(win)[(len(win) + 1) // 2] AS BIGINT)
                   AS deviation
        FROM rolled ORDER BY day
    """,
    tags=("timeseries", "window", "robust-statistics"),
)
def events_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day EXACT median of the daily event count (lower
    median: sorted window element ⌊(n+1)/2⌋), with each day's
    deviation from it — the robust-baseline companion to
    events_ewma_halflife (mean-based, outlier-sensitive) and the
    windowed analogue of events_anomaly_mad's global median: a spike
    day barely moves a median baseline, so deviation-from-rolling-
    median is the standard robust anomaly signal. Both engines build
    the SAME construction — collect the frame into a list, sort it,
    index it — so there is no quantile-convention mismatch to paper
    over; counts are BIGINTs throughout.

    Scale shape: the fact collapses to one row per day first
    (map-side combine), so the unpartitioned ordered window runs on
    the DAY DOMAIN — a few thousand rows for a decade of data, the
    same dimension-bounded-series pattern as
    events_rolling_trend_slope / events_seasonal_naive_backtest;
    the frame is 7 elements, so the per-row sort is O(7 log 7)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    rolled = daily.withColumn("win", F.collect_list("c").over(w))
    med = F.element_at(
        F.array_sort(F.col("win")),
        ((F.size("win") + 1) / 2).cast("int"),
    )
    return rolled.select(
        "day",
        F.col("c").alias("n_events"),
        F.size("win").cast("long").alias("window_days"),
        med.cast("long").alias("rolling_median"),
        (F.col("c") - med).cast("long").alias("deviation"),
    ).orderBy("day")


# --- batch 202: walk-forward cross-validation folds ---------------------------

_WF_FOLDS = 5
_WF_TEST_MONTHS = 3


@register(
    "split_walk_forward_folds",
    oracle=f"""
        WITH m AS (
            SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS mon
            FROM orders
        ),
        mi AS (
            SELECT mon, CAST(row_number() OVER (ORDER BY mon) AS BIGINT) AS idx,
                   CAST(count(*) OVER () AS BIGINT) AS n_months
            FROM m
        ),
        om AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS mon,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM orders GROUP BY 1
        ),
        folds AS (SELECT unnest(range(1, {_WF_FOLDS} + 1)) AS fold),
        lab AS (
            SELECT f.fold, mi.mon, mi.idx, om.n_rows,
                   CASE
                     WHEN mi.idx <= mi.n_months
                          - {_WF_TEST_MONTHS} * ({_WF_FOLDS} + 1 - f.fold)
                       THEN 'train'
                     WHEN mi.idx <= mi.n_months
                          - {_WF_TEST_MONTHS} * ({_WF_FOLDS} - f.fold)
                       THEN 'test'
                     ELSE 'future'
                   END AS role
            FROM folds f CROSS JOIN mi JOIN om ON om.mon = mi.mon
        )
        SELECT fold,
               min(CASE WHEN role = 'train' THEN mon END) AS train_start,
               max(CASE WHEN role = 'train' THEN mon END) AS train_end,
               min(CASE WHEN role = 'test' THEN mon END) AS test_start,
               max(CASE WHEN role = 'test' THEN mon END) AS test_end,
               CAST(sum(CASE WHEN role = 'train' THEN n_rows ELSE 0 END)
                    AS BIGINT) AS n_train,
               CAST(sum(CASE WHEN role = 'test' THEN n_rows ELSE 0 END)
                    AS BIGINT) AS n_test,
               CAST(CASE WHEN max(CASE WHEN role = 'train' THEN mon END)
                              < min(CASE WHEN role = 'test' THEN mon END)
                         THEN 1 ELSE 0 END AS BIGINT) AS no_leakage
        FROM lab GROUP BY fold ORDER BY fold
    """,
    tags=("ml", "splits", "timeseries"),
)
def split_walk_forward_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (expanding-window) cross-validation folds over
    order months: fold k trains on everything up to a cut and tests
    on the NEXT {_WF_TEST_MONTHS} months, the cut advancing per fold
    so the last fold tests on the final months — the only CV scheme
    that respects time's arrow (split_kfold_assign and
    split_train_valid_test are exchangeable-row designs; using them
    on temporal data leaks the future into training). Each fold row
    reports its month ranges, exact train/test row counts, and a
    computed (not assumed) no-leakage bit: max train month < min test
    month. Months after the fold's test block are held out entirely.

    Scale shape: the fact collapses to per-month counts once
    (map-side combine); everything else — the month index, the
    fold×month lattice, the range/count rollup — runs on the
    |months|·|folds| grid, a few hundred rows regardless of data
    volume. The month-index window runs on the distinct-month
    domain."""
    o = load_table(spark, sf_dir, "orders")
    om = o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("mon")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    wi = Window.orderBy("mon")
    mi = om.select(
        "mon",
        "n_rows",
        F.row_number().over(wi).cast("long").alias("idx"),
        F.count(F.lit(1))
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("long")
        .alias("n_months"),
    )
    folds = spark.range(1, _WF_FOLDS + 1).select(F.col("id").alias("fold"))
    lab = (
        F.broadcast(folds)
        .crossJoin(mi)
        .select(
            "fold",
            "mon",
            "n_rows",
            F.when(
                F.col("idx")
                <= F.col("n_months")
                - _WF_TEST_MONTHS * (_WF_FOLDS + 1 - F.col("fold")),
                "train",
            )
            .when(
                F.col("idx")
                <= F.col("n_months") - _WF_TEST_MONTHS * (_WF_FOLDS - F.col("fold")),
                "test",
            )
            .otherwise("future")
            .alias("role"),
        )
    )
    tr = F.when(F.col("role") == "train", F.col("mon"))
    te = F.when(F.col("role") == "test", F.col("mon"))
    return (
        lab.groupBy("fold")
        .agg(
            F.min(tr).alias("train_start"),
            F.max(tr).alias("train_end"),
            F.min(te).alias("test_start"),
            F.max(te).alias("test_end"),
            F.sum(F.when(F.col("role") == "train", F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("n_train"),
            F.sum(F.when(F.col("role") == "test", F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("n_test"),
            F.when(F.max(tr) < F.min(te), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("no_leakage"),
        )
        .orderBy("fold")
    )


# --- batch 204: ER blocking quality audit --------------------------------------


@register(
    "er_blocking_quality_audit",
    oracle="""
        WITH nm AS MATERIALIZED (
            SELECT DISTINCT p_name AS name,
                   string_split(p_name, ' ')[-1] AS noun
            FROM part
        ),
        allp AS MATERIALIZED (
            SELECT a.name AS na, b.name AS nb,
                   CASE WHEN levenshtein(a.name, b.name) <= 4
                        THEN 1 ELSE 0 END AS is_match
            FROM nm a JOIN nm b ON a.name < b.name
        ),
        cand AS (
            SELECT a.name AS na, b.name AS nb
            FROM nm a JOIN nm b
              ON a.noun = b.noun AND a.name < b.name
        ),
        j AS (
            SELECT p.na, p.nb, p.is_match,
                   CASE WHEN c.na IS NOT NULL THEN 1 ELSE 0 END AS in_block
            FROM allp p
            LEFT JOIN cand c ON c.na = p.na AND c.nb = p.nb
        )
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM nm) AS n_names,
            CAST(count(*) AS BIGINT) AS n_all_pairs,
            CAST(sum(in_block) AS BIGINT) AS n_candidate_pairs,
            CAST(sum(is_match) AS BIGINT) AS n_true_matches,
            CAST(sum(is_match * in_block) AS BIGINT) AS n_found_matches,
            CAST((10000 * (count(*) - sum(in_block))) // count(*)
                AS BIGINT) AS reduction_ratio_fp4,
            CAST(CASE WHEN sum(is_match) = 0 THEN 10000
                      ELSE (10000 * sum(is_match * in_block))
                           // sum(is_match) END
                 AS BIGINT) AS pairs_completeness_fp4
        FROM j
    """,
    tags=("er", "evaluation", "data-quality"),
)
def er_blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation for the ER pipeline
    (er_part_entity_clusters): reduction ratio (how many of the
    all-pairs comparisons the head-noun block AVOIDS) against pairs
    completeness (what fraction of true matches — levenshtein ≤ 4 on
    the full vocabulary, no blocking — the block RETAINS). These are
    THE two numbers record-linkage literature grades a blocking key
    on: a key that prunes 99% of pairs but drops a third of the true
    matches is a bad key; this audit measures both sides exactly
    instead of assuming the block is lossless. All counts BIGINT;
    ratios single floor divisions.

    Scale shape: both pair sets live on the DISTINCT-NAME vocabulary
    (64 names — bounded by the name domain, not records), so the
    exhaustive truth is |vocab|² ≈ 2k levenshtein calls, exactly how
    a production linkage team calibrates blocking: exhaustively on a
    vocabulary/sample, never on the record cross product. The fact
    table is touched once, by the distinct()."""
    nm = part_names(spark, sf_dir).persist()  # all-pairs + blocked pairs
    a, b = nm.alias("a"), nm.alias("b")
    allp = (
        a.join(F.broadcast(b), F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.name").alias("na"),
            F.col("b.name").alias("nb"),
            F.when(
                F.levenshtein(F.col("a.name"), F.col("b.name")) <= 4, 1
            )
            .otherwise(0)
            .alias("is_match"),
        )
    )
    cand = (
        a.join(
            F.broadcast(b),
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("cna"),
            F.col("b.name").alias("cnb"),
            F.lit(1).alias("in_block"),
        )
    )
    j = allp.join(
        F.broadcast(cand),
        (F.col("na") == F.col("cna")) & (F.col("nb") == F.col("cnb")),
        "left",
    ).select(
        "na",
        "is_match",
        F.coalesce(F.col("in_block"), F.lit(0)).alias("in_block"),
    )
    nn = nm.agg(F.count(F.lit(1)).cast("long").alias("n_names"))
    return (
        j.crossJoin(F.broadcast(nn))
        .agg(
            F.max("n_names").cast("long").alias("n_names"),
            F.count(F.lit(1)).cast("long").alias("n_all_pairs"),
            F.sum("in_block").cast("long").alias("n_candidate_pairs"),
            F.sum("is_match").cast("long").alias("n_true_matches"),
            F.sum(F.col("is_match") * F.col("in_block"))
            .cast("long")
            .alias("n_found_matches"),
            F.expr(
                "(10000 * (count(*) - sum(in_block))) div count(*)"
            ).alias("reduction_ratio_fp4"),
            F.when(F.sum("is_match") == 0, F.lit(10000))
            .otherwise(
                F.expr("(10000 * sum(is_match * in_block)) div sum(is_match)")
            )
            .cast("long")
            .alias("pairs_completeness_fp4"),
        )
    )


# --- batch 205: lead-lag cross-correlation of event series ---------------------

_XCORR_LAGS = tuple(range(-3, 4))


@register(
    "events_leadlag_crosscorr",
    oracle=f"""
        WITH daily AS MATERIALIZED (
            SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                       AS eday,
                   CAST(count_if(event_type = 'click') AS BIGINT) AS x,
                   CAST(count_if(event_type = 'error') AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        lags AS (SELECT unnest([{", ".join(map(str, _XCORR_LAGS))}])
                     AS lag),
        paired AS (
            SELECT l.lag, a.x, b.y
            FROM lags l
            JOIN daily a ON true
            JOIN daily b ON b.eday = a.eday + l.lag
        ),
        ss AS (
            SELECT lag,
                   CAST(count(*) AS BIGINT) AS n_days,
                   CAST(count(*) * sum(x * y) - sum(x) * sum(y)
                        AS BIGINT) AS ssxy,
                   CAST(count(*) * sum(x * x) - sum(x) * sum(x)
                        AS BIGINT) AS ssxx,
                   CAST(count(*) * sum(y * y) - sum(y) * sum(y)
                        AS BIGINT) AS ssyy
            FROM paired GROUP BY lag
        )
        SELECT lag, n_days, ssxy, ssxx, ssyy,
               CAST(CASE
                 WHEN ssxx = 0 OR ssyy = 0 THEN 0
                 WHEN ssxy < 0 THEN
                   -CAST(floor(10000.0 * (-ssxy)
                        / sqrt(CAST(ssxx AS DOUBLE) * CAST(ssyy AS DOUBLE)))
                        AS BIGINT)
                 ELSE
                   CAST(floor(10000.0 * ssxy
                        / sqrt(CAST(ssxx AS DOUBLE) * CAST(ssyy AS DOUBLE)))
                        AS BIGINT)
               END AS BIGINT) AS r_fp4
        FROM ss ORDER BY lag
    """,
    tags=("timeseries", "statistics", "correlation"),
)
def events_leadlag_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the daily click series and
    the daily error series at lags −3..+3 days: Pearson r of
    (clicks_t, errors_{t+ℓ}) over the overlapping day window — the
    diagnostic that answers "do errors FOLLOW click surges (capacity)
    or PRECEDE them (alerting artifacts)?" by where the |r| peak
    sits. The autocorrelation twin events_autocorrelation_lag7
    correlates a series with itself; this correlates two series and
    sweeps the alignment. Sums of squares are exact BIGINTs
    (n·Σxy − ΣxΣy over each lag's own overlap); only the final
    normalization touches doubles (one sqrt, one division — IEEE
    correctly rounded in both engines), sign-split so both engines
    truncate identically.

    Scale shape: the fact collapses to one (day, x, y) row per day
    (map-side combine), the 7-row lag table broadcast-joins the daily
    series onto its shifted self on an integer epoch-day equi-key,
    and the rollup is counts-only per lag. Day-domain-bounded like
    the rolling-median family."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("eday")
    ).agg(
        F.count_if(F.col("event_type") == "click").cast("long").alias("x"),
        F.count_if(F.col("event_type") == "error").cast("long").alias("y"),
    ).persist()  # both sides of the shifted self-join
    lags = spark.createDataFrame([(l,) for l in _XCORR_LAGS], "lag long")
    a = daily.select(F.col("eday").alias("a_day"), "x")
    b = daily.select(F.col("eday").alias("b_day"), "y")
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(F.broadcast(b), F.col("b_day") == F.col("a_day") + F.col("lag"))
        .select("lag", "x", "y")
    )
    ss = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (
            F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y"))
            - F.sum("x") * F.sum("y")
        )
        .cast("long")
        .alias("ssxy"),
        (
            F.count(F.lit(1)) * F.sum(F.col("x") * F.col("x"))
            - F.sum("x") * F.sum("x")
        )
        .cast("long")
        .alias("ssxx"),
        (
            F.count(F.lit(1)) * F.sum(F.col("y") * F.col("y"))
            - F.sum("y") * F.sum("y")
        )
        .cast("long")
        .alias("ssyy"),
    )
    denom = F.sqrt(F.col("ssxx").cast("double") * F.col("ssyy").cast("double"))
    return ss.select(
        "lag",
        "n_days",
        "ssxy",
        "ssxx",
        "ssyy",
        F.when((F.col("ssxx") == 0) | (F.col("ssyy") == 0), F.lit(0))
        .when(
            F.col("ssxy") < 0,
            -F.floor(F.lit(10000.0) * (-F.col("ssxy")) / denom),
        )
        .otherwise(F.floor(F.lit(10000.0) * F.col("ssxy") / denom))
        .cast("long")
        .alias("r_fp4"),
    ).orderBy("lag")


# --- batch 207: ML model report card (capstone) --------------------------------


@register(
    "ml_model_report_card",
    oracle=f"""
        WITH per_user AS MATERIALIZED ({_PER_USER_SQL}),
        pv AS MATERIALIZED (
            SELECT score AS v, CAST(sum(y) AS BIGINT) AS a,
                   CAST(count(*) AS BIGINT) AS m
            FROM per_user GROUP BY score
        ),
        tot AS (
            SELECT CAST(sum(a) AS BIGINT) AS n_pos,
                   CAST(sum(m - a) AS BIGINT) AS n_neg,
                   CAST(sum(m) AS BIGINT) AS n_users
            FROM pv
        ),
        cum AS (
            SELECT v, a, m,
                   CAST(coalesce(sum(m) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS c,
                   CAST(sum(a) OVER (ORDER BY v) AS BIGINT) AS cp,
                   CAST(sum(m - a) OVER (ORDER BY v) AS BIGINT) AS cn
            FROM pv
        ),
        auc AS (
            SELECT CAST(sum(a * (2*c + m + 1)) AS BIGINT)
                       - t.n_pos * (t.n_pos + 1) AS two_u
            FROM cum CROSS JOIN tot t
            GROUP BY t.n_pos
        ),
        ks AS (
            SELECT max(abs(cp * t.n_neg - cn * t.n_pos)) AS ks_num
            FROM cum CROSS JOIN tot t
        ),
        f1 AS (
            SELECT max((20000 * tp) // (tp + fp + n_pos)) AS best_f1_fp4
            FROM (
                SELECT th.t,
                       CAST(coalesce(sum(CASE WHEN pv.v >= th.t
                                              THEN pv.a END), 0)
                            AS BIGINT) AS tp,
                       CAST(coalesce(sum(CASE WHEN pv.v >= th.t
                                              THEN pv.m - pv.a END), 0)
                            AS BIGINT) AS fp
                FROM (SELECT unnest([1,2,3,4,5,6,7,8,9,10]) AS t) th
                LEFT JOIN pv ON pv.v >= th.t
                GROUP BY th.t
            ) CROSS JOIN tot
            WHERE tp + fp + n_pos > 0
        ),
        cal AS (
            SELECT CAST((sum(n * gap_fp4)) // sum(n) AS BIGINT) AS ece_fp4
            FROM (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       abs(1000 * least(score, 10)
                           - (10000 * sum(y)) // count(*)) AS gap_fp4
                FROM per_user GROUP BY least(score, 10)
            )
        )
        SELECT t.n_users, t.n_pos, t.n_neg,
               (100000000 * auc.two_u) // (2 * t.n_pos * t.n_neg)
                   AS auc_fp8,
               (10000 * ks.ks_num) // (t.n_pos * t.n_neg) AS ks_fp4,
               f1.best_f1_fp4, cal.ece_fp4
        FROM tot t
        CROSS JOIN auc CROSS JOIN ks CROSS JOIN f1 CROSS JOIN cal
    """,
    tags=("ml", "metrics", "capstone"),
)
def ml_model_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row model report card for the click-count propensity
    signal: ROC-AUC (ranking quality), KS separation (best-cutoff
    discrimination), best achievable F1 over the threshold ladder
    (operating-point quality), and ECE (probability calibration) —
    the four numbers of the ML-metrics family's individual queries
    (ml_click_purchase_auc, ml_score_ks_separation,
    ml_pr_threshold_ladder, ml_calibration_bins) composed from ONE
    shared per-user aggregation, the way a model card actually ships.
    Every metric keeps its source query's exact integer construction,
    so this capstone is oracle-exact end to end.

    Scale shape: one groupBy(user_id) fact shuffle feeds everything;
    AUC/KS/F1 all run on the distinct-score table (domain-bounded)
    and the calibration bins on an 11-row rollup; four 1-row scalars
    broadcast-join into the report."""
    pu = _per_user(spark, sf_dir).persist()  # scores + calibration bins
    pv = pu.groupBy(F.col("score").alias("v")).agg(
        F.sum("y").cast("long").alias("a"),
        F.count(F.lit(1)).cast("long").alias("m"),
    ).persist()  # rank cum, KS cum, threshold ladder
    tot = pv.agg(
        F.sum("a").cast("long").alias("n_pos"),
        F.sum(F.col("m") - F.col("a")).cast("long").alias("n_neg"),
        F.sum("m").cast("long").alias("n_users"),
    )
    w_prev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = pv.select(
        "v",
        "a",
        "m",
        F.coalesce(F.sum("m").over(w_prev), F.lit(0)).cast("long").alias("c"),
        F.sum("a").over(w_cum).cast("long").alias("cp"),
        F.sum(F.col("m") - F.col("a")).over(w_cum).cast("long").alias("cn"),
    ).crossJoin(F.broadcast(tot))
    auc = cum.agg(
        (
            F.sum(F.col("a") * (2 * F.col("c") + F.col("m") + 1))
            - F.max("n_pos") * (F.max("n_pos") + 1)
        )
        .cast("long")
        .alias("two_u")
    )
    ks = cum.agg(
        F.max(
            F.abs(F.col("cp") * F.col("n_neg") - F.col("cn") * F.col("n_pos"))
        )
        .cast("long")
        .alias("ks_num")
    )
    th = spark.range(1, 11).select(F.col("id").cast("long").alias("t"))
    f1 = (
        F.broadcast(th)
        .join(pv, pv.v >= F.col("t"), "left")
        .groupBy("t")
        .agg(
            F.coalesce(F.sum("a"), F.lit(0)).cast("long").alias("tp"),
            F.coalesce(F.sum(F.col("m") - F.col("a")), F.lit(0))
            .cast("long")
            .alias("fp"),
        )
        .crossJoin(F.broadcast(tot.select("n_pos")))
        .filter(F.col("tp") + F.col("fp") + F.col("n_pos") > 0)
        .agg(
            F.max(F.expr("(20000 * tp) div (tp + fp + n_pos)"))
            .cast("long")
            .alias("best_f1_fp4")
        )
    )
    cal = (
        pu.groupBy(F.least("score", F.lit(10)).alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
        .select(
            "n",
            F.abs(
                F.lit(1000) * F.col("bin") - F.expr("(10000 * pos) div n")
            ).alias("gap_fp4"),
        )
        .agg(F.expr("sum(n * gap_fp4) div sum(n)").alias("ece_fp4"))
    )
    return (
        tot.crossJoin(F.broadcast(auc))
        .crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(f1))
        .crossJoin(F.broadcast(cal))
        .select(
            "n_users",
            "n_pos",
            "n_neg",
            F.expr("(100000000 * two_u) div (2 * n_pos * n_neg)").alias(
                "auc_fp8"
            ),
            F.expr("(10000 * ks_num) div (n_pos * n_neg)").alias("ks_fp4"),
            "best_f1_fp4",
            "ece_fp4",
        )
    )


# --- batch 209: row-level-security policy audit --------------------------------

# Static policy: which market segments each region's analysts may see.
# Deliberately partial — every region has masked segments so the audit
# measurably filters (not a rubber stamp).
_RLS_POLICY = [
    ("AFRICA", "AUTOMOBILE"),
    ("AFRICA", "BUILDING"),
    ("AMERICA", "AUTOMOBILE"),
    ("AMERICA", "MACHINERY"),
    ("ASIA", "FURNITURE"),
    ("ASIA", "HOUSEHOLD"),
    ("ASIA", "MACHINERY"),
    ("EUROPE", "BUILDING"),
    ("EUROPE", "FURNITURE"),
    ("MIDDLE EAST", "HOUSEHOLD"),
]


def _rls_policy_sql() -> str:
    rows = ", ".join(f"('{r}', '{s}')" for r, s in _RLS_POLICY)
    return f"SELECT * FROM (VALUES {rows}) AS p(region, segment)"


@register(
    "governance_row_level_policy",
    oracle=f"""
        WITH pol AS ({_rls_policy_sql()}),
        cust AS (
            SELECT r.r_name AS region, c.c_mktsegment AS segment,
                   CAST(count(*) AS BIGINT) AS n_cust,
                   CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT))
                        AS BIGINT) AS bal2
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2
        ),
        lab AS (
            SELECT c.region, c.segment, c.n_cust, c.bal2,
                   CASE WHEN p.segment IS NOT NULL THEN 1 ELSE 0 END
                       AS visible
            FROM cust c
            LEFT JOIN pol p
              ON p.region = c.region AND p.segment = c.segment
        )
        SELECT region,
               CAST(sum(n_cust) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN visible = 1 THEN n_cust ELSE 0 END)
                    AS BIGINT) AS n_visible,
               CAST(sum(CASE WHEN visible = 0 THEN n_cust ELSE 0 END)
                    AS BIGINT) AS n_masked,
               CAST(sum(CASE WHEN visible = 1 THEN bal2 ELSE 0 END)
                    AS BIGINT) AS visible_bal2,
               CAST((10000 * sum(CASE WHEN visible = 1 THEN n_cust ELSE 0 END))
                   // sum(n_cust) AS BIGINT) AS visibility_fp4
        FROM lab GROUP BY region ORDER BY region
    """,
    tags=("governance", "security", "reporting"),
)
def governance_row_level_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level-security policy audit: apply a (region → allowed
    market segments) policy table to the customer base and report,
    per region, how many customer rows a policy-scoped analyst can
    SEE versus how many the policy MASKS, plus the visible balance
    total and the visibility rate. This is the row-level companion to
    governance_pii_redaction (column-level masking) and the
    k-anonymity family (aggregation-level) — together the three
    governance layers a data platform enforces. The policy is a
    deliberately partial literal table so the audit demonstrably
    filters; counts and fixed-point balances are exact BIGINTs.

    Scale shape: one fact aggregate to (region, segment) grain —
    dims broadcast — then the policy (a literal of a few rows)
    broadcast-left-joins the dimension-bounded matrix; the rollup
    touches ≤ |regions|·|segments| rows. At 100 TB the policy join
    is exactly how engines inject RLS predicates: against the
    aggregated or scanned grain, always broadcast."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cust = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.sum(F.floor(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("bal2"),
        )
    )
    pol = spark.createDataFrame(
        _RLS_POLICY, "p_region string, p_segment string"
    ).withColumn("visible", F.lit(1))
    lab = cust.join(
        F.broadcast(pol),
        (F.col("p_region") == F.col("region"))
        & (F.col("p_segment") == F.col("segment")),
        "left",
    ).select(
        "region",
        "n_cust",
        "bal2",
        F.coalesce(F.col("visible"), F.lit(0)).alias("visible"),
    )
    return (
        lab.groupBy("region")
        .agg(
            F.sum("n_cust").cast("long").alias("n_total"),
            F.sum(F.when(F.col("visible") == 1, F.col("n_cust")).otherwise(0))
            .cast("long")
            .alias("n_visible"),
            F.sum(F.when(F.col("visible") == 0, F.col("n_cust")).otherwise(0))
            .cast("long")
            .alias("n_masked"),
            F.sum(F.when(F.col("visible") == 1, F.col("bal2")).otherwise(0))
            .cast("long")
            .alias("visible_bal2"),
            F.expr(
                "(10000 * sum(CASE WHEN visible = 1 THEN n_cust ELSE 0 END))"
                " div sum(n_cust)"
            ).alias("visibility_fp4"),
        )
        .orderBy("region")
    )


# --- batch 210: SQL pipe-syntax surface -----------------------------------------

# The Spark-side text uses SQL pipe syntax (|>, Spark 4's linear query
# form); the oracle is the equivalent plain ANSI text for DuckDB. Both
# compile to the same logical plan shape — the pair proves the engine's
# THIRD query entry point (DataFrame API, ANSI SQL text, pipe syntax)
# is gate-identical.
_PIPE_SQL = """
    FROM orders
    |> JOIN customer ON o_custkey = c_custkey
    |> WHERE o_orderstatus <> 'P'
    |> AGGREGATE COUNT(*) AS n_orders,
                 SUM(CAST(FLOOR(o_totalprice * 10000) AS BIGINT))
                     AS revenue_fp
       GROUP BY c_mktsegment AS segment, o_orderstatus AS status
    |> WHERE n_orders > 0
    |> ORDER BY segment, status
"""


@register(
    "sql_text_pipe_syntax",
    oracle="""
        SELECT c_mktsegment AS segment, o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 10000) AS BIGINT))
                    AS BIGINT) AS revenue_fp
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderstatus <> 'P'
        GROUP BY c_mktsegment, o_orderstatus
        HAVING COUNT(*) > 0
        ORDER BY segment, status
    """,
    tags=("sql-surface", "relational", "pipe-syntax"),
)
def sql_text_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe-syntax surface proof: the implementation text is
    Spark 4 PIPE SQL (FROM … |> JOIN … |> WHERE … |> AGGREGATE … |>
    ORDER BY — the linear form where each operator consumes the
    previous result, GoogleSQL-style), executed through the engine's
    run_sql door; the oracle is the equivalent classic ANSI text on
    DuckDB. Same plan, same fixed-point revenue discipline,
    gate-identical results — so a user can bring ANY of the three
    query dialects (DataFrame API, ANSI SQL, pipe SQL) and keep every
    determinism guarantee. The post-aggregation `|> WHERE` is pipe
    syntax's HAVING; the oracle says HAVING.

    Scale shape: Catalyst compiles the pipe text to the identical
    star-join + hash-aggregate plan as the ANSI text — broadcast
    customer, one fact shuffle on the group keys."""
    from kafkastreamer_spark.sql import run_sql

    df = run_sql(spark, sf_dir, _PIPE_SQL)
    return df.select(
        "segment",
        "status",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("revenue_fp").cast("long").alias("revenue_fp"),
    )


# --- batch 211: interrupted time series ----------------------------------------

_ITS_CUT_DAYS = 15  # intervention: 15 days after the first event day


@register(
    "events_interrupted_time_series",
    oracle=f"""
        WITH daily AS (
            SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                       AS e,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        base AS (SELECT CAST(min(e) AS BIGINT) AS e0 FROM daily),
        seg AS (
            SELECT CASE WHEN d.e < b.e0 + {_ITS_CUT_DAYS}
                        THEN 'pre' ELSE 'post' END AS segment,
                   d.e - b.e0 AS x, d.y
            FROM daily d CROSS JOIN base b
        ),
        sums AS (
            SELECT segment,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM seg GROUP BY segment
        ),
        fit AS (
            SELECT segment, n,
                   CAST(floor(10000.0 * sy / n) AS BIGINT) AS mean4,
                   CAST(floor(10000 * (CAST(n AS DOUBLE) * sxy
                                       - CAST(sx AS DOUBLE) * sy)
                        / (CAST(n AS DOUBLE) * sxx
                           - CAST(sx AS DOUBLE) * sx)) AS BIGINT) AS slope4
            FROM sums
        )
        SELECT pre.n AS n_pre, post.n AS n_post,
               pre.mean4 AS pre_mean4, post.mean4 AS post_mean4,
               pre.slope4 AS pre_slope4, post.slope4 AS post_slope4,
               post.mean4 - pre.mean4 AS mean_shift4,
               post.slope4 - pre.slope4 AS slope_change4
        FROM fit pre JOIN fit post
          ON pre.segment = 'pre' AND post.segment = 'post'
    """,
    tags=("stats", "causal", "timeseries"),
)
def events_interrupted_time_series(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interrupted time-series analysis of the daily event count
    around a fixed intervention point ({_ITS_CUT_DAYS} days into the
    series): per-segment OLS level (mean) and trend (slope), and the
    two ITS effect estimates — the level SHIFT and the slope CHANGE
    at the cut. The third member of the engine's causal-design family
    (orders_did_estimator needs a control group;
    orders_quantile_treatment_effect needs a treatment column; ITS
    needs only time), and the design an ops team applies to "did the
    deploy change traffic". Slope/mean use the agg_ols_trend
    discipline: exact BIGINT sums, one double ratio each, floored at
    1e-4; the effect columns are exact differences OF the floored
    values, so every reported number is engine-deterministic.

    Scale shape: the fact collapses to per-day counts (map-side
    combine), the 1-row min-day base broadcasts onto the day series,
    and both fits are one counts-and-moments aggregate over the
    day-domain-bounded table. Single fact shuffle."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("e")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    base = daily.agg(F.min("e").cast("long").alias("e0"))
    seg = daily.crossJoin(F.broadcast(base)).select(
        F.when(F.col("e") < F.col("e0") + _ITS_CUT_DAYS, "pre")
        .otherwise("post")
        .alias("segment"),
        (F.col("e") - F.col("e0")).alias("x"),
        "y",
    )
    sums = seg.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    fit = sums.select(
        "segment",
        "n",
        F.floor(F.lit(10000.0) * F.col("sy") / F.col("n"))
        .cast("long")
        .alias("mean4"),
        F.floor(
            10000
            * (
                F.col("n").cast("double") * F.col("sxy")
                - F.col("sx").cast("double") * F.col("sy")
            )
            / (
                F.col("n").cast("double") * F.col("sxx")
                - F.col("sx").cast("double") * F.col("sx")
            )
        )
        .cast("long")
        .alias("slope4"),
    )
    pre = fit.filter(F.col("segment") == "pre").select(
        F.col("n").alias("n_pre"),
        F.col("mean4").alias("pre_mean4"),
        F.col("slope4").alias("pre_slope4"),
    )
    post = fit.filter(F.col("segment") == "post").select(
        F.col("n").alias("n_post"),
        F.col("mean4").alias("post_mean4"),
        F.col("slope4").alias("post_slope4"),
    )
    return pre.crossJoin(F.broadcast(post)).select(
        "n_pre",
        "n_post",
        "pre_mean4",
        "post_mean4",
        "pre_slope4",
        "post_slope4",
        (F.col("post_mean4") - F.col("pre_mean4"))
        .cast("long")
        .alias("mean_shift4"),
        (F.col("post_slope4") - F.col("pre_slope4"))
        .cast("long")
        .alias("slope_change4"),
    )


# --- batch 212: quantity-weighted median unit price -----------------------------


@register(
    "lineitem_weighted_median_price",
    oracle="""
        WITH priced AS (
            SELECT l_returnflag AS flag,
                   CAST(floor(l_extendedprice * 10000) AS BIGINT)
                       // CAST(l_quantity AS BIGINT) AS p4,
                   CAST(l_quantity AS BIGINT) AS w
            FROM lineitem WHERE l_quantity > 0
        ),
        pv AS (
            SELECT flag, p4, CAST(sum(w) AS BIGINT) AS w
            FROM priced GROUP BY 1, 2
        ),
        cum AS (
            SELECT flag, p4,
                   CAST(sum(w) OVER (PARTITION BY flag ORDER BY p4)
                        AS BIGINT) AS cw,
                   CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
            FROM pv
        )
        SELECT flag,
               CAST(max(tw) AS BIGINT) AS total_weight,
               min(CASE WHEN cw >= (tw + 1) // 2 THEN p4 END)
                   AS wmedian_p4,
               min(CASE WHEN cw >= (25 * tw + 99) // 100 THEN p4 END)
                   AS wp25_p4,
               min(CASE WHEN cw >= (75 * tw + 99) // 100 THEN p4 END)
                   AS wp75_p4
        FROM cum GROUP BY flag ORDER BY flag
    """,
    tags=("relational", "statistics", "quantiles"),
)
def lineitem_weighted_median_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """QUANTITY-weighted median (and weighted p25/p75) of the unit
    micro-price per return flag: each distinct unit price counts with
    the quantity transacted at it, not once per row — the
    volume-representative price statistic a pricing desk quotes
    (agg_median_exact's unweighted median answers "the middle ROW";
    this answers "the middle UNIT"). Unit prices are the exact
    integer micro-prices of the index-number family (e4 div q); the
    weighted quantiles use the upper-discrete ⌈q·W⌉ convention on the
    per-flag cumulative-weight table — the orders_quantile_treatment
    _effect lattice generalized to weights.

    Scale shape: one map-side (flag, price) weight aggregate over the
    fact, then windows over the DISTINCT-PRICE domain per flag —
    bounded by the price domain, not rows. Single fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    priced = li.filter(F.col("l_quantity") > 0).select(
        F.col("l_returnflag").alias("flag"),
        F.expr(
            "CAST(floor(l_extendedprice * 10000) AS BIGINT)"
            " div CAST(l_quantity AS BIGINT)"
        ).alias("p4"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    pv = priced.groupBy("flag", "p4").agg(F.sum("w").cast("long").alias("w"))
    wcum = (
        Window.partitionBy("flag")
        .orderBy("p4")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("flag")
    cum = pv.select(
        "flag",
        "p4",
        F.sum("w").over(wcum).cast("long").alias("cw"),
        F.sum("w").over(wall).cast("long").alias("tw"),
    )

    def wq(expr: str, name: str):
        return F.min(
            F.when(F.col("cw") >= F.expr(expr), F.col("p4"))
        ).alias(name)

    return (
        cum.groupBy("flag")
        .agg(
            F.max("tw").cast("long").alias("total_weight"),
            wq("(tw + 1) div 2", "wmedian_p4"),
            wq("(25 * tw + 99) div 100", "wp25_p4"),
            wq("(75 * tw + 99) div 100", "wp75_p4"),
        )
        .orderBy("flag")
    )


# --- batch 213: modularity of the region partition ------------------------------


@register(
    "graph_modularity_regions",
    oracle=f"""
        WITH und AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM ({_TRADE_EDGES_SQL})
            WHERE src <> dst
        ),
        nr AS (
            SELECT n.n_nationkey AS node, r.r_name AS region
            FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        ),
        lab AS (
            SELECT u.a, u.b, ra.region AS reg_a, rb.region AS reg_b
            FROM und u
            JOIN nr ra ON ra.node = u.a
            JOIN nr rb ON rb.node = u.b
        ),
        m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
        intra AS (
            SELECT reg_a AS region, CAST(count(*) AS BIGINT) AS intra_edges
            FROM lab WHERE reg_a = reg_b GROUP BY reg_a
        ),
        deg AS (
            SELECT region, CAST(count(*) AS BIGINT) AS deg_sum
            FROM (SELECT reg_a AS region FROM lab
                  UNION ALL SELECT reg_b FROM lab)
            GROUP BY region
        ),
        per AS (
            SELECT d.region,
                   coalesce(i.intra_edges, 0) AS intra_edges,
                   d.deg_sum,
                   4 * m.m * coalesce(i.intra_edges, 0)
                       - d.deg_sum * d.deg_sum AS q_num
            FROM deg d
            LEFT JOIN intra i ON i.region = d.region
            CROSS JOIN m
        ),
        tot AS (
            SELECT CAST(sum(q_num) AS BIGINT) AS q_num_total,
                   CAST(4 * m.m * m.m AS BIGINT) AS q_den
            FROM per CROSS JOIN m GROUP BY m.m
        )
        SELECT p.region, p.intra_edges, p.deg_sum,
               CAST(p.q_num AS BIGINT) AS q_contrib_num,
               t.q_den,
               CAST(CASE WHEN t.q_num_total < 0
                         THEN -((10000 * (-t.q_num_total)) // t.q_den)
                         ELSE (10000 * t.q_num_total) // t.q_den END
                    AS BIGINT) AS modularity_fp4
        FROM per p CROSS JOIN tot t
        ORDER BY p.region
    """,
    tags=("graph", "communities", "statistics"),
)
def graph_modularity_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the GEOGRAPHIC partition of the
    undirected nation trade graph: does trade cluster within regions
    (Q > 0) or flow indifferently across them (Q ≈ 0)? Per region,
    the intra-region edge count, endpoint-degree mass, and the exact
    contribution numerator of Q = Σ_c (e_c/m − (d_c/2m)²) over the
    common denominator 4m² — so Q itself is ONE sign-split fixed-point
    division of exact BIGINTs (the quality score community-detection
    methods optimize, here EVALUATING a given partition — the
    complement of graph_supplier-style detection: known communities,
    measured quality). A negative or near-zero Q on this fixture is
    itself the finding: TPC-H-style trade is deliberately
    region-agnostic.

    Scale shape: the DISTINCT edge list is the graph_triangle_count
    derivation (one fact shuffle); labeling is two broadcast joins of
    the 25-row nation→region map; everything after runs on
    |regions|-bounded tables."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    e = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    und = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .persist()  # edge count + labeling both read it
    )
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("node"), F.col("r_name").alias("region")
    )
    ra = nr.select(F.col("node").alias("na"), F.col("region").alias("reg_a"))
    rb = nr.select(F.col("node").alias("nb"), F.col("region").alias("reg_b"))
    lab = (
        und.join(F.broadcast(ra), F.col("na") == F.col("a"))
        .join(F.broadcast(rb), F.col("nb") == F.col("b"))
        .select("a", "b", "reg_a", "reg_b")
        .persist()  # intra count + degree mass both read it
    )
    m = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    intra = (
        lab.filter(F.col("reg_a") == F.col("reg_b"))
        .groupBy(F.col("reg_a").alias("region"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    deg = (
        lab.select(F.col("reg_a").alias("region"))
        .unionAll(lab.select(F.col("reg_b").alias("region")))
        .groupBy("region")
        .agg(F.count(F.lit(1)).cast("long").alias("deg_sum"))
    )
    per = (
        deg.join(F.broadcast(intra), "region", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "region",
            F.coalesce(F.col("intra_edges"), F.lit(0))
            .cast("long")
            .alias("intra_edges"),
            "deg_sum",
            (
                4 * F.col("m") * F.coalesce(F.col("intra_edges"), F.lit(0))
                - F.col("deg_sum") * F.col("deg_sum")
            )
            .cast("long")
            .alias("q_num"),
        )
    )
    tot = per.crossJoin(F.broadcast(m)).agg(
        F.sum("q_num").cast("long").alias("q_num_total"),
        (4 * F.max("m") * F.max("m")).cast("long").alias("q_den"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "region",
            "intra_edges",
            "deg_sum",
            F.col("q_num").alias("q_contrib_num"),
            "q_den",
            F.when(
                F.col("q_num_total") < 0,
                -F.expr("(10000 * (-q_num_total)) div q_den"),
            )
            .otherwise(F.expr("(10000 * q_num_total) div q_den"))
            .cast("long")
            .alias("modularity_fp4"),
        )
        .orderBy("region")
    )


# --- batch 214: the Neyman-allocated draw ---------------------------------------


@register(
    "sample_neyman_draw",
    oracle=f"""
        WITH s AS (
            SELECT event_type AS stratum,
                   CAST(count(*) AS BIGINT) AS n_h,
                   CAST(count(*) * sum(v2 * v2) - sum(v2) * sum(v2)
                        AS BIGINT) AS ss_h
            FROM (SELECT event_type,
                         CAST(floor(value * 100) AS BIGINT) AS v2
                  FROM events)
            GROUP BY event_type
        ),
        w AS (
            SELECT stratum, n_h,
                   CAST(floor(n_h * sqrt(CAST(ss_h AS DOUBLE)
                                         / (n_h * (n_h - 1))))
                        AS BIGINT) AS weight
            FROM s WHERE n_h >= 2
        ),
        alloc AS (
            SELECT stratum, n_h,
                   ({_NEYMAN_BUDGET} * weight)
                       // (SELECT CAST(sum(weight) AS BIGINT) FROM w) AS n_alloc
            FROM w
        ),
        ranked AS (
            SELECT e.event_type AS stratum, e.event_id,
                   row_number() OVER (
                       PARTITION BY e.event_type
                       ORDER BY md5(CAST(e.event_id AS VARCHAR)),
                                e.event_id) AS rn
            FROM events e
        ),
        drawn AS (
            SELECT r.stratum, r.event_id
            FROM ranked r JOIN alloc a ON a.stratum = r.stratum
            WHERE r.rn <= a.n_alloc
        )
        SELECT a.stratum, a.n_h, a.n_alloc,
               CAST(count(d.event_id) AS BIGINT) AS n_drawn,
               CAST(coalesce(sum(d.event_id), 0) AS BIGINT)
                   AS drawn_id_sum,
               CAST(coalesce(min(d.event_id), -1) AS BIGINT)
                   AS min_drawn_id
        FROM alloc a LEFT JOIN drawn d ON d.stratum = a.stratum
        GROUP BY a.stratum, a.n_h, a.n_alloc
        ORDER BY a.stratum
    """,
    tags=("sampling", "design", "llm-data"),
)
def sample_neyman_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DRAW that executes sample_neyman_allocation's design:
    within each stratum, take exactly its Neyman-allocated n_h rows
    by deterministic md5 rank over event ids — the engine's standard
    hash-membership idiom, so the drawn set is engine-, partition-,
    and re-run-invariant (a grader can reproduce the exact sample
    from the spec alone). The output audits the draw: allocation vs
    actually-drawn counts (equal unless a stratum is smaller than its
    allocation) plus an exact id-sum fingerprint of the drawn rows —
    the design→draw loop a survey pipeline runs as one job.

    Scale shape: the allocation math is the batch-197 aggregate
    (single fact shuffle); the draw is the de-skewed md5 rank
    PARTITIONED BY stratum (parallel across the stratum domain) with
    the tiny allocation table broadcast onto it. The fingerprint is a
    counts-only rollup."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.col("event_type").alias("stratum"),
        F.floor(F.col("value") * 100).cast("long").alias("v2"),
    ).groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        (
            F.count(F.lit(1)) * F.sum(F.col("v2") * F.col("v2"))
            - F.sum("v2") * F.sum("v2")
        )
        .cast("long")
        .alias("ss_h"),
    )
    w = s.filter(F.col("n_h") >= 2).select(
        "stratum",
        "n_h",
        F.floor(
            F.col("n_h")
            * F.sqrt(
                F.col("ss_h").cast("double")
                / (F.col("n_h") * (F.col("n_h") - 1))
            )
        )
        .cast("long")
        .alias("weight"),
    )
    tot = w.agg(F.sum("weight").cast("long").alias("wsum"))
    alloc = w.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_h",
        F.expr(f"({_NEYMAN_BUDGET} * weight) div wsum").alias("n_alloc"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    ranked = ev.select(
        F.col("event_type").alias("r_stratum"),
        "event_id",
        F.row_number().over(wr).alias("rn"),
    )
    drawn = ranked.join(
        F.broadcast(alloc), F.col("r_stratum") == F.col("stratum")
    ).filter(F.col("rn") <= F.col("n_alloc")).select("stratum", "event_id")
    return (
        alloc.join(
            drawn.withColumnRenamed("stratum", "d_stratum"),
            F.col("d_stratum") == F.col("stratum"),
            "left",
        )
        .groupBy("stratum", "n_h", "n_alloc")
        .agg(
            F.count("event_id").cast("long").alias("n_drawn"),
            F.coalesce(F.sum("event_id"), F.lit(0))
            .cast("long")
            .alias("drawn_id_sum"),
            F.coalesce(F.min("event_id"), F.lit(-1))
            .cast("long")
            .alias("min_drawn_id"),
        )
        .orderBy("stratum")
    )


# --- batch 216: order header vs line-detail reconciliation ----------------------


@register(
    "orders_header_detail_reconciliation",
    oracle="""
        WITH detail AS (
            SELECT l_orderkey AS k,
                   CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                       * (1 + l_tax) * 10000) AS BIGINT))
                        AS BIGINT) AS detail_fp,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem GROUP BY 1
        ),
        recon AS (
            SELECT o.o_orderstatus AS status,
                   CAST(floor(o.o_totalprice * 10000) AS BIGINT)
                       AS header_fp,
                   d.detail_fp, d.n_lines
            FROM orders o LEFT JOIN detail d ON d.k = o.o_orderkey
        )
        SELECT status,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count_if(n_lines IS NULL) AS BIGINT) AS n_no_detail,
               CAST(count_if(detail_fp = header_fp) AS BIGINT)
                   AS n_reconciled,
               CAST(count_if(detail_fp IS NOT NULL
                             AND detail_fp <> header_fp) AS BIGINT)
                   AS n_breaks,
               CAST(sum(header_fp) AS BIGINT) AS total_header_fp,
               CAST(coalesce(sum(detail_fp), 0) AS BIGINT)
                   AS total_detail_fp,
               CAST(sum(header_fp) - coalesce(sum(detail_fp), 0)
                    AS BIGINT) AS net_gap_fp,
               CAST(coalesce(max(abs(header_fp - detail_fp)), 0)
                    AS BIGINT) AS max_abs_gap_fp
        FROM recon GROUP BY status ORDER BY status
    """,
    tags=("finance", "reconciliation", "data-quality"),
)
def orders_header_detail_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Header-vs-detail financial reconciliation: per order status,
    does the order header's total price tie out to the sum of its
    line items' net-of-discount, gross-of-tax amounts? Reports
    orders with NO detail at all (orphan headers — the fixture has
    them), exactly-reconciled orders, break counts, and the exact
    net and worst-case gaps. This is the month-end close control a
    finance team runs on any two-level fact (header/detail,
    ledger/subledger) — the financial sibling of
    profile_inclusion_deps' referential audit, measuring VALUE
    agreement, not just key presence. Every amount is an exact
    fixed-point BIGINT; gaps are exact signed subtractions (no
    division anywhere).

    Scale shape: one map-side-combining aggregate of the line fact to
    order grain, one key-equi left join against the header fact (both
    sides shuffle on the same key — AQE picks the strategy), one
    status rollup. Two fact shuffles total, the minimum for a
    two-fact reconciliation."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    detail = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 10000
            ).cast("long")
        )
        .cast("long")
        .alias("detail_fp"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    recon = o.join(detail, o.o_orderkey == detail.k, "left").select(
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 10000).cast("long").alias("header_fp"),
        "detail_fp",
        "n_lines",
    )
    return (
        recon.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.count_if(F.col("n_lines").isNull())
            .cast("long")
            .alias("n_no_detail"),
            F.count_if(F.col("detail_fp") == F.col("header_fp"))
            .cast("long")
            .alias("n_reconciled"),
            F.count_if(
                F.col("detail_fp").isNotNull()
                & (F.col("detail_fp") != F.col("header_fp"))
            )
            .cast("long")
            .alias("n_breaks"),
            F.sum("header_fp").cast("long").alias("total_header_fp"),
            F.coalesce(F.sum("detail_fp"), F.lit(0))
            .cast("long")
            .alias("total_detail_fp"),
            (F.sum("header_fp") - F.coalesce(F.sum("detail_fp"), F.lit(0)))
            .cast("long")
            .alias("net_gap_fp"),
            F.coalesce(
                F.max(F.abs(F.col("header_fp") - F.col("detail_fp"))), F.lit(0)
            )
            .cast("long")
            .alias("max_abs_gap_fp"),
        )
        .orderBy("status")
    )


# --- batch 217: bootstrap CI for the AUC ----------------------------------------

_AUC_BOOT_B = 100


@register(
    "ml_auc_bootstrap_ci",
    oracle=f"""
        WITH per_user AS MATERIALIZED ({_PER_USER_SQL}),
        reps AS (
            SELECT b.b,
                   CAST(('0x' || substr(md5(CAST(u.user_id AS VARCHAR)
                        || ':' || CAST(b.b AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 3 AS w,
                   u.score, u.y
            FROM per_user u, unnest(range(0, {_AUC_BOOT_B})) AS b(b)
        ),
        pv AS (
            SELECT b, score AS v,
                   CAST(sum(w * y) AS BIGINT) AS a,
                   CAST(sum(w) AS BIGINT) AS m
            FROM reps GROUP BY 1, 2
        ),
        cum AS (
            SELECT b, v, a, m,
                   CAST(coalesce(sum(m) OVER (PARTITION BY b ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS c
            FROM pv
        ),
        rep_auc AS (
            SELECT b,
                   CAST(sum(a) AS BIGINT) AS n_pos,
                   CAST(sum(m - a) AS BIGINT) AS n_neg,
                   CAST(sum(a * (2*c + m + 1)) AS BIGINT) AS two_r
            FROM cum GROUP BY b
        ),
        rep_fp AS (
            SELECT b,
                   CASE WHEN n_pos = 0 OR n_neg = 0 THEN 50000000
                        ELSE (100000000 * (two_r - n_pos * (n_pos + 1)))
                             // (2 * n_pos * n_neg) END AS auc_fp8
            FROM rep_auc
        ),
        ranked AS (
            SELECT auc_fp8, row_number() OVER (ORDER BY auc_fp8, b) AS rn
            FROM rep_fp
        ),
        pt AS (
            SELECT CAST(sum(a) AS BIGINT) AS n_pos,
                   CAST(sum(m - a) AS BIGINT) AS n_neg,
                   CAST(sum(a * (2*c + m + 1)) AS BIGINT) AS two_r
            FROM (
                SELECT v, a, m,
                       CAST(coalesce(sum(m) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS BIGINT) AS c
                FROM (
                    SELECT score AS v, CAST(sum(y) AS BIGINT) AS a,
                           CAST(count(*) AS BIGINT) AS m
                    FROM per_user GROUP BY score
                )
            )
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM per_user) AS n_users,
               {_AUC_BOOT_B} AS n_replicates,
               (100000000 * (pt.two_r - pt.n_pos * (pt.n_pos + 1)))
                   // (2 * pt.n_pos * pt.n_neg) AS point_auc_fp8,
               (SELECT auc_fp8 FROM ranked WHERE rn = 5) AS lo_auc_fp8,
               (SELECT auc_fp8 FROM ranked WHERE rn = 95) AS hi_auc_fp8
        FROM pt
    """,
    tags=("ml", "metrics", "bootstrap"),
)
def ml_auc_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multiplier-bootstrap confidence interval for the
    ROC-AUC: {_AUC_BOOT_B} replicates reweight every USER by the
    hash-derived {{0,1,2}} multiplier of events_bootstrap_mean_ci
    (md5(user, replicate) — reproducible Poisson-bootstrap, no RNG,
    both engines draw identical weights), each replicate's AUC
    computed through the tie-corrected WEIGHTED rank-sum identity
    (integer weights are just duplicated samples, so the
    ml_click_purchase_auc integerization carries over unchanged), and
    the CI is the 5th/95th order statistic of the replicate AUCs.
    This is the error bar a model report puts next to the point AUC —
    without it, a 0.71-vs-0.72 model comparison is noise. A replicate
    that zeroes out a class degenerates to AUC 0.5 by convention
    (documented, deterministic).

    Scale shape: ONE groupBy(user) fact shuffle; the replicate lattice
    multiplies only the per-user table (users × {_AUC_BOOT_B}, map-side
    explode) and immediately collapses to (replicate, distinct-score)
    grain — the windows run per replicate over the score DOMAIN, and
    the order statistic over {_AUC_BOOT_B} rows."""
    pu = _per_user(spark, sf_dir).persist()  # replicates + point estimate
    b = spark.range(0, _AUC_BOOT_B).select(F.col("id").cast("long").alias("b"))
    reps = pu.crossJoin(F.broadcast(b)).select(
        "b",
        "score",
        "y",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
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
    pv = reps.groupBy("b", F.col("score").alias("v")).agg(
        F.sum(F.col("w") * F.col("y")).cast("long").alias("a"),
        F.sum("w").cast("long").alias("m"),
    )
    w_prev = (
        Window.partitionBy("b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = pv.withColumn(
        "c", F.coalesce(F.sum("m").over(w_prev), F.lit(0)).cast("long")
    )
    rep_auc = cum.groupBy("b").agg(
        F.sum("a").cast("long").alias("n_pos"),
        F.sum(F.col("m") - F.col("a")).cast("long").alias("n_neg"),
        F.sum(F.col("a") * (2 * F.col("c") + F.col("m") + 1))
        .cast("long")
        .alias("two_r"),
    )
    rep_fp = rep_auc.select(
        "b",
        F.when((F.col("n_pos") == 0) | (F.col("n_neg") == 0), F.lit(50000000))
        .otherwise(
            F.expr(
                "(100000000 * (two_r - n_pos * (n_pos + 1)))"
                " div (2 * n_pos * n_neg)"
            )
        )
        .cast("long")
        .alias("auc_fp8"),
    )
    ranked = rep_fp.withColumn(
        "rn", F.row_number().over(Window.orderBy("auc_fp8", "b"))
    )
    lo = ranked.filter(F.col("rn") == 5).select(
        F.col("auc_fp8").alias("lo_auc_fp8")
    )
    hi = ranked.filter(F.col("rn") == 95).select(
        F.col("auc_fp8").alias("hi_auc_fp8")
    )
    pv0 = pu.groupBy(F.col("score").alias("v")).agg(
        F.sum("y").cast("long").alias("a"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    w0 = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pt = (
        pv0.withColumn(
            "c", F.coalesce(F.sum("m").over(w0), F.lit(0)).cast("long")
        )
        .agg(
            F.sum("a").cast("long").alias("n_pos"),
            F.sum(F.col("m") - F.col("a")).cast("long").alias("n_neg"),
            F.sum(F.col("a") * (2 * F.col("c") + F.col("m") + 1))
            .cast("long")
            .alias("two_r"),
        )
    )
    nu = pu.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    return (
        pt.crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_users",
            F.lit(_AUC_BOOT_B).cast("long").alias("n_replicates"),
            F.expr(
                "(100000000 * (two_r - n_pos * (n_pos + 1)))"
                " div (2 * n_pos * n_neg)"
            ).alias("point_auc_fp8"),
            "lo_auc_fp8",
            "hi_auc_fp8",
        )
    )


# --- batch 218: coarsened-exact-matching ATT --------------------------------------


@register(
    "events_cem_att",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   CAST(count_if(event_type = 'click') AS BIGINT) AS score,
                   CASE WHEN count_if(event_type = 'purchase')
                             > count_if(event_type = 'error')
                        THEN 1 ELSE 0 END AS y,
                   CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                             IN ('0','1','2','3','4','5','6','7')
                        THEN 1 ELSE 0 END AS trt
            FROM events GROUP BY user_id
        ),
        bins AS (
            SELECT least(score, 10) AS bin,
                   CAST(count_if(trt = 1) AS BIGINT) AS nt,
                   CAST(sum(CASE WHEN trt = 1 THEN y ELSE 0 END)
                        AS BIGINT) AS at,
                   CAST(count_if(trt = 0) AS BIGINT) AS nc,
                   CAST(sum(CASE WHEN trt = 0 THEN y ELSE 0 END)
                        AS BIGINT) AS ac
            FROM per_user GROUP BY 1
        ),
        matched AS (
            SELECT bin, nt, at, nc, ac,
                   at * nc - ac * nt AS gap_num,
                   nt * nc AS gap_den,
                   CAST(CASE WHEN at * nc - ac * nt < 0
                             THEN -((10000 * (ac * nt - at * nc))
                                    // (nt * nc))
                             ELSE (10000 * (at * nc - ac * nt))
                                  // (nt * nc) END AS BIGINT) AS gap_fp4
            FROM bins WHERE nt > 0 AND nc > 0
        ),
        att AS (
            SELECT CAST(sum(nt) AS BIGINT) AS n_matched_treated,
                   CAST(CASE WHEN sum(nt * gap_fp4) < 0
                             THEN -((-sum(nt * gap_fp4)) // sum(nt))
                             ELSE sum(nt * gap_fp4) // sum(nt) END
                        AS BIGINT) AS att_fp4
            FROM matched
        ),
        pruned AS (
            SELECT CAST(coalesce(sum(nt + nc), 0) AS BIGINT) AS n_pruned
            FROM bins WHERE nt = 0 OR nc = 0
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM matched)
                   AS n_matched_bins,
               a.n_matched_treated, p.n_pruned, a.att_fp4
        FROM att a CROSS JOIN pruned p
    """,
    tags=("ml", "causal", "matching"),
)
def events_cem_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened-exact-matching estimate of the average treatment
    effect on the treated: users are matched on their coarsened
    click-score bin (the calibration-bin coarsening), bins missing
    either a treated or control member are PRUNED (reported — CEM's
    honesty feature: it tells you whom you could not match), and the
    ATT is the treated-weighted mean of per-bin outcome-rate gaps.
    Completes the causal family's estimator spectrum: DiD (parallel
    trends), QTE (distributional), ITS (time only), Qini (targeting
    value), and now matching (selection on observables). The same md5
    A/B split and label as ml_uplift_qini, so the two estimates are
    directly comparable. Per-bin gaps use the fuzzed sign-split
    fixed-point convention; the ATT rollup reapplies it to the
    weighted sum.

    Scale shape: one groupBy(user) fact shuffle, an 11-bin
    conditional aggregate, and scalar rollups — nothing beyond the
    ml-metrics family's single-shuffle contract."""
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
    ).withColumn(
        "trt",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
                *"01234567"
            ),
            1,
        ).otherwise(0),
    )
    bins = pu.groupBy(F.least("score", F.lit(10)).alias("bin")).agg(
        F.count_if(F.col("trt") == 1).cast("long").alias("nt"),
        F.sum(F.when(F.col("trt") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("at"),
        F.count_if(F.col("trt") == 0).cast("long").alias("nc"),
        F.sum(F.when(F.col("trt") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("ac"),
    )
    gap_num = F.col("at") * F.col("nc") - F.col("ac") * F.col("nt")
    matched = bins.filter((F.col("nt") > 0) & (F.col("nc") > 0)).withColumn(
        "gap_fp4",
        F.when(
            gap_num < 0,
            -F.expr("(10000 * (ac * nt - at * nc)) div (nt * nc)"),
        )
        .otherwise(F.expr("(10000 * (at * nc - ac * nt)) div (nt * nc)"))
        .cast("long"),
    )
    att = matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched_bins"),
        F.sum("nt").cast("long").alias("n_matched_treated"),
        F.when(
            F.sum(F.col("nt") * F.col("gap_fp4")) < 0,
            -F.expr("(-sum(nt * gap_fp4)) div sum(nt)"),
        )
        .otherwise(F.expr("sum(nt * gap_fp4) div sum(nt)"))
        .cast("long")
        .alias("att_fp4"),
    )
    pruned = bins.filter((F.col("nt") == 0) | (F.col("nc") == 0)).agg(
        F.coalesce(F.sum(F.col("nt") + F.col("nc")), F.lit(0))
        .cast("long")
        .alias("n_pruned")
    )
    return att.crossJoin(F.broadcast(pruned)).select(
        "n_matched_bins", "n_matched_treated", "n_pruned", "att_fp4"
    )


# --- batch 219: seasonality / trend strength ------------------------------------


@register(
    "events_seasonal_strength",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1
        ),
        ma AS (
            SELECT day, c,
                   CASE WHEN count(*) OVER w = 7
                        THEN (sum(c) OVER w * 10000) // 7 END AS trend4,
                   CAST(dayofweek(day) AS BIGINT) AS dow
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        det AS (
            SELECT day, c, dow, trend4, c * 10000 - trend4 AS det4
            FROM ma WHERE trend4 IS NOT NULL
        ),
        seas AS (
            SELECT dow,
                   CAST(floor(CAST(sum(det4) AS DOUBLE) / count(det4))
                        AS BIGINT) AS seasonal4
            FROM det GROUP BY dow
        ),
        comp AS (
            SELECT CAST(floor(CAST(d.det4 AS DOUBLE) / 10000) AS BIGINT)
                       AS det0,
                   CAST(floor(CAST(d.det4 - s.seasonal4 AS DOUBLE) / 10000)
                        AS BIGINT) AS rem0,
                   CAST(floor(CAST(d.c * 10000 - s.seasonal4 AS DOUBLE)
                              / 10000) AS BIGINT) AS deseas0
            FROM det d JOIN seas s USING (dow)
        ),
        ss AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(*) * sum(det0 * det0)
                        - sum(det0) * sum(det0) AS BIGINT) AS ss_det,
                   CAST(count(*) * sum(rem0 * rem0)
                        - sum(rem0) * sum(rem0) AS BIGINT) AS ss_rem,
                   CAST(count(*) * sum(deseas0 * deseas0)
                        - sum(deseas0) * sum(deseas0) AS BIGINT) AS ss_deseas
            FROM comp
        )
        SELECT n AS n_days_used, ss_det, ss_rem, ss_deseas,
               CAST(greatest(0, 10000 - CASE WHEN ss_det = 0 THEN 10000
                        ELSE (10000 * ss_rem) // ss_det END)
                    AS BIGINT) AS seasonal_strength_fp4,
               CAST(greatest(0, 10000 - CASE WHEN ss_deseas = 0 THEN 10000
                        ELSE (10000 * ss_rem) // ss_deseas END)
                    AS BIGINT) AS trend_strength_fp4
        FROM ss
    """,
    tags=("timeseries", "statistics", "decomposition"),
)
def events_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman seasonality/trend STRENGTH of the daily event series:
    F_seasonal = max(0, 1 − Var(remainder)/Var(detrended)) and
    F_trend = max(0, 1 − Var(remainder)/Var(deseasonalized)) — the
    two numbers that SUMMARIZE events_seasonal_decompose's component
    table (strength ≈ 1: the component explains the series; ≈ 0:
    noise), used to route series between seasonal and non-seasonal
    forecasters (lineitem_demand_classification's continuous
    sibling). Components reuse the decompose pipeline bit-for-bit,
    are rescaled to count units through the floor-via-double route
    (negatives floor identically in both engines), and each variance
    is the exact integer SS = n·Σx² − (Σx)²; the ratios are single
    floor divisions.

    Scale shape: identical to the decompose query — per-day
    map-side reduction, calendar-bounded windows, 7-row broadcast
    seasonal table, one scalar rollup. The count-unit rescale keeps
    n·Σx² within BIGINT for series up to ~10⁶ days × 10⁸ daily
    events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    ma = daily.select(
        "day",
        "c",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.expr("(sum(c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING"
                   " AND 3 FOLLOWING) * 10000) div 7"),
        ).alias("trend4"),
        F.dayofweek("day").cast("long").alias("dow"),
    )
    det = ma.filter(F.col("trend4").isNotNull()).select(
        "day",
        "c",
        "dow",
        (F.col("c") * 10000 - F.col("trend4")).alias("det4"),
    )
    seas = det.groupBy("dow").agg(
        F.floor(F.sum("det4").cast("double") / F.count("det4"))
        .cast("long")
        .alias("seasonal4")
    )
    comp = det.join(F.broadcast(seas), "dow").select(
        F.floor(F.col("det4").cast("double") / 10000).cast("long").alias("det0"),
        F.floor((F.col("det4") - F.col("seasonal4")).cast("double") / 10000)
        .cast("long")
        .alias("rem0"),
        F.floor(
            (F.col("c") * 10000 - F.col("seasonal4")).cast("double") / 10000
        )
        .cast("long")
        .alias("deseas0"),
    )

    def ssq(col: str, name: str):
        return (
            F.count(F.lit(1)) * F.sum(F.col(col) * F.col(col))
            - F.sum(col) * F.sum(col)
        ).cast("long").alias(name)

    ss = comp.agg(
        F.count(F.lit(1)).cast("long").alias("n_days_used"),
        ssq("det0", "ss_det"),
        ssq("rem0", "ss_rem"),
        ssq("deseas0", "ss_deseas"),
    )
    return ss.select(
        "n_days_used",
        "ss_det",
        "ss_rem",
        "ss_deseas",
        F.greatest(
            F.lit(0),
            F.lit(10000)
            - F.when(F.col("ss_det") == 0, F.lit(10000)).otherwise(
                F.expr("(10000 * ss_rem) div ss_det")
            ),
        )
        .cast("long")
        .alias("seasonal_strength_fp4"),
        F.greatest(
            F.lit(0),
            F.lit(10000)
            - F.when(F.col("ss_deseas") == 0, F.lit(10000)).otherwise(
                F.expr("(10000 * ss_rem) div ss_deseas")
            ),
        )
        .cast("long")
        .alias("trend_strength_fp4"),
    )


# --- batch 220: source-level n-gram containment matrix ---------------------------

_SRC_NGRAM_N = 5


@register(
    "text_source_ngram_containment",
    oracle=f"""
        WITH tok AS (
            SELECT source, doc_id,
                   string_split_regex(lower(text), '\\s+') AS w
            FROM documents
        ),
        sh0 AS (
            SELECT source,
                   list_transform(
                       range(1, len(w) - {_SRC_NGRAM_N} + 2),
                       i -> array_to_string(
                           w[CAST(i AS BIGINT):CAST(i + {_SRC_NGRAM_N} - 1
                                                    AS BIGINT)], ' ')
                   ) AS gs
            FROM tok WHERE len(w) >= {_SRC_NGRAM_N}
        ),
        sh AS MATERIALIZED (
            SELECT DISTINCT source, unnest(gs) AS g FROM sh0
        ),
        vs AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_shingles
            FROM sh GROUP BY source
        ),
        inter AS (
            SELECT x.source AS sa, y.source AS sb,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM sh x JOIN sh y
              ON x.g = y.g AND x.source <> y.source
            GROUP BY 1, 2
        )
        SELECT i.sa AS source_a, i.sb AS source_b,
               va.n_shingles AS shingles_a, i.n_common,
               (10000 * i.n_common) // va.n_shingles
                   AS containment_fp4
        FROM inter i
        JOIN vs va ON va.source = i.sa
        ORDER BY containment_fp4 DESC, source_a, source_b
        LIMIT 40
    """,
    tags=("llm-data", "dedup", "profiling"),
)
def text_source_ngram_containment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Source×source {_SRC_NGRAM_N}-gram CONTAINMENT matrix: what
    fraction of source A's distinct word shingles also appear
    anywhere in source B — the asymmetric partial-copy signal between
    ingestion sources (dedup_cross_source_matrix catches whole-
    document sharing via prefix fingerprints;
    text_source_vocab_jaccard catches topical overlap at the token
    level; this sits between — a source that PARAPHRASES another
    shares n-grams without sharing documents or just vocabulary).
    Directionality matters: a small source copied INTO a big one
    shows high containment A→B and low B→A. Top-40 ordered pairs by
    containment; exact BIGINT counts, one floor division.

    Scale shape: shingling is a map-only explode; the (source,
    shingle) DISTINCT collapses before the self-join; the pair join
    is equi-keyed on the shingle with fanout bounded by the source
    count per shingle — the dedup_ngram_jaccard inverted-index
    envelope at source (not document) grain, so candidate volume is
    linear in distinct shingles."""
    d = load_table(spark, sf_dir, "documents")
    from kafkastreamer_spark.operators._embed import shingles, tokens

    sh = (
        d.select(
            "source",
            F.explode(
                shingles(tokens(F.col("text")), _SRC_NGRAM_N)
            ).alias("g"),
        )
        .distinct()
        .persist()  # per-source sizes + the pair self-join
    )
    vs = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    right = sh.select(F.col("source").alias("sb"), F.col("g").alias("g2"))
    inter = (
        sh.join(
            right,
            (F.col("g") == F.col("g2")) & (F.col("source") != F.col("sb")),
        )
        .groupBy(F.col("source").alias("sa"), "sb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    va = vs.select(
        F.col("source").alias("va_s"), F.col("n_shingles").alias("shingles_a")
    )
    return (
        inter.join(F.broadcast(va), F.col("va_s") == F.col("sa"))
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "shingles_a",
            "n_common",
            F.expr("(10000 * n_common) div shingles_a").alias(
                "containment_fp4"
            ),
        )
        .orderBy(F.col("containment_fp4").desc(), "source_a", "source_b")
        .limit(40)
    )

"""Probabilistic-filter calibration, LM smoothing statistics,
sessionized engagement quality, and seed-node centrality.

* ``layout_bloom_fpp_audit`` — build a Bloom filter (md5-derived
  positions, fixed m/k) over the keys of customers WITH orders,
  probe it with the customers WITHOUT orders, and report the
  observed false-positive rate and fill factor: the measured
  calibration check behind join_bloom_prefilter's pre-filter claim.
* ``text_kn_discount_stats`` — the Kneser–Ney smoothing statistics
  over corpus word bigrams: N1..N4+ count-of-count classes and the
  standard D1/D2/D3+ discounts — the LM-smoothing companion of
  text_trigram_lm_counts (raw counts) and text_vocab_growth (types).
* ``events_session_bounce_rate`` — single-event-session share per
  session-opening event type on the engine's standard 30-min-gap
  sessions: the engagement-quality rollup beside the duration
  histogram (span) and path top-k (sequence).
* ``graph_harmonic_centrality_seeds`` — exact 3-hop harmonic
  centrality of the top-5 highest-degree nodes of the part–supplier
  bipartite graph via per-seed BFS: the "who sits centrally"
  complement of the reach histogram (graph_bfs_distance_histogram
  profiles distance mass; this ranks chosen nodes by it).

Reference parity note: no reference analog (keyed int streamer,
v1/src/main/java/Stream/Streamer.java); SURVEY §2 Part-B layout /
LLM-text / events / graph closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.operators._embed import SQL_TOKENS, tokens
from kafkastreamer_spark.operators._graph import min_label_step
from kafkastreamer_spark.queries.graph import closed_part_supplier_edges
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table, widen

# ---------------------------------------------------------------------------
# layout_bloom_fpp_audit
# ---------------------------------------------------------------------------

_BLOOM_M = 16384  # filter bits (2^14 — md5-slice mod m is unbiased)
_BLOOM_K = 3  # hash functions = 3 disjoint md5 slices

# position j (1-based md5 hex offsets 1/9/17, 8 hex digits each) mod m
_BLOOM_POS_SQL = [
    f"CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), {1 + 8 * j}, 8)) "
    f"AS BIGINT) % {_BLOOM_M}"
    for j in range(_BLOOM_K)
]


@register(
    "layout_bloom_fpp_audit",
    oracle=f"""
        WITH split AS (
            -- hex digit 25 of the key md5 (disjoint from the three
            -- position slices at offsets 1/9/17) splits the keys into
            -- a member half and a guaranteed-non-member probe half
            SELECT c_custkey,
                   CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                                        25, 1)) AS BIGINT) % 2 AS half
            FROM customer
        ),
        members AS (SELECT c_custkey FROM split WHERE half = 0),
        probes AS (SELECT c_custkey FROM split WHERE half = 1),
        bits AS (
            SELECT DISTINCT unnest([{', '.join(_BLOOM_POS_SQL)}]) AS pos
            FROM members
        ),
        probe_pos AS (
            SELECT c_custkey, unnest([{', '.join(_BLOOM_POS_SQL)}]) AS pos
            FROM probes
        ),
        hits AS (
            SELECT p.c_custkey,
                   count(*) AS k_total,
                   count(b.pos) AS k_hit
            FROM probe_pos p LEFT JOIN bits b ON b.pos = p.pos
            GROUP BY 1
        ),
        s AS (
            SELECT CAST((SELECT count(*) FROM members) AS BIGINT) AS n_members,
                   CAST((SELECT count(*) FROM bits) AS BIGINT) AS bits_set,
                   CAST(count(*) AS BIGINT) AS n_probes,
                   CAST(count_if(k_hit = k_total) AS BIGINT) AS n_false_pos
            FROM hits
        )
        SELECT n_members, bits_set, n_probes, n_false_pos,
               (10000 * n_false_pos) // n_probes AS fpp4,
               (10000 * bits_set) // {_BLOOM_M} AS fill4
        FROM s WHERE n_probes > 0
    """,
    tags=("layout", "sketch", "audit"),
)
def layout_bloom_fpp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter calibration audit: split the customer keys into a
    member half and a probe half by an md5 parity bit (hex digit 25 —
    disjoint from the three position slices, so the split is
    independent of the hashes under audit; the fixture has no
    natural non-member population — every customer orders), insert
    the member half into an m=16384-bit, k=3 filter (positions =
    three disjoint 8-hex-digit md5 slices of the key, mod m —
    deterministic on both engines), probe with the other half (never
    inserted, by construction), and report the observed
    false-positive rate and the fill factor. The measured answer to "is the bloom-prefilter
    join strategy actually seeing its theoretical FPP on this key
    distribution?" — calibration drift here means biased hash slices
    or a mis-sized filter.

    Scale shape: the filter materializes as the DISTINCT inserted
    position set — at most m = 16384 rows no matter how many members
    (the groupBy is bounded by the bit-array size) — and the probe
    side joins that bounded relation (broadcast) on position, then
    one all-positions-hit count per probe key. No per-row Python, no
    bitmap state: the bit array IS a bounded relation.
    """
    c = load_table(spark, sf_dir, "customer")
    half = (
        F.conv(
            F.substring(F.md5(F.col("c_custkey").cast("string")), 25, 1), 16, 10
        ).cast("long")
        % 2
    )
    split = c.select("c_custkey", half.alias("half"))
    members = split.filter(F.col("half") == 0).select("c_custkey")
    probes = split.filter(F.col("half") == 1).select("c_custkey")
    pos_arr = F.array(
        *[
            (
                F.conv(
                    F.substring(F.md5(F.col("c_custkey").cast("string")), 1 + 8 * j, 8),
                    16,
                    10,
                ).cast("long")
                % _BLOOM_M
            )
            for j in range(_BLOOM_K)
        ]
    )
    bits = (
        members.select(F.explode(pos_arr).alias("pos")).distinct()
    )
    bits = bits.persist()  # bits_set count + the probe join share it
    probe_pos = probes.select("c_custkey", F.explode(pos_arr).alias("pos"))
    hits = (
        probe_pos.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("k_total"),
            F.count("hit").alias("k_hit"),
        )
    )
    n_members = members.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    bits_set = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    s = hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.count_if(F.col("k_hit") == F.col("k_total"))
        .cast("long")
        .alias("n_false_pos"),
    )
    return (
        n_members.crossJoin(F.broadcast(bits_set))
        .crossJoin(F.broadcast(s))
        .filter(F.col("n_probes") > 0)
        .select(
            "n_members",
            "bits_set",
            "n_probes",
            "n_false_pos",
            F.expr("(10000 * n_false_pos) div n_probes").alias("fpp4"),
            F.expr(f"(10000 * bits_set) div {_BLOOM_M}").alias("fill4"),
        )
    )


# ---------------------------------------------------------------------------
# text_kn_discount_stats
# ---------------------------------------------------------------------------


@register(
    "text_kn_discount_stats",
    oracle=f"""
        WITH words AS (SELECT {SQL_TOKENS} AS w FROM documents),
        bigrams AS (
            SELECT w[i] || ' ' || w[i + 1] AS bg
            FROM words, UNNEST(range(1, len(w))) AS u(i)
            WHERE len(w) >= 2
        ),
        bgc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c FROM bigrams GROUP BY bg),
        coc AS (
            SELECT CAST(count(*) AS BIGINT) AS n_types,
                   CAST(count_if(c = 1) AS BIGINT) AS n1,
                   CAST(count_if(c = 2) AS BIGINT) AS n2,
                   CAST(count_if(c = 3) AS BIGINT) AS n3,
                   CAST(count_if(c >= 4) AS BIGINT) AS n4p
            FROM bgc
        )
        SELECT n_types, n1, n2, n3, n4p,
               CASE WHEN n1 > 0 AND n2 > 0 THEN
                   CAST(floor(10000.0 * (1.0 - 2.0 * (CAST(n1 AS DOUBLE)
                        / (n1 + 2 * n2)) * n2 / n1)) AS BIGINT) END AS d1_4,
               CASE WHEN n1 > 0 AND n2 > 0 THEN
                   CAST(floor(10000.0 * (2.0 - 3.0 * (CAST(n1 AS DOUBLE)
                        / (n1 + 2 * n2)) * n3 / n2)) AS BIGINT) END AS d2_4,
               CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 THEN
                   CAST(floor(10000.0 * (3.0 - 4.0 * (CAST(n1 AS DOUBLE)
                        / (n1 + 2 * n2)) * n4p / n3)) AS BIGINT) END AS d3_4
        FROM coc
    """,
    tags=("llm-data", "text", "language-model"),
)
def text_kn_discount_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney discount statistics over corpus word bigrams: the
    count-of-counts classes N1/N2/N3/N4+ (bigram types occurring
    exactly 1, 2, 3, ≥4 times) and the standard modified-KN discounts
    D1 = 1 − 2Y·N2/N1, D2 = 2 − 3Y·N3/N2, D3+ = 3 − 4Y·N4+/N3 with
    Y = N1/(N1 + 2N2) — the numbers an n-gram LM needs before it can
    smooth. Bigrams keep MULTIPLICITY (unlike the distinct shingle
    sets the dedup family uses) because count-of-counts is an
    occurrence statistic. Discounts are floors over IEEE expressions
    of exact BIGINTs; each discount NULLs out when its denominators
    vanish (this corpus's ~31-token vocabulary leaves no singleton
    bigrams at sf0.1, so the count classes stay meaningful while the
    discounts go NULL identically on both engines).

    Scale shape: bigram explode → one vocabulary-sized groupBy with
    map-side combine → a 5-number count-of-counts rollup. Nothing
    after the bigram count exceeds one row.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    w = tokens("text")
    bigrams = (
        d.select(w.alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("w"), i.cast("int")),
                        F.element_at(F.col("w"), (i + 1).cast("int")),
                    ),
                )
            ).alias("bg")
        )
    )
    bgc = bigrams.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("c"))
    coc = bgc.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.count_if(F.col("c") == 1).cast("long").alias("n1"),
        F.count_if(F.col("c") == 2).cast("long").alias("n2"),
        F.count_if(F.col("c") == 3).cast("long").alias("n3"),
        F.count_if(F.col("c") >= 4).cast("long").alias("n4p"),
    )
    y = F.col("n1").cast("double") / (F.col("n1") + 2 * F.col("n2"))
    g12 = (F.col("n1") > 0) & (F.col("n2") > 0)
    return coc.select(
        "n_types",
        "n1",
        "n2",
        "n3",
        "n4p",
        F.when(
            g12,
            F.floor(10000.0 * (1.0 - 2.0 * y * F.col("n2") / F.col("n1"))).cast(
                "long"
            ),
        ).alias("d1_4"),
        F.when(
            g12,
            F.floor(10000.0 * (2.0 - 3.0 * y * F.col("n3") / F.col("n2"))).cast(
                "long"
            ),
        ).alias("d2_4"),
        F.when(
            g12 & (F.col("n3") > 0),
            F.floor(10000.0 * (3.0 - 4.0 * y * F.col("n4p") / F.col("n3"))).cast(
                "long"
            ),
        ).alias("d3_4"),
    )


# ---------------------------------------------------------------------------
# events_session_bounce_rate
# ---------------------------------------------------------------------------


@register(
    "events_session_bounce_rate",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                             OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, event_type, new_session,
                   SUM(new_session) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                       AS session_id
            FROM flagged
        ),
        per_session AS (
            -- exactly one row per session carries new_session = 1
            -- (its opener), so the max(CASE) picks it exactly
            SELECT user_id, session_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   max(CASE WHEN new_session = 1 THEN event_type END)
                       AS opening_type
            FROM sessions GROUP BY 1, 2
        )
        SELECT opening_type,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(count_if(n_events = 1) AS BIGINT) AS n_bounce,
               (10000 * count_if(n_events = 1)) // count(*) AS bounce4
        FROM per_session GROUP BY opening_type ORDER BY opening_type
    """,
    tags=("events", "session", "engagement"),
)
def events_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate per session-opening event type: on the engine's
    standard 30-min-gap sessions (exact unix_micros gap, (ts,
    event_id) total order — the idiom every sessionization query
    shares), the share of sessions that contain exactly one event,
    grouped by the session's first event type. The landing-quality
    rollup: a high bounce share on 'view' openings and a low one on
    'purchase' openings is the shape product analytics expects —
    deviations localize instrumentation or funnel bugs.

    Scale shape: one shuffle on user_id reused by the gap flag and
    the running session id; sessions aggregate per (user, session)
    with the opener picked by min_by over the same total order; the
    final rollup is ≤|event types| rows.
    """
    ev = widen(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # exactly one row per session carries new_session = 1 (its opener)
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max(
            F.when(F.col("new_session") == 1, F.col("event_type"))
        ).alias("opening_type"),
    )
    return (
        per_session.groupBy("opening_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.count_if(F.col("n_events") == 1).cast("long").alias("n_bounce"),
        )
        .select(
            "opening_type",
            "n_sessions",
            "n_bounce",
            F.expr("(10000 * n_bounce) div n_sessions").alias("bounce4"),
        )
        .orderBy("opening_type")
    )


# ---------------------------------------------------------------------------
# graph_harmonic_centrality_seeds
# ---------------------------------------------------------------------------

_HC_ROUNDS = 3
_HC_SEEDS = 5


def _hc_iter_sql(prev: str, out: str) -> str:
    # one per-seed BFS relaxation (same shape as graph_bfs's rounds,
    # keyed by seed)
    return f"""
        {out} AS (
            SELECT seed, node, min(d) AS d FROM (
                SELECT seed, node, d FROM {prev}
                UNION ALL
                SELECT {prev}.seed, e.dst AS node, {prev}.d + 1 AS d
                FROM edges e JOIN {prev} ON {prev}.node = e.src
            ) GROUP BY seed, node
        )"""


@register(
    "graph_harmonic_centrality_seeds",
    oracle=f"""
        WITH half AS (
            SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM lineitem
        ),
        edges AS (
            SELECT src, dst FROM half
            UNION
            SELECT dst, src FROM half
        ),
        deg AS (
            SELECT src AS node, count(*) AS degree FROM edges GROUP BY src
        ),
        seeds AS (
            SELECT node AS seed FROM deg
            ORDER BY degree DESC, node LIMIT {_HC_SEEDS}
        ),
        d0 AS (SELECT seed, seed AS node, 0 AS d FROM seeds),
        {_hc_iter_sql("d0", "d1")},
        {_hc_iter_sql("d1", "d2")},
        {_hc_iter_sql("d2", "d3")}
        SELECT seed,
               CAST(count_if(d = 1) AS BIGINT) AS c1,
               CAST(count_if(d = 2) AS BIGINT) AS c2,
               CAST(count_if(d = 3) AS BIGINT) AS c3,
               (10000 * (6 * count_if(d = 1) + 3 * count_if(d = 2)
                         + 2 * count_if(d = 3))) // 6 AS harmonic4
        FROM d3 GROUP BY seed ORDER BY seed
    """,
    tags=("graph", "iterative", "centrality"),
)
def graph_harmonic_centrality_seeds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact 3-hop harmonic centrality (Σ 1/d over reached nodes) of
    the top-5 highest-degree nodes of the part–supplier bipartite
    graph (degree DESC, node-id tie-break — a total order). Harmonic
    centrality is the standard "who can reach everyone quickly"
    ranking that stays defined on disconnected graphs; the 3-round cap
    makes it the deterministic k-step variant (the fixed-round
    discipline of graph_bfs_distance_histogram) — production runs
    continue to frontier exhaustion or switch to HyperBall sketches.
    Σ 1/d folds to exact integers: harmonic4 = 10000·(6c1 + 3c2 +
    2c3)/6 via one integer division.

    Scale shape: per-seed BFS state is (seed, node, lbl) — bounded by
    seeds × nodes with the seed count FIXED at 5; each round is one
    ``min_label_step`` keyed by seed over the closed edge list (which
    keeps its src partitioning across rounds). The seed pick itself
    is a degree count + global top-5 over the node-sized degree
    relation; every node has exactly one self-loop in the closed
    list, so its count is the degree plus one and ranks the same.
    """
    edges = closed_part_supplier_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    seeds = (
        deg.orderBy(F.desc("degree"), "node").limit(_HC_SEEDS).select(
            F.col("node").alias("seed")
        )
    )
    dist = seeds.select("seed", F.col("seed").alias("node"), F.lit(0).alias("lbl"))
    for _ in range(_HC_ROUNDS):
        dist = min_label_step(edges, dist, by=("seed",), hops=True)
    return (
        dist.groupBy("seed")
        .agg(
            F.count_if(F.col("lbl") == 1).cast("long").alias("c1"),
            F.count_if(F.col("lbl") == 2).cast("long").alias("c2"),
            F.count_if(F.col("lbl") == 3).cast("long").alias("c3"),
        )
        .select(
            "seed",
            "c1",
            "c2",
            "c3",
            F.expr("(10000 * (6 * c1 + 3 * c2 + 2 * c3)) div 6").alias("harmonic4"),
        )
        .orderBy("seed")
    )

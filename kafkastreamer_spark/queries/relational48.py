"""Content-defined chunking, the two-sample t statistic, graph-degree
inequality, and a calibration z-test.

* ``dedup_cdc_storage_savings`` — storage-dedup accounting under
  CONTENT-DEFINED chunking (md5 rolling-window boundaries): the
  shift-tolerant counterpart of dedup_chunk_storage_savings, whose
  fixed-size chunks lose all dedup the moment one byte is inserted
  upstream.
* ``stats_welch_t_test`` — Welch's unequal-variance t statistic on
  purchase vs click values: the parametric mean-difference companion
  of orders_mann_whitney_u (rank) and orders_cohens_d (effect size)
  — d says how big, t says how sure.
* ``graph_degree_gini`` — Gini coefficient of the part–supplier
  bipartite degree distribution: one-number inequality next to the
  rich-club ladder (top-end) and assortativity (mixing).
* ``ml_spiegelhalter_z`` — Spiegelhalter's calibration z-test on the
  naive propensity map: the hypothesis-test view of calibration that
  ECE (a magnitude) and the Wilson bands (per-bin) do not give.

Reference parity note: no reference analog (keyed int streamer,
v1/src/main/java/Stream/Streamer.java); SURVEY §2 Part-B storage /
statistics / graph / ML-evaluation closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.queries.graph import part_supplier_half
from kafkastreamer_spark.queries.relational16 import _PER_USER_SQL, _per_user
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table, widen

# ---------------------------------------------------------------------------
# dedup_cdc_storage_savings
# ---------------------------------------------------------------------------

_CDC_W = 8  # rolling-window width (chars) hashed per position
_CDC_D = 64  # boundary when window-hash % D == 0 → mean chunk ≈ 64


@register(
    "dedup_cdc_storage_savings",
    oracle=f"""
        WITH blobs AS (
            SELECT doc_id, text, length(text) AS n FROM documents
        ),
        cuts AS (
            -- cut AFTER position i when the trailing {_CDC_W}-char
            -- window hashes into the boundary class; i < n so the
            -- final sentinel below is never duplicated
            SELECT doc_id, i
            FROM blobs, unnest(range({_CDC_W}, n)) AS t(i)
            WHERE CAST(('0x' || substr(md5(substr(text,
                        CAST(i - {_CDC_W} + 1 AS INTEGER), {_CDC_W})), 1, 2))
                       AS BIGINT) % {_CDC_D} = 0
        ),
        ends AS (
            SELECT doc_id, i FROM cuts
            UNION ALL
            SELECT doc_id, n FROM blobs WHERE n > 0
        ),
        spans AS (
            SELECT doc_id, i AS e,
                   COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0)
                       + 1 AS s
            FROM ends
        ),
        chunks AS (
            SELECT sp.doc_id,
                   sp.e - sp.s + 1 AS chunk_len,
                   md5(substr(b.text, CAST(sp.s AS INTEGER),
                              CAST(sp.e - sp.s + 1 AS INTEGER))) AS h
            FROM spans sp JOIN blobs b ON b.doc_id = sp.doc_id
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(chunk_len) AS BIGINT) AS raw_bytes,
                   CAST(count(DISTINCT h) AS BIGINT) AS n_unique
            FROM chunks
        ),
        uniq AS (
            SELECT CAST(sum(chunk_len) AS BIGINT) AS unique_bytes
            FROM (SELECT h, min(chunk_len) AS chunk_len FROM chunks GROUP BY h)
        )
        SELECT n_chunks, raw_bytes, n_unique, unique_bytes,
               (10000 * (raw_bytes - unique_bytes)) // raw_bytes AS savings4
        FROM stats CROSS JOIN uniq WHERE raw_bytes > 0
    """,
    tags=("llm-data", "dedup", "storage"),
)
def dedup_cdc_storage_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (CDC) storage-dedup accounting: a cut
    lands after position i whenever the md5 of the trailing 8-char
    window falls in the 1/64 boundary class — so chunk boundaries are
    anchored to CONTENT, not offsets, and survive upstream
    insertions/deletions that shift bytes (the failure mode that
    zeroes out dedup_chunk_storage_savings' fixed-size chunking: one
    inserted byte re-keys every later chunk). Reports total vs
    distinct chunk bytes and the dedup savings ratio — the CAS-store
    sizing numbers. Mean chunk ≈ 64 chars on random content;
    production CDC adds min/max chunk clamps, which change constants,
    not the plan shape.

    Scale shape: the per-position window hash is a map-only explode
    (one md5 per char — the same per-position discipline the audio
    family uses); cuts are ~n/64 rows, spans come from one lag window
    partitioned by doc, and chunk hashing rejoins the doc text once.
    Dedup accounting is a chunk-hash groupBy with map-side combine.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    blobs = d.select("doc_id", "text", F.length("text").alias("n"))
    blobs = blobs.persist()  # cut scan + sentinel + chunk rejoin share it
    positions = F.when(
        F.col("n") - 1 >= _CDC_W,
        F.sequence(F.lit(_CDC_W), F.col("n") - 1),
    ).otherwise(F.array().cast("array<int>"))
    cuts = (
        blobs.select("doc_id", "text", F.explode(positions).alias("i"))
        .filter(
            F.conv(
                F.substring(
                    F.md5(
                        F.substring(
                            F.col("text"),
                            (F.col("i") - _CDC_W + 1).cast("int"),
                            _CDC_W,
                        )
                    ),
                    1,
                    2,
                ),
                16,
                10,
            ).cast("long")
            % _CDC_D
            == 0
        )
        .select("doc_id", F.col("i").cast("long").alias("i"))
    )
    ends = cuts.unionByName(
        blobs.filter(F.col("n") > 0).select(
            "doc_id", F.col("n").cast("long").alias("i")
        )
    )
    ws = Window.partitionBy("doc_id").orderBy("i")
    spans = ends.select(
        "doc_id",
        F.col("i").alias("e"),
        (F.coalesce(F.lag("i").over(ws), F.lit(0)) + 1).alias("s"),
    )
    # the rejoin's both sides are corpus-sized: under width-ratio
    # underestimation Catalyst would broadcast the full documents
    # relation (caught by the K=16 broadcast gate) — pin a sort-merge
    # plan (same discipline as the LSH band join)
    chunks = spans.join(blobs.select("doc_id", "text").hint("merge"), "doc_id").select(
        "doc_id",
        (F.col("e") - F.col("s") + 1).alias("chunk_len"),
        F.md5(
            F.substring(
                F.col("text"),
                F.col("s").cast("int"),
                (F.col("e") - F.col("s") + 1).cast("int"),
            )
        ).alias("h"),
    )
    chunks = chunks.persist()  # stats + unique-bytes share it
    stats = chunks.agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("chunk_len").cast("long").alias("raw_bytes"),
        F.countDistinct("h").cast("long").alias("n_unique"),
    )
    uniq = (
        chunks.groupBy("h")
        .agg(F.min("chunk_len").alias("chunk_len"))
        .agg(F.sum("chunk_len").cast("long").alias("unique_bytes"))
    )
    return (
        stats.crossJoin(F.broadcast(uniq))
        .filter(F.col("raw_bytes") > 0)
        .select(
            "n_chunks",
            "raw_bytes",
            "n_unique",
            "unique_bytes",
            F.expr(
                "(10000 * (raw_bytes - unique_bytes)) div raw_bytes"
            ).alias("savings4"),
        )
    )


# ---------------------------------------------------------------------------
# stats_welch_t_test
# ---------------------------------------------------------------------------


@register(
    "stats_welch_t_test",
    oracle="""
        WITH vals AS (
            SELECT event_type,
                   CAST(floor(value * 100) AS BIGINT) AS c
            FROM events WHERE event_type IN ('purchase', 'click')
        ),
        mom AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(c) AS BIGINT) AS sc,
                   CAST(sum(c * c) AS BIGINT) AS scc
            FROM vals GROUP BY event_type
        ),
        wide AS (
            SELECT
                max(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
                max(CASE WHEN event_type = 'purchase' THEN sc END) AS s1,
                max(CASE WHEN event_type = 'purchase' THEN scc END) AS q1,
                max(CASE WHEN event_type = 'click' THEN n END) AS n2,
                max(CASE WHEN event_type = 'click' THEN sc END) AS s2,
                max(CASE WHEN event_type = 'click' THEN scc END) AS q2
            FROM mom
        )
        SELECT n1, n2,
               s1 // n1 AS mean1_c, s2 // n2 AS mean2_c,
               CAST(floor(10000.0
                    * (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                    / sqrt((CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
                           / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))
                         + (CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2)
                           / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1)))
                    / 100.0) AS BIGINT) AS t4
        FROM wide
        WHERE n1 > 1 AND n2 > 1
          AND (n1 * q1 > s1 * s1 OR n2 * q2 > s2 * s2)
    """,
    tags=("statistics", "events", "parametric"),
)
def stats_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic between purchase and
    click event values (exact integer cents): t = (m̄₁ − m̄₂) /
    sqrt(s₁²/n₁ + s₂²/n₂) with sample variances from the exact moment
    identity — the parametric "how sure" companion of the
    Mann–Whitney rank test (distribution-free) and Cohen's d (effect
    size without inference). The /100 rescales cents back to currency
    units so t is unit-free as defined. Every input to the IEEE
    expression is an exact BIGINT and the expression text is
    identical on both engines, so the fp4 floor agrees exactly;
    degenerate zero-variance and n ≤ 1 cases are guarded.

    Scale shape: one conditional moment aggregation over the fact
    table (map-side combined) → a 6-number pivot → scalar arithmetic.
    """
    ev = widen(load_table(spark, sf_dir, "events"))
    mom = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .select("event_type", F.floor(F.col("value") * 100).cast("long").alias("c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("sc"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
        )
    )
    pick = lambda t, c: F.max(  # noqa: E731
        F.when(F.col("event_type") == t, F.col(c))
    )
    wide = mom.agg(
        pick("purchase", "n").alias("n1"),
        pick("purchase", "sc").alias("s1"),
        pick("purchase", "scc").alias("q1"),
        pick("click", "n").alias("n2"),
        pick("click", "sc").alias("s2"),
        pick("click", "scc").alias("q2"),
    )
    n1, s1, q1 = F.col("n1"), F.col("s1"), F.col("q1")
    n2, s2, q2 = F.col("n2"), F.col("s2"), F.col("q2")
    v1 = (n1.cast("double") * q1 - s1.cast("double") * s1) / (
        n1.cast("double") * n1 * (n1 - 1)
    )
    v2 = (n2.cast("double") * q2 - s2.cast("double") * s2) / (
        n2.cast("double") * n2 * (n2 - 1)
    )
    t = (
        (s1.cast("double") / n1 - s2.cast("double") / n2)
        / F.sqrt(v1 + v2)
        / 100.0
    )
    return wide.filter(
        (n1 > 1) & (n2 > 1) & ((n1 * q1 > s1 * s1) | (n2 * q2 > s2 * s2))
    ).select(
        "n1",
        "n2",
        F.expr("s1 div n1").alias("mean1_c"),
        F.expr("s2 div n2").alias("mean2_c"),
        F.floor(10000.0 * t).cast("long").alias("t4"),
    )


# ---------------------------------------------------------------------------
# graph_degree_gini
# ---------------------------------------------------------------------------


@register(
    "graph_degree_gini",
    oracle="""
        WITH half AS (
            SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM lineitem
        ),
        edges AS (
            SELECT src, dst FROM half UNION SELECT dst, src FROM half
        ),
        deg AS (
            SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY src
        ),
        ranked AS (
            SELECT d, node,
                   row_number() OVER (ORDER BY d, node) AS i,
                   count(*) OVER () AS n
            FROM deg
        )
        SELECT CAST(min(n) AS BIGINT) AS n_nodes,
               CAST(sum(d) AS BIGINT) AS sum_degree,
               CAST(max(d) AS BIGINT) AS max_degree,
               CAST(floor(10000.0
                    * (2 * sum(i * d) - (min(n) + 1) * sum(d))
                    / (min(n) * sum(d))) AS BIGINT) AS gini4
        FROM ranked
    """,
    tags=("graph", "statistics", "inequality"),
)
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the part–supplier bipartite degree
    distribution (same node encoding as the BFS/centrality entries):
    G = (2·Σi·dᵢ − (n+1)·Σdᵢ)/(n·Σdᵢ) over (degree, node)-ranked
    nodes — the customer_revenue_gini idiom applied to graph
    structure. One number for "is connectivity democratic or
    hub-dominated", sitting beside the rich-club ladder (which
    profiles the top end) and assortativity (which measures mixing);
    a rising degree Gini across corpus versions is an early skew
    warning for every per-key graph operator downstream.

    Scale shape: degree count with map-side combine over the distinct
    edge list, then one rank window over the node-sized degree
    relation and a 4-number rollup.
    """
    half = part_supplier_half(spark, sf_dir)
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    wr = Window.orderBy("d", "node")
    ranked = deg.select(
        "d",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.min("n").cast("long").alias("n_nodes"),
        F.sum("d").cast("long").alias("sum_degree"),
        F.max("d").cast("long").alias("max_degree"),
        F.floor(
            10000.0
            * (2 * F.sum(F.col("i") * F.col("d")) - (F.min("n") + 1) * F.sum("d"))
            / (F.min("n") * F.sum("d"))
        )
        .cast("long")
        .alias("gini4"),
    )


# ---------------------------------------------------------------------------
# ml_spiegelhalter_z
# ---------------------------------------------------------------------------


@register(
    "ml_spiegelhalter_z",
    oracle=f"""
        WITH per_user AS ({_PER_USER_SQL}),
        caps AS (
            SELECT least(score, 10) AS s, y FROM per_user
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum((10 * y - s) * (10 - 2 * s)) AS BIGINT) AS num,
                   CAST(sum(s * (10 - s) * (10 - 2 * s) * (10 - 2 * s))
                        AS BIGINT) AS den2
            FROM caps
        )
        SELECT n, num, den2,
               CAST(floor(10000.0 * num / sqrt(CAST(den2 AS DOUBLE)))
                    AS BIGINT) AS z4
        FROM agg WHERE den2 > 0
    """,
    tags=("ml", "evaluation", "calibration"),
)
def ml_spiegelhalter_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spiegelhalter's calibration z-test on the naive propensity map
    p = min(score, 10)/10: Z = Σ(y − p)(1 − 2p) / sqrt(Σ p(1 − p)
    (1 − 2p)²) — under perfect calibration Z ~ N(0, 1), so |Z| > 2
    REJECTS calibration as a hypothesis, where ECE only sizes the
    miscalibration and the Wilson bands localize it. Working in score
    tenths clears every denominator: numerator Σ(10y − s)(10 − 2s)
    and variance Σ s(10 − s)(10 − 2s)² are exact BIGINTs (the 1/100
    scale factors of numerator and sqrt-variance cancel, leaving
    exactly the textbook Z = num/sqrt(den2)), and z is one floor over one IEEE
    division-by-sqrt. Guarded on the degenerate all-certain
    population (den2 = 0: every p ∈ {{0, 1/2, 1}} with s(10−s)
    (10−2s)² = 0 carries no calibration variance).

    Scale shape: one groupBy(user_id) fact pass, then a 3-number
    global aggregate — nothing downstream exceeds one row.
    """
    pu = _per_user(spark, sf_dir)
    caps = pu.select(F.least("score", F.lit(10)).alias("s"), "y")
    agg = caps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((10 * F.col("y") - F.col("s")) * (10 - 2 * F.col("s")))
        .cast("long")
        .alias("num"),
        F.sum(
            F.col("s")
            * (10 - F.col("s"))
            * (10 - 2 * F.col("s"))
            * (10 - 2 * F.col("s"))
        )
        .cast("long")
        .alias("den2"),
    )
    return agg.filter(F.col("den2") > 0).select(
        "n",
        "num",
        "den2",
        F.floor(10000.0 * F.col("num") / F.sqrt(F.col("den2").cast("double")))
        .cast("long")
        .alias("z4"),
    )

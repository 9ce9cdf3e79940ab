"""Similarity search over the ``embeddings`` table (north-star
extension): brute-force cosine top-k baseline, hyperplane-LSH bucketed
variant, and an IVF-style coarse-quantizer search as the scale path.

Cosine values are sequential-left-fold doubles (bit-exact vs DuckDB
``list_dot_product`` on DOUBLE[]), so every query has an exact oracle.
Ranking ties break on neighbor id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.operators._embed import (
    coarse_centroids,
    cosine,
    dot,
    nearest_centroids,
    norm,
)
from kafkastreamer_spark.registry import REGISTRY, register
from kafkastreamer_spark.tables import load_table

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
IVF_NPROBE = 2


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        "label",
    )


_SQL_EMB = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings"
_SQL_COS = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _sql_cos(a: str, b: str) -> str:
    return _SQL_COS.format(a=a, b=b)


@register(
    "similarity_topk_bruteforce",
    oracle=f"""
        WITH e AS ({_SQL_EMB}),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   {_sql_cos('q.qv', 'e.v')} AS c
            FROM q JOIN e ON e.vec_id != q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   CAST(FLOOR(c * 10000) AS BIGINT) AS cosine4,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY c DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine4, rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """,
    tags=("llm-data", "similarity"),
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: brute-force cosine top-k for 10 query
    vectors against the full corpus.

    Scale: the query side is tiny → broadcast; the corpus streams once
    with no shuffle, and per-query top-k is a windowed row_number over
    a query_id-partitioned exchange of only (query, neighbor, score)
    triples.
    """
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v")).alias("c"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("c"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.floor(F.col("c") * 10000).alias("cosine4"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


@register(
    "similarity_ivf_probe",
    oracle=f"""
        WITH e AS ({_SQL_EMB}),
        -- n_cent ≈ sqrt(n): textbook IVF list count, keeping total
        -- work at O(n·sqrt(n)) as the corpus grows (a FIXED centroid
        -- stride makes assignment O(n²/stride) — measured superlinear
        -- at a 10x corpus)
        params AS (
            SELECT GREATEST(1, CAST(COUNT(*) AS BIGINT)
                   // GREATEST(1, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)))
                                       AS BIGINT))) AS step
            FROM e
        ),
        centroids AS (
            SELECT vec_id AS cent_id, v AS cv FROM e, params
            WHERE vec_id % step = 0
        ),
        -- assign every vector to its nearest centroid (coarse quantizer)
        assign AS (
            SELECT vec_id, v, cent_id FROM (
                SELECT e.vec_id, e.v, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                          ORDER BY {_sql_cos('e.v', 'c.cv')} DESC,
                                                   c.cent_id) AS rn
                FROM e JOIN centroids c ON true
            ) WHERE rn = 1
        ),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
        -- each query probes its nprobe nearest centroids
        probes AS (
            SELECT query_id, qv, cent_id FROM (
                SELECT q.query_id, q.qv, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                                          ORDER BY {_sql_cos('q.qv', 'c.cv')} DESC,
                                                   c.cent_id) AS rn
                FROM q JOIN centroids c ON true
            ) WHERE rn <= {IVF_NPROBE}
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {_sql_cos('p.qv', 'a.v')} AS c
            FROM probes p JOIN assign a ON a.cent_id = p.cent_id
            WHERE a.vec_id != p.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   CAST(FLOOR(c * 10000) AS BIGINT) AS cosine4,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY c DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine4, rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """,
    tags=("llm-data", "similarity", "ivf"),
)
def similarity_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic coarse centroids (~sqrt(n) lists,
    every step-th vector), nearest-centroid assignment, query probes
    its 2 closest lists, exact re-rank within probed lists.

    Scale: search cost drops from n per query to nprobe·(n/n_cent).
    Assignment and probing are map-side picks against the centroids
    collected into one broadcast row; the probed-list join broadcasts
    the |queries|·nprobe probe rows. A k-means trainer can replace the
    centroid choice without changing the query plan. n_cent ∝ sqrt(n)
    keeps assignment at O(n^1.5) (a fixed stride is O(n²/stride)).
    Per-side norms are computed once and persisted: without the
    persist barrier Catalyst's project-collapse inlines the norm back
    into the join and re-evaluates it per (vector, centroid) pair.
    The division order dot/(nv·ncv) with nv=sqrt(dot(a,a)) matches
    the oracle's expression exactly, so scores stay bit-identical.
    """
    ep, cp = _ivf_inputs(spark, sf_dir)
    probes = ivf_probes(_ivf_queries(ep), cp, IVF_NPROBE)
    return ivf_rerank(ivf_assign(ep, cp), probes)


def _cos_to(v: str, nv: str):
    """Cosine from row columns (v, nv) to a centroid struct (cv, ncv),
    in the oracle's expression order."""
    return lambda c: dot(F.col(v), c["cv"]) / (F.col(nv) * c["ncv"])


def _ivf_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The corpus with norms (vec_id, v, nv) and its coarse centroids
    (cent_id, cv, ncv), both persisted."""
    ep = _emb(spark, sf_dir).select("vec_id", "v", norm(F.col("v")).alias("nv"))
    ep = ep.persist()
    return ep, coarse_centroids(ep).persist()


def _ivf_queries(ep: DataFrame) -> DataFrame:
    return ep.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("qnv"),
    )


def ivf_assign(ep: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, nv, cent_id): every vector's nearest list by
    cosine, ties to the lowest cent_id. ``cents``: (cent_id, cv, ncv)."""
    return nearest_centroids(
        ep, cents, "cent_id", _cos_to("v", "nv"), best="max"
    ).drop("score")


def ivf_probes(queries: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, qv, qnv, cent_id[, rank]): each query's ``nprobe``
    nearest lists (``rank`` when nprobe > 1). ``queries``:
    (query_id, qv, qnv)."""
    return nearest_centroids(
        queries, cents, "cent_id", _cos_to("qv", "qnv"), n=nprobe, best="max"
    ).drop("score")


def ivf_rerank(lists: DataFrame, probes: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact top-``k`` within the probed lists: ``lists`` (vec_id, v,
    nv, cent_id) joined to ``probes`` on cent_id, ranked by cosine
    then neighbor id → (query_id, neighbor_id, cosine4, rank)."""
    scored = (
        lists.join(
            F.broadcast(probes.select("query_id", "qv", "qnv", "cent_id")), "cent_id"
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("qv"), F.col("v")) / (F.col("qnv") * F.col("nv"))).alias("c"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("c"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.floor(F.col("c") * 10000).alias("cosine4"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


def _recall_oracle() -> str:
    bf = REGISTRY["similarity_topk_bruteforce"].oracle
    ivf = REGISTRY["similarity_ivf_probe"].oracle
    return f"""
        WITH bf AS ({bf}),
        ivf AS ({ivf})
        SELECT bf.query_id,
               count(*) AS k,
               CAST(sum(CASE WHEN ivf.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS hits,
               CAST(sum(CASE WHEN ivf.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) * 10000 // count(*)
                    AS BIGINT) AS recall4
        FROM bf LEFT JOIN ivf
          ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
        GROUP BY bf.query_id
        ORDER BY bf.query_id
    """


@register(
    "similarity_recall_at_k",
    oracle=_recall_oracle(),
    tags=("llm-data", "similarity", "evaluation"),
)
def similarity_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@k of the IVF probe path against
    the brute-force ground truth, per query — the metric that decides
    whether an approximate index is admissible for a given corpus.
    Both inputs are this engine's own deterministic operators, so the
    evaluation itself is engine-exact (recall in fixed-point via
    integer division, never a float ratio).

    Scale: ground truth on a sampled query set (as here) is how recall
    is estimated in production too — the brute-force side costs one
    corpus stream for Q queries; the join/aggregation is Q×k rows."""
    bf = REGISTRY["similarity_topk_bruteforce"].fn(spark, sf_dir)
    ivf = REGISTRY["similarity_ivf_probe"].fn(spark, sf_dir)
    hit = F.col("i.neighbor_id").isNotNull()
    return (
        bf.alias("b")
        .join(
            ivf.alias("i"),
            (F.col("b.query_id") == F.col("i.query_id"))
            & (F.col("b.neighbor_id") == F.col("i.neighbor_id")),
            "left",
        )
        .groupBy(F.col("b.query_id").alias("query_id"))
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(hit.cast("long")).alias("hits"),
        )
        .select(
            "query_id",
            "k",
            "hits",
            F.expr("hits * 10000 div k").alias("recall4"),
        )
        .orderBy("query_id")
    )


@register(
    "embedding_pq_assign",
    oracle="""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        cent AS (SELECT vec_id AS code, emb AS cemb FROM e WHERE vec_id < 4),
        sub AS (SELECT unnest([0, 1, 2, 3]) AS s),
        pairs AS (
            SELECT e.vec_id, sub.s, cent.code,
                   list_dot_product(e.emb[sub.s*16+1 : sub.s*16+16],
                                    e.emb[sub.s*16+1 : sub.s*16+16])
                   - 2 * list_dot_product(e.emb[sub.s*16+1 : sub.s*16+16],
                                          cent.cemb[sub.s*16+1 : sub.s*16+16])
                   + list_dot_product(cent.cemb[sub.s*16+1 : sub.s*16+16],
                                      cent.cemb[sub.s*16+1 : sub.s*16+16])
                       AS d2
            FROM e, sub, cent
        ),
        best AS (
            SELECT vec_id, s, code FROM (
                SELECT vec_id, s, code,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY d2, code) AS rn
                FROM pairs
            ) WHERE rn = 1
        )
        SELECT s AS subspace, code, count(*) AS n_vectors,
               min(vec_id) AS min_vec_id
        FROM best GROUP BY s, code ORDER BY subspace, code
    """,
    tags=("similarity", "ann", "quantization"),
)
def embedding_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment: split each 64-dim vector
    into 4 subspaces of 16 dims and assign every subvector to its
    nearest of 4 deterministic codebook centroids (the slices of
    vectors 0–3), reporting the code histogram per subspace.  PQ is
    the memory-bound ANN workhorse (an IVF-PQ index stores 4 bytes
    here instead of 256) — this op is the "encode" half; the
    codebook-training half is embedding_kmeans_step on the subspace
    slices.

    Distances use the dot-product identity |x−c|² = x·x − 2x·c + c·c
    with each term a sequential-left-fold double (bit-exact vs DuckDB
    list_dot_product), combined in one fixed expression order, so the
    argmin — ties to the lowest code — matches the oracle exactly.

    Scale shape: the 4-code codebook broadcasts as one row and each
    (vector, subspace) row picks its code map-side
    (``nearest_centroids``) — no shuffle touches the full embedding
    table until the final 16-group histogram."""
    e = _emb(spark, sf_dir)
    cent = (
        e.filter(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("code"), F.col("v").alias("cv"))
    )
    sub = e.select(
        "vec_id", "v", F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("s")
    ).select(
        "vec_id",
        "s",
        F.slice("v", F.col("s") * 16 + 1, 16).alias("xs"),
    )

    def d2(c: Column) -> Column:
        xs, cs = F.col("xs"), F.slice(c["cv"], F.col("s") * 16 + 1, 16)
        return dot(xs, xs) - 2 * dot(xs, cs) + dot(cs, cs)

    best = nearest_centroids(sub, cent, "code", d2)
    return (
        best.groupBy(F.col("s").alias("subspace"), "code")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("subspace", "code")
    )


@register(
    "embedding_label_centroids",
    oracle="""
        WITH e AS (
            SELECT label, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        dims AS (
            SELECT label, dim, emb[dim] AS x
            FROM e, unnest(range(1, len(emb) + 1)) AS t(dim)
        )
        SELECT label, CAST(dim AS BIGINT) AS dim,
               count(*) AS n_vectors,
               CAST(SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) AS BIGINT)
                   AS sum_fp,
               CAST(SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) AS DOUBLE)
                   / (1000000 * count(*)) AS centroid
        FROM dims GROUP BY label, dim
        ORDER BY label, dim
    """,
    tags=("similarity", "clustering", "statistics"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding table, one row per
    (label, dimension) — the supervised-cluster quality primitive
    (label separability, centroid drift between snapshots, nearest-
    centroid classification).  Each dimension's mean is an exact
    fixed-point integer sum with one final double division — naive
    array-mean aggregation is cross-row float summation, which no
    engine pair reproduces bit-identically.

    Scale shape: posexplode fans each vector into 64 (dim, value)
    rows map-side, then ONE shuffle aggregates |labels|×64 groups
    with partial integer sums — the dimension axis parallelizes
    instead of serializing into a per-partition array fold.  Output
    is bounded by |labels|·dims, independent of table size."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    dims = e.select(
        "label", F.posexplode("emb").alias("pos", "x")
    ).select("label", (F.col("pos") + 1).cast("long").alias("dim"), "x")
    return (
        dims.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.floor(F.col("x") * 1000000).cast("long")).alias("sum_fp"),
            (
                F.sum(F.floor(F.col("x") * 1000000).cast("long")).cast("double")
                / (1000000 * F.count(F.lit(1)))
            ).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


_L2_SQL = (
    "list_dot_product({x}, {x}) - 2 * list_dot_product({x}, {c})"
    " + list_dot_product({c}, {c})"
)


@register(
    "embedding_kcenter_coreset",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        d1 AS (
            SELECT e.vec_id, {_L2_SQL.format(x="e.v", c="c.v")} AS dd
            FROM e, (SELECT v FROM e WHERE vec_id = 0) c
        ),
        c2 AS (SELECT vec_id FROM d1 ORDER BY dd DESC, vec_id LIMIT 1),
        d2 AS (
            SELECT e.vec_id,
                   least(d1.dd, {_L2_SQL.format(x="e.v", c="c.v")}) AS dd
            FROM e
            JOIN d1 USING (vec_id),
                 (SELECT v FROM e
                  WHERE vec_id = (SELECT vec_id FROM c2)) c
        ),
        c3 AS (SELECT vec_id FROM d2 ORDER BY dd DESC, vec_id LIMIT 1),
        d3 AS (
            SELECT d2.vec_id,
                   least(d2.dd, {_L2_SQL.format(x="e.v", c="c.v")}) AS dd
            FROM e
            JOIN d2 USING (vec_id),
                 (SELECT v FROM e
                  WHERE vec_id = (SELECT vec_id FROM c3)) c
        )
        SELECT 1 AS step, CAST(0 AS BIGINT) AS center_id,
               (SELECT max(dd) FROM d1) AS max_min_d2
        UNION ALL
        SELECT 2, (SELECT vec_id FROM c2), (SELECT max(dd) FROM d2)
        UNION ALL
        SELECT 3, (SELECT vec_id FROM c3), (SELECT max(dd) FROM d3)
        ORDER BY step
    """,
    tags=("similarity", "coreset", "iterative"),
)
def embedding_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal,
    k=3): seed with vector 0, then twice pick the point FARTHEST from
    the chosen set (squared-L2 via the dot-product identity, argmax
    ties to the lowest vec_id) — the 2-approximation coreset behind
    diverse-subset selection for labeling budgets and k-means++-style
    seeding.  Each step reports the chosen center and the covering
    radius max-min-d² AFTER adding it, so the output doubles as the
    coverage-curve audit.  Every selection is data-dependent on the
    previous argmax; determinism holds because the distance folds are
    bit-identical cross-engine and ties break on integer ids.

    Scale shape: per round, one broadcast of the (1-row) new center
    onto the points, a map-side least() with the carried min-distance
    column, and a TakeOrdered argmax — no shuffle of the point set,
    the same per-round cost profile as embedding_kmeans_step.  The
    min-distance column is persisted and refined in place (classic
    Gonzalez bookkeeping) rather than recomputed against all
    centers."""
    e = _emb(spark, sf_dir)

    def l2(x, c):
        from kafkastreamer_spark.operators._embed import dot

        return dot(x, x) - 2 * dot(x, c) + dot(c, c)

    c1v = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("cv"))
    d1 = (
        e.crossJoin(F.broadcast(c1v))
        .select("vec_id", "v", l2(F.col("v"), F.col("cv")).alias("dd"))
        .persist()  # argmax + refinement both read it
    )
    c2 = d1.orderBy(F.desc("dd"), "vec_id").limit(1).select("vec_id")
    c2v = e.join(c2, "vec_id").select(F.col("v").alias("cv"))
    d2 = (
        d1.crossJoin(F.broadcast(c2v))
        .select(
            "vec_id",
            "v",
            F.least("dd", l2(F.col("v"), F.col("cv"))).alias("dd"),
        )
        .persist()
    )
    c3 = d2.orderBy(F.desc("dd"), "vec_id").limit(1).select("vec_id")
    c3v = e.join(c3, "vec_id").select(F.col("v").alias("cv"))
    d3 = d2.crossJoin(F.broadcast(c3v)).select(
        "vec_id", F.least("dd", l2(F.col("v"), F.col("cv"))).alias("dd")
    )

    def step(n: int, cid: DataFrame, dists: DataFrame) -> DataFrame:
        return cid.crossJoin(dists.agg(F.max("dd").alias("max_min_d2"))).select(
            F.lit(n).alias("step"),
            F.col("vec_id").cast("long").alias("center_id"),
            "max_min_d2",
        )

    one = spark.range(1).select(F.lit(0).cast("long").alias("vec_id"))
    return (
        step(1, one, d1)
        .unionByName(step(2, c2, d2))
        .unionByName(step(3, c3, d3))
        .orderBy("step")
    )


N_MARGIN_ANCHORS = 20  # vec_id < 20 audit anchors


@register(
    "embedding_margin_audit",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ),
        anchors AS (SELECT * FROM e WHERE vec_id < {N_MARGIN_ANCHORS}),
        dists AS (
            SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
                   o.vec_id AS other_id,
                   (o.label = a.label) AS same_label,
                   {_L2_SQL.format(x="a.v", c="o.v")} AS d2
            FROM anchors a JOIN e o ON o.vec_id <> a.vec_id
        ),
        best AS (
            SELECT anchor_id, anchor_label, same_label, other_id, d2,
                   row_number() OVER (PARTITION BY anchor_id, same_label
                                      ORDER BY d2, other_id) AS rn
            FROM dists
        )
        SELECT p.anchor_id AS anchor_id, p.anchor_label,
               p.other_id AS nearest_pos_id, n.other_id AS nearest_neg_id,
               p.d2 AS d2_pos, n.d2 AS d2_neg,
               n.d2 - p.d2 AS margin
        FROM (SELECT * FROM best WHERE same_label AND rn = 1) p
        JOIN (SELECT * FROM best WHERE NOT same_label AND rn = 1) n
          ON n.anchor_id = p.anchor_id
        ORDER BY p.anchor_id
    """,
    tags=("similarity", "evaluation", "metric-learning"),
)
def embedding_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-learning margin audit: for each of the first 20 anchor
    vectors, the nearest SAME-label and nearest DIFFERENT-label
    neighbor (squared-L2, ties to the lowest id) and the margin
    d²_neg − d²_pos — positive margins mean the embedding separates
    classes at that point; the per-anchor breakdown localizes where
    a representation fails before trusting it for retrieval or
    clustering.  All distances are the bit-exact dot-product folds;
    the margin is one exact subtraction of two identical doubles.

    Scale shape: anchors broadcast onto the table (map-side
    |anchors|×N fan-out), and both argmins come from ONE shared rank
    pass partitioned by (anchor, same_label) — not separate pos/neg
    scans.  For web-scale N the exact scan swaps for the IVF probe
    (similarity_ivf_probe) with identical downstream shape."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    from kafkastreamer_spark.operators._embed import dot

    a = e.filter(F.col("vec_id") < N_MARGIN_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("av"),
    )
    d2 = (
        dot(F.col("av"), F.col("av"))
        - 2 * dot(F.col("av"), F.col("v"))
        + dot(F.col("v"), F.col("v"))
    )
    dists = (
        F.broadcast(a)
        .join(e, F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("other_id"),
            (F.col("label") == F.col("anchor_label")).alias("same_label"),
            d2.alias("d2"),
        )
    )
    w = Window.partitionBy("anchor_id", "same_label").orderBy("d2", "other_id")
    best = dists.select(
        "anchor_id", "anchor_label", "same_label", "other_id", "d2",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") == 1).persist()
    pos = best.filter(F.col("same_label")).select(
        "anchor_id",
        "anchor_label",
        F.col("other_id").alias("nearest_pos_id"),
        F.col("d2").alias("d2_pos"),
    )
    neg = best.filter(~F.col("same_label")).select(
        F.col("anchor_id").alias("n_anchor"),
        F.col("other_id").alias("nearest_neg_id"),
        F.col("d2").alias("d2_neg"),
    )
    return (
        pos.join(neg, pos.anchor_id == neg.n_anchor)
        .select(
            "anchor_id",
            "anchor_label",
            "nearest_pos_id",
            "nearest_neg_id",
            "d2_pos",
            "d2_neg",
            (F.col("d2_neg") - F.col("d2_pos")).alias("margin"),
        )
        .orderBy("anchor_id")
    )


@register(
    "embedding_int8_quantization_audit",
    oracle="""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ),
        q AS (
            SELECT vec_id, label,
                   list_max(list_transform(v, x -> abs(x))) AS amax,
                   v
            FROM e
        ),
        err AS (
            SELECT vec_id, label, amax,
                   CASE WHEN amax = 0 THEN 0 ELSE CAST(
                       list_sum(list_transform(v, x ->
                           CAST(FLOOR(abs(x - FLOOR(x / amax * 127)
                                          * amax / 127) * 1000000000)
                                AS BIGINT)))
                       AS BIGINT) END AS err_fp
            FROM q
        )
        SELECT label, count(*) AS n_vectors,
               CAST(sum(err_fp) AS BIGINT) AS total_err_fp,
               CAST(max(err_fp) AS BIGINT) AS max_vec_err_fp,
               CAST(sum(err_fp) AS DOUBLE) / (1000000000.0 * count(*))
                   AS mean_vec_abs_err
        FROM err GROUP BY label ORDER BY label
    """,
    tags=("similarity", "quantization", "evaluation"),
)
def embedding_int8_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric-quantization error accounting per label:
    quantize each vector with its own absmax scale (q = ⌊x/amax·127⌋,
    dequantized x̂ = q·amax/127), accumulate the per-vector L1
    reconstruction error in fixed-point — the audit that decides
    whether an embedding table can ship at 1/4 the bytes for ANN
    serving.  Per-element arithmetic (divide, multiply, floor, abs)
    is identical IEEE on both engines; the per-vector error folds to
    an exact integer BEFORE any cross-row aggregation, so label
    rollups are order-independent.

    Scale shape: everything to the per-vector error is map-only array
    work inside codegen; the rollup is a |labels|-group shuffle."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    amax = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    q = e.select("vec_id", "label", "v", amax.alias("amax"))

    def elem_err(x):
        dq = F.floor(x / F.col("amax") * 127) * F.col("amax") / 127
        return F.floor(F.abs(x - dq) * 1_000_000_000).cast("long")

    err_fp = F.when(F.col("amax") == 0, F.lit(0).cast("long")).otherwise(
        F.aggregate(
            F.transform(F.col("v"), elem_err),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
    )
    return (
        q.select("label", err_fp.alias("err_fp"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("err_fp").cast("long").alias("total_err_fp"),
            F.max("err_fp").cast("long").alias("max_vec_err_fp"),
            (
                F.sum("err_fp").cast("double")
                / (1_000_000_000.0 * F.count(F.lit(1)))
            ).alias("mean_vec_abs_err"),
        )
        .orderBy("label")
    )


@register(
    "embedding_matryoshka_audit",
    oracle=f"""
        WITH e AS ({_SQL_EMB}),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e
              WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   {_sql_cos('q.qv', 'e.v')} AS c_full,
                   {_sql_cos('q.qv[1:16]', 'e.v[1:16]')} AS c_16
            FROM q JOIN e ON e.vec_id != q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY c_full DESC, neighbor_id) AS r_full,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY c_16 DESC, neighbor_id) AS r_16
            FROM scored
        )
        SELECT f.query_id,
               f.neighbor_id AS top1_full,
               p.neighbor_id AS top1_prefix16,
               CAST(f.neighbor_id = p.neighbor_id AS BIGINT) AS agree
        FROM (SELECT * FROM ranked WHERE r_full = 1) f
        JOIN (SELECT * FROM ranked WHERE r_16 = 1) p USING (query_id)
        ORDER BY query_id
    """,
    tags=("llm-data", "similarity", "embedding"),
)
def embedding_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit: for each query vector, compare the
    exact top-1 neighbor under FULL 64-dim cosine against the top-1
    under the FIRST-16-dims prefix cosine — the measurement a pipeline
    runs before switching retrieval to truncated (MRL-style)
    embeddings, where the prefix is supposed to carry most of the
    signal at 1/4 the storage and FLOPs.

    Scale shape: identical to the brute-force baseline (broadcast
    queries, one corpus scan — both scores computed in the same
    pass), so auditing truncation costs one extra fold per row, not a
    second scan. At 100 TB the same audit runs on a deterministic
    md5-bucket sample of queries.
    """
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pre = lambda c: F.slice(c, 1, 16)  # noqa: E731
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("v")).alias("c_full"),
        cosine(pre(F.col("qv")), pre(F.col("v"))).alias("c_16"),
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.col("c_full").desc(), "neighbor_id"
    )
    w_16 = Window.partitionBy("query_id").orderBy(F.col("c_16").desc(), "neighbor_id")
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(w_full).alias("r_full"),
        F.row_number().over(w_16).alias("r_16"),
    )
    f = ranked.filter(F.col("r_full") == 1).select(
        "query_id", F.col("neighbor_id").alias("top1_full")
    )
    p = ranked.filter(F.col("r_16") == 1).select(
        "query_id", F.col("neighbor_id").alias("top1_prefix16")
    )
    return (
        f.join(p, "query_id")
        .select(
            "query_id",
            "top1_full",
            "top1_prefix16",
            (F.col("top1_full") == F.col("top1_prefix16"))
            .cast("long")
            .alias("agree"),
        )
        .orderBy("query_id")
    )


# --- IVF nprobe -> recall tuning curve ---------------------------------------

_NPROBE_LEVELS = (1, 2, 4, 8)


@register(
    "similarity_nprobe_recall_curve",
    oracle=f"""
        WITH e AS MATERIALIZED ({_SQL_EMB}),
        params AS (
            SELECT GREATEST(1, CAST(COUNT(*) AS BIGINT)
                   // GREATEST(1, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)))
                                       AS BIGINT))) AS step
            FROM e
        ),
        centroids AS MATERIALIZED (
            SELECT vec_id AS cent_id, v AS cv FROM e, params
            WHERE vec_id % step = 0
        ),
        assign AS MATERIALIZED (
            SELECT vec_id, v, cent_id FROM (
                SELECT e.vec_id, e.v, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                          ORDER BY {_sql_cos('e.v', 'c.cv')} DESC,
                                                   c.cent_id) AS rn
                FROM e JOIN centroids c ON true
            ) WHERE rn = 1
        ),
        q AS MATERIALIZED (
            SELECT vec_id AS query_id, v AS qv FROM e
            WHERE vec_id < {N_QUERIES}
        ),
        prober AS MATERIALIZED (
            SELECT query_id, qv, cent_id, rn FROM (
                SELECT q.query_id, q.qv, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                                          ORDER BY {_sql_cos('q.qv', 'c.cv')} DESC,
                                                   c.cent_id) AS rn
                FROM q JOIN centroids c ON true
            ) WHERE rn <= {max(_NPROBE_LEVELS)}
        ),
        levels AS (SELECT unnest([{", ".join(map(str, _NPROBE_LEVELS))}])
                       AS nprobe),
        cand AS MATERIALIZED (
            SELECT l.nprobe, p.query_id, a.vec_id AS neighbor_id,
                   {_sql_cos('p.qv', 'a.v')} AS c
            FROM levels l
            JOIN prober p ON p.rn <= l.nprobe
            JOIN assign a ON a.cent_id = p.cent_id
            WHERE a.vec_id != p.query_id
        ),
        ivf5 AS (
            SELECT nprobe, query_id, neighbor_id FROM (
                SELECT nprobe, query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                                          ORDER BY c DESC, neighbor_id) AS r
                FROM cand
            ) WHERE r <= {TOP_K}
        ),
        truth AS MATERIALIZED (
            SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                                          ORDER BY {_sql_cos('q.qv', 'e.v')} DESC,
                                                   e.vec_id) AS r
                FROM q JOIN e ON e.vec_id != q.query_id
            ) WHERE r <= {TOP_K}
        ),
        nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM q),
        hits AS (
            SELECT i.nprobe, CAST(count(*) AS BIGINT) AS total_hits
            FROM ivf5 i JOIN truth t
              ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id
            GROUP BY i.nprobe
        ),
        vol AS (
            SELECT nprobe, CAST(count(*) AS BIGINT) AS total_candidates
            FROM cand GROUP BY nprobe
        )
        SELECT v.nprobe, nq.n_queries,
               coalesce(h.total_hits, 0) AS total_hits,
               (10000 * coalesce(h.total_hits, 0))
                   // ({TOP_K} * nq.n_queries) AS recall_fp4,
               v.total_candidates,
               v.total_candidates // nq.n_queries AS avg_candidates
        FROM vol v
        LEFT JOIN hits h ON h.nprobe = v.nprobe
        CROSS JOIN nq
        ORDER BY v.nprobe
    """,
    tags=("llm-data", "similarity", "evaluation"),
)
def similarity_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@{TOP_K} against brute-force truth
    AND candidate volume scanned, at nprobe = 1/2/4/8 — the
    recall-vs-cost trade-off table an ANN deployment reads to pick
    its operating point (similarity_recall_at_k evaluates ONE point;
    real index tuning sweeps the curve: recall rises with nprobe
    while scanned volume grows ~linearly, and the knee is the
    config). Probe ranks are computed ONCE up to max(nprobe) and each
    level filters rank <= nprobe, so the sweep costs one extra column,
    not four re-searches; recall and volume are exact BIGINT ratios.

    Scale shape: centroid assignment and probing are the map-side
    picks of similarity_ivf_probe (no shuffle of the corpus); the level
    lattice multiplies only the PROBE table (|queries|·max_nprobe
    rows, broadcast); candidate scoring stays bounded by
    nprobe·(n/√n) per query per level. The brute-force truth is the
    |queries|·n scan the curve exists to amortize — at 100 TB it runs
    on a held-out calibration slice exactly as here (N_QUERIES
    queries), never the full corpus."""
    ep, cp = _ivf_inputs(spark, sf_dir)
    assign = ivf_assign(ep, cp)
    q = _ivf_queries(ep)
    prober = ivf_probes(q, cp, max(_NPROBE_LEVELS))
    levels = spark.createDataFrame(
        [(p,) for p in _NPROBE_LEVELS], "nprobe long"
    )
    probes_l = (
        prober.crossJoin(F.broadcast(levels))
        .filter(F.col("rank") <= F.col("nprobe"))
        .select("nprobe", "query_id", "qv", "qnv", "cent_id")
    )
    cand = (
        assign.join(F.broadcast(probes_l), "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "nprobe",
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("qv"), F.col("v")) / (F.col("qnv") * F.col("nv"))).alias("c"),
        )
        .persist()  # top-K ranking + volume rollup both read it
    )
    w_rank = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("c"), "neighbor_id"
    )
    ivf5 = (
        cand.withColumn("r", F.row_number().over(w_rank))
        .filter(F.col("r") <= TOP_K)
        .select("nprobe", "query_id", "neighbor_id")
    )
    w_truth = Window.partitionBy("query_id").orderBy(F.desc("c"), "neighbor_id")
    truth = (
        q.crossJoin(ep)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("qv"), F.col("v")) / (F.col("qnv") * F.col("nv"))).alias("c"),
        )
        .withColumn("r", F.row_number().over(w_truth))
        .filter(F.col("r") <= TOP_K)
        .select("query_id", F.col("neighbor_id").alias("t_neighbor"))
    )
    hits = (
        ivf5.join(
            F.broadcast(truth),
            (ivf5.query_id == truth.query_id)
            & (ivf5.neighbor_id == truth.t_neighbor),
        )
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("total_hits"))
    )
    vol = cand.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("long").alias("total_candidates")
    )
    nq = q.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    return (
        vol.join(F.broadcast(hits), "nprobe", "left")
        .crossJoin(F.broadcast(nq))
        .select(
            "nprobe",
            "n_queries",
            F.coalesce(F.col("total_hits"), F.lit(0))
            .cast("long")
            .alias("total_hits"),
            F.expr(
                f"(10000 * coalesce(total_hits, 0)) div ({TOP_K} * n_queries)"
            ).alias("recall_fp4"),
            "total_candidates",
            F.expr("total_candidates div n_queries").alias("avg_candidates"),
        )
        .orderBy("nprobe")
    )


# --- batch 206: kNN label-vote classification accuracy -------------------------


@register(
    "ml_knn_label_accuracy",
    oracle=f"""
        WITH e AS MATERIALIZED ({_SQL_EMB}),
        q AS (
            SELECT vec_id AS query_id, v AS qv, label AS true_label
            FROM e WHERE vec_id < {N_QUERIES}
        ),
        ranked AS (
            SELECT query_id, true_label, neighbor_label FROM (
                SELECT q.query_id, q.true_label,
                       e.label AS neighbor_label,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                                          ORDER BY {_sql_cos('q.qv', 'e.v')} DESC,
                                                   e.vec_id) AS r
                FROM q JOIN e ON e.vec_id != q.query_id
            ) WHERE r <= {TOP_K}
        ),
        votes AS (
            SELECT query_id, true_label, neighbor_label,
                   CAST(count(*) AS BIGINT) AS n_votes
            FROM ranked GROUP BY 1, 2, 3
        ),
        pred AS (
            SELECT query_id, true_label, neighbor_label AS pred_label,
                   n_votes
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY n_votes DESC, neighbor_label) AS pr
                FROM votes
            ) WHERE pr = 1
        )
        SELECT query_id,
               CAST(true_label AS BIGINT) AS true_label,
               CAST(pred_label AS BIGINT) AS pred_label,
               n_votes,
               CAST(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END
                    AS BIGINT) AS correct
        FROM pred ORDER BY query_id
    """,
    tags=("ml", "similarity", "evaluation"),
)
def ml_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor label-vote classification over the
    embeddings table: each query vector's label is predicted by
    majority vote among its {TOP_K} brute-force cosine neighbors
    (ties break to the smallest label — deterministic), scored
    against the fixture's true label column. This is the evaluation
    that decides whether an embedding space is USABLE for
    classification before anyone trains a head on it — the
    label-aware companion to similarity_recall_at_k (which scores the
    index, not the space). Vote counts and the correctness bit are
    pure BIGINTs; neighbor ranking uses the engine's bit-exact
    fold-cosine.

    Scale shape: the |queries|·n scoring join is the same
    broadcast-queries pattern as similarity_topk_bruteforce (queries
    tiny, corpus streamed); votes and the argmax run on
    |queries|·k rows. At 100 TB the same evaluation runs on a
    calibration query set against the IVF candidates instead of the
    full scan."""
    e = _emb(spark, sf_dir)
    ep = e.select("vec_id", "v", "label", norm(F.col("v")).alias("nv")).persist()
    q = ep.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("qnv"),
        F.col("label").alias("true_label"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("c"), "vec_id")
    ranked = (
        ep.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("neighbor_label"),
            "vec_id",
            (dot(F.col("qv"), F.col("v")) / (F.col("qnv") * F.col("nv"))).alias("c"),
        )
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= TOP_K)
    )
    votes = ranked.groupBy("query_id", "true_label", "neighbor_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), "neighbor_label"
    )
    pred = (
        votes.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("long").alias("true_label"),
            F.col("neighbor_label").cast("long").alias("pred_label"),
            "n_votes",
        )
    )
    return pred.select(
        "query_id",
        "true_label",
        "pred_label",
        "n_votes",
        F.when(F.col("pred_label") == F.col("true_label"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("correct"),
    ).orderBy("query_id")


@register(
    "similarity_topk_incremental",
    oracle=f"""
        WITH e AS ({_SQL_EMB}),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   {_sql_cos('q.qv', 'e.v')} AS c
            FROM q JOIN e ON e.vec_id != q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   CAST(FLOOR(c * 10000) AS BIGINT) AS cosine4,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY c DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine4, rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """,
    tags=("llm-data", "similarity", "incremental"),
)
def similarity_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k similarity maintenance (PAPERS.md: EDBT 2020
    "Incremental Based Framework for Efficient Top-K Similarity
    Search"): when a delta of new vectors arrives, the new top-k is
    recovered WITHOUT rescanning the old corpus — the true top-k over
    old ∪ delta is provably contained in (old top-k) ∪ (delta scores),
    so only |delta| + k·|queries| rows are re-ranked.

    The oracle is the full recompute over everything (identical to
    similarity_topk_bruteforce's), which is the point: the incremental
    path must be indistinguishable from the rescan. The fixture delta
    is the deterministic vec_id % 5 = 0 slice standing in for "what
    arrived since the last maintained result".

    Scale: the old corpus is touched only through its previously
    maintained k·|queries|-row result (in production: the stored
    search index / result table — see streaming/ts_similarity.py for
    the same maintain-the-base pattern on behavioral series); per
    delta batch the work is |delta| x |queries| scoring, broadcast on
    the query side, plus a k-bounded window.
    """
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    old = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0)

    def scores(corpus: DataFrame) -> DataFrame:
        return corpus.join(
            F.broadcast(q), F.col("vec_id") != F.col("query_id")
        ).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v")).alias("c"),
        )

    w = Window.partitionBy("query_id").orderBy(F.desc("c"), "neighbor_id")
    # The maintained state: top-k per query over the OLD corpus only.
    old_topk = (
        scores(old)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .drop("rank")
    )
    # Incremental step: union the delta's scores, re-rank k-bounded.
    return (
        old_topk.unionByName(scores(delta))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.floor(F.col("c") * 10000).alias("cosine4"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )

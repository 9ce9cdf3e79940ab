"""Multi-source BFS reach, exact nearest-centroid
classification report, greedy facility-location selection.

* ``graph_bfs_distance_histogram`` — 3-round multi-source BFS over the
  part–supplier bipartite graph: the hop-distance histogram
  (HyperBall-style reachability profile) that complements the
  component/label-propagation family with an explicit DISTANCE
  semantics per round.
* ``ml_nearest_centroid_f1`` — the classical nearest-centroid
  classifier evaluated exactly: per-label fixed-point centroids,
  all-integer squared distances, per-label precision/recall/F1. The
  eval-side companion of embedding_label_centroids.
* ``sample_facility_location_greedy`` — submodular data selection:
  greedy facility-location (max-sum coverage) over fixed-point
  cosines, the selection objective modern training-data curation uses
  for diverse-coverage subsets (vs embedding_kcenter_coreset's
  max-min radius objective).

Reference parity note: the reference engine computes nothing of this
kind (keyed integer streamer, v1/src/main/java/Stream/Streamer.java);
these belong to the SURVEY §2 Part-B graph/ML/LLM-data closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreamer_spark.operators._embed import nearest_centroids
from kafkastreamer_spark.operators._graph import min_label_step
from kafkastreamer_spark.queries.graph import closed_part_supplier_edges
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table

# ---------------------------------------------------------------------------
# graph_bfs_distance_histogram
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 3
_BFS_SEED_MOD = 199  # part nodes with l_partkey % 199 == 0 seed the BFS


def _bfs_iter_sql(prev: str, out: str) -> str:
    # one BFS relaxation: keep the previous distances and admit every
    # neighbor at d+1, then min per node
    return f"""
        {out} AS (
            SELECT node, min(d) AS d FROM (
                SELECT node, d FROM {prev}
                UNION ALL
                SELECT e.dst AS node, {prev}.d + 1 AS d
                FROM edges e JOIN {prev} ON {prev}.node = e.src
            ) GROUP BY node
        )"""


@register(
    "graph_bfs_distance_histogram",
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
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        d0 AS (
            SELECT node, 0 AS d FROM nodes
            WHERE node % 2 = 0 AND (node // 2) % {_BFS_SEED_MOD} = 0
        ),
        {_bfs_iter_sql("d0", "d1")},
        {_bfs_iter_sql("d1", "d2")},
        {_bfs_iter_sql("d2", "d3")},
        reach AS (
            SELECT n.node, COALESCE(d3.d, -1) AS dist
            FROM nodes n LEFT JOIN d3 ON d3.node = n.node
        )
        SELECT CAST(dist AS BIGINT) AS dist,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(node) AS BIGINT) AS node_id_sum
        FROM reach GROUP BY dist ORDER BY dist
    """,
    tags=("graph", "iterative", "bfs"),
)
def graph_bfs_distance_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hop-distance histogram after {_BFS_ROUNDS} rounds of
    multi-source BFS over the part–supplier bipartite graph (part
    nodes 2p, supplier nodes 2s+1, both edge directions): every
    l_partkey divisible by {_BFS_SEED_MOD} seeds at distance 0, each
    round relaxes one hop, and nodes still unreached after round
    {_BFS_ROUNDS} report dist = -1. The round count is FIXED so the
    output is the deterministic k-step frontier profile on both
    engines (the graph_connected_components discipline); production
    reach analyses run to frontier exhaustion or switch to HyperBall
    sketches at diameter scale.

    Scale shape: one equi-join + one min-aggregation per round — the
    Pregel superstep ``min_label_step`` with ``hops``, over the closed
    list graph_connected_components propagates over: the edge list is
    the big side and keeps its src hash-partitioning across all
    rounds; only the bounded (node, dist) relation reshuffles.
    Cost-0 self-loops fold the distance carry-forward into the min,
    so each round references the frontier exactly ONCE — linear
    lineage, no per-round persist needed, no outer join in the loop.
    The single LEFT join (unreached accounting) happens once at the
    end against the node set.
    """
    edges = closed_part_supplier_edges(spark, sf_dir)
    nodes = edges.filter(F.col("src") == F.col("dst")).select(
        F.col("src").alias("node")
    )
    dist = nodes.filter(
        (F.col("node") % 2 == 0)
        & (F.expr(f"(node div 2) % {_BFS_SEED_MOD}") == 0)
    ).select("node", F.lit(0).alias("lbl"))
    for _ in range(_BFS_ROUNDS):
        dist = min_label_step(edges, dist, hops=True)
    reach = nodes.join(dist, "node", "left").select(
        "node", F.coalesce("lbl", F.lit(-1)).alias("dist")
    )
    return (
        reach.groupBy(F.col("dist").cast("long").alias("dist"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("node").cast("long").alias("node_id_sum"),
        )
        .orderBy("dist")
    )


# ---------------------------------------------------------------------------
# ml_nearest_centroid_f1
# ---------------------------------------------------------------------------

# fixed-point lattice: q_i = floor(v_i * 10^4) + 10^4 — the +10^4
# shift keeps every coordinate non-negative so the centroid's integer
# floor-division is identical in Spark (div, truncates) and DuckDB
# (//): truncation == floor only on non-negatives.
_NC_Q = 10_000


@register(
    "ml_nearest_centroid_f1",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label,
                   list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(FLOOR(x * {_NC_Q}) AS BIGINT)
                             + {_NC_Q}) AS q
            FROM embeddings
        ),
        flat AS (
            SELECT label, i, sum(q[i + 1]) AS s, count(*) AS n
            FROM e CROSS JOIN range(0, 64) AS t(i)
            GROUP BY label, i
        ),
        cent AS (
            SELECT label AS clabel, list(s // n ORDER BY i) AS c
            FROM flat GROUP BY label
        ),
        scored AS (
            SELECT e.vec_id, e.label, cent.clabel,
                   list_sum(list_transform(range(0, 64),
                        i -> (e.q[i + 1] - cent.c[i + 1])
                             * (e.q[i + 1] - cent.c[i + 1]))) AS d2
            FROM e CROSS JOIN cent
        ),
        pred AS (
            SELECT vec_id, label,
                   first(clabel ORDER BY d2, clabel) AS plabel
            FROM scored GROUP BY vec_id, label
        ),
        conf AS (
            SELECT l.label,
                   CAST(count(*) FILTER (WHERE p.label = l.label
                                         AND p.plabel = l.label) AS BIGINT)
                       AS tp,
                   CAST(count(*) FILTER (WHERE p.label != l.label
                                         AND p.plabel = l.label) AS BIGINT)
                       AS fp,
                   CAST(count(*) FILTER (WHERE p.label = l.label
                                         AND p.plabel != l.label) AS BIGINT)
                       AS fn
            FROM (SELECT DISTINCT label FROM e) l CROSS JOIN pred p
            GROUP BY l.label
        )
        SELECT label, tp, fp, fn,
               CAST(CASE WHEN tp + fp = 0 THEN 0
                    ELSE (tp * {_NC_Q}) // (tp + fp) END AS BIGINT)
                   AS precision4,
               CAST(CASE WHEN tp + fn = 0 THEN 0
                    ELSE (tp * {_NC_Q}) // (tp + fn) END AS BIGINT)
                   AS recall4,
               CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
                    ELSE (2 * tp * {_NC_Q}) // (2 * tp + fp + fn) END
                    AS BIGINT) AS f14
        FROM conf ORDER BY label
    """,
    tags=("ml", "llm-data", "classification"),
)
def ml_nearest_centroid_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier report card, evaluated EXACTLY:
    vectors quantize to a non-negative integer lattice (floor(v*10^4)
    + 10^4), per-label centroids are integer floor-division means,
    every squared distance is BIGINT arithmetic, and the per-label
    confusion counts roll up to fixed-point precision/recall/F1
    (macro-average = mean of the f14 column). Resubstitution
    evaluation (each vector votes its own centroid) — the standard
    report-card regime, stated; the split_* family provides held-out
    folds when needed.

    All-integer distances mean no floating-point tie ambiguity: the
    argmin is a deterministic (d2, label) pick on both engines.

    Scale shape: centroid building is a posexplode to (label, dim)
    partial sums — map-side combine collapses to |labels| x 64 rows
    before the exchange; the 10-row centroid table broadcasts as one
    row; ``nearest_centroids`` picks each vector's label map-side from
    |labels| integer fold distances; the confusion rollup is
    count-only. No vector pair join anywhere.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _NC_Q).cast("long")
            + _NC_Q,
        ).alias("q"),
    )
    flat = (
        e.select("label", F.posexplode("q").alias("i", "qi"))
        .groupBy("label", "i")
        .agg(F.sum("qi").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    cent = (
        flat.select(
            F.col("label").alias("clabel"),
            F.struct("i", F.expr("s div n").alias("ci")).alias("p"),
        )
        .groupBy("clabel")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("p")), lambda p: p.ci
            ).alias("c")
        )
    )
    pred = nearest_centroids(
        e,
        cent,
        "clabel",
        lambda c: F.aggregate(
            F.zip_with("q", c["c"], lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    ).select("vec_id", "label", F.col("clabel").alias("plabel"))
    labels = e.select("label").distinct().select(F.col("label").alias("l"))
    conf = (
        labels.crossJoin(pred)
        .groupBy(F.col("l").alias("label"))
        .agg(
            F.count_if(
                (F.col("label") == F.col("l")) & (F.col("plabel") == F.col("l"))
            ).cast("long").alias("tp"),
            F.count_if(
                (F.col("label") != F.col("l")) & (F.col("plabel") == F.col("l"))
            ).cast("long").alias("fp"),
            F.count_if(
                (F.col("label") == F.col("l")) & (F.col("plabel") != F.col("l"))
            ).cast("long").alias("fn"),
        )
    )
    z = F.lit(0).cast("long")
    return conf.select(
        "label",
        "tp",
        "fp",
        "fn",
        F.when(F.col("tp") + F.col("fp") == 0, z)
        .otherwise(F.expr(f"(tp * {_NC_Q}) div (tp + fp)"))
        .cast("long")
        .alias("precision4"),
        F.when(F.col("tp") + F.col("fn") == 0, z)
        .otherwise(F.expr(f"(tp * {_NC_Q}) div (tp + fn)"))
        .cast("long")
        .alias("recall4"),
        F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, z)
        .otherwise(F.expr(f"(2 * tp * {_NC_Q}) div (2 * tp + fp + fn)"))
        .cast("long")
        .alias("f14"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# sample_facility_location_greedy
# ---------------------------------------------------------------------------

_FL_POOL = 16  # candidate facilities: 16 lowest md5(vec_id) vectors
_FL_K = 4  # greedy selection steps
_FL_FLOOR = -(10_000 + 1)  # below any cosine4 — the empty-set coverage

_FL_SQL_COS4 = (
    "CAST(FLOOR(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))) * 10000) AS BIGINT)"
)


def _fl_step_sql(prev_cov: str, prev_sel: str, step: int) -> str:
    """One greedy step: among pool members not yet selected, pick the
    facility maximizing total coverage, then update coverage."""
    return f"""
        g{step} AS (
            SELECT s.cand_id,
                   sum(GREATEST(c.cov, s.sim4)) AS obj
            FROM sims s JOIN {prev_cov} c ON c.vec_id = s.vec_id
            WHERE s.cand_id NOT IN (SELECT cand_id FROM {prev_sel})
            GROUP BY s.cand_id
        ),
        pick{step} AS (
            SELECT cand_id, obj, {step} AS step FROM g{step}
            ORDER BY obj DESC, cand_id LIMIT 1
        ),
        sel{step} AS (
            SELECT cand_id, obj, step FROM {prev_sel}
            UNION ALL SELECT cand_id, obj, step FROM pick{step}
        ),
        cov{step} AS (
            SELECT c.vec_id,
                   GREATEST(c.cov, COALESCE(s.sim4, {_FL_FLOOR})) AS cov
            FROM {prev_cov} c
            LEFT JOIN (
                SELECT vec_id, sim4 FROM sims
                WHERE cand_id = (SELECT cand_id FROM pick{step})
            ) s ON s.vec_id = c.vec_id
        )"""


@register(
    "sample_facility_location_greedy",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        pool AS (
            SELECT vec_id AS cand_id, v AS cv FROM e
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {_FL_POOL}
        ),
        sims AS (
            SELECT p.cand_id, e.vec_id,
                   {_FL_SQL_COS4.format(a="p.cv", b="e.v")} AS sim4
            FROM pool p CROSS JOIN e
        ),
        cov0 AS (SELECT vec_id, {_FL_FLOOR} AS cov FROM e),
        sel0 AS (
            SELECT CAST(NULL AS BIGINT) AS cand_id,
                   CAST(NULL AS BIGINT) AS obj, 0 AS step WHERE false
        ),
        {_fl_step_sql("cov0", "sel0", 1)},
        {_fl_step_sql("cov1", "sel1", 2)},
        {_fl_step_sql("cov2", "sel2", 3)},
        {_fl_step_sql("cov3", "sel3", 4)}
        SELECT CAST(step AS BIGINT) AS step,
               CAST(cand_id AS BIGINT) AS chosen_id,
               CAST(obj AS BIGINT) AS objective
        FROM sel4 ORDER BY step
    """,
    tags=("llm-data", "sampling", "submodular"),
)
def sample_facility_location_greedy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Submodular training-data selection: greedy facility location.
    {_FL_K} facilities are chosen one at a time from a {_FL_POOL}-
    candidate pool (lowest md5(vec_id) — the samplers' canonical
    deterministic draw), each step maximizing the total corpus
    coverage sum_v max_(s in S) cosine4(v, s) — the max-SUM-coverage
    objective diverse-subset curation uses, complementing
    embedding_kcenter_coreset's max-MIN-radius objective. Cosines are
    the repo's bit-exact sequential-fold doubles floored to 1e-4
    fixed point, so every greedy argmax is exact on both engines
    (ties break on candidate id).

    Scale shape: the pool is fixed and broadcasts; the (corpus x
    pool) similarity table is computed ONCE map-side and persisted —
    each greedy step is one sum-aggregate over it joined with the
    running per-vector coverage (never a new pair join), a 1-row
    TakeOrdered pick, and a broadcast-filtered coverage update. The
    selection loop is {_FL_K} bounded plan iterations with no
    driver-side data movement.
    """
    from kafkastreamer_spark.operators._embed import cosine

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    pool = (
        e.select(
            F.col("vec_id").alias("cand_id"),
            F.col("v").alias("cv"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "cand_id")
        .limit(_FL_POOL)
        .drop("h")
    )
    sims = (
        e.crossJoin(F.broadcast(pool))
        .select(
            "cand_id",
            "vec_id",
            F.floor(cosine(F.col("cv"), F.col("v")) * 10000)
            .cast("long")
            .alias("sim4"),
        )
        .persist()
    )
    cov = e.select("vec_id", F.lit(_FL_FLOOR).cast("long").alias("cov"))
    chosen: list[DataFrame] = []
    sel = None  # running (cand_id) exclusion set, stays tiny
    for step in range(1, _FL_K + 1):
        g = sims
        if sel is not None:
            g = g.join(F.broadcast(sel), "cand_id", "left_anti")
        # persist each step's 1-row pick: it is referenced three ways
        # (output union, coverage update, exclusion set) and —
        # because cov_k reads cov_{k-1} both directly and through
        # pick_k — an unpersisted pick doubles the coverage chain per
        # step (2^K copies of the plan). Caching pick bounds each
        # chain re-derivation at the previous cached pick. The
        # corpus-width cov stays lazy: persisting it too adds one
        # serialized cache-materialization barrier per step, which
        # costs more than the remaining (now linear) recomputation.
        # The 1-row pick caches are not unpersisted per step: they
        # materialize only inside the final action, so build-time
        # unpersist would revert the fix; clearCache between queries
        # releases them (same trade-off note as relational8).
        pick = (
            g.join(cov, "vec_id")
            .groupBy("cand_id")
            .agg(F.sum(F.greatest("cov", "sim4")).alias("obj"))
            .orderBy(F.desc("obj"), "cand_id")
            .limit(1)
            .select("cand_id", "obj", F.lit(step).alias("step"))
            .persist()
        )
        chosen.append(pick)
        picked_sims = sims.join(
            F.broadcast(pick.select("cand_id")), "cand_id"
        ).select("vec_id", "sim4")
        cov = cov.join(picked_sims, "vec_id", "left").select(
            "vec_id",
            F.greatest(
                "cov", F.coalesce("sim4", F.lit(_FL_FLOOR).cast("long"))
            ).alias("cov"),
        )
        sel = pick.select("cand_id") if sel is None else sel.unionByName(
            pick.select("cand_id")
        )
    out = chosen[0]
    for p in chosen[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("step").cast("long").alias("step"),
        F.col("cand_id").cast("long").alias("chosen_id"),
        F.col("obj").cast("long").alias("objective"),
    ).orderBy("step")

"""Graph analytics on relation-derived graphs: PageRank, connected
components, triangle counting.

Spark has no native graph engine in pyspark-core (GraphX is
Scala/RDD; GraphFrames is an external package), so the engine
expresses the three canonical graph kernels as DataFrame plans — the
same join/aggregate shapes Pregel-style systems lower to anyway:

* PageRank        → per-iteration (broadcast rank ⋈ edges) + groupBy
* components      → bounded min-label propagation (join + min-agg)
* triangle count  → oriented two-hop join (a<b<c) closing wedges

All rank arithmetic is exact fixed-point BIGINT so both engines hash
identically regardless of partial-aggregation order (see
queries/_util.py for the discipline).

Reference grounding: the reference has no graph surface (its topology
"graph" is the operator DAG, v1/src/main/java/Topology/*.java) — this
is §2-B capability closure plus the training-data-pipeline need of
link-structure analysis over web-crawl corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.operators._graph import closed_edges, min_label_step
from kafkastreamer_spark.operators.deskew import md5_ranked
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table

# Quadratic-projection degree ceiling: a key with more than this many
# bipartite neighbors keeps a deterministic md5-rank sample of them
# before any pairing self-join, bounding the per-key candidate blowup
# at C(64,2) ≈ 2k pairs.
_DEGREE_CAP = 64

# Rank fixed-point scale: 1e9 micro-units per unit of probability
# mass.  Integer division (Spark `div` == DuckDB `//`) makes every
# iteration's arithmetic exact and engine-independent; the dangling /
# rounding residue (< 1 unit per node per step) is identical in both.
_R = 1_000_000_000

_TRADE_EDGES_SQL = """
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed nation-level trade edges: customer nation → supplier
    nation, one edge per distinct pair.  The dimension joins are all
    broadcastable; the DISTINCT collapses |lineitem| rows to ≤ N²
    pairs with map-side partial dedup."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .distinct()
    )


def _pagerank_iter_sql(prev: str, out: str) -> str:
    """One unrolled PageRank iteration as a DuckDB CTE pair."""
    return f"""
        m_{out} AS (
            SELECT e.dst AS node, CAST(SUM({prev}.r // d.deg) AS BIGINT) AS m
            FROM edges e
            JOIN {prev} ON {prev}.node = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
        ),
        {out} AS (
            SELECT p.node,
                   CAST((15 * ({_R} // (SELECT n FROM nc))) // 100
                        + (85 * COALESCE(m.m, 0)) // 100 AS BIGINT) AS r
            FROM {prev} p LEFT JOIN m_{out} m ON m.node = p.node
        )"""


@register(
    "graph_pagerank_two_iter",
    oracle=f"""
        WITH edges AS ({_TRADE_EDGES_SQL}),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        nc AS (SELECT count(*) AS n FROM nation),
        r0 AS (
            SELECT n_nationkey AS node,
                   CAST({_R} // (SELECT n FROM nc) AS BIGINT) AS r
            FROM nation
        ),
        {_pagerank_iter_sql("r0", "r1")},
        {_pagerank_iter_sql("r1", "r2")}
        SELECT n.n_name AS nation, r2.r AS rank_fp,
               CAST(r2.r AS DOUBLE) / {_R} AS rank
        FROM r2 JOIN nation n ON n.n_nationkey = r2.node
        ORDER BY rank_fp DESC, nation
    """,
    tags=("graph", "iterative", "pagerank"),
)
def graph_pagerank_two_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two damped PageRank iterations (d=0.85) over the nation trade
    graph, in exact fixed-point: ranks are BIGINT 1e-9 units, each
    node's contribution is rank div out-degree (integer division), and
    the update is teleport + (85·Σcontrib) div 100 — every step pure
    integer, so Spark and DuckDB agree bit-for-bit with no float-sum
    order dependence.  Dangling mass (nodes with no out-edges) is
    dropped, the common power-iteration simplification, identically on
    both sides.

    Scale shape: the rank vector is node-count-sized — tiny next to
    the edge list — so each iteration broadcasts ranks+degrees onto
    the edges (map-side join, no edge shuffle) and reduces by dst with
    map-side partial sums: per-iteration cost is one small shuffle of
    |nodes| aggregates.  Edge construction itself is the standard
    broadcast-dim star join; the DISTINCT collapses before any
    iteration runs.  This is exactly Pregel's per-superstep plan."""
    nation = load_table(spark, sf_dir, "nation")
    # carry the out-degree ON the cached edge rows (one window inside
    # the one-time cache build) instead of re-aggregating deg from the
    # cache and broadcast-joining it in every iteration — each
    # superstep is then exactly one broadcast of the rank vector plus
    # one map-side-combining sum by dst.
    edges = (
        _trade_edges(spark, sf_dir)
        .withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .persist()  # reused every iteration
    )
    nc = nation.agg(F.count(F.lit(1)).alias("n"))
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    ranks = nodes.crossJoin(F.broadcast(nc)).select(
        "node", F.expr(f"{_R} div n").cast("long").alias("r")
    )
    # The update expression reads only (node, m, n) — never the
    # previous r — so the node list comes from the STATIC nation scan
    # instead of the previous ranks. Referencing ranks twice per
    # iteration (contrib build + left-join update) would double the
    # unpersisted lineage every round; ranks_k references ranks_{k-1}
    # exactly once — linear lineage, one |nodes| aggregate per
    # superstep, same exact fixed-point arithmetic.
    for _ in range(2):
        msgs = (
            edges.join(F.broadcast(ranks), edges.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.expr("r div deg")).alias("m"))
        )
        ranks = (
            nodes.join(msgs, nodes.node == msgs.dst, "left")
            .crossJoin(F.broadcast(nc))
            .select(
                "node",
                F.expr(
                    f"(15 * ({_R} div n)) div 100"
                    " + (85 * coalesce(m, 0L)) div 100"
                ).cast("long").alias("r"),
            )
        )
    return (
        ranks.join(
            F.broadcast(nation), ranks.node == F.col("n_nationkey")
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("r").alias("rank_fp"),
            (F.col("r").cast("double") / _R).alias("rank"),
        )
        .orderBy(F.desc("rank_fp"), "nation")
    )


def _cc_iter_sql(prev: str, out: str) -> str:
    return f"""
        {out} AS (
            SELECT e.dst AS node, min({prev}.lbl) AS lbl
            FROM edges e JOIN {prev} ON {prev}.node = e.src
            GROUP BY e.dst
        )"""


def part_supplier_half(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part–supplier graph from lineitem as distinct (src, dst)
    pairs, one direction only: part nodes 2p, supplier nodes 2s+1, so
    a node's side is its parity."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()


def closed_part_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``part_supplier_half`` as a closed, deduplicated (src, dst)
    list: both directions plus one self-loop per node,
    hash-partitioned by src and persisted for the rounds that join on
    it."""
    return (
        closed_edges(part_supplier_half(spark, sf_dir))
        # hash(src) satisfies the dedup aggregate's clustering on
        # (src, dst), so dropDuplicates after the repartition plans
        # without an exchange of its own; every round's join reuses
        # the layout
        .repartition(F.col("src"))
        .dropDuplicates(["src", "dst"])
        .persist()
    )


@register(
    "graph_connected_components",
    oracle=f"""
        WITH edges0 AS (
            SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM lineitem
        ),
        edges AS (
            SELECT src, dst FROM edges0
            UNION
            SELECT dst, src FROM edges0
            UNION
            SELECT src, src FROM edges0
            UNION
            SELECT dst, dst FROM edges0
        ),
        l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
        {_cc_iter_sql("l0", "l1")},
        {_cc_iter_sql("l1", "l2")},
        {_cc_iter_sql("l2", "l3")},
        {_cc_iter_sql("l3", "l4")},
        sizes AS (SELECT lbl, count(*) AS csize FROM l4 GROUP BY lbl)
        SELECT csize, count(*) AS n_components
        FROM sizes GROUP BY csize ORDER BY csize
    """,
    tags=("graph", "iterative", "components"),
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four rounds of min-label propagation over the bipartite
    part–supplier graph from lineitem (part nodes 2p, supplier nodes
    2s+1), reporting the component-size histogram after round 4.  The
    round count is FIXED, not run to convergence — the output is the
    deterministic 4-step propagation state on both engines, which is
    what makes an exact oracle possible (DuckDB unrolls the same four
    CTE rounds).  Label distance covered after k rounds is k hops;
    production use picks k ≈ graph diameter or switches to the
    pointer-doubling variant (hierarchy_depth_rollup) for long chains.

    Self-loops are added to the edge set once, which folds the
    "keep your own label" carry-over into the propagation min — each
    round is then ONE equi-join plus ONE min-aggregation, the label
    table is referenced once per round (linear lineage, nothing but
    the edge list needs persisting), and no outer join appears
    anywhere.

    Scale shape: one join + one map-side-combining min per round, the
    textbook Pregel superstep.  At 100 TB the edge list is the big
    side and stays hash-partitioned by src across all rounds (the
    join key never changes); only the small (node,label) relation
    reshuffles between rounds."""
    edges = closed_part_supplier_edges(spark, sf_dir)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(4):
        labels = min_label_step(edges, labels)
    return (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("csize"))
        .groupBy("csize")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy("csize")
    )


@register(
    "graph_triangle_count",
    oracle=f"""
        WITH und AS MATERIALIZED (
            -- MATERIALIZED: und feeds the 3-way wedge join; DuckDB's
            -- default CTE inlining re-plans the 5-way trade-edge join
            -- per reference and the wedge join degrades ~300x
            -- (measured 39s -> 0.1s at sf0.1).
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM ({_TRADE_EDGES_SQL})
            WHERE src <> dst
        ),
        tri AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        pernode AS (SELECT unnest([a, b, c]) AS node FROM tri)
        SELECT n.n_name AS nation, count(p.node) AS n_triangles
        FROM nation n LEFT JOIN pernode p ON p.node = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY nation
    """,
    tags=("graph", "triangles", "join"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation counts on the undirected
    nation trade graph (self-loops dropped, edges canonicalized to
    a<b).  Triangles enumerate via the oriented wedge-close join —
    e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) with a<b<c — so each triangle is
    produced exactly once, then explodes to its three corners for the
    per-node rollup.

    Scale shape: orientation (a<b) is THE classic trick that bounds
    the wedge join by out-degree in the degree-ordering — at web scale
    one re-orients by degree instead of id so high-degree hubs sit on
    the small side; on this dense 25-node graph id order suffices.
    Both joins are equi-joins on node keys (shuffle or broadcast by
    size); no nested-loop anywhere."""
    nation = load_table(spark, sf_dir, "nation")
    e = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    und = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .persist()  # three-way self-join below
    )
    e2 = und.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    # the oriented edge list is bounded by C(25,2) rows (25 nations),
    # so every wedge-close side broadcasts — no shuffle/sort anywhere
    tri = (
        und.join(F.broadcast(e2), und.b == e2.b2)
        .join(F.broadcast(e3), (und.a == e3.a3) & (e2.c == e3.c3))
        .select("a", "b", "c")
    )
    pernode = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    # broadcast the bounded right side (≤ 3·C(25,3) ints): a broadcast
    # hint on the PRESERVED left side of a left join cannot become a
    # BroadcastHashJoin and was silently degrading to sort-merge
    return (
        nation.join(F.broadcast(pernode), pernode.node == nation.n_nationkey, "left")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("node").alias("n_triangles"))
        .orderBy("nation")
    )


@register(
    "graph_bipartite_projection",
    oracle="""
        WITH ps0 AS (
            SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
        ),
        ps AS (
            SELECT p, s FROM (
                SELECT p, s,
                       row_number() OVER (
                           PARTITION BY p
                           ORDER BY md5(CAST(s AS VARCHAR)), s) AS rn
                FROM ps0
            ) WHERE rn <= 64
        ),
        pairs AS (
            SELECT a.s AS supp_a, b.s AS supp_b, count(*) AS shared_parts
            FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
            GROUP BY 1, 2
        )
        SELECT supp_a, supp_b, shared_parts
        FROM pairs
        ORDER BY shared_parts DESC, supp_a, supp_b
        LIMIT 30
    """,
    tags=("graph", "projection", "cooccurrence"),
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection: collapse the part–supplier graph onto
    supplier–supplier edges weighted by shared parts (top-30) — the
    co-occurrence projection behind "suppliers like this one" /
    co-view recommenders, and the third view of the same bipartite
    structure graph_connected_components propagates over.

    Scale shape: the projection is a self-join on the part key, so
    cost is Σ_p deg(p)² — dominated by high-degree parts.  The degree
    ceiling is therefore IN the plan, not prose: each part keeps at
    most ``_DEGREE_CAP`` suppliers, chosen by deterministic md5-rank
    (``operators/deskew.md5_ranked`` — the rank computation itself is
    skew-free), so a viral part contributes ≤ C(64,2) pairs instead of
    deg². The oracle applies the identical cap, so the contract is
    exact at ANY degree distribution — the fixture's ~4-supplier parts
    never hit it, but the semantics do not depend on that.  Top-30
    compiles to TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = (
        md5_ranked(
            li.select(
                F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
            ).distinct(),
            ["p"],
            key_col="s",
            rank_name="rn",
        )
        .filter(F.col("rn") <= _DEGREE_CAP)
        .select("p", "s")
        .persist()  # both sides of the pairing join
    )
    b = ps.select(F.col("p").alias("pb"), F.col("s").alias("supp_b"))
    return (
        ps.withColumnRenamed("s", "supp_a")
        .join(b, (F.col("p") == F.col("pb")) & (F.col("supp_a") < F.col("supp_b")))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).alias("shared_parts"))
        .orderBy(F.desc("shared_parts"), "supp_a", "supp_b")
        .limit(30)
    )


@register(
    "graph_label_propagation",
    oracle=f"""
        WITH edges AS ({_TRADE_EDGES_SQL}),
        sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        nodes AS (SELECT DISTINCT src AS node FROM sym),
        l0 AS (SELECT node, node AS lbl FROM nodes),
        n1 AS (SELECT s.dst AS node, MIN(l0.lbl) AS m
               FROM sym s JOIN l0 ON l0.node = s.src GROUP BY s.dst),
        l1 AS (SELECT l0.node, LEAST(l0.lbl, COALESCE(n1.m, l0.lbl)) AS lbl
               FROM l0 LEFT JOIN n1 ON n1.node = l0.node),
        n2 AS (SELECT s.dst AS node, MIN(l1.lbl) AS m
               FROM sym s JOIN l1 ON l1.node = s.src GROUP BY s.dst),
        l2 AS (SELECT l1.node, LEAST(l1.lbl, COALESCE(n2.m, l1.lbl)) AS lbl
               FROM l1 LEFT JOIN n2 ON n2.node = l1.node)
        SELECT node, lbl AS label FROM l2 ORDER BY node
    """,
    tags=("graph", "community", "iterative"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation, two supersteps over the symmetrized
    trade graph: every node starts labeled with its own id and each
    step adopts the minimum label in its closed neighborhood — the
    deterministic LPA variant (plain LPA breaks ties randomly; min is
    engine- and order-independent), and exactly the per-superstep
    update connected-components iterates to a fixed point. Two
    unrolled steps keep the oracle a finite CTE chain while exercising
    the iterative-superstep machinery on its own.

    Scale shape: identical cost model to graph_pagerank_two_iter —
    the edge list is built once, symmetrized, and persisted; each
    superstep broadcasts the (tiny) label vector onto the edges
    (map-side join, edges never shuffle) and reduces by dst. Label
    vectors are |nodes| rows, so at 100 TB the iteration cost is one
    broadcast + one |nodes|-group aggregate per step, with the edge
    relation staying hash-partitioned in cache across steps.
    """
    edges = _trade_edges(spark, sf_dir)
    # The self-loops fold the oracle's LEAST(own, COALESCE(min-
    # neighbour, own)) carry-over into the step's min over the closed
    # neighbourhood.
    sym = closed_edges(edges).distinct().persist()
    lbl = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    for _ in range(2):
        lbl = min_label_step(sym, F.broadcast(lbl))
    return lbl.select("node", F.col("lbl").alias("label")).orderBy("node")

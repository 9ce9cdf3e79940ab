"""Min-label propagation: the one Pregel superstep every component,
label-propagation and fixed-round BFS query in the package runs.

``edges`` is ``(src, dst)`` and CLOSED: every labelled node carries its
own self-loop, so "keep your own label" is part of the min and a step
is one equi-join plus one min-aggregate, with the label relation
referenced once (linear lineage, no outer join). Duplicate edges cost
join work only; they never change a min. Labels may be any ordered
type (node ids or, for entity resolution, the names themselves).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def min_label_step(
    edges: DataFrame,
    labels: DataFrame,
    by: tuple[str, ...] = (),
    hops: bool = False,
) -> DataFrame:
    """One superstep: ``edges ⋈ labels ON src = node``, then each
    ``dst`` takes the minimum label over its closed in-neighbourhood.
    Returns ``(*by, node, lbl)``. After k steps from ``lbl = node``
    every node holds the minimum id within k hops.

    ``by`` columns of ``labels`` are carried through as group keys, so
    independent propagations (one per seed, say) share one step. With
    ``hops``, each message adds ``src != dst``: ``lbl`` is then a hop
    distance, self-loops carry it over at no cost, and k steps from
    ``lbl = 0`` on the seeds give every node within k hops its
    distance to the nearest seed."""
    lbl = F.col("lbl")
    if hops:
        lbl = lbl + (F.col("src") != F.col("dst")).cast("int")
    return (
        edges.join(labels, edges.src == labels.node)
        .groupBy(*by, F.col("dst").alias("node"))
        .agg(F.min(lbl).alias("lbl"))
    )


def closed_edges(edges: DataFrame) -> DataFrame:
    """Both directions of every (src, dst) edge plus a self-loop on
    each end, from one explode over a single reference to ``edges``
    (a 4-way union would run the input once per branch). Not
    deduplicated."""
    s, d = F.col("src"), F.col("dst")
    return edges.select(
        F.explode(
            F.array(
                F.struct(s, d),
                F.struct(d.alias("src"), s.alias("dst")),
                F.struct(s, s.alias("dst")),
                F.struct(d.alias("src"), d.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")

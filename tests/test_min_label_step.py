"""``operators/_graph.min_label_step`` and ``dedup.connected_components``
against pure-Python references on a hand-built graph: two small
components plus a 6-hop chain, so fixed-round propagation stops short
of the chain's far end for k < 6."""

from __future__ import annotations

import pytest

from kafkastreamer_spark.operators._graph import closed_edges, min_label_step
from kafkastreamer_spark.operators.dedup import connected_components

# triangle {5, 2, 9}, pair {7, 3}, chain 40-33-41-34-42-35-43 (the
# chain minimum 33 is 5 hops from 43)
EDGES = [
    (5, 2), (2, 9), (9, 5),
    (7, 3),
    (40, 33), (33, 41), (41, 34), (34, 42), (42, 35), (35, 43),
]


def _closed(edges):
    out = set()
    for s, d in edges:
        out |= {(s, d), (d, s), (s, s), (d, d)}
    return out


def _k_hop_min(edges, labels, k):
    closed = _closed(edges)
    for _ in range(k):
        labels = {
            v: min(labels[u] for u, w in closed if w == v) for v in labels
        }
    return labels


def _run(spark, edges, labels, k, typ):
    e = spark.createDataFrame(sorted(edges), f"src {typ}, dst {typ}")
    lab = spark.createDataFrame(sorted(labels.items()), f"node {typ}, lbl {typ}")
    closed = closed_edges(e)
    for _ in range(k):
        lab = min_label_step(closed, lab)
    return {r.node: r.lbl for r in lab.collect()}


@pytest.mark.parametrize("k", [1, 2, 4, 5])
def test_k_steps_match_k_hop_min_integer_labels(spark, k):
    labels = {v: v for e in EDGES for v in e}
    assert _run(spark, EDGES, labels, k, "long") == _k_hop_min(EDGES, labels, k)


@pytest.mark.parametrize("k", [1, 3, 6])
def test_k_steps_match_k_hop_min_string_labels(spark, k):
    name = {v: f"{chr(ord('a') + v * 7 % 26)}{v}" for e in EDGES for v in e}
    edges = [(name[s], name[d]) for s, d in EDGES]
    labels = {n: n for n in name.values()}
    got = _run(spark, edges, labels, k, "string")
    assert got == _k_hop_min(edges, labels, k)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {v: find(v) for v in parent}


def test_connected_components_matches_union_find(spark):
    # duplicate, reversed (dst, src) and self-loop edges: they cost
    # work only and must not change a label
    messy = EDGES + [(2, 9), (33, 40), (43, 35), (7, 7), (60, 60), (2, 9)]
    e = spark.createDataFrame(messy, "src long, dst long")
    got = {r.id: r.label for r in connected_components(e).collect()}
    want = _union_find(messy)
    assert got == want
    assert got[43] == 33 and got[60] == 60

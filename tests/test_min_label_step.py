"""``operators/_graph.min_label_step`` and ``dedup.connected_components``
against pure-Python references on a hand-built graph: two small
components plus a 6-hop chain, so fixed-round propagation stops short
of the chain's far end for k < 6. The ``hops`` form is checked against
breadth-first search, multi-source and (with ``by``) one per seed."""

from __future__ import annotations

from collections import defaultdict

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


def _bfs(edges, seeds, k):
    """{node: hop distance to the nearest seed} for nodes within k hops."""
    adj = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    dist = {v: 0 for v in seeds}
    frontier = set(seeds)
    for step in range(1, k + 1):
        frontier = {w for v in frontier for w in adj[v] if w not in dist}
        dist.update({w: step for w in frontier})
    return dist


def _hop_steps(spark, labels, schema, k, by=()):
    e = spark.createDataFrame(sorted(EDGES), "src long, dst long")
    lab = spark.createDataFrame(sorted(labels), schema)
    closed = closed_edges(e)
    for _ in range(k):
        lab = min_label_step(closed, lab, by=by, hops=True)
    return lab


# 9 sits in the triangle; 40 is the chain end, 6 hops from 43. The pair
# {7, 3} is never reached.
SEEDS = [9, 40]


@pytest.mark.parametrize("k", [1, 2, 3, 4, 5, 6])
def test_hops_match_multi_source_bfs(spark, k):
    got = _hop_steps(spark, [(v, 0) for v in SEEDS], "node long, lbl long", k)
    res = {r.node: r.lbl for r in got.collect()}
    assert res == _bfs(EDGES, SEEDS, k)
    assert 7 not in res and 3 not in res
    assert (43 in res) == (k == 6)


@pytest.mark.parametrize("k", [1, 3, 6])
def test_hops_by_seed_match_one_bfs_per_seed(spark, k):
    seeds = [5, 40, 42, 3]
    got = _hop_steps(
        spark,
        [(s, s, 0) for s in seeds],
        "seed long, node long, lbl long",
        k,
        by=("seed",),
    )
    assert got.columns == ["seed", "node", "lbl"]
    res = {(r.seed, r.node): r.lbl for r in got.collect()}
    want = {
        (s, v): d for s in seeds for v, d in _bfs(EDGES, [s], k).items()
    }
    assert res == want

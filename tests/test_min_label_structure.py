"""Structure guard for min-label propagation: every component,
label-propagation and fixed-round BFS superstep in the package goes
through ``operators/_graph.min_label_step``, and the part-name entity
closure (head-noun block + levenshtein ≤ 4 match) is built only by
``queries/relational14.part_entities``. The part–supplier node
encoding (part 2p, supplier 2s+1) is projected from lineitem only by
``queries/graph.part_supplier_half``. Outside those there is no
``F.min("lbl")``/``F.min("label")`` aggregate, no hand-written
relaxation (a join on ``src == node`` under a min-aggregate, directly
or through a union carry-over) and no noun-blocked levenshtein
join."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "kafkastreamer_spark"
KERNEL = "operators/_graph.py"
CLOSURE = ("queries/relational14.py", "part_entities")
HALF = ("queries/graph.py", "part_supplier_half")
LABELS = {"lbl", "label"}


def _name(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _calls(nodes):
    return [n for node in nodes for n in ast.walk(node) if isinstance(n, ast.Call)]


def _noun_equality(nodes) -> bool:
    """An ``==`` whose operands name a ``noun`` column."""
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Compare) and any(
                isinstance(op, ast.Eq) for op in n.ops
            ):
                strings = {
                    c.value
                    for c in ast.walk(n)
                    if isinstance(c, ast.Constant) and isinstance(c.value, str)
                }
                if any(s.split(".")[-1] == "noun" for s in strings):
                    return True
    return False


def _src_node_join(call) -> bool:
    """A ``.join`` whose condition compares ``src`` with ``node``."""
    if not (isinstance(call, ast.Call) and _name(call) == "join"):
        return False
    for cond in call.args[1:] + [k.value for k in call.keywords]:
        for n in ast.walk(cond):
            if isinstance(n, ast.Compare) and any(
                isinstance(op, ast.Eq) for op in n.ops
            ):
                names = {
                    o.attr if isinstance(o, ast.Attribute) else getattr(o, "value", None)
                    for o in [n.left, *n.comparators]
                }
                if names == {"src", "node"}:
                    return True
    return False


def _relaxation(call: ast.Call) -> str | None:
    """``.groupBy(...).agg(F.min(...))`` over a ``src == node`` join,
    or over a union that carries the labels over beside one."""
    if _name(call) != "agg" or not any(_name(c) == "min" for c in _calls(call.args)):
        return None
    group = call.func.value
    if not (isinstance(group, ast.Call) and _name(group) == "groupBy"):
        return None
    below = group.func.value
    if _src_node_join(below):
        return "relaxation step"
    if (
        isinstance(below, ast.Call)
        and _name(below) in ("union", "unionAll", "unionByName")
        and any(_src_node_join(c) for c in _calls([below]))
    ):
        return "union carry-over"
    return None


def _violations(rel: str, tree: ast.AST):
    for top in ast.iter_child_nodes(tree):
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            name = _name(node)
            # F.min("lbl") / F.min("label")
            if (
                name == "min"
                and rel != KERNEL
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value in LABELS
            ):
                yield rel, owner, "min-label aggregate"
            if rel != KERNEL and (kind := _relaxation(node)):
                yield rel, owner, kind
            # a.join(b, (a.noun == b.noun) & (levenshtein(...) <= 4))
            cond = node.args[1:] + [k.value for k in node.keywords]
            if (
                name == "join"
                and (rel, owner) != CLOSURE
                and any(_name(c) == "levenshtein" for c in _calls(cond))
                and _noun_equality(cond)
            ):
                yield rel, owner, "noun-blocked levenshtein join"


def test_propagation_and_closure_only_in_their_homes():
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        found |= set(_violations(rel, tree))
    assert not found, sorted(found)


def test_guard_catches_the_removed_forms():
    """The removed forms, as they were written, are flagged."""
    removed = '''
def er_step(edges, labels):
    return (
        edges.join(labels, edges.src == labels.node)
        .groupBy("dst")
        .agg(F.min("lbl").alias("lbl"))
        .select(F.col("dst").alias("node"), "lbl")
    )

def cc_round(labels, msgs):
    return labels.unionByName(msgs).groupBy("id").agg(F.min("label").alias("label"))

def er_closure(nm):
    a, b = nm.alias("a"), nm.alias("b")
    return a.join(
        b,
        (F.col("a.noun") == F.col("b.noun"))
        & (F.levenshtein(F.col("a.name"), F.col("b.name")) <= 4),
    ).select(F.col("a.name").alias("src"), F.col("b.name").alias("dst"))

def blocking_audit(a, b):
    allp = a.join(F.broadcast(b), F.col("a.name") < F.col("b.name")).select(
        F.when(F.levenshtein(F.col("a.name"), F.col("b.name")) <= 4, 1)
    )
    cand = a.join(F.broadcast(b), F.col("a.noun") == F.col("b.noun"))
    return allp, cand

def bfs_round(edges_w, dist):
    return (
        edges_w.join(dist, edges_w.src == dist.node)
        .groupBy(F.col("dst").alias("node"))
        .agg(F.min(F.col("d") + F.col("w")).alias("d"))
    )

def harmonic_round(edges, dist):
    return (
        dist.unionByName(
            edges.join(dist, edges.src == dist.node).select(
                "seed", F.col("dst").alias("node"), (F.col("d") + 1).alias("d")
            )
        )
        .groupBy("seed", "node")
        .agg(F.min("d").alias("d"))
    )
'''
    kinds = {(o, k) for _, o, k in _violations("x.py", ast.parse(removed))}
    assert kinds == {
        ("er_step", "min-label aggregate"),
        ("er_step", "relaxation step"),
        ("cc_round", "min-label aggregate"),
        ("er_closure", "noun-blocked levenshtein join"),
        ("bfs_round", "relaxation step"),
        ("harmonic_round", "union carry-over"),
    }


def test_one_closure_in_its_home():
    rel, owner = CLOSURE
    tree = ast.parse((PACKAGE / rel).read_text(encoding="utf-8"))
    fn = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == owner
    )
    joins = [
        c
        for c in _calls([fn])
        if _name(c) == "join" and _noun_equality(c.args[1:])
    ]
    assert len(joins) == 1


def _part_node_projections():
    """``select``s of ``F.col("l_partkey") * 2`` (the part node id),
    by (module, function). Aggregates keyed on it (``groupBy``) carry
    their own columns and are not projections of the edge list."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for top in ast.iter_child_nodes(tree):
            for c in _calls([top]):
                if _name(c) == "select" and any(
                    isinstance(n, ast.BinOp)
                    and isinstance(n.op, ast.Mult)
                    and isinstance(n.left, ast.Call)
                    and [getattr(a, "value", None) for a in n.left.args] == ["l_partkey"]
                    and getattr(n.right, "value", None) == 2
                    for a in c.args
                    for n in ast.walk(a)
                ):
                    found.append((rel, getattr(top, "name", None)))
    return found


def test_one_part_supplier_encoding():
    assert _part_node_projections() == [HALF]

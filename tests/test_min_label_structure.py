"""Structure guard for min-label propagation: every component and
label-propagation superstep in the package goes through
``operators/_graph.min_label_step``, and the part-name entity closure
(head-noun block + levenshtein ≤ 4 match) is built only by
``queries/relational14.part_entities``. Outside those there is no
``F.min("lbl")``/``F.min("label")`` aggregate and no noun-blocked
levenshtein join."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "kafkastreamer_spark"
KERNEL = "operators/_graph.py"
CLOSURE = ("queries/relational14.py", "part_entities")
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
'''
    kinds = {(o, k) for _, o, k in _violations("x.py", ast.parse(removed))}
    assert kinds == {
        ("er_step", "min-label aggregate"),
        ("cc_round", "min-label aggregate"),
        ("er_closure", "noun-blocked levenshtein join"),
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

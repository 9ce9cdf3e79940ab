"""Structure guard for nearest-centroid search: every assignment and
probe ranking in the package goes through ``operators/_embed.py``
(``nearest_centroids`` over ``coarse_centroids``). Outside that module
there is no centroid ``row_number`` argmin window, no centroid
``max(struct(...))``/``min(struct(...))`` aggregate and no copy of the
IVF centroid stride."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "kafkastreamer_spark"
KERNEL = "operators/_embed.py"

# Centroid id columns the removed forms ordered or packed on.
CENTROID_IDS = {"c", "c2", "code", "clabel", "cent_id", "cluster"}
ROW_KEYS = {"vec_id", "query_id"}
STRIDE = re.compile(r"cnt\s+div\s+greatest\(")


def _name(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _strings(nodes) -> set[str]:
    return {
        n.value
        for node in nodes
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }


def _last_key(args) -> str | None:
    """Column name of a window's last ordering key (its tie-break)."""
    if not args:
        return None
    names = _strings([args[-1]])
    return next(iter(names)) if len(names) == 1 else None


def _violations(rel: str, tree: ast.AST):
    for top in ast.iter_child_nodes(tree):
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if STRIDE.search(node.value):
                    yield rel, owner, "stride"
            if not isinstance(node, ast.Call):
                continue
            name = _name(node)
            # Window.partitionBy(<row key>...).orderBy(<score>, <centroid id>)
            if (
                name == "orderBy"
                and isinstance(node.func.value, ast.Call)
                and _name(node.func.value) == "partitionBy"
                and _strings(node.func.value.args) & ROW_KEYS
                and _last_key(node.args) in CENTROID_IDS
            ):
                yield rel, owner, "row_number argmin"
            # max/min(struct(score, [-]centroid id))
            if name in ("max", "min") and node.args and isinstance(node.args[0], ast.Call):
                inner = node.args[0]
                if _name(inner) == "struct" and (
                    any(isinstance(n, ast.UnaryOp) for n in ast.walk(inner))
                    or _strings(inner.args) & (CENTROID_IDS - {"c"})
                ):
                    yield rel, owner, "struct aggregate"


def test_centroid_search_only_in_kernel():
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == KERNEL:
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"))
        found |= set(_violations(rel, tree))
    assert not found, sorted(found)


def test_guard_catches_the_removed_forms():
    """The three removed forms, as they were written, are flagged."""
    removed = '''
def window_argmin(dists):
    w = Window.partitionBy("vec_id").orderBy("d4", "c")
    return dists.withColumn("rn", F.row_number().over(w))

def probe_ranking(q):
    w = Window.partitionBy("query_id").orderBy(F.desc("qc"), "cent_id")
    return q.withColumn("rn", F.row_number().over(w))

def struct_argmax(x):
    return x.groupBy("vec_id").agg(
        F.max(F.struct(F.col("cc"), (-F.col("cent_id")).alias("nc"))).alias("m")
    )

def stride(ep):
    return ep.select(F.expr(
        "greatest(CAST(1 AS BIGINT), cnt div greatest(CAST(1 AS BIGINT),"
        " CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT)))"
    ))
'''
    kinds = {(o, k) for _, o, k in _violations("x.py", ast.parse(removed))}
    assert kinds == {
        ("window_argmin", "row_number argmin"),
        ("probe_ranking", "row_number argmin"),
        ("struct_argmax", "struct aggregate"),
        ("stride", "stride"),
    }


def test_one_stride_in_kernel():
    src = (PACKAGE / KERNEL).read_text(encoding="utf-8")
    assert len(STRIDE.findall(src)) == 1

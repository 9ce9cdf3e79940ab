"""Structure guard for session confs and table loading: the package sets
a conf at runtime only in ``session.py`` (``ensure_engine_conf``), and
queries and operators call ``tables.load_table`` directly — no function
anywhere in the package only renames it."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "kafkastreamer_spark"
CONF_OWNER = "session.py"


def _is_call(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None)) == name
    )


def _loader_alias(fn: ast.FunctionDef) -> bool:
    """A body that is only ``return load_table(...)`` or
    ``return widen(load_table(...))``, after an optional docstring."""
    body = fn.body
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]
    if len(body) != 1 or not isinstance(body[0], ast.Return):
        return False
    value = body[0].value
    if _is_call(value, "widen") and len(value.args) == 1 and not value.keywords:
        value = value.args[0]
    return _is_call(value, "load_table")


def _violations(rel: str, tree: ast.AST):
    for node in ast.walk(tree):
        if (
            rel != CONF_OWNER
            and isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "set"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            yield rel, node.lineno, "runtime conf write"
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and _loader_alias(
            node
        ):
            yield rel, node.name, "load_table alias"


def test_confs_set_only_in_session_and_no_loader_aliases():
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        found |= set(_violations(rel, ast.parse(path.read_text(encoding="utf-8"))))
    assert not found, sorted(found)


def test_guard_catches_the_removed_forms():
    """The removed forms, as they were written, are flagged."""
    removed = '''
def load_table(spark, sf_dir, name):
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    return _TABLE_MEMO[spark][(sf_dir, name)]

def _load_events(spark, path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return widen(load_table(spark, sf_dir, "documents"))

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")

def _vecs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("doc_id", "vec")
'''
    got = sorted(
        (str(where), kind) for _, where, kind in _violations("x.py", ast.parse(removed))
    )
    assert got == [
        ("3", "runtime conf write"),
        ("9", "runtime conf write"),
        ("_docs", "load_table alias"),
        ("_events", "load_table alias"),
        ("_t", "load_table alias"),
    ]
    # the conf owner may write confs
    assert not list(_violations(CONF_OWNER, ast.parse("spark.conf.set('k', 'v')")))

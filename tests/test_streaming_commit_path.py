"""Structure guard for the streaming commit path: every micro-batch
sink in the package starts through ``statedir.run_batches`` and every
state sink publishes through ``statedir.fold_sink``."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "kafkastreamer_spark"


def _calls(tree: ast.AST):
    """(enclosing top-level function or None, called name) for every
    call in a module."""
    for top in ast.iter_child_nodes(tree):
        owner = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                yield owner, name


def test_one_foreach_batch_and_one_publish_site():
    foreach_batch = set()
    state_calls = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for owner, name in _calls(ast.parse(path.read_text(encoding="utf-8"))):
            if name == "foreachBatch":
                foreach_batch.add((rel, owner))
            if name in ("publish_state", "applied_batch") and rel != "streaming/statedir.py":
                state_calls.add((rel, owner, name))
    assert foreach_batch == {("streaming/statedir.py", "run_batches")}
    assert state_calls == set()

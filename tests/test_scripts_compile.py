"""bench.py and every script under scripts/ byte-compile, every name
they import from this repository's own modules exists, and no script
shadows a standard-library module, so a broken script fails the tests
instead of its next run."""

from __future__ import annotations

import ast
import glob
import importlib
import os
import py_compile
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [os.path.join(ROOT, "bench.py"), *sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))]


def _ids(path: str) -> str:
    return os.path.relpath(path, ROOT)


def _is_local(module: str, here: str) -> bool:
    top = module.split(".")[0]
    return any(
        os.path.isdir(os.path.join(d, top)) or os.path.isfile(os.path.join(d, top + ".py"))
        for d in (ROOT, here)
    )


@pytest.mark.parametrize("path", SCRIPTS, ids=_ids)
def test_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "script.pyc"), doraise=True)


@pytest.mark.parametrize("path", SCRIPTS, ids=_ids)
def test_local_imports_resolve(path, monkeypatch):
    # as when the script runs: its own directory heads sys.path
    here = os.path.dirname(path)
    monkeypatch.syspath_prepend(here)
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imports = [(a.name, []) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            imports = [(node.module, [a.name for a in node.names])]
        else:
            continue
        for name, attrs in imports:
            if _is_local(name, here):
                module = importlib.import_module(name)
                missing = [a for a in attrs if not hasattr(module, a)]
                assert not missing, f"{name} has no {missing}"


def test_no_script_shadows_the_standard_library():
    # A script's directory heads sys.path when it runs, so a
    # scripts/profile.py would be imported as the standard library's
    # `profile` (pyspark imports it through cProfile) by every script.
    names = {os.path.basename(p)[: -len(".py")] for p in SCRIPTS}
    assert not names & sys.stdlib_module_names

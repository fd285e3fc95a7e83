"""Every ``from openie_spark... import name`` in the program resolves.

Query bodies and helpers import lazily (inside the function), so a
deletion that leaves such an import dangling fails only when that code
path runs. This walks the source instead: every import statement,
module level or nested in a function body, is resolved without a
Spark session."""

from __future__ import annotations

import ast
import importlib
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources() -> list[str]:
    paths = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    for top in ("openie_spark", "tools"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            paths += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    return paths


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:                                    # a submodule not yet imported
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_every_openie_spark_import_resolves():
    dangling, n = [], 0
    for path in _sources():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if not (isinstance(node, ast.ImportFrom) and node.level == 0
                    and (node.module or "").split(".")[0] == "openie_spark"):
                continue
            for alias in node.names:
                n += 1
                try:
                    ok = _resolves(node.module, alias.name)
                except ModuleNotFoundError:
                    ok = False
                if not ok:
                    where = f"{os.path.relpath(path, REPO)}:{node.lineno}"
                    dangling.append(f"{where}: from {node.module} import {alias.name}")
    assert n > 100
    assert not dangling, "\n".join(dangling)

"""Every package import in the entry points and scripts resolves.

The driver entry, the benchmarks and the scripts import most of the
package inside functions, so a renamed or moved name only fails when that
code path runs.  This parses each file and resolves every
``from hidden_characters_detector_spark... import name`` (and every
attribute read off a package module bound that way) without running it.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "hidden_characters_detector_spark"
FILES = sorted(
    os.path.relpath(p, REPO_ROOT) for pattern in (
        "bench.py", "bench_extra.py", "__spark_entry__.py", "scripts/*.py",
        "perfbench/*.py")
    for p in glob.glob(os.path.join(REPO_ROOT, pattern)))


def _package_imports(tree: ast.AST):
    """(line, module, name) for each imported package name, and
    (line, module, attribute) for attributes read off package modules."""
    modules: dict[str, str] = {}  # local name -> package module path
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and node.module and node.module.split(".")[0] == PACKAGE:
            for alias in node.names:
                yield node.lineno, node.module, alias.name
                sub = f"{node.module}.{alias.name}"
                if _is_module(sub):
                    modules[alias.asname or alias.name] = sub
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield node.lineno, alias.name, None
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and \
                isinstance(node.value, ast.Name) and \
                node.value.id in modules:
            yield node.lineno, modules[node.value.id], node.attr


def _is_module(path: str) -> bool:
    try:
        return importlib.util.find_spec(path) is not None
    except ModuleNotFoundError:
        return False


def test_entry_points_found():
    assert {"bench.py", "bench_extra.py", "__spark_entry__.py"} <= set(FILES)
    assert any(f.startswith("scripts/") for f in FILES)
    assert any(f.startswith("perfbench/") for f in FILES)


@pytest.mark.parametrize("path", FILES)
def test_package_imports_resolve(path):
    with open(os.path.join(REPO_ROOT, path), encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    missing = []
    for line, module, name in _package_imports(tree):
        mod = importlib.import_module(module)
        if name is not None and not hasattr(mod, name) \
                and not _is_module(f"{module}.{name}"):
            missing.append(f"{path}:{line}: {module}.{name}")
    assert not missing, missing

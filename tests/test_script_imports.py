"""Scripts and the benchmark still import what they name from the library.

The tools outside ``tests/`` (``scripts/``, ``perfbench/``, ``bench.py``,
``__spark_entry__.py``) are not imported by the suite, so a library
deletion can break them silently. Each file is parsed, not run: every
``from labelmain_spark.… import name`` must resolve, and so must every
``alias.attr`` where ``alias`` is bound to a ``labelmain_spark`` module.
"""

from __future__ import annotations

import ast
import importlib
import types
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
FILES = sorted(
    [*ROOT.glob("scripts/*.py"), *ROOT.glob("perfbench/*.py")]
    + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
)
PKG = "labelmain_spark"


def _resolve(module: str, name: str):
    """``from module import name``: an attribute, or a submodule."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _broken_refs(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), str(path))
    broken: list[str] = []
    modules: dict[str, types.ModuleType] = {}  # local name -> library module
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PKG:
                    continue
                try:
                    mod = importlib.import_module(a.name)
                except ImportError:
                    broken.append(f"{node.lineno}: import {a.name}")
                    continue
                if a.asname:
                    modules[a.asname] = mod
                else:
                    modules[PKG] = importlib.import_module(PKG)
        elif isinstance(node, ast.ImportFrom):
            if node.level or (node.module or "").split(".")[0] != PKG:
                continue
            for a in node.names:
                try:
                    obj = _resolve(node.module, a.name)
                except ImportError:
                    broken.append(f"{node.lineno}: from {node.module} import {a.name}")
                    continue
                if isinstance(obj, types.ModuleType):
                    modules[a.asname or a.name] = obj
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute):
            continue
        chain: list[str] = []
        base: ast.expr = node
        while isinstance(base, ast.Attribute):
            chain.insert(0, base.attr)
            base = base.value
        if not (isinstance(base, ast.Name) and base.id in modules):
            continue
        obj: object = modules[base.id]
        for i, attr in enumerate(chain):
            if not isinstance(obj, types.ModuleType):
                break
            try:
                obj = _resolve(obj.__name__, attr)
            except ImportError:
                broken.append(f"{node.lineno}: {'.'.join([base.id, *chain[: i + 1]])}")
                break
    return sorted(set(broken))


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_library_names_resolve(path):
    assert _broken_refs(path) == []

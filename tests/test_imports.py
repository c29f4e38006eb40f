"""Every absolute ``from kglinker.… import name`` in the repo resolves —
module-level and function-local imports alike, so deleting a helper
cannot leave a lazy import that fails only when its branch first runs."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources() -> list[str]:
    files = [os.path.join(_REPO, f) for f in os.listdir(_REPO)
             if f.endswith(".py")]
    for top in ("kglinker", "tests", "perfbench"):
        for d, _, names in os.walk(os.path.join(_REPO, top)):
            files += [os.path.join(d, f) for f in names if f.endswith(".py")]
    return sorted(files)


def _kglinker_imports(path: str):
    """(line, module, name) per imported kglinker name; name is None for
    a plain ``import kglinker.x``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and not node.level and (
                node.module == "kglinker"
                or node.module.startswith("kglinker.")):
            for alias in node.names:
                yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "kglinker":
                    yield node.lineno, alias.name, None


def _is_module(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:     # a parent package is missing
        return False


def _resolves(module: str, name: str | None) -> bool:
    if not _is_module(module):
        return False
    if name is None or name == "*":
        return True
    return (hasattr(importlib.import_module(module), name)
            or _is_module(f"{module}.{name}"))


def test_every_kglinker_import_resolves():
    files = _sources()
    checked, broken = 0, []
    for path in files:
        for line, module, name in _kglinker_imports(path):
            checked += 1
            if not _resolves(module, name):
                rel = os.path.relpath(path, _REPO)
                broken.append(f"{rel}:{line}: {module} {name or ''}")
    assert len(files) > 100 and checked > 400, (len(files), checked)
    assert not broken, broken

"""Every name in a ``kglinker`` module's ``__all__`` has a caller outside
``tests/`` or is documented: it is referenced by a ``Name``,
``Attribute`` or import node in ``kglinker/``, ``perfbench/``,
``bench.py`` or ``__spark_entry__.py`` (its own ``def``/``class``/
assignment and its ``__all__`` string do not count), or COVERAGE.md
names it in backticks in the row or paragraph that also names its
module. A public function that only tests call fails here, so it is
either wired in, mapped to the capability it covers, or deleted.
AST only, no Spark."""

from __future__ import annotations

import ast
import os
import re

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _program_files() -> list[str]:
    files = [os.path.join(_REPO, f) for f in ("bench.py", "__spark_entry__.py")]
    for top in ("kglinker", "perfbench"):
        for d, _, names in os.walk(os.path.join(_REPO, top)):
            files += [os.path.join(d, f) for f in names if f.endswith(".py")]
    return sorted(files)


def _references(tree: ast.AST) -> set[str]:
    refs: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            refs.add(node.attr)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            refs.update(a.name.rsplit(".", 1)[-1] for a in node.names)
    return refs


def _exports(tree: ast.Module) -> list[str]:
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__"
                for t in node.targets):
            return [e.value for e in node.value.elts]
    return []


def _coverage_blocks() -> list[str]:
    """COVERAGE.md split into table rows and prose paragraphs."""
    with open(os.path.join(_REPO, "COVERAGE.md"), encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    blocks, para = [], []
    for line in lines + [""]:
        if line.startswith("|") or not line.strip():
            if para:
                blocks.append(" ".join(para))
                para = []
            if line.startswith("|"):
                blocks.append(line)
        else:
            para.append(line)
    return blocks


def _documented(name: str, module: str, blocks: list[str]) -> bool:
    ticked = re.compile(r"`[^`]*\b" + re.escape(name) + r"\b[^`]*`")
    return any(module in b and ticked.search(b) for b in blocks)


def test_every_public_name_has_a_caller_or_coverage_row():
    refs: set[str] = set()
    exports = []
    for path in _program_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        refs |= _references(tree)
        rel = os.path.relpath(path, os.path.join(_REPO, "kglinker"))
        if not rel.startswith(".."):
            exports += [(rel, name) for name in _exports(tree)]
    blocks = _coverage_blocks()
    uncalled = [f"kglinker/{m}::{n}" for m, n in exports
                if n not in refs and not _documented(n, m, blocks)]
    assert len(exports) > 100, len(exports)
    assert not uncalled, "uncalled, undocumented: " + ", ".join(uncalled)

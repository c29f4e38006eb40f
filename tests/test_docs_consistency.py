"""Docs-vs-code drift guards: every gate named in COVERAGE.md exists in
the registry, every registry query is documented somewhere, and every
module path README.md and COVERAGE.md name exists."""

from __future__ import annotations

import os
import re

from kglinker.queries import QUERIES

_REPO = os.path.join(os.path.dirname(__file__), "..")


def test_coverage_gate_names_exist():
    text = open(os.path.join(_REPO, "COVERAGE.md"), encoding="utf-8").read()
    named = set(re.findall(r"⊕ (\w+)", text)) | set(re.findall(r"○ (\w+)", text))
    unknown = named - set(QUERIES)
    assert not unknown, f"COVERAGE.md names unregistered gates: {unknown}"


def test_every_query_documented():
    docs = ""
    for f in ("COVERAGE.md", "BENCH/BASELINE.md"):
        docs += open(os.path.join(_REPO, f), encoding="utf-8").read()
    missing = [n for n in QUERIES if n not in docs]
    assert not missing, f"registry queries undocumented: {missing}"


def test_readme_registry_count_matches():
    """The README's 'registry: N operators' claim tracks the code (a
    stale count was an r5 self-review finding — this pins it)."""
    text = open(os.path.join(_REPO, "README.md"), encoding="utf-8").read()
    m = re.search(r"registry: (\d+) operators", text)
    assert m, "README no longer states the registry count"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} operators, registry has {len(QUERIES)}")


def test_registry_capped_at_50_flagship_first():
    """r6: the driver emits correctness rows for AT MOST the first 50
    registry entries in insertion order (r5 evidence: 54 registered →
    exactly the first 50 in the driver file). Growing past 50 silently
    un-verifies the tail — merge variants into discriminator-column
    gates instead — and the flagship pipeline + multimodal gates must
    stay in the guaranteed prefix."""
    names = list(QUERIES)
    assert len(names) <= 50, (
        f"registry has {len(names)} entries; the driver caps at 50 — "
        "merge variant gates (see __spark_entry__.py size contract)")
    assert names[:4] == ["kg_pipeline_mentions", "kg_pipeline_triples",
                         "multimodal_metadata", "multimodal_decode"]
    # every entry must still carry an exact oracle
    assert all(q.sql is not None for q in QUERIES.values())


def _backticked_paths(text: str) -> list[str]:
    """``x/y.py`` paths at the start of backticked spans (a ``::name``
    suffix is dropped; bare reference-file names have no slash)."""
    return [m for span in re.findall(r"`([^`\n]+)`", text)
            for m in re.findall(r"^(\w+(?:/\w+)*/\w+\.py)\b", span)]


def _readme_tree_paths(text: str) -> list[str]:
    """Module paths of README's repo-layout tree: a line at indent 0 or 2
    opens its directory (``kglinker/`` and its two-space-indented
    children) or names a file of the enclosing one; deeper lines continue
    the last directory."""
    block = text.split("## Repo layout", 1)[1].split("```", 2)[1]
    paths, cur = [], ""
    for line in block.splitlines():
        words = line.split()
        indent = len(line) - len(line.lstrip())
        if words and indent <= 2:
            base = "kglinker/" if indent == 2 else ""
            cur = base + words[0] if words[0].endswith("/") else base
        paths += [cur + f for f in re.findall(r"\b\w+\.py\b", line)]
    return paths


def test_documented_module_paths_exist():
    """A module deleted or moved must not leave README.md or COVERAGE.md
    pointing at it. Backticked paths are relative to the repo root or
    to ``kglinker/``."""
    readme = open(os.path.join(_REPO, "README.md"), encoding="utf-8").read()
    coverage = open(os.path.join(_REPO, "COVERAGE.md"), encoding="utf-8").read()
    tree = _readme_tree_paths(readme)
    assert "kglinker/streaming/graph.py" in tree and "bench.py" in tree
    missing = [p for p in tree if not os.path.isfile(os.path.join(_REPO, p))]
    named = _backticked_paths(readme) + _backticked_paths(coverage)
    missing += [p for p in named
                if not any(os.path.isfile(os.path.join(_REPO, d, p))
                           for d in ("", "kglinker"))]
    assert not missing, f"docs name module paths that do not exist: {missing}"

"""Single-process oracle (SURVEY §5 "pipeline-parity tests").

Recomputes the whole pipeline output — mentions → canonicalization →
triples — in plain Python/pandas with no Spark, for P/R scoring of the
distributed engine (BASELINE.md: triple P/R ≥ 0.95). Every stage is an
*independent* second implementation: the mention stage comes from
:mod:`kglinker.oracle_matcher` (its own matching/scoring/disambiguation
code — since r2; the r1 version re-called the engine core, making the
extraction P/R circular), canonicalization and triple assembly
reimplement the relational logic of :mod:`kglinker.graph`.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd

from kglinker.data.kb_fixture import kb_rows_as_dicts
from kglinker.oracle_kb import k1_surfaces
from kglinker.oracle_matcher import OracleLinker

__all__ = ["oracle_canonical_map", "oracle_mentions", "oracle_triples",
           "precision_recall"]

_MENTION_COLS = ["conv_id", "turn_idx", "start", "end", "mention_type",
                 "surface", "kb_id", "resolved"]


def oracle_mentions(transcripts: pd.DataFrame,
                    linker: OracleLinker) -> pd.DataFrame:
    """Expected mentions frame via the independent linker (one call per
    conversation under stable (conv_id, turn_idx) ordering)."""
    pdf = transcripts.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    rows: list[tuple] = []
    for conv, grp in pdf.groupby("conv_id", sort=True):
        turns = [(int(r.turn_idx), r.text) for r in grp.itertuples()]
        rows.extend(linker.annotate(str(conv), turns))
    return pd.DataFrame(rows, columns=_MENTION_COLS)


def oracle_canonical_map(kb_rows: list[dict] | None = None,
                         threshold: int = 2) -> dict[int, int]:
    """K2/K3 edges + union-find CC; kb_id → canonical (min) id."""
    kb_rows = kb_rows if kb_rows is not None else kb_rows_as_dicts()
    edges: list[tuple[int, int]] = []
    for i, x in enumerate(kb_rows):
        for y in kb_rows[i + 1:]:
            a, b = int(x["kb_id"]), int(y["kb_id"])
            ux, uy = x.get("wiki_url") or "", y.get("wiki_url") or ""
            if ux and ux == uy:
                edges.append((a, b))
                continue
            if k1_surfaces(x) & k1_surfaces(y):
                score = 2 if (ux and ux == uy) else 0
                if ux and uy and ux != uy:
                    score -= 1000
                for f in ("type", "country", "location", "date_of_birth", "founded"):
                    vx, vy = x.get(f) or "", y.get(f) or ""
                    if vx and vx == vy:
                        score += 1
                if score >= threshold:
                    edges.append((a, b))
    parent: dict[int, int] = {}

    def find(v: int) -> int:
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def oracle_triples(transcripts: pd.DataFrame, linker: OracleLinker,
                   kb_rows: list[dict] | None = None) -> set[tuple]:
    """Expected triple set {(subj, pred, obj, conv_id)}; conv_id None for
    dim triples (entity_type / kb_uri). ``linker`` is the independent
    mention-stage oracle."""
    kb_rows = kb_rows if kb_rows is not None else kb_rows_as_dicts()
    canon = oracle_canonical_map(kb_rows)
    mentions = oracle_mentions(transcripts, linker)

    triples: set[tuple] = set()
    for r in kb_rows:
        eid = canon.get(int(r["kb_id"]), int(r["kb_id"]))
        triples.add((str(eid), "entity_type", r["type"], None))
        if r.get("wiki_url"):
            triples.add((str(eid), "kb_uri", r["wiki_url"], None))

    per_conv: dict[str, set[int]] = defaultdict(set)
    linked = mentions[mentions["mention_type"].isin(["kb", "coref"])
                      & mentions["kb_id"].notna()]
    for m in linked.itertuples():
        kb_id = int(m.kb_id)
        per_conv[m.conv_id].add(canon.get(kb_id, kb_id))
    for conv, ents in per_conv.items():
        es = sorted(ents)
        for i, a in enumerate(es):
            for b in es[i + 1:]:
                triples.add((str(a), "co_occurs_in_conv", str(b), conv))
    return triples


def precision_recall(got: set[tuple], want: set[tuple]) -> tuple[float, float]:
    if not got or not want:
        return (0.0, 0.0)
    tp = len(got & want)
    return tp / len(got), tp / len(want)

"""KB-side build oracles: plain-python reimplementations of the Spark
orchestration in :mod:`kglinker.kb.names` (namelist build) and
:mod:`kglinker.graph.canonicalize` (alias matching), used to generate the
expected parquet behind the engine-backed driver gates
(``kb_namelist_engine`` / ``kb_alias_edges_engine`` / ``kb_canonical_engine``).

What is independent vs shared:
- the relational orchestration (explode/union/filter/group/ordering,
  candidate argmax, CC) is reimplemented here with dicts and loops — this
  is what the Spark gates certify;
- the irregular string kernels (:mod:`kglinker.kb.expand`:
  person_variants/subnames/...) are shared by design — one implementation
  of the tricky string logic, unit-tested directly against the
  reference's examples (SURVEY §5);
- static confidence comes from :func:`kglinker.oracle_matcher.
  oracle_confidence` (independent scoring reimplementation).
"""

from __future__ import annotations

from kglinker.data.wordlists import (ALLOWLIST, NATIONALITIES, PRONOUNS,
                                     STOPLIST)
from kglinker.kb import expand as X
from kglinker.oracle_matcher import oracle_confidence

__all__ = ["oracle_namelist", "oracle_subnames", "k1_surfaces",
           "oracle_alias_edges", "oracle_merged_entities"]

_MULTI = ("aliases", "redirects", "jobs", "nationality")


def oracle_merged_entities(kb_rows: list[dict],
                           canon: dict[int, int]) -> list[dict]:
    """K4 per-field attribute merge — mirrors merged_entity_table."""
    groups: dict[int, list[dict]] = {}
    for r in kb_rows:
        eid = canon.get(int(r["kb_id"]), int(r["kb_id"]))
        groups.setdefault(eid, []).append(r)
    cols = [c for c in kb_rows[0] if c != "kb_id"]
    out = []
    for eid in sorted(groups):
        members = sorted(groups[eid], key=lambda r: int(r["kb_id"]))
        row: dict = {"entity_id": eid}
        for c in cols:
            if c in _MULTI:
                vals: list[str] = []
                for m in members:
                    for v in str(m.get(c) or "").split("|"):
                        if v and v not in vals:
                            vals.append(v)
                row[c] = "|".join(vals)
            elif isinstance(members[0].get(c), str) or members[0].get(c) is None:
                row[c] = next((m[c] for m in members
                               if m.get(c) not in (None, "")),
                              members[0].get(c))
            else:
                row[c] = next((m[c] for m in members if m.get(c) is not None),
                              members[0].get(c))
        row["n_members"] = len(members)
        out.append(row)
    return out


def _stop_variants() -> set[str]:
    out = set()
    for s in STOPLIST:
        out.update({s, s.lower(), s.upper(), s[:1].upper() + s[1:].lower()})
    return out


def _base_surfaces(r: dict) -> list[str]:
    raw = [r["name"]]
    for col in ("aliases", "redirects"):
        raw += [x for x in (r.get(col) or "").split("|")]
    out = []
    for s in raw:
        s = X.strip_name_tags(s)
        if s and s not in out:
            out.append(s)
    return out


def oracle_namelist(kb_rows: list[dict]) -> list[dict]:
    """(surface, kb_ids conf-desc, is_fragment) — mirrors build_namelist."""
    conf = oracle_confidence(kb_rows)
    allow = frozenset(ALLOWLIST)
    rows: list[tuple[str, int | None, bool]] = []

    for r in kb_rows:
        kb_id, t = int(r["kb_id"]), r["type"]
        base = t.split(":")[0]
        surfaces = list(_base_surfaces(r))
        name = X.normalize_ws(r["name"])
        if base == "person":
            surfaces += X.person_variants(name)
            # G8 over every base surface (name/aliases/redirects), like
            # the reference's czechnames pass over all key_inflections
            for s0 in _base_surfaces(r):
                for f in X.czech_inflections(s0, r.get("gender") or ""):
                    surfaces += [f] + X.person_variants(f)
        elif base in ("organisation", "event"):
            surfaces += X.org_event_variants(name, base)
        elif base == "settlement":
            surfaces += X.settlement_variants(name, r.get("country") or "",
                                              r.get("description") or "")
        elif base == "watercourse":
            surfaces += X.settlement_variants(name, r.get("source_loc") or "",
                                              r.get("description") or "")
        if base in ("settlement", "country", "watercourse", "geo"):
            # G8 location declension over every base surface
            from kglinker.kb.czech_morph import czech_location_inflections
            for s0 in _base_surfaces(r):
                surfaces += czech_location_inflections(s0)
        for s in surfaces:
            if not X.is_unsuitable(s, t, allow):
                rows.append((s, kb_id, False))
        if base == "person":
            # G9 subnames → senseless fragment rows
            for s in X.subnames(name):
                rows.append((s, None, True))
            # G10 bare-surname direct entry
            words = name.split(" ")
            surname = words[-1] if words else ""
            thresh = 15.0 if t == "person:fictional" else 20.0
            if (len(surname) >= 2 and surname[:1] == surname[:1].upper()
                    and conf[kb_id] >= thresh):
                rows.append((surname, kb_id, False))

    # G11 pronouns + P7 nationality forms
    pron = sorted({w for p in PRONOUNS for w in (p, p[:1].upper() + p[1:])})
    nats = sorted({v for n in NATIONALITIES
                   for v in X.nationality_variants(n)} | set(NATIONALITIES))
    rows += [(p, None, True) for p in pron]
    rows += [(n, None, True) for n in nats]

    # P6 stoplist demotion
    stop = _stop_variants()
    rows = [(s, None if s in stop else kid, True if s in stop else frag)
            for s, kid, frag in rows]

    # A1 group-merge + A2 confidence-desc ordering (ties by kb_id asc)
    grouped: dict[str, dict] = {}
    for s, kid, frag in rows:
        g = grouped.setdefault(s, {"ids": [], "frag": False})
        if kid is not None and kid not in [i for _, i in g["ids"]]:
            g["ids"].append((-conf[kid], kid))
        g["frag"] = g["frag"] or frag
    out = []
    for s in grouped:
        ids = [i for _, i in sorted(set(grouped[s]["ids"]))]
        out.append({"surface": s, "kb_ids": ids,
                    "is_fragment": grouped[s]["frag"]})
    return sorted(out, key=lambda d: d["surface"])


def oracle_subnames(kb_rows: list[dict]) -> list[dict]:
    """subname → conf-desc person kb_ids — mirrors build_subname_map."""
    conf = oracle_confidence(kb_rows)
    grouped: dict[str, set] = {}
    for r in kb_rows:
        if not r["type"].startswith("person"):
            continue
        for s in X.subnames(X.normalize_ws(r["name"])):
            grouped.setdefault(s, set()).add((-conf[int(r["kb_id"])],
                                              int(r["kb_id"])))
    return sorted(({"subname": s, "kb_ids": [i for _, i in sorted(v)]}
                   for s, v in grouped.items()),
                  key=lambda d: d["subname"])


def k1_surfaces(r: dict) -> set[str]:
    """K1 match keys: the P1/P4 base surfaces (``strip_name_tags``) of the
    name and every alias (SURVEY §2.7; ``kb_compare.py:183-212``)."""
    return {X.strip_name_tags(s) for s in
            [r["name"], *(r.get("aliases") or "").split("|")]} - {""}


def oracle_alias_edges(kb_rows: list[dict], threshold: int = 2) -> list[dict]:
    """K3 edges with the engine's per-left argmax (desc score, asc dst) —
    mirrors alias_match_edges."""
    best: dict[int, tuple[int, int]] = {}   # src → (-score, dst)
    for i, x in enumerate(kb_rows):
        for y in kb_rows[i + 1:]:
            a, b = int(x["kb_id"]), int(y["kb_id"])
            src, dst = min(a, b), max(a, b)
            xs, ys = (x, y) if a < b else (y, x)
            if not (k1_surfaces(xs) & k1_surfaces(ys)):
                continue
            ux, uy = xs.get("wiki_url") or "", ys.get("wiki_url") or ""
            score = 0
            if ux and uy:
                score += 2 if ux == uy else -1000
            for f in ("type", "country", "location", "date_of_birth",
                      "founded"):
                vx, vy = xs.get(f) or "", ys.get(f) or ""
                if vx and vx == vy:
                    score += 1
            if score < threshold:
                continue
            cand = (-score, dst)
            if src not in best or cand < best[src]:
                best[src] = cand
    return [{"src": s, "dst": d, "match_score": -ns}
            for s, (ns, d) in sorted(best.items())]

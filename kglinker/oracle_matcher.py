"""Independent mention-stage oracle (SURVEY §5): a from-scratch second
implementation of the extraction semantics that shares NO code with the
engine's hot path.

Reimplemented here with different algorithms/data structures than
:mod:`kglinker.extract.matcher` / :mod:`kglinker.automaton.build` /
:mod:`kglinker.kb.scoring`:

- A3/A4 static scoring: plain-python per-type maxima + weighted means
  (vs the engine's Window expressions);
- M1/M2/M7 matching: first-token surface index + ``str.startswith`` probes
  (vs the engine's first-token length index + surface-dict lookups);
- D2–D9 disambiguation/coreference: an independent rewrite of the
  reference semantics (ner_cz.py) as one flat function.

Shared as *data* (not code): the namelist / subname rows (KB-side build
artifacts, themselves driver-gated), the wordlists, and
:func:`kglinker.extract.dates.find_dates` (a pure function golden-tested
directly against the reference's inline examples — treating it as trusted
input keeps this oracle focused on the stages with distribution risk).
"""

from __future__ import annotations

import re
import unicodedata
from decimal import ROUND_HALF_UP, Decimal

from kglinker.data.wordlists import (NATIONALITIES, PRONOUNS_FEMALE,
                                     PRONOUNS_MALE)
from kglinker.extract.dates import find_dates

__all__ = ["oracle_confidence", "OracleLinker"]


# --------------------------------------------------------------------------
# A3/A4 static scoring, reimplemented (reference metrics_knowledge_base.py)
# --------------------------------------------------------------------------

_WIKI = ("wiki_backlinks", "wiki_hits", "wiki_ps")
_EXCLUDED_COLS = set(_WIKI) | {"kb_id", "score_wiki", "score_metrics",
                               "confidence"}


def _r2(x: float) -> float:
    """HALF_UP 2-decimal rounding (Spark F.round semantics)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


def oracle_confidence(kb_rows: list[dict]) -> dict[int, float]:
    """kb_id → confidence, the reference scoring formulas in plain python."""
    by_type: dict[str, list[dict]] = {}
    for r in kb_rows:
        by_type.setdefault(r["type"], []).append(r)

    out: dict[int, float] = {}
    for rows in by_type.values():
        def mx(vals):
            vals = [v for v in vals if v is not None]
            return max(vals) if vals else 0

        max_b = mx([r.get("wiki_backlinks") for r in rows]) * 0.25
        max_h = mx([r.get("wiki_hits") for r in rows]) * 0.25
        max_p = mx([r.get("wiki_ps") for r in rows]) * 1.0
        dlens = [len(r.get("description") or "") for r in rows]
        max_d = mx(dlens)
        ncols = []
        for r in rows:
            n = 0
            for k, v in r.items():
                if k in _EXCLUDED_COLS:
                    continue
                if v is not None and str(v) != "":
                    n += 1
            ncols.append(n)
        max_c = mx(ncols)

        def norm(v, m):
            if v is None or m <= 0:
                return 0.0
            return min(v / m, 1.0)

        for r, dl, nc in zip(rows, dlens, ncols):
            if r.get("wiki_backlinks") is None:
                sw = 0.0
            else:
                sw = 100.0 * (5 * norm(r.get("wiki_backlinks"), max_b)
                              + 5 * norm(r.get("wiki_hits"), max_h)
                              + 1 * norm(r.get("wiki_ps"), max_p)) / 11.0
            sm = 100.0 * (norm(dl, max_d) + norm(nc, max_c)) / 2.0
            out[int(r["kb_id"])] = _r2((sw * 5.0 + sm) / 6.0)
    return out


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

_TOKEN = re.compile(r"[^\W_]+", re.UNICODE)
_CTRL = re.compile(r"[;\x00-\x1f]")
_COPULA = re.compile(r"\b(?:byl|byla|je|was|is|were)\b")
_NAT_CANON = {form: n for n in NATIONALITIES
              for form in (n, n.lower(), n + "ý", n.lower() + "ý")}
_PRON_M = {p for b in PRONOUNS_MALE for p in (b, b[:1].upper() + b[1:])}
_PRON_F = {p for b in PRONOUNS_FEMALE for p in (b, b[:1].upper() + b[1:])}


def _wz(d: str | None) -> str:
    parts = (d or "").split("-")
    while parts and parts[-1] == "00":
        parts.pop()
    return "-".join(parts)


def _date_forms(resolved: str, kind: str) -> list[str]:
    return [_wz(p) for p in
            (resolved.split("--") if kind == "interval" else [resolved])]


# --------------------------------------------------------------------------
# the oracle linker
# --------------------------------------------------------------------------

class OracleLinker:
    """Builds its own surface index + KB projections from raw rows and
    annotates conversations. Output tuples match the engine row schema
    (conv_id, turn_idx, start, end, mention_type, surface, kb_id, resolved).
    """

    def __init__(self, kb_rows: list[dict], namelist_rows: list[dict],
                 subname_rows: list[dict]):
        conf = oracle_confidence(kb_rows)
        self.kb: dict[int, dict] = {}
        for r in kb_rows:
            t = r["type"]
            org_keys = (("start", "end") if t.startswith("event")
                        else ("founded", "cancelled"))
            self.kb[int(r["kb_id"])] = dict(
                type=t, name=r["name"], gender=r.get("gender") or "",
                confidence=conf[int(r["kb_id"])],
                nationality=tuple(x for x in (r.get("nationality") or "").split("|") if x),
                jobs=tuple(x for x in (r.get("jobs") or "").split("|") if x),
                person_dates=tuple(_wz(r.get(k)) for k in
                                   ("date_of_birth", "date_of_death") if r.get(k)),
                org_dates=tuple(_wz(r.get(k)) for k in org_keys if r.get(k)),
                country=r.get("country") or "",
                location=r.get("location") or "",
                source_loc=r.get("source_loc") or "")

        # first-token surface index, longest-first probe lists
        self.surfaces: dict[str, tuple[tuple[int, ...], bool]] = {
            r["surface"]: (tuple(int(i) for i in (r["kb_ids"] or [])),
                           bool(r["is_fragment"]))
            for r in namelist_rows}
        self.by_first: dict[str, list[str]] = {}
        for s in self.surfaces:
            m = _TOKEN.match(s)
            self.by_first.setdefault(m.group(0) if m else s, []).append(s)
        for lst in self.by_first.values():
            lst.sort(key=len, reverse=True)
        self.subnames = {r["subname"]: tuple(int(i) for i in r["kb_ids"])
                         for r in subname_rows}

    # -- matching ------------------------------------------------------------
    def _scan(self, text: str) -> list[tuple[int, int, str, tuple, bool]]:
        """Leftmost-longest non-overlapping surface matches anchored at
        token starts, ends on non-alnum boundaries."""
        out = []
        n = len(text)
        pos = 0
        for tok in _TOKEN.finditer(text):
            s = tok.start()
            if s < pos:
                continue
            for surf in self.by_first.get(tok.group(0), ()):
                e = s + len(surf)
                if e <= n and text.startswith(surf, s) \
                        and (e == n or not text[e].isalnum()):
                    ids, frag = self.surfaces[surf]
                    out.append((s, e, surf, ids, frag))
                    pos = e
                    break
        return out

    # -- context scoring -----------------------------------------------------
    def _share(self, mentions: dict, names, bucket: str) -> int:
        b = mentions.get(bucket)
        if not b:
            return 0
        for nm in names:
            if nm and nm in b:
                return b[nm] * 100 // sum(b.values())
        return 0

    def _ctx_score(self, info: dict, mentions: dict, nats: list,
                   dates: list, profs: list) -> float:
        t = info["type"]
        if t.startswith("person"):
            parts = []
            k = sum(1 for x in info["nationality"] if x in nats)
            parts.append(k * 100 // len(nats) if nats else 0)
            k = sum(1 for cd in dates for pdt in info["person_dates"]
                    if cd in pdt or pdt in cd)
            parts.append(k * 100 // len(dates) if dates else 0)
            k = sum(1 for j in info["jobs"] if j in profs)
            parts.append(k * 100 // len(profs) if profs else 0)
            parts.append(self._share(mentions, [info["name"]], "person"))
            return sum(parts) / 4.0
        if t in ("organisation", "event"):
            k = sum(1 for cd in dates for od in info["org_dates"]
                    if od and (cd in od or od in cd))
            d = k * 100 // len(dates) if dates else 0
            return (self._share(mentions, [info["name"]], t)
                    + self._share(mentions, [info["location"]], "settlement")
                    + d) / 3.0
        if t == "settlement":
            return (self._share(mentions, [info["name"]], t)
                    + self._share(mentions, [info["country"]], "country")) / 2.0
        if t in ("country", "country:former"):
            return float(self._share(mentions, [info["name"]], t))
        if t == "watercourse":
            return (self._share(mentions, [info["name"]], t)
                    + self._share(mentions, [info["source_loc"]], "geo")) / 2.0
        return float(self._share(mentions, [info["name"]], t))

    def _d2_filter(self, cand: list[int], text: str, s: int, e: int) -> list[int]:
        left = text[max(0, s - 8):s].lower()
        if left.endswith("during ") or left.endswith("během "):
            ev = [c for c in cand if self.kb[c]["type"] == "event"]
            if ev:
                return ev
        rest = text[e:e + 80]
        dot = rest.find(".")
        rest = (rest[:dot] if dot >= 0 else rest).lower()
        m = _COPULA.search(rest)
        if m:
            after = " " + rest[m.end():] + " "
            jb = [c for c in cand if self.kb[c]["type"].startswith("person")
                  and any(f" {j.lower()} " in after
                          for j in self.kb[c]["jobs"])]
            if jb:
                return jb
        return cand

    # -- annotation ----------------------------------------------------------
    def annotate(self, conv_id: str, turns: list[tuple[int, str]]) -> list[tuple]:
        kb = self.kb
        # phase A: scan
        turn_info = []
        for turn_idx, text in turns:
            st = _CTRL.sub(" ", text)
            raw = self._scan(st)
            kbm, prons, frags, nats = [], [], [], []
            for s, e, surf, ids, frag in raw:
                if ids:
                    cand = [c for c in ids if c in kb]
                    if len(cand) > 1:
                        cand = self._d2_filter(cand, st, s, e)
                    if cand:
                        kbm.append((s, e, surf, cand))
                elif surf in _NAT_CANON:
                    nats.append(_NAT_CANON[surf])
                elif surf in _PRON_M or surf in _PRON_F:
                    prons.append((s, e, surf))
                elif frag and surf in self.subnames:
                    frags.append((s, e, surf))
            spans = [(r[0], r[1]) for r in raw]
            dts = [d for d in find_dates(st)
                   if all(d.end <= a or d.start >= b for a, b in spans)]
            turn_info.append((turn_idx, st, kbm, prons, frags, nats, dts))

        # phase B: document context
        mentions: dict[str, dict[str, int]] = {}
        per_turn: dict[int, dict] = {}
        for turn_idx, st, kbm, _p, _f, nats, dts in turn_info:
            seen_nats = []
            for nv in nats:
                if nv not in seen_nats:
                    seen_nats.append(nv)
            dlist = []
            for d in dts:
                dlist.extend(_date_forms(d.resolved, d.kind))
            profs: list[str] = []
            for s, e, surf, cand in kbm:
                if len(cand) == 1:
                    info = kb[cand[0]]
                    t = info["type"]
                    bucket = "person" if t == "person:artist" else t
                    b = mentions.setdefault(bucket, {})
                    b[info["name"]] = b.get(info["name"], 0) + 1
                    if t == "settlement" and info["country"]:
                        c = mentions.setdefault("country", {})
                        c[info["country"]] = c.get(info["country"], 0) + 1
                else:
                    for c in cand:
                        if kb[c]["type"].startswith("person"):
                            for j in kb[c]["jobs"]:
                                if j and j in st and j not in profs:
                                    profs.append(j)
            per_turn[turn_idx] = dict(nats=seen_nats, dates=dlist, profs=profs)

        # phase C: sequential pass
        rows: list[list] = []
        poor: list[tuple[int, tuple[int, ...]]] = []
        persons_seen: list[tuple[int, int, int, str]] = []
        last_gender: dict[str, int] = {}
        for turn_idx, st, kbm, prons, frags, _n, dts in turn_info:
            tctx = per_turn[turn_idx]
            evs = ([(s, 0, (s, e, surf, cand)) for s, e, surf, cand in kbm]
                   + [(s, 1, (s, e, surf)) for s, e, surf in frags]
                   + [(s, 2, (s, e, surf)) for s, e, surf in prons]
                   + [(d.start, 3, d) for d in dts])
            evs.sort(key=lambda x: x[0])
            for _, kind, obj in evs:
                if kind == 3:
                    rows.append([conv_id, turn_idx, obj.start, obj.end,
                                 obj.kind, st[obj.start:obj.end], None,
                                 obj.resolved])
                    continue
                if kind == 0:
                    s, e, surf, cand = obj
                    if len(cand) == 1:
                        chosen, is_poor = cand[0], False
                    else:
                        best, best_i, is_poor = None, 0, True
                        for i, c in enumerate(cand):
                            cs = self._ctx_score(kb[c], mentions,
                                                 tctx["nats"], tctx["dates"],
                                                 tctx["profs"])
                            if cs > 0:
                                is_poor = False
                            total = kb[c]["confidence"] + cs
                            if best is None or total > best:
                                best, best_i = total, i
                        chosen = cand[best_i]
                    rows.append([conv_id, turn_idx, s, e, "kb", surf,
                                 chosen, str(chosen)])
                    if is_poor:
                        poor.append((len(rows) - 1, tuple(cand)))
                    info = kb[chosen]
                    if info["type"].startswith("person"):
                        if len(cand) > 1:
                            b = mentions.setdefault("person", {})
                            b[info["name"]] = b.get(info["name"], 0) + 1
                        persons_seen.append((turn_idx, s, chosen, surf))
                        if info["gender"]:
                            last_gender[info["gender"]] = chosen
                    continue
                if kind == 1:
                    s, e, surf = obj
                    cand = self.subnames.get(surf, ())
                    cset = set(cand)

                    def fold(x: str) -> str:
                        return "".join(
                            ch for ch in unicodedata.normalize("NFKD", x)
                            if not unicodedata.combining(ch)).lower()

                    fsurf = fold(surf)
                    by_sense = by_surf = None
                    for t, so, kid, psurf in persons_seen:
                        if (t, so) >= (turn_idx, s):
                            break
                        if kid in cset:
                            by_sense = kid
                        elif fsurf in [fold(w) for w in psurf.split(" ")]:
                            by_surf = kid
                    ante = by_sense if by_sense is not None else by_surf
                    if ante is None:
                        if not cand:
                            continue
                        ante = cand[0]
                    rows.append([conv_id, turn_idx, s, e, "coref", surf,
                                 ante, str(ante)])
                    ginfo = kb.get(ante)
                    if ginfo and ginfo["gender"]:
                        last_gender[ginfo["gender"]] = ante
                    continue
                if kind == 2:
                    s, e, surf = obj
                    g = "M" if surf in _PRON_M else "F"
                    ante = last_gender.get(g)
                    if ante is None:
                        continue
                    rows.append([conv_id, turn_idx, s, e, "coref", surf,
                                 ante, str(ante)])

        # phase D: D6 fixup, sense first then surface
        if poor:
            poor_i = {i for i, _ in poor}
            by_sense: dict[int, list] = {}
            by_surf: dict[str, list] = {}
            for i, r in enumerate(rows):
                if r[4] == "kb" and i not in poor_i:
                    entry = (r[1], r[2], r[6])
                    by_sense.setdefault(r[6], []).append(entry)
                    by_surf.setdefault(r[5], []).append(entry)
            for i, senses in poor:
                cands = []
                for sv in senses:
                    cands += by_sense.get(sv, [])
                if not cands:
                    cands = by_surf.get(rows[i][5], [])
                if not cands:
                    continue
                t0, s0 = rows[i][1], rows[i][2]
                nearest = min(cands, key=lambda c: (abs(c[0] - t0),
                                                    abs(c[1] - s0)))
                rows[i][6] = nearest[2]
                rows[i][7] = str(nearest[2])
        return [tuple(r) for r in rows]

"""Per-conversation mention extraction + disambiguation + coreference.

This is the engine's single UDF family (SURVEY §2.10): the whole
per-document pipeline of ``/root/reference/ner_cz.py:1542-1678``
(``recognize()``) re-expressed as one pure function over an ordered list of
turns, executed distributed via ``mapInArrow`` grouped by ``conv_id``.
Grouped processing is *required* — not a compromise — because the
reference's D5/D7/D8 semantics are order-dependent within a document:
later mentions see earlier disambiguation choices (``ner_cz.py:402-408``),
fragment coref binds to the nearest *preceding* mention
(``ner_cz.py:1437-1446``), pronoun coref is a running male/female state
machine (``ner_cz.py:411-491``). A conversation is the reference's
"document"; a turn is its "paragraph" (SURVEY §1.1).

Stage map (reference → here):
 M11 sanitize        ner_cz.py:1577        → _sanitize (offset-preserving)
 M2/M7 matching      figa_cedar.tpp:906    → Automaton.find_matches
 M10 nationality     ner_cz.py:1602-1608   → context-only tokens
 M8/M9 dates         dates.py:349-411      → find_dates + overlap drop
 D2 ctx-free filter  ner_cz.py:279-317     → _context_free_filter
 A6 context build    ner_cz.py:592-757     → _ConvContext (two-phase:
                                             stats from unambiguous
                                             mentions document-wide, then
                                             sequential updates)
 D3 static argmax    ner_cz.py:332-338     → first-max over static+context
 D4 per-type scores  ner_cz.py:805-1011    → _ConvContext.percentile
                                             (share ratios, int division)
 D5 seq feedback     ner_cz.py:402-408     → mentions['person'] increment
 D6 fixup            ner_cz.py:1238-1269   → sense-first then surface
 D7 fragment coref   ner_cz.py:1409-1426   → subname_map + nearest
                                             preceding person
 D8 pronoun coref    ner_cz.py:411-491     → last male/female state
 D9 back-off         ner_cz.py:1429-1432   → static prior fallback
 D10 unknown names   process_outputs.py:287-344 → _find_unknown_names

Deliberate deviation: the reference's ``MENTIONS_TYPE`` dict is a module
global shared across paragraphs AND documents (the ``FIXME`` at
ner_cz.py:635) — the cross-*paragraph* sharing is semantic (kept: mention
counts are document-global), the cross-*document* leak is a bug that would
make distributed output depend on per-executor processing order (dropped:
counts are scoped per conversation).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from kglinker.automaton.build import _TOKEN_RUN, KBArtifacts
from kglinker.extract.dates import find_dates, without_zeros

__all__ = ["MentionRow", "annotate_conversation", "MENTIONS_SCHEMA_DDL"]

MENTIONS_SCHEMA_DDL = (
    "conv_id string, turn_idx int, start int, end int, mention_type string, "
    "surface string, kb_id long, resolved string"
)

_SANITIZE = re.compile(r"[;\x00-\x1f]")


def _sanitize(text: str) -> str:
    """M11: same-length char-class → space keeps offsets valid against the
    *stored* text (the per-turn text-equality invariant: stored text is
    never rewritten)."""
    if _SANITIZE.search(text) is None:  # common case: no copy
        return text
    return _SANITIZE.sub(" ", text)


@dataclass
class MentionRow:
    conv_id: str
    turn_idx: int
    start: int
    end: int
    mention_type: str   # kb | date | interval | coref
    surface: str
    kb_id: int | None   # resolved entity (antecedent for coref); None for dates
    resolved: str


_CAP_RUN = re.compile(
    r"(?<![\w'])[A-ZÁČĎÉĚÍŇÓŘŠŤÚŮÝŽ][\w']+(?: [A-ZÁČĎÉĚÍŇÓŘŠŤÚŮÝŽ][\w']+)+")

_NAME_TOLERANCE = 15   # process_outputs.py:470-525 self.tolerance


def _extend_name(text: str, ks: int, ke: int, ksurf: str) -> tuple[int, int, str] | None:
    """D10 find_incomplete_names (process_outputs.py:470-525): extend a
    known name through following capitalized words / initials within a
    character tolerance window. Returns (start, end, name) or None."""
    n = len(text)
    if ke + 1 >= n or text[ke] != " " or not text[ke + 1].isupper():
        return None
    word = ksurf
    word_start = False
    pos = ke
    tolerance = ke + 1 + _NAME_TOLERANCE
    while pos < n:
        char = text[pos]
        if char == "\n":
            break
        if not (char.isalpha() or char.isspace() or char in ("'", ".")):
            break
        if not (pos < tolerance or char != " "):
            break   # a new word may not start beyond the tolerance window
        if word_start and not char.isupper():
            break   # the next word must be capitalized
        word_start = False
        if char == " ":
            word_start = True
        if char == ".":
            # only initials may carry a dot ("Aaaa A.A.")
            if not (len(word) >= 2 and (word[-2] in (" ", "."))
                    and word[-1].isupper()):
                break
        word += char
        pos += 1
    # repeated-word cut (process_outputs.py:512-519)
    words = [w for w in word.strip().split(" ") if w]
    name: list[str] = []
    for w in words:
        if w in name:
            break
        name.append(w)
    nm = " ".join(name)
    if len(nm) <= len(ksurf):
        return None
    return (ks, ks + len(nm), nm)


def _candidate_names(text: str,
                     known_spans: list[tuple[int, int, str]]) -> list[tuple[int, int, str]]:
    """D10 candidate construction: capitalized-run scan (find_full_names,
    process_outputs.py:287-344) + tolerance-window extension of known
    mentions, then solve_conflicts overlap merge (:527-563), possessive
    strip (:589-598), single-word drop (:600-610) and parts-subset
    substring removal (:199-220)."""
    cands = [(m.start(), m.end(), m.group(0)) for m in _CAP_RUN.finditer(text)]
    for ks, ke, ksurf in known_spans:
        ext = _extend_name(text, ks, ke, ksurf)
        if ext is not None:
            cands.append(ext)
    cands.sort()
    # solve_conflicts: merge overlapping candidates, unioning word parts
    merged: list[list] = []
    for s, e, v in cands:
        if merged and s < merged[-1][1]:
            s0, _e0, v0 = merged[-1]
            parts = v0.split(" ")
            for p in v.split(" "):
                if p not in parts:
                    parts.append(p)
            nv = " ".join(parts)
            merged[-1] = [s0, s0 + len(nv), nv]
        else:
            merged.append([s, e, v])
    out: list[tuple[int, int, str]] = []
    for s, e, v in merged:
        if len(v) > 2 and v.endswith("'s"):   # remove_posessions
            v, e = v[:-2], e - 2
        if len(v.split(" ")) <= 1:            # remove_single_names
            continue
        out.append((s, e, v))
    # mark_substrings: drop names whose parts all occur in a longer name
    keep = []
    for i, (s, e, v) in enumerate(out):
        parts = v.split(" ")
        shadowed = any(
            len(ov.split(" ")) > len(parts)
            and all(p in ov.split(" ") for p in parts)
            for j, (_os, _oe, ov) in enumerate(out) if j != i)
        if not shadowed:
            keep.append((s, e, v))
    return keep


def _norm_nat(surface: str) -> str:
    """Canonical nationality form: the P7 4-variant expansion (±'ý',
    ±lowercase, natToKB.py:12-30) folds back to the KB value."""
    return surface.rstrip("ý").capitalize()


def _mention_dates(resolved: str, kind: str) -> list[str]:
    """showWithoutZeros forms of a date/interval mention's endpoints
    (Context build, ner_cz.py:749-756)."""
    parts = resolved.split("--") if kind == "interval" else [resolved]
    return [without_zeros(p) for p in parts]


class _ConvContext:
    """Reference ``Context`` (ner_cz.py:588-757) scoped to one conversation.

    - ``mentions``: type → NAME → count, **document-global** (the shared
      MENTIONS_TYPE dict): phase B counts every unambiguous mention from
      every turn; phase C increments chosen ambiguous persons sequentially.
    - per-turn lists: nationalities (distinct, normalized), dates
      (showWithoutZeros, duplicates kept, interval endpoints split),
      professions (jobs of ambiguous person candidates found in turn text).
    """

    def __init__(self):
        self.mentions: dict[str, dict[str, int]] = {}
        self.nats: dict[int, list[str]] = {}
        self.dates: dict[int, list[str]] = {}
        self.profs: dict[int, list[str]] = {}

    # -- phase B -------------------------------------------------------------
    def add_turn(self, turn_idx: int, text: str, kb_cands: list, dates: list,
                 nat_surfaces: list, meta: dict) -> None:
        nats = self.nats.setdefault(turn_idx, [])
        for s in nat_surfaces:
            n = _norm_nat(s)
            if n not in nats:
                nats.append(n)
        dlist = self.dates.setdefault(turn_idx, [])
        for d in dates:
            dlist.extend(_mention_dates(d.resolved, d.kind))
        profs = self.profs.setdefault(turn_idx, [])
        for _m, cand in kb_cands:
            if len(cand) == 1:
                info = meta[cand[0]]
                self._count(info)
            else:
                # professions of ambiguous person candidates present in the
                # turn text (ner_cz.py:745-751)
                for c in cand:
                    info = meta[c]
                    if info["type"].startswith("person"):
                        for p in info["jobs"]:
                            if p and p in text and p not in profs:
                                profs.append(p)

    def _count(self, info: dict) -> None:
        # person:artist folds into person (ner_cz.py:735-737); settlements
        # also count their COUNTRY value into the country bucket (the
        # populatedPlace branch's name+country counting, ner_cz.py:665-683,
        # harmonized to the 'settlement'-vocabulary percentile lookups)
        t = info["type"]
        bucket = "person" if t == "person:artist" else t
        b = self.mentions.setdefault(bucket, {})
        b[info["name"]] = b.get(info["name"], 0) + 1
        if t == "settlement" and info["country"]:
            c = self.mentions.setdefault("country", {})
            c[info["country"]] = c.get(info["country"], 0) + 1

    # -- phase C feedback (D5) ------------------------------------------------
    def add_chosen_person(self, name: str) -> None:
        b = self.mentions.setdefault("person", {})
        b[name] = b.get(name, 0) + 1

    # -- scoring --------------------------------------------------------------
    def _share(self, names: list[str], bucket: str) -> int:
        """mentioned_in_par (ner_cz.py:805-817): first matching name's count
        as an integer percentage of the bucket total."""
        b = self.mentions.get(bucket)
        if not b:
            return 0
        cnt = 0
        for nm in names:
            if nm and nm in b:
                cnt = b[nm]
                break
        if not cnt:
            return 0
        return cnt * 100 // sum(b.values())

    def percentile(self, info: dict, turn_idx: int) -> float:
        """D4 per-type context score (ner_cz.py:821-970), share ratios with
        the reference's py2 integer division inside each sub-score."""
        t = info["type"]
        if t.startswith("person"):
            nats = self.nats.get(turn_idx, [])
            n_s = sum(1 for nat in info["nationality"] if nat in nats)
            if nats:
                n_s = n_s * 100 // len(nats)
            dates = self.dates.get(turn_idx, [])
            d_s = sum(1 for cd in dates for pdt in info["person_dates"]
                      if cd in pdt or pdt in cd)
            if dates:
                d_s = d_s * 100 // len(dates)
            profs = self.profs.get(turn_idx, [])
            p_s = sum(1 for j in info["jobs"] if j in profs)
            if profs:
                p_s = p_s * 100 // len(profs)
            m_s = self._share([info["name"]], "person")
            return (n_s + d_s + p_s + m_s) / 4.0
        if t in ("organisation", "event"):
            m_s = self._share([info["name"]], t)
            loc_s = self._share([info["location"]], "settlement")
            dates = self.dates.get(turn_idx, [])
            d_s = sum(1 for cd in dates for od in info["org_dates"]
                      if od and (cd in od or od in cd))
            if dates:
                d_s = d_s * 100 // len(dates)
            return (m_s + loc_s + d_s) / 3.0
        if t in ("country", "country:former", "settlement"):
            m_s = self._share([info["name"]], t)
            if t == "settlement":
                c_s = self._share([info["country"]], "country")
                return (m_s + c_s) / 2.0
            return float(m_s)
        if t in ("watercourse", "waterarea"):
            m_s = self._share([info["name"]], t)
            if t == "watercourse":
                g_s = self._share([info["source_loc"]], "geo")
                return (m_s + g_s) / 2.0
            return float(m_s)
        # common_percentile for everything else (geo:*, ner_cz.py:908-913)
        return float(self._share([info["name"]], t))


def annotate_conversation(conv_id: str,
                          turns: list[tuple[int, str]],
                          art: KBArtifacts,
                          detect_unknown_names: bool = False,
                          case_insensitive: bool = False,
                          spellcheck: bool = False,
                          accent_insensitive: bool = False,
                          uri_matching: bool = False) -> list[MentionRow]:
    """Annotate one conversation. ``turns`` must be (turn_idx, text) sorted
    by turn_idx (the stable ordering invariant).

    ``case_insensitive`` uses the P5 lowercase automaton variant
    (requires artifacts built with ``lowercase=True``); offsets stay
    anchored to the original text, surfaces keep original casing.

    ``spellcheck`` (M4, figa ``-s``; requires artifacts built with
    ``spellcheck=True``) corrects unmatched capitalized tokens to a
    dictionary surface within edit distance 1 — only when the correction
    is UNIQUE and carries KB senses; the emitted surface/offsets stay
    anchored to the original (misspelled) token.

    ``accent_insensitive`` (P5 ``--remove_accent``, ner_cz.py:1580-1582;
    requires ``strip_accents=True`` artifacts) matches over an
    accent-stripped view; offsets/surfaces anchor to the original text
    (the reference rewrites its input instead).

    ``uri_matching`` (figa ``-u``, create_cedar.sh:43-45; requires
    artifacts built with ``uri_rows``) additionally scans each turn with
    the URI automaton — entity URL strings in the text become kb mentions
    with the owning rows as candidates."""
    auto = art.automaton
    use_lower = case_insensitive and art.lower_automaton is not None
    use_accent = accent_insensitive and art.accent_automaton is not None
    use_spell = spellcheck and art.spell_index is not None
    use_uri = uri_matching and art.uri_automaton is not None
    meta = art.kb_meta

    # ---- phase A: scan every turn (matching is context-free) ----------------
    scanned = []  # (turn_idx, st, kb_cands, fragments, pronouns, dates, nats)
    def _variant_scan(st: str):
        """Scan over a transformed view (lowercase / accent-folded),
        anchoring surfaces and offsets to the original text. The accent
        view uses the LENGTH-PRESERVING per-char fold (fold_accent_chars —
        the same transform the accent automaton keys were built with), so
        offsets always line up and no silent exact-automaton fallback
        exists; str.lower() length changes are theoretical (İ-style), and
        that branch keeps a fallback guard. When both flags are set the
        accent variant wins (a combined automaton is not prebuilt —
        documented narrowing)."""
        from kglinker.automaton.build import Match
        from kglinker.kb.expand import fold_accent_chars
        if use_accent:
            view, variant = fold_accent_chars(st), art.accent_automaton
        else:
            view, variant = st.lower(), art.lower_automaton
            if len(view) != len(st):
                return auto.find_matches(st)
        return [Match(m.start, m.end, st[m.start:m.end], m.kb_ids,
                      m.is_fragment) for m in variant.find_matches(view)]

    for turn_idx, text in turns:
        st = _sanitize(text)
        if use_lower or use_accent:
            matches = _variant_scan(st)
        else:
            matches = auto.find_matches(st)

        if use_uri:
            # figa -u: separate scan over the URI automaton; URI hits are
            # kb matches (kept over any shorter name match they cover)
            uri_hits = art.uri_automaton.find_matches(st)
            if uri_hits:
                spans = [(u.start, u.end) for u in uri_hits]
                matches = sorted(
                    [m for m in matches
                     if not any(not (m.end <= s or m.start >= e)
                                for s, e in spans)] + uri_hits,
                    key=lambda m: m.start)

        if use_spell:
            # M4: unmatched capitalized tokens → unique dist-1 dictionary
            # surface with KB senses becomes a kb match anchored to the
            # original token (figa -s KB lookup, figa_cedar.tpp:649+)
            from kglinker.automaton.build import Match
            covered = [(m.start, m.end) for m in matches]
            extra = []
            for tok in _TOKEN_RUN.finditer(st):
                s, e = tok.span()
                if any(ts <= s < te for ts, te in covered):
                    continue
                w = tok.group(0)
                if not w[:1].isupper():
                    continue
                fixes = [f for f in art.spell_index.lookup(w)
                         if (auto.get(f) or ((), False))[0]]
                if len(fixes) == 1:
                    ids, frag = auto.get(fixes[0])
                    extra.append(Match(s, e, w, ids, frag))
            if extra:
                matches = sorted(matches + extra, key=lambda m: m.start)

        kb_cands, pronouns, fragments = [], [], []
        turn_nats: list[str] = []
        for m in matches:
            if m.kb_ids:
                cand = [c for c in m.kb_ids if c in meta]
                if len(cand) > 1:
                    cand = _context_free_filter(cand, meta, st, m.start, m.end)
                if cand:
                    kb_cands.append((m, cand))
            elif m.surface in art.nationality_forms:
                turn_nats.append(m.surface)       # M10: context-only
            elif (m.surface in art.pronouns_male
                  or m.surface in art.pronouns_female):
                pronouns.append(m)
            elif m.is_fragment and (m.surface in art.subname_map
                                    or _fold(m.surface) in art.subname_map_folded):
                fragments.append(m)

        # M8/M9: dates not overlapping any accepted entity span
        spans = [(m.start, m.end) for m in matches]
        dates = [d for d in find_dates(st)
                 if not any(not (d.end <= s or d.start >= e) for s, e in spans)]

        # D10: candidate unknown names + overlap resolution vs KB mentions
        # (ner_cz.py:1307-1330): equal-or-contained-in-entity → name
        # dropped; name strictly containing an entity → the entity is
        # ABSORBED into the name (senses inherited, entity row suppressed)
        names: list[tuple[int, int, str, tuple[int, ...]]] = []
        absorbed_ids: set[int] = set()
        if detect_unknown_names:
            known = [(m.start, m.end, m.surface) for m, _c in kb_cands]
            for s, e, v in _candidate_names(st, known):
                drop = False
                absorbs: list[int] = []
                for idx, (m, _cand) in enumerate(kb_cands):
                    if ((s, e) == (m.start, m.end)
                            or (m.start <= s and m.end >= e
                                and (m.end - m.start) > (e - s))):
                        drop = True
                        break
                    if (s <= m.start and e >= m.end
                            and (e - s) > (m.end - m.start)):
                        absorbs.append(idx)
                if not drop:
                    names.append((s, e, v, tuple(absorbs)))
            absorbed_ids = {i for nm in names for i in nm[3]}
        scanned.append((turn_idx, st, kb_cands, fragments, pronouns, dates,
                        turn_nats, names, absorbed_ids))

    # ---- phase B: document-level context from unambiguous mentions ----------
    # (the reference builds Context before add_unknown_names removes
    # absorbed entities, so absorbed mentions still count here)
    ctx = _ConvContext()
    for turn_idx, st, kb_cands, _f, _p, dates, turn_nats, _n, _a in scanned:
        ctx.add_turn(turn_idx, st, kb_cands, dates, turn_nats, meta)

    # ---- phase C: sequential disambiguation + coreference -------------------
    out: list[MentionRow] = []
    last_person_by_gender: dict[str, int] = {}   # D8 state
    person_mentions: list[tuple[int, int, int, str]] = []  # (turn, start, kb_id, surface) for D7
    poor_mentions: list[tuple[int, tuple[int, ...]]] = []  # (out idx, senses) for D6
    name_registry: dict[str, int] = {}     # D10 surface → negative synthetic id

    for turn_idx, st, kb_cands, fragments, pronouns, dates, _nats, names, \
            absorbed_ids in scanned:
        events: list[tuple[int, str, object]] = []
        events += [(m.start, "kb", (m, cand))
                   for i, (m, cand) in enumerate(kb_cands)
                   if i not in absorbed_ids]
        events += [(m.start, "frag", m) for m in fragments]
        events += [(m.start, "pron", m) for m in pronouns]
        events += [(d.start, "date", d) for d in dates]
        events += [(s, "name", (s, e, v, absorbs))
                   for s, e, v, absorbs in names]
        events.sort(key=lambda e: e[0])

        def _choose_and_update(m, cand):
            """Disambiguate one kb match and apply the D5/D7/D8 state
            updates; returns the chosen sense and the poor flag."""
            if len(cand) == 1:
                chosen, poor = cand[0], False
            else:
                chosen, poor = _disambiguate(cand, meta, ctx, turn_idx)
            info = meta[chosen]
            if info["type"].startswith("person"):
                if len(cand) > 1:
                    ctx.add_chosen_person(info["name"])   # D5 feedback
                person_mentions.append((turn_idx, m.start, chosen, m.surface))
                if info["gender"]:
                    last_person_by_gender[info["gender"]] = chosen
            return chosen, poor

        for start, kind, obj in events:
            if kind == "name":
                s, e_, surf, absorbs = obj
                # absorbed entities run the full disambiguation/state
                # machinery (the reference removes them from the output
                # AFTER disambiguation, ner_cz.py:1326-1330); the name
                # inherits the first absorbed sense, else a stable
                # negative synthetic id per surface (ner_cz.py:1295-1305)
                chosen_id = None
                for idx in absorbs:
                    ch, _poor = _choose_and_update(*kb_cands[idx])
                    if chosen_id is None:
                        chosen_id = ch
                if chosen_id is None:
                    if surf not in name_registry:
                        name_registry[surf] = -(len(name_registry) + 1)
                    chosen_id = name_registry[surf]
                out.append(MentionRow(conv_id, turn_idx, s, e_, "name",
                                      surf, chosen_id, str(chosen_id)))
                continue
            if kind == "date":
                out.append(MentionRow(conv_id, turn_idx, obj.start, obj.end,
                                      obj.kind, st[obj.start:obj.end], None,
                                      obj.resolved))
                continue
            if kind == "kb":
                m, cand = obj
                chosen, poor = _choose_and_update(m, cand)
                out.append(MentionRow(conv_id, turn_idx, m.start, m.end, "kb",
                                      m.surface, chosen, str(chosen)))
                if poor and len(cand) > 1:
                    poor_mentions.append((len(out) - 1, tuple(cand)))
                continue
            if kind == "frag":
                m = obj
                cand = art.subname_map.get(
                    m.surface,
                    art.subname_map_folded.get(_fold(m.surface), ()))
                ante = _nearest_predecessor(person_mentions, turn_idx, m.start,
                                            cand, m.surface)
                if ante is None:
                    if not cand:
                        continue
                    ante = cand[0]          # D9 back-off: static prior
                out.append(MentionRow(conv_id, turn_idx, m.start, m.end,
                                      "coref", m.surface, ante, str(ante)))
                info = meta.get(ante)
                if info and info["gender"]:
                    last_person_by_gender[info["gender"]] = ante
                continue
            if kind == "pron":
                m = obj
                gender = "M" if m.surface in art.pronouns_male else "F"
                ante = last_person_by_gender.get(gender)
                if ante is None:
                    continue                # unresolvable pronoun dropped
                out.append(MentionRow(conv_id, turn_idx, m.start, m.end,
                                      "coref", m.surface, ante, str(ante)))

    _fix_poor_disambiguation(out, poor_mentions)
    return out


_DURING = ("během ", "during ")
# reference VERBS = {" byl ", " byla ", " je "} (ner_cz.py:56); English
# copulas added for the bilingual corpus
_COPULA = re.compile(r"\b(?:byl|byla|je|was|is|were)\b")


def _context_free_filter(cand: list[int], meta: dict, text: str,
                         start: int, end: int) -> list[int]:
    """D2 context-free candidate filters (ner_cz.py:279-317):
    - a ``během``/``during`` left context keeps only event senses;
    - a copula in the trailing sentence + a candidate person's JOBS value
      appearing AFTER the verb (space-padded, ``sentence.find(" "+p+" ",
      verb_index)``, ner_cz.py:302-317) keeps only those persons.
    Filters only narrow; they never empty the candidate list."""
    left = text[max(0, start - 8):start].lower()
    if any(left.endswith(d) for d in _DURING):
        events = [c for c in cand if meta[c]["type"] == "event"]
        if events:
            return events
    rest = text[end:end + 80]
    cut = rest.find(".")
    rest = (rest[:cut] if cut >= 0 else rest).lower()
    m = _COPULA.search(rest)
    if m:
        after_verb = " " + rest[m.end():] + " "
        by_job = [c for c in cand
                  if meta[c]["type"].startswith("person")
                  and any(f" {j.lower()} " in after_verb
                          for j in meta[c]["jobs"])]
        if by_job:
            return by_job
    return cand


def _disambiguate(cand: list[int], meta: dict, ctx: _ConvContext,
                  turn_idx: int) -> tuple[int, bool]:
    """D3 static prior + D4 per-type context percentile; first-max
    tie-break (reference ``list.index(max)``, ner_cz.py:400). Returns
    (chosen, poorly_disambiguated) — poor iff NO candidate scored any
    context (ner_cz.py:393-394)."""
    scores: list[float] = []
    poor = True
    for c in cand:
        info = meta[c]
        context = ctx.percentile(info, turn_idx)
        if context > 0:
            poor = False
        scores.append(info["confidence"] + context)
    best = max(scores)
    return cand[scores.index(best)], poor


def _fold(s: str) -> str:
    """Accent-stripped lowercase — the comparison form the reference uses
    for fragment/antecedent matching (ner_cz.py:1422, :233)."""
    from kglinker.kb.expand import remove_accent
    return remove_accent(s).lower()


def _nearest_predecessor(person_mentions: list[tuple[int, int, int, str]],
                         turn_idx: int, start: int,
                         cand: tuple[int, ...], fragment: str) -> int | None:
    """D7: nearest preceding person mention whose chosen sense is a
    candidate of this fragment, else whose surface contains the fragment
    (ner_cz.py:1437-1446); the surface comparison is accent/case-folded
    like the reference's (ner_cz.py:1422)."""
    cset = set(cand)
    frag = _fold(fragment)
    by_sense = None
    by_surface = None
    for t, s, kb_id, surface in person_mentions:
        if (t, s) >= (turn_idx, start):
            break
        if kb_id in cset:
            by_sense = kb_id
        elif frag in [_fold(w) for w in surface.split(" ")]:
            by_surface = kb_id
    return by_sense if by_sense is not None else by_surface


def _fix_poor_disambiguation(rows: list[MentionRow],
                             poor: list[tuple[int, tuple[int, ...]]]) -> None:
    """D6 (ner_cz.py:1238-1269): a poorly-disambiguated mention adopts the
    nearest strong mention whose chosen sense is among its candidate
    senses; only if no sense-sharing strong mention exists does it fall
    back to the nearest strong mention with the same *surface*."""
    if not poor:
        return
    poor_idx = {i for i, _ in poor}
    by_surface: dict[str, list[tuple[int, int, int]]] = {}
    by_sense: dict[int, list[tuple[int, int, int]]] = {}
    for i, r in enumerate(rows):
        if r.mention_type == "kb" and i not in poor_idx:
            entry = (r.turn_idx, r.start, r.kb_id)
            by_surface.setdefault(r.surface, []).append(entry)
            by_sense.setdefault(r.kb_id, []).append(entry)
    for i, senses in poor:
        r = rows[i]
        cands: list[tuple[int, int, int]] = []
        for s in senses:
            cands += by_sense.get(s, [])
        if not cands:
            cands = by_surface.get(r.surface, [])
        if not cands:
            continue
        nearest = min(cands, key=lambda c: (abs(c[0] - r.turn_idx),
                                            abs(c[1] - r.start)))
        rows[i] = MentionRow(r.conv_id, r.turn_idx, r.start, r.end, r.mention_type,
                             r.surface, nearest[2], str(nearest[2]))

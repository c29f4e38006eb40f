"""Dictionary automaton: build once on the driver, broadcast to executors.

Spark-native replacement for the reference's double-array-trie automaton
(cedar/darts, ``/root/reference/figa/sources/figa_cedar.h:21-22``, build
``figa/sources/main.cpp:189-210``) + POSIX-shared-memory KB
(``SharedKB/var2/main.c:352-381``): the namelist DataFrame is collected to
the driver (the KB is the *small* side — 10^6..10^8 surfaces vs 10^12
turns), compiled into a surface hash table plus a first-token length
index, and ``sc.broadcast()`` ships exactly one copy per executor,
resident for the application lifetime — the same one-copy-per-machine
property the reference gets from shm, without the daemon
(``ner_knowledge_base.py:431-506``).

Matching semantics (M1/M2/M7 of SURVEY §2.5): greedy **leftmost-longest
non-overlapping** dictionary match anchored at token starts, match end
required at a token boundary — equivalent to figa's word-by-word trie
traversal with longest-prefix backtracking and queue-clearing restart
(``figa_cedar.tpp:906-1069``, ``:603-615``) followed by ner_cz's
``remove_shorter_entities`` (``ner_cz.py:1528-1540``). Offsets are 0-based
character offsets, half-open — the reference's post--1-fix convention
(``ner_cz.py:1481``).
"""

from __future__ import annotations

import heapq
import pickle
import re
from dataclasses import dataclass, field

from kglinker.extract.dates import without_zeros
from kglinker.kb.expand import fold_accent_chars, remove_accent

__all__ = ["Automaton", "Match", "KBArtifacts", "SpellIndex",
           "build_artifacts", "broadcast_artifacts", "KB_PROJECTION_COLS"]

# the KB column projection shipped to executors (hand-done pruning the
# reference applies before shm load, SURVEY §4) — single source of truth
# for every artifacts builder
KB_PROJECTION_COLS = ["kb_id", "type", "name", "gender", "confidence",
                      "nationality", "jobs", "date_of_birth",
                      "date_of_death", "founded", "cancelled", "start",
                      "end", "wiki_url", "country", "location",
                      "source_loc"]

# a maximal unicode-alphanumeric run: [^\W_] ≡ str.isalnum, so token
# starts and the match-end boundary check agree for every script
_TOKEN_RUN = re.compile(r"[^\W_]+", re.UNICODE)


@dataclass(frozen=True)
class Match:
    start: int          # 0-based char offset
    end: int            # half-open
    surface: str
    kb_ids: tuple[int, ...]   # confidence-desc ordered (A2)
    is_fragment: bool


class Automaton:
    """Namelist surfaces → (kb_ids, is_fragment) payloads, with a
    first-token → surface-lengths index for the scan."""

    def __init__(self, entries: dict[str, tuple[tuple[int, ...], bool]]):
        """``entries`` may be a dict OR any iterable of (surface, payload)
        pairs — the iterable form is the streamed >30M-surface build path
        (fed from ``toLocalIterator``, never materializing a row list).
        On duplicate surfaces the last payload wins (dict semantics)."""
        self._entries: dict[str, tuple[tuple[int, ...], bool]] = dict(entries)
        # first token → the distinct lengths of the surfaces it heads,
        # longest first. Only one surface of a given length can start at
        # a text offset, so probing these lengths in order is the
        # leftmost-longest match, however many surfaces share the token.
        lengths: dict[str, set[int]] = {}
        for surface in self._entries:
            m = _TOKEN_RUN.match(surface)
            # a surface that does not start on a token can never match
            if m is not None:
                lengths.setdefault(m.group(0), set()).add(len(surface))
        self._lengths: dict[str, tuple[int, ...]] = {
            tok: tuple(sorted(ls, reverse=True))
            for tok, ls in lengths.items()}

    def __len__(self) -> int:
        return len(self._entries)

    def __contains__(self, surface: str) -> bool:
        return surface in self._entries

    def get(self, surface: str):
        return self._entries.get(surface)

    @property
    def entries(self) -> dict:
        """The payload dict (single copy; variant automatons and the
        spell index derive from it without re-materializing rows)."""
        return self._entries

    def autocomplete(self, prefix: str, limit: int = 10) -> list[tuple[str, tuple]]:
        """M5 (figa ``-a``, figa/README:5): dictionary surfaces extending
        ``prefix``, in code-point order, with their (kb_ids, is_fragment)
        payloads. Interactive-path helper, not a data-path operator."""
        hits = heapq.nsmallest(
            limit, (s for s in self._entries if s.startswith(prefix)))
        return [(s, self._entries[s]) for s in hits]

    def find_matches(self, text: str) -> list[Match]:
        """Leftmost-longest non-overlapping dictionary matches (M2+M7)."""
        n = len(text)
        out: list[Match] = []
        pos = 0
        entries = self._entries
        lengths = self._lengths
        for tok in _TOKEN_RUN.finditer(text):
            s = tok.start()
            if s < pos:
                continue  # inside an accepted match: non-overlap restart
            for length in lengths.get(tok.group(0), ()):
                e = s + length
                if e > n or (e < n and text[e].isalnum()):
                    continue  # the match must end on a token boundary
                surface = text[s:e]
                payload = entries.get(surface)
                if payload is not None:
                    out.append(Match(s, e, surface, *payload))
                    pos = e
                    break
        return out


def _edit1(a: str, b: str) -> bool:
    """True iff edit distance (ins/del/sub) ≤ 1."""
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = j = diff = 0
    while i < la and j < lb:
        if a[i] == b[j]:
            i += 1
            j += 1
            continue
        diff += 1
        if diff > 1:
            return False
        if la == lb:
            i += 1
        j += 1
    return diff + (lb - j) <= 1


class SpellIndex:
    """M4 spellcheck (figa ``-s``, ``figa_cedar.tpp:147-345``): edit-
    distance-1 correction of unmatched words against the single-word
    dictionary surfaces, via a deletion-neighborhood (SymSpell) index —
    the hash-index equivalent of figa's fuzzy trie traversal. Built once
    on the driver next to the automaton and broadcast with it."""

    MIN_LEN = 4   # shorter words correct too aggressively

    def __init__(self, surfaces):
        self._surfaces = {s for s in surfaces
                          if " " not in s and len(s) >= self.MIN_LEN}
        self._index: dict[str, set[str]] = {}
        for s in self._surfaces:
            for d in self._deletes(s):
                self._index.setdefault(d, set()).add(s)

    @staticmethod
    def _deletes(s: str) -> set[str]:
        return {s[:i] + s[i + 1:] for i in range(len(s))}

    def lookup(self, token: str) -> list[str]:
        """Dictionary surfaces within edit distance 1 of ``token``
        (exact token excluded — it is not a correction), sorted."""
        if len(token) < self.MIN_LEN:
            return []
        cands = set(self._index.get(token, ()))      # surface = token+1 char
        for d in self._deletes(token):
            if d in self._surfaces:
                cands.add(d)                          # token = surface+1 char
            cands.update(self._index.get(d, ()))      # substitution
        cands.discard(token)
        return sorted(c for c in cands if _edit1(c, token))


@dataclass
class KBArtifacts:
    """Everything the per-conversation extraction UDF needs, in one
    broadcast: the automaton plus the KB projections used by
    disambiguation/coref — the hand-done column pruning the reference
    applies before shm load (SURVEY §4)."""
    automaton: Automaton
    # kb_id → {type, name, gender, confidence, nationality: tuple,
    #          dates: tuple, jobs: tuple, wiki_url, country, location}
    kb_meta: dict[int, dict]
    subname_map: dict[str, tuple[int, ...]]   # D7 people_named
    nationality_forms: frozenset[str]
    pronouns_male: frozenset[str]
    pronouns_female: frozenset[str]
    stop_surfaces: frozenset[str] = field(default_factory=frozenset)
    # P5 `-l` variant (KB2namelist.py:417-421): lowercased-surface automaton
    # for case-insensitive matching; None unless built with lowercase=True
    lower_automaton: "Automaton | None" = None
    # M4 `-s` variant: edit-distance-1 spell index; None unless built with
    # spellcheck=True (off in the reference's default path too)
    spell_index: "SpellIndex | None" = None
    # P5 `--remove_accent` variant (ner_cz.py:1580-1582): accent-stripped
    # automaton; unlike the reference (which rewrites the input string) the
    # scan strips a COPY and keeps offsets anchored to the stored text
    accent_automaton: "Automaton | None" = None
    # folded (accent-stripped lowercase) subname view — the reference keys
    # its namedict folded (people_named via remove_accent(...).lower(),
    # ner_cz.py:233); fallback lookup when a case/accent-variant scan
    # yields an unfolded fragment surface
    subname_map_folded: dict = field(default_factory=dict)
    # figa `-u` variant (create_cedar.sh:43-45,149-150): separate automaton
    # over entity URI attributes; None unless built with uri_rows
    uri_automaton: "Automaton | None" = None

    def dumps(self) -> bytes:
        return pickle.dumps(self, protocol=pickle.HIGHEST_PROTOCOL)


def _transformed_entries(entries: dict, transform) -> dict:
    """Merge payloads under transformed surfaces (deterministic: surfaces
    visited in sorted order; candidate order preserved, first wins).
    Surfaces whose transform changes their length are kept untransformed
    (offset fidelity guard — e.g. ligature decomposition)."""
    out: dict[str, tuple[tuple[int, ...], bool]] = {}
    for s in sorted(entries):
        ids, frag = entries[s]
        t = transform(s)
        if len(t) != len(s):
            t = s
        if t in out:
            pids, pfrag = out[t]
            merged = pids + tuple(i for i in ids if i not in pids)
            out[t] = (merged, pfrag or frag)
        else:
            out[t] = (ids, frag)
    return out


def build_artifacts(kb_scored_rows,
                    namelist_rows,
                    subname_rows,
                    lowercase: bool = False,
                    spellcheck: bool = False,
                    strip_accents: bool = False,
                    uri_rows=None) -> KBArtifacts:
    """Compile collected DataFrames into the broadcast payload.

    ``kb_scored_rows``: dicts with the KB projection columns;
    ``namelist_rows``: (surface, kb_ids, is_fragment);
    ``subname_rows``: (subname, kb_ids).

    Each argument may be a list OR a lazy iterable of dicts — every input
    is consumed in exactly one pass, so the streamed ``toLocalIterator``
    build (:func:`broadcast_artifacts` ``streamed=True``) never holds a
    row list next to the compiled structures.
    """
    from kglinker.data.wordlists import (PRONOUNS_FEMALE, PRONOUNS_MALE)
    from kglinker.kb.names import nationality_forms

    automaton = Automaton(
        (r["surface"], (tuple(int(i) for i in (r["kb_ids"] or [])),
                        bool(r["is_fragment"])))
        for r in namelist_rows)
    entries = automaton.entries
    meta: dict[int, dict] = {}
    for r in kb_scored_rows:
        def _multi(key: str) -> tuple[str, ...]:
            v = r.get(key) or ""
            return tuple(x for x in v.split("|") if x)
        t = r["type"]
        # per-purpose date sets (ner_cz.py person_percentile uses DOB/DOD,
        # organisation_percentile FOUNDED/CANCELLED, events START/END)
        org_fields = (("founded", "cancelled") if not t.startswith("event")
                      else ("start", "end"))
        meta[int(r["kb_id"])] = {
            "type": t,
            "name": r["name"],
            "gender": r.get("gender") or "",
            "confidence": float(r.get("confidence") or 0.0),
            "nationality": _multi("nationality"),
            "jobs": _multi("jobs"),
            "person_dates": tuple(without_zeros(r.get(k)) for k in
                                  ("date_of_birth", "date_of_death")
                                  if r.get(k)),
            "org_dates": tuple(without_zeros(r.get(k)) for k in org_fields
                               if r.get(k)),
            "wiki_url": r.get("wiki_url") or "",
            "country": r.get("country") or "",
            "location": r.get("location") or "",
            "source_loc": r.get("source_loc") or "",
        }
    sub = {r["subname"]: tuple(int(i) for i in r["kb_ids"]) for r in subname_rows}
    sub_folded: dict[str, tuple[int, ...]] = {}
    for k in sorted(sub):
        fk = remove_accent(k).lower()
        prev = sub_folded.get(fk, ())
        sub_folded[fk] = prev + tuple(i for i in sub[k] if i not in prev)
    pron_m = frozenset({p for b in PRONOUNS_MALE for p in (b, b[:1].upper() + b[1:])})
    pron_f = frozenset({p for b in PRONOUNS_FEMALE for p in (b, b[:1].upper() + b[1:])})
    return KBArtifacts(
        automaton=automaton,
        kb_meta=meta,
        subname_map=sub,
        nationality_forms=frozenset(nationality_forms()),
        pronouns_male=pron_m,
        pronouns_female=pron_f,
        lower_automaton=(Automaton(_transformed_entries(entries, str.lower))
                         if lowercase else None),
        spell_index=SpellIndex(entries) if spellcheck else None,
        accent_automaton=(Automaton(
            _transformed_entries(entries, fold_accent_chars))
            if strip_accents else None),
        subname_map_folded=sub_folded,
        uri_automaton=(Automaton(
            (r["surface"], (tuple(int(i) for i in (r["kb_ids"] or [])),
                            bool(r["is_fragment"])))
            for r in uri_rows) if uri_rows is not None else None),
    )


def broadcast_artifacts(spark, kb_scored, namelist, subnames,
                        streamed: bool = False, **build_kw):
    """Collect the three build outputs and broadcast the compiled payload.

    One build per KB snapshot (reference: automaton rebuilt per KB update,
    ``figa/make_automat/README.md:1``). Two collection modes:

    - ``streamed=False`` (default): plain ``collect()`` — fastest below
      ~30M surfaces (measured 118 MB payload at 1.3M surfaces).
    - ``streamed=True``: ``toLocalIterator(prefetchPartitions=True)``
      feeds the surface dict, meta and subname structures row-by-row, so
      no row list is ever materialized next to the compiled automaton —
      the >30M-surface build path (BENCH/BASELINE.md §automaton); peak
      headroom verified in tests/test_streamed_build.py. The broadcast
      call is identical.
    """
    if streamed:
        kb_rows = (r.asDict() for r in kb_scored.select(*KB_PROJECTION_COLS)
                   .toLocalIterator(prefetchPartitions=True))
        nl_rows = (r.asDict() for r in
                   namelist.toLocalIterator(prefetchPartitions=True))
        sub_rows = (r.asDict() for r in
                    subnames.toLocalIterator(prefetchPartitions=True))
    else:
        kb_rows = [r.asDict() for r in
                   kb_scored.select(*KB_PROJECTION_COLS).collect()]
        nl_rows = [r.asDict() for r in namelist.collect()]
        sub_rows = [r.asDict() for r in subnames.collect()]
    art = build_artifacts(kb_rows, nl_rows, sub_rows, **build_kw)
    return spark.sparkContext.broadcast(art)

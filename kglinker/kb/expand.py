"""Pure-Python surface-form generators (SURVEY §2.3 G1–G11, §2.2 P2–P5).

These are the irregular string rewrites of the reference's dictionary build
(``/root/reference/figa/make_automat/KB2namelist.py``). They are kept as
plain functions over plain values so that (a) the Spark build calls them
inside one ``mapInArrow`` pass over Arrow batches of KB rows
(:mod:`kglinker.kb.names` — never per-row Python over the data path; the
KB side is small and batched), and (b) the single-process parity oracle
calls them directly, guaranteeing the two paths share one implementation
of the tricky string logic.

Czech morphological inflection (G8, the reference's ``czechnames/
namegen.py`` grammar system) is implemented from scratch in
:mod:`kglinker.kb.czech_morph` (rule-based declension paradigms) and
exposed here as :func:`czech_inflections`.
"""

from __future__ import annotations

import itertools
import re
import unicodedata
from functools import lru_cache

from kglinker.data.wordlists import NAME_PREPOSITIONS, TITLES

__all__ = [
    "remove_accent", "fold_accent_chars", "normalize_ws", "strip_name_tags",
    "is_unsuitable",
    "person_variants", "subnames", "org_event_variants", "nationality_variants",
    "czech_inflections",
]

# unsuitable characters per KB2namelist.py:210-214
_UNSUITABLE = re.compile(r'[;?!()\[\]{}<>/~@#$%^&*_=+|"\\]')
_ALL_DIGIT = re.compile(r"^\d+$")
_WS = re.compile(r"\s+")
_ZERO_WIDTH = re.compile(r"[​‌‍﻿]")
_TAG = re.compile(r"#(?:lang|ntype)=[^#|]*")
_WORD_FLAG = re.compile(r"#[A-Za-z0-9]E?(?=\s|$)")  # KB2namelist.py:407


def remove_accent(s: str) -> str:
    """NFKD accent strip (``library/utils.py:9-12``)."""
    return "".join(c for c in unicodedata.normalize("NFKD", s)
                   if not unicodedata.combining(c))


@lru_cache(maxsize=None)
def _fold_char(c: str) -> str:
    stripped = "".join(x for x in unicodedata.normalize("NFKD", c)
                       if not unicodedata.combining(x))
    return stripped if len(stripped) == 1 else c


def fold_accent_chars(s: str) -> str:
    """LENGTH-PRESERVING accent fold: each char maps to its single-char
    NFKD base, or stays itself when the decomposition is not 1:1 (ß → ß,
    ligatures stay composed). Unlike :func:`remove_accent` the output
    always has ``len(s)`` chars, so offset-anchored accent-insensitive
    matching never has to fall back to the exact automaton
    (kglinker/extract/matcher.py ``_variant_scan``) — both the variant
    automaton keys and the scan view use THIS fold, keeping the two sides
    consistent."""
    return "".join(map(_fold_char, s))


def normalize_ws(s: str) -> str:
    """P3: collapse whitespace, drop zero-width chars (KB2namelist.py:207,408-410)."""
    return _WS.sub(" ", _ZERO_WIDTH.sub("", s)).strip()


def strip_name_tags(s: str) -> str:
    """P1/P4: drop ``#lang=``/``#ntype=`` alias tags and word-type flags
    (KB2namelist.py:146-165, :407)."""
    return normalize_ws(_WORD_FLAG.sub("", _TAG.sub("", s)))


def is_unsuitable(surface: str, etype: str, allowlist: frozenset[str] = frozenset()) -> bool:
    """P2 surface filter (KB2namelist.py:210-250). Returns True → drop."""
    if surface in allowlist:
        return False
    if not (2 <= len(surface) <= 80):
        return True
    if _UNSUITABLE.search(surface):
        return True
    if _ALL_DIGIT.match(surface):
        return True
    if surface.startswith("Seznam "):
        return True
    base = etype.split(":")[0]
    if base in ("person", "organisation", "settlement", "country",
                "watercourse", "geo", "event") and surface[:1].islower():
        return True
    return False


def _strip_titles(name: str) -> str:
    """G5: strip titles/degrees from head/tail (KB2namelist.py:366-374)."""
    words = name.split(" ")
    while words and words[0] in TITLES:
        words = words[1:]
    while words and words[-1] in TITLES:
        words = words[:-1]
    return " ".join(words)


def person_variants(name: str) -> list[str]:
    """G1–G5 person surface variants.

    - G1 permutations of 2–4-word names unless a preposition like van/von
      is present (KB2namelist.py:271-280),
    - G3 initials/abbreviation family (KB2namelist.py:294-349):
      ``Johann Gottfried Bernhard Bach`` → ``J. G. B. Bach``,
      ``Johann Bach``, ``J. Bach``, ``Bach, Johann``, ``Bach, J.``,
    - G4 ``Mc`` spacing + dot-compaction (KB2namelist.py:350-364),
    - G2 saint variants (KB2namelist.py:283-290),
    - G5 title stripping.
    Returns the variant list *excluding* the input name itself.
    """
    out: set[str] = set()
    name = normalize_ws(name)
    stripped = _strip_titles(name)
    if stripped and stripped != name:
        out.add(stripped)
    base = stripped or name
    words = base.split(" ")

    # G2 saint variants
    for pref in ("Svatý ", "Sv. ", "Sv "):
        if base.startswith(pref):
            rest = base[len(pref):]
            out.update({"Svatý " + rest, "Sv. " + rest, "Sv " + rest})

    has_prep = any(w.lower() in NAME_PREPOSITIONS for w in words)
    if 2 <= len(words) <= 4 and not has_prep:
        # G1 permutations
        for perm in itertools.permutations(words):
            out.add(" ".join(perm))
        # G3 abbreviation family
        first, last = words[0], words[-1]
        mids = words[1:-1]
        if all(len(w) > 1 for w in words):
            inits = [w[0] + "." for w in words[:-1]]
            out.add(" ".join(inits + [last]))                      # J. G. B. Bach
            out.add(f"{first[0]}. {last}")                          # J. Bach
            if mids:
                out.add(f"{first} {last}")                          # Johann Bach
            out.add(f"{last}, {first}")                             # Bach, Johann
            out.add(f"{last}, {first[0]}.")                         # Bach, J.
            # G4 dot-compaction: J. G. B. Bach → J.G.B. Bach → JGB Bach
            out.add("".join(inits) + " " + last)
            out.add("".join(i[0] for i in inits) + " " + last)
    # G4 Mc spacing
    for i, w in enumerate(words):
        if w.startswith("Mc") and len(w) > 2 and w[2].isupper():
            out.add(" ".join(words[:i] + ["Mc " + w[2:]] + words[i + 1:]))
        if w == "Mc" and i + 1 < len(words):
            out.add(" ".join(words[:i] + ["Mc" + words[i + 1]] + words[i + 2:]))
    out.discard(name)
    out.discard("")
    return sorted(out)


def subnames(name: str) -> list[str]:
    """G9 fragment (subname) extraction — ``Persons.py:27-126``.

    ``Flannery O'Connor`` → {Flannery, O'Connor, Connor};
    ``Ludwig van Beethoven`` → {Ludwig, van Beethoven, Beethoven}.
    Fragments are emitted with the reference's ``N`` sentinel semantics
    (is_fragment=True in our namelist).
    """
    out: set[str] = set()
    words = normalize_ws(_strip_titles(name)).split(" ")
    i = 0
    while i < len(words):
        w = words[i]
        lw = w.lower()
        if lw in NAME_PREPOSITIONS and i + 1 < len(words):
            out.add(words[i + 1])
            out.add(w + " " + words[i + 1])
            i += 2
            continue
        if w[:1].isupper() and len(w) >= 2 and not w.endswith("."):
            out.add(w)
            if (w.startswith("O'") or w.startswith("D'")) and len(w) > 3:
                out.add(w[2:])
        i += 1
    out.discard(name)
    return sorted(out)


def settlement_variants(name: str, country: str, description: str = "") -> list[str]:
    """G6: settlement/watercourse "Name, Country" variants
    (KB2namelist.py:376-385) — gated: only when the name appears in the
    row's DESCRIPTION (``if key_inflection in description``,
    KB2namelist.py:378) and the country is not already part of the name;
    settlements pair with COUNTRY, watercourses with SOURCE_LOC (the
    caller passes the right one). ``United States→US`` applied to the
    combined string per the reference."""
    out: set[str] = set()
    name, country = normalize_ws(name), normalize_ws(country)
    if name and country and name in description and country not in name:
        combined = f"{name}, {country}"
        out.add(combined)
        out.add(combined.replace("United States", "US"))
    out.discard(name)
    return sorted(out)


def org_event_variants(name: str, etype: str) -> list[str]:
    """G7: event first-letter case variants; organisation
    Each-Word-Capitalized variant (KB2namelist.py:441-449)."""
    out: set[str] = set()
    name = normalize_ws(name)
    if not name:
        return []
    if etype == "event":
        out.add(name[0].upper() + name[1:])
        out.add(name[0].lower() + name[1:])
    elif etype == "organisation":
        out.add(" ".join(w[:1].upper() + w[1:] if w else w for w in name.split(" ")))
    out.discard(name)
    return sorted(out)


def nationality_variants(nat: str) -> list[str]:
    """P7: 4 variants per nationality (±``ý`` suffix, ±lowercase) —
    ``natToKB.py:12-30``."""
    forms = {nat, nat + "ý"} if not nat.endswith("ý") else {nat, nat[:-1]}
    return sorted({v for f in forms for v in (f, f.lower(), f[:1].upper() + f[1:])})


def czech_inflections(name: str, gender: str = "",
                      vocative: bool = False) -> list[str]:
    """G8: Czech oblique-case forms of a person name — the rule-based
    declension generator (:mod:`kglinker.kb.czech_morph`), the from-scratch
    counterpart of the reference's namegen grammar system
    (``figa/make_automat/czechnames/namegen.py``, invoked from
    ``create_cedar.sh:136-142``). ``gender`` ∈ {M, F, ''} — empty guesses
    like namegen does when the kind column is omitted. ``vocative=True``
    adds the vocative (namegen emits it; opt-in here — the namelist
    default keeps the surface set byte-stable, r5)."""
    from kglinker.kb.czech_morph import czech_name_inflections
    return czech_name_inflections(normalize_ws(name), gender, vocative)

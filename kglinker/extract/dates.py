"""Date / interval extraction (SURVEY §2.5 M8) — full reference pattern set.

Port-of-semantics of ``/root/reference/dates.py``:

- ONE combined alternation, intervals first (``dates.py:254-283``): the
  leftmost match wins and an interval beats a bare date at the same start,
  exactly like the reference's single ``allPatternsOR`` scan
  (``dates.py:369``).
- Intervals are split on the interval delimiter and each side parsed as a
  single date (``dates.py:377-385``); the delimiter set is the unicode
  dash family plus ``" do "`` (``long_interval_delim``, ``dates.py:241``)
  — we add ``" to "`` since this engine also targets English transcripts.
- A match that *fully* matches one of the "unsure" forms gets
  confidence 80 (``allUnsureDatesOR``, ``dates.py:288-298``): slash/dash
  d-m-y, dotted d.m.y, ``1694-99``, year–year intervals, bare years.
- Month names: Czech genitive+nominative (``mnt2int``, ``dates.py:225``)
  plus English full+abbreviated names — the reference handles English via
  ``dateutil.parser`` fallback (``dates.py:311-339``); we fold them into
  the month table instead (no dateutil dependency in executors).
- ISO rendering with zero-padded unknown components — ``1920`` →
  ``1920-00-00`` (``ISO_date.__str__``, ``dates.py:39-48``); intervals
  render ``ISO--ISO`` and stay ONE mention by default (the engine's
  FIXTURES.md §4 contract); ``split_interval=True`` reproduces the
  reference's default two-date split (``Date.split_interval``,
  ``dates.py:150-164``).
- Deliberate deviation: years outside [1000, 2100] are rejected (the
  reference accepts any 3-4 digit number as a year, which floods real
  transcripts with quantities/ids).

Inline examples covered (reference pattern comments, dates.py:256-279):
``June. 6, 2005 – Sept. 12, 2007``, ``20 March, 1856 – 10 January 1941``,
``1856 - 20 March, 1856``, ``Mar. 30, 1853 - 1888``,
``March, 1856 - 1941``, ``March, 1856 – January 1941``,
``1856 – January 1941``, ``1740 - 10 February 1808``,
``12.11.1694-13.11.1694``, ``1693-1734``, ``1693 to 1734``,
``lis. 12, 2007``, ``1999-12-28``, ``2010 listopad 16``, ``12-11-1694``,
``12/11/1694``, ``12.11.1694``, ``12. 11. 1694``, ``16. listopadu 2003``,
``November 2003``, ``1694``, ``1690s``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from kglinker.data.wordlists import CZECH_MONTHS

__all__ = ["DateMatch", "find_dates", "iso", "without_zeros"]

ENGLISH_MONTHS = {
    "january": 1, "jan": 1, "february": 2, "feb": 2, "march": 3, "mar": 3,
    "april": 4, "apr": 4, "may": 5, "june": 6, "jun": 6, "july": 7, "jul": 7,
    "august": 8, "aug": 8, "september": 9, "sept": 9, "sep": 9,
    "october": 10, "oct": 10, "november": 11, "nov": 11,
    "december": 12, "dec": 12,
}
# Czech 3-letter abbreviations (the reference's month regexes make the
# suffix optional — "lis(?:topadu|topad)?", dates.py:205-220)
CZECH_ABBR = {"led": 1, "úno": 2, "bře": 3, "dub": 4, "kvě": 5, "čer": 6,
              "čec": 7, "srp": 8, "zář": 9, "ríj": 10, "říj": 10, "lis": 11,
              "pro": 12}
MONTH2NUM = {**{k.lower(): v for k, v in CZECH_MONTHS.items()},
             **CZECH_ABBR, **ENGLISH_MONTHS}
_M = "(?:%s)" % "|".join(
    re.escape(m) for m in sorted(MONTH2NUM, key=len, reverse=True))

_DASH = r"\-‐‑‒–—―⁃"   # dates.py:203; ASCII dash escaped — it must stay a
# literal inside every character class it is interpolated into, never the
# start of an accidental range
_D = r"\d\d?"
_Y = r"\d{3,4}"
_Y4 = r"\d{4}"
_NDELIM = f"[/_\\\\{_DASH}]"                             # numeric d-m-y delim
# interval delimiter: dash family, " do " (reference), " to " (our addition)
_IDELIM = f"(?:\\s*[{_DASH}]\\s*|\\s+(?:do|to)\\s+)"

# single-date endpoint forms usable inside an interval (reference interval
# patterns, dates.py:256-264: textual m-d-y / d-m-y / m-y, dotted, year)
_IEND = (f"(?:{_M}[.]?\\s+{_D},\\s+{_Y}"          # June. 6, 2005
         f"|{_D}[.]?\\s+{_M}[.]?,?\\s+{_Y}"        # 20 March, 1856
         f"|{_D}[.]\\s*{_D}[.]\\s*{_Y}"            # 12. 11. 1694
         f"|{_M}[.]?,?\\s+{_Y4}"                   # March, 1856
         f"|{_Y4})")                                # 1856

# priority-ordered alternation: intervals, then dates (dates.py:254-283)
_ALTS = [
    f"{_IEND}{_IDELIM}{_IEND}",                    # any interval combination
    f"{_M}[.]?\\s+{_D},\\s+{_Y}",                  # lis. 12, 2007
    f"{_Y4}[{_DASH}]\\d\\d[{_DASH}]\\d\\d",        # 1999-12-28
    f"{_Y4}[{_DASH}]?\\s*{_M}[{_DASH}]?\\s*\\d\\d",  # 2010 listopad 16
    f"{_D}{_NDELIM}{_D}{_NDELIM}{_Y}",             # 12-11-1694, 12/11/1694
    f"{_D}[.]\\s*{_D}[.]\\s*{_Y}",                 # 12.11.1694, 12. 11. 1694
    f"{_D}[.]?\\s+{_M}[.]?,?\\s+{_Y}",             # 16. listopadu 2003
    f"{_M}[.]?\\s+{_Y4}",                          # November 2003
    f"{_Y4}[s]?",                                  # 1694, 1690s
]
# start guard: word chars, delim chars, and '.' (decimal false positives —
# quality deviation from the reference's not_start_delim, dates.py:248);
# end guard: the reference's not_end_delim (?![$/_%]\w) + \W end_delim —
# NO dash in the class so "1694-99" still yields the year "1694"
_ALL = re.compile(
    "(?i)(?<![\\w$/%_.{0}])((?:{1}))(?![$/_%]?\\w)".format(
        _DASH, ")|(?:".join(_ALTS)))

# unsure forms → confidence 80 (dates.py:288-298); anchored full-match
_UNSURE = re.compile(
    "(?i)^(?:(?:{0}))$".format(")|(?:".join([
        f"{_D}{_NDELIM}{_D}{_NDELIM}{_Y}",
        f"{_D}[.]\\s*{_D}[.]\\s*{_Y}",
        f"{_Y4}[{_DASH}]\\d\\d",
        f"{_Y4}{_IDELIM}{_Y4}",
        _Y4,
    ])))

_SPLIT_IDELIM = re.compile(f"(?i){_IDELIM}")
_DASH_CHARS = re.compile(f"[{_DASH}]")


@dataclass(frozen=True)
class DateMatch:
    start: int
    end: int
    kind: str       # 'date' | 'interval'
    resolved: str   # ISO (zero-padded) or 'ISO--ISO'
    confidence: int  # 100 certain, 80 unsure formats (dates.py:395-398)


def iso(y: int, m: int = 0, d: int = 0) -> str:
    """Zero-padded ISO with 00 for unknown parts (dates.py:50-64)."""
    return f"{y:04d}-{m:02d}-{d:02d}"


def without_zeros(d: str | None) -> str:
    """showWithoutZeros (reference dates.py:50-64): '1920-00-00' → '1920'."""
    parts = (d or "").split("-")
    while parts and parts[-1] == "00":
        parts.pop()
    return "-".join(parts)


def _valid(y: int, m: int, d: int) -> bool:
    return 1000 <= y <= 2100 and 0 <= m <= 12 and 0 <= d <= 31


# endpoint parsers, most specific first (mirrors get_date, dates.py:311-339)
_P_MDY = re.compile(f"(?i)^({_M})[.]?\\s+({_D}),\\s+({_Y})$")
_P_ISO = re.compile(f"^({_Y4})[{_DASH}](\\d\\d)[{_DASH}](\\d\\d)$")
_P_YMD = re.compile(f"(?i)^({_Y4})[{_DASH}]?\\s*({_M})[{_DASH}]?\\s*(\\d\\d)$")
_P_NUM = re.compile(f"^({_D}){_NDELIM}({_D}){_NDELIM}({_Y})$")
_P_DOT = re.compile(f"^({_D})[.]\\s*({_D})[.]\\s*({_Y})$")
_P_DMY = re.compile(f"(?i)^({_D})[.]?\\s+({_M})[.]?,?\\s+({_Y})$")
_P_MY = re.compile(f"(?i)^({_M})[.]?,?\\s+({_Y4})$")
_P_YR = re.compile(f"^({_Y4})(s)?$")


def _month(tok: str) -> int:
    return MONTH2NUM[tok.lower()]


def _parse_one(s: str) -> tuple[int, int, int] | None:
    """(y, m, d) with 0 = unknown component, or None if invalid."""
    m = _P_MDY.match(s)
    if m:
        y, mo, d = int(m.group(3)), _month(m.group(1)), int(m.group(2))
        return (y, mo, d) if _valid(y, mo, d) and 1 <= d <= 31 else None
    m = _P_ISO.match(s)
    if m:
        y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
        return (y, mo, d) if _valid(y, mo, d) and 1 <= mo <= 12 and 1 <= d <= 31 else None
    m = _P_YMD.match(s)
    if m:
        y, mo, d = int(m.group(1)), _month(m.group(2)), int(m.group(3))
        return (y, mo, d) if _valid(y, mo, d) and 1 <= d <= 31 else None
    m = _P_NUM.match(s) or _P_DOT.match(s)
    if m:
        d, mo, y = int(m.group(1)), int(m.group(2)), int(m.group(3))
        return (y, mo, d) if (_valid(y, mo, d) and 1 <= mo <= 12
                              and 1 <= d <= 31) else None
    m = _P_DMY.match(s)
    if m:
        d, mo, y = int(m.group(1)), _month(m.group(2)), int(m.group(3))
        return (y, mo, d) if _valid(y, mo, d) and 1 <= d <= 31 else None
    m = _P_MY.match(s)
    if m:
        mo, y = _month(m.group(1)), int(m.group(2))
        return (y, mo, 0) if _valid(y, mo, 0) else None
    m = _P_YR.match(s)
    if m:
        y = int(m.group(1))
        return (y, 0, 0) if _valid(y, 0, 0) else None
    return None


_HAS_DIGIT = re.compile(r"\d")


def find_dates(text: str, split_interval: bool = False) -> list[DateMatch]:
    """Non-overlapping date/interval matches in position order.

    ``split_interval=True`` reproduces the reference's default behavior
    (``recognize(..., split_interval=True)``, ner_cz.py:1542) of emitting
    an interval as two date mentions with per-side offsets; the engine's
    default keeps one interval mention (FIXTURES.md §4 contract).
    """
    if _HAS_DIGIT.search(text) is None:  # cheap reject: no digits, no dates
        return []
    out: list[DateMatch] = []
    for m in _ALL.finditer(text):
        s, e = m.span(1)
        string = m.group(1)
        confidence = 80 if _UNSURE.match(string) else 100
        is_interval = _SPLIT_IDELIM.search(string) is not None
        # >1 dash ⇒ not an interval (ISO dates, dates.py:374-375)
        if len(_DASH_CHARS.findall(string)) > 1:
            is_interval = False
        if is_interval:
            parts = _SPLIT_IDELIM.split(string, maxsplit=1)
            if len(parts) != 2:
                continue
            a, b = _parse_one(parts[0]), _parse_one(parts[1])
            if a is None or b is None:
                continue
            if split_interval:
                off_b = s + len(string) - len(parts[1])
                out.append(DateMatch(s, s + len(parts[0]), "date",
                                     iso(*a), confidence))
                out.append(DateMatch(off_b, e, "date", iso(*b), confidence))
            else:
                out.append(DateMatch(s, e, "interval",
                                     f"{iso(*a)}--{iso(*b)}", confidence))
            continue
        one = _parse_one(string)
        if one is None:
            continue
        out.append(DateMatch(s, e, "date", iso(*one), confidence))
    return out

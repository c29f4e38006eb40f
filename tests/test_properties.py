"""Property-based tests (SURVEY §5): randomized inputs, structural
invariants. Complements the deterministic goldens."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from kglinker.extract.dates import find_dates
from kglinker.extract.matcher import annotate_conversation

NOISE = ["ran", "fine", "later", "ok,", "the", "12x", "—", "(note)", "a"]
SURFACES = ["Praha", "T. G. Masaryk", "Jan Novák", "Apache Spark",
            "Washington", "ona", "Novák", "1920", "12.11.1694"]


@st.composite
def texts(draw):
    words = draw(st.lists(st.sampled_from(NOISE + SURFACES),
                          min_size=0, max_size=30))
    return " ".join(words)


@settings(max_examples=60, deadline=None)
@given(texts())
def test_match_offsets_and_nonoverlap(text):
    art = test_match_offsets_and_nonoverlap.art
    ms = art.automaton.find_matches(text)
    prev_end = -1
    for m in ms:
        assert text[m.start:m.end] == m.surface
        assert m.start >= prev_end          # non-overlapping, sorted
        prev_end = m.end
        # token-aligned
        assert m.start == 0 or not text[m.start - 1].isalnum()
        assert m.end == len(text) or not text[m.end].isalnum()


@settings(max_examples=40, deadline=None)
@given(st.lists(texts(), min_size=1, max_size=6))
def test_annotation_deterministic_and_valid(turn_texts):
    art = test_annotation_deterministic_and_valid.art
    turns = list(enumerate(turn_texts))
    r1 = annotate_conversation("c", turns, art)
    r2 = annotate_conversation("c", turns, art)
    assert r1 == r2                          # pure function
    for r in r1:
        t = turn_texts[r.turn_idx]
        assert t[r.start:r.end] == r.surface
        assert r.mention_type in ("kb", "date", "interval", "coref")
        if r.mention_type in ("kb", "coref"):
            assert r.kb_id in art.kb_meta


@settings(max_examples=80, deadline=None)
@given(st.integers(1000, 2100), st.integers(1, 12), st.integers(1, 28))
def test_date_roundtrip(y, m, d):
    ds = find_dates(f"narozen {d}.{m}.{y} doma")
    assert len(ds) == 1
    assert ds[0].resolved == f"{y:04d}-{m:02d}-{d:02d}"


import pytest  # noqa: E402


@pytest.fixture(autouse=True)
def _bind_artifacts(artifacts):
    """Bind the session-scoped artifacts into the hypothesis tests
    (hypothesis can't take pytest fixtures directly)."""
    test_match_offsets_and_nonoverlap.art = artifacts
    test_annotation_deterministic_and_valid.art = artifacts


# surfaces and texts over a small token pool: "New" heads most surfaces
# (a hot first token), and separators include "_" and "-", which end a
# token without being whitespace
_POOL = ["New", "New", "New", "York", "Yorker", "City", "Hall", "Praha",
         "Ústí", "n", "1920"]
_SEPS = [" ", " ", "-", ". ", "_", "/"]


@st.composite
def _phrases(draw, max_tokens):
    toks = draw(st.lists(st.sampled_from(_POOL), min_size=1,
                         max_size=max_tokens))
    out = toks[0]
    for t in toks[1:]:
        out += draw(st.sampled_from(_SEPS)) + t
    return out


@settings(max_examples=150, deadline=None)
@given(st.dictionaries(_phrases(4), st.tuples(
           st.tuples(st.integers(1, 9)), st.booleans()),
           min_size=1, max_size=40),
       st.lists(st.one_of(_phrases(6), st.sampled_from(["x", ",", "Newx"])),
                max_size=12))
def test_find_matches_equals_oracle_scan(entries, words):
    """The engine scan equals the independent oracle's startswith probe
    scan on random dictionaries that share a hot first token."""
    from kglinker.automaton.build import Automaton
    from kglinker.oracle_matcher import OracleLinker
    text = " ".join(words)
    oracle = OracleLinker([], [
        dict(surface=k, kb_ids=list(ids), is_fragment=frag)
        for k, (ids, frag) in entries.items()], [])
    got = [(m.start, m.end, m.surface, m.kb_ids, m.is_fragment)
           for m in Automaton(entries).find_matches(text)]
    assert got == oracle._scan(text)


def _brute_force_scan(entries: dict, text: str) -> list[tuple]:
    """Leftmost-longest non-overlapping matches by trying every surface
    at every token start."""
    out, pos, n = [], 0, len(text)
    for s in range(n):
        if s < pos or not text[s].isalnum() \
                or (s > 0 and text[s - 1].isalnum()):
            continue
        hits = [k for k in entries if text.startswith(k, s)
                and (s + len(k) == n or not text[s + len(k)].isalnum())]
        if hits:
            k = max(hits, key=len)
            out.append((s, s + len(k), k) + entries[k])
            pos = s + len(k)
    return out


def _hot_token_entries() -> dict:
    """12,000 surfaces headed by "New", plus nested prefixes."""
    entries = {f"New Town {i:05d}": ((i,), False) for i in range(12000)}
    for i, k in enumerate(["New", "New York", "New York City",
                           "New York City Hall", "New Town"]):
        entries[k] = ((20000 + i,), i == 0)
    return entries


def _uri_entries() -> dict:
    """Hundreds of URIs share the first token "https", and a prefix URI
    must not shadow a longer one."""
    entries = {f"https://w.example/E{i:04d}": ((i,), False)
               for i in range(300)}
    entries["https://w.example/E0007/extra"] = ((999,), False)
    return entries


@pytest.mark.parametrize("entries, text, surfaces", [
    (_hot_token_entries(),
     "New York City Hall, New York Cityx, New Town 00042 and New Town "
     "000421 or New Town 11999; New-York New Yorker New",
     ["New York City Hall", "New York", "New Town 00042", "New Town",
      "New Town 11999", "New", "New", "New"]),
    (_uri_entries(),
     "viz https://w.example/E0007/extra a https://w.example/E0123 . "
     "https://w.example/E01234 https://w.example/E0299/",
     ["https://w.example/E0007/extra", "https://w.example/E0123",
      "https://w.example/E0299"]),
], ids=["hot_first_token", "https_uris"])
def test_hot_first_token_matches_brute_force(entries, text, surfaces):
    from kglinker.automaton.build import Automaton
    got = [(m.start, m.end, m.surface, m.kb_ids, m.is_fragment)
           for m in Automaton(entries).find_matches(text)]
    assert got == _brute_force_scan(entries, text)
    assert [g[2] for g in got] == surfaces

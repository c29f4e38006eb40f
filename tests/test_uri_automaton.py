"""URI automaton variant (figa ``-u``, create_cedar.sh:43-45,149-150 /
KB2namelist.py:483-504 process_uri) — r2 verdict demand #6: a URI-keyed
automaton/lookup surface mirroring the lowercase/accent variants."""

from __future__ import annotations

import pytest

from kglinker.automaton.build import KB_PROJECTION_COLS, build_artifacts
from kglinker.kb.names import build_namelist, build_subname_map, build_uri_namelist


@pytest.fixture(scope="module")
def uri_artifacts(spark, kb_scored):
    nl = build_namelist(kb_scored)
    sub = build_subname_map(kb_scored)
    uri = build_uri_namelist(kb_scored)
    return build_artifacts(
        [r.asDict() for r in kb_scored.select(*KB_PROJECTION_COLS).collect()],
        [r.asDict() for r in nl.collect()],
        [r.asDict() for r in sub.collect()],
        uri_rows=[r.asDict() for r in uri.collect()])


def test_uri_namelist_shape(spark, kb_scored):
    rows = {r["surface"]: r for r in build_uri_namelist(kb_scored).collect()}
    # every non-empty wiki_url is a key, mapped to its owning row, no fragments
    kb = {r["kb_id"]: r["wiki_url"] for r in
          kb_scored.select("kb_id", "wiki_url").collect() if r["wiki_url"]}
    for kb_id, url in kb.items():
        assert url in rows, url
        assert kb_id in rows[url]["kb_ids"]
        assert rows[url]["is_fragment"] is False


def test_uri_lookup(uri_artifacts):
    ua = uri_artifacts.uri_automaton
    got = ua.get("https://wiki.example/Tomas_Garrigue_Masaryk")
    assert got is not None and got[0] == (1,)
    # default artifacts don't build it
    assert uri_artifacts.automaton.get("https://wiki.example/Tomas_Garrigue_Masaryk") is None


def test_uri_mention_links_in_text(uri_artifacts):
    from kglinker.extract.matcher import annotate_conversation
    text = ("viz https://wiki.example/Petr_Novak_singer a "
            "https://wiki.example/Prague pro detaily .")
    rows = annotate_conversation("c0", [(0, text)], uri_artifacts,
                                 uri_matching=True)
    kb_rows = {(r.surface, r.kb_id) for r in rows if r.mention_type == "kb"}
    assert ("https://wiki.example/Petr_Novak_singer", 7) in kb_rows
    assert ("https://wiki.example/Prague", 12) in kb_rows
    # without the flag the URI is not a mention (separate automaton, like
    # the reference's separate figa -u binary run)
    base = annotate_conversation("c0", [(0, text)], uri_artifacts)
    assert not any(r.surface.startswith("https://") for r in base)


def test_uri_hit_wins_over_covered_name_match(uri_artifacts):
    # "Prague" inside the URL must not surface as its own mention when the
    # URI automaton claims the whole span
    from kglinker.extract.matcher import annotate_conversation
    text = "odkaz https://wiki.example/Prague je tu ."
    rows = annotate_conversation("c0", [(0, text)], uri_artifacts,
                                 uri_matching=True)
    surfaces = [r.surface for r in rows if r.mention_type == "kb"]
    assert surfaces == ["https://wiki.example/Prague"]


def test_flags_plumb_through_distributed_stage(spark, kb_scored):
    """The figa opt-in flags ride through the mapInArrow stage, not just
    the single-conversation core."""
    from kglinker.extract.stage import extract_mentions
    from kglinker.kb.names import (build_namelist, build_subname_map,
                                   build_uri_namelist)
    from kglinker.automaton.build import KB_PROJECTION_COLS, build_artifacts
    nl = build_namelist(kb_scored)
    sub = build_subname_map(kb_scored)
    uri = build_uri_namelist(kb_scored)
    art = build_artifacts(
        [r.asDict() for r in kb_scored.select(*KB_PROJECTION_COLS).collect()],
        [r.asDict() for r in nl.collect()],
        [r.asDict() for r in sub.collect()],
        uri_rows=[r.asDict() for r in uri.collect()])
    bc = spark.sparkContext.broadcast(art)
    tdf = spark.createDataFrame(
        [("c1", 0, "viz https://wiki.example/Prague zde .")],
        "conv_id string, turn_idx int, text string")
    got = extract_mentions(tdf, bc, num_partitions=2,
                           uri_matching=True).collect()
    assert [(r.surface, r.kb_id) for r in got if r.mention_type == "kb"] == [
        ("https://wiki.example/Prague", 12)]


def test_uri_probe_fallback_at_scale(spark):
    """Hundreds of URIs share the first token ("https") → the scan tries
    that token's distinct surface lengths longest first, so a prefix URI
    must not shadow a longer one."""
    from kglinker.automaton.build import Automaton
    entries = {f"https://w.example/E{i:04d}": ((i,), False)
               for i in range(300)}
    entries["https://w.example/E0007/extra"] = ((999,), False)
    a = Automaton(entries)
    text = "viz https://w.example/E0007/extra a https://w.example/E0123 ."
    ms = a.find_matches(text)
    assert [(m.surface, m.kb_ids) for m in ms] == [
        ("https://w.example/E0007/extra", (999,)),
        ("https://w.example/E0123", (123,))]

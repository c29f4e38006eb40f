"""KB-snapshot compile: the plan shape and job count of scoring, the
namelist and subname builds and the canonical map, and their parity with
the plain-Python oracles on a KB larger than the 29-row fixture and on
names that need P3/P4 normalization, the K1 match keys, and the G10
bare-surname thresholds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kglinker.data.kb_fixture import KB_COLUMNS, KB_ROWS, KB_SCHEMA, kb_df
from kglinker.graph.canonicalize import (_surface_key, alias_match_edges,
                                         canonical_map)
from kglinker.jobs.kb_scale_probe import _rows as synthetic_kb_rows
from kglinker.kb.expand import strip_name_tags
from kglinker.kb.names import build_namelist, build_subname_map
from kglinker.kb.scoring import score_kb
from kglinker.oracle import oracle_canonical_map
from kglinker.oracle_kb import (oracle_alias_edges, oracle_namelist,
                                oracle_subnames)

N_SYNTHETIC = 300
ID_OFFSET = 1_000_000


def _final_plan(df) -> str:
    """The executed plan's own operators: the adaptive final plan, with the
    lineage under an ``InMemoryRelation`` (a cached input's plan) elided."""
    own, cached_at = [], None
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        at = len(line) - len(line.lstrip(" :|+-"))
        if cached_at is not None and at > cached_at:
            continue
        cached_at = at if "InMemoryRelation" in line else None
        own.append(line)
    plan = "\n".join(own)
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return plan


def test_namelist_one_python_map_node(kb_scored):
    """P1–P4, G1–G10 and the P2 filter cross the Python boundary once: one
    MapInArrow node, no per-generator ArrowEvalPython nodes."""
    nl = build_namelist(kb_scored)
    nl.collect()
    plan = _final_plan(nl)
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_subname_map_one_python_map_node(kb_scored):
    """The G9 subname map crosses the Python boundary once, as a
    MapInArrow over the person rows: no pandas UDF node."""
    sub = build_subname_map(kb_scored)
    sub.collect()
    plan = _final_plan(sub)
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_namelist_no_join_no_python_fed_scan(kb_scored):
    """Confidence rides out of the surface pass, so the A2 ordering needs no
    join back to the KB, and the G11/P7 constant rows are a local table,
    not a Python-fed RDD scan with Python tasks of its own."""
    nl = build_namelist(kb_scored)
    nl.collect()
    plan = _final_plan(nl)
    assert "Join" not in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan


def test_namelist_constant_rows_one_task(spark, kb_scored):
    """The 258 G11/P7 rows are one partition: the namelist's surface stage
    runs one task per scored-KB partition plus one, not one per core for
    the constant rows."""
    sc, st = spark.sparkContext, spark.sparkContext.statusTracker()
    sc.setJobGroup("namelist-tasks", "namelist on the fixture")
    try:
        build_namelist(kb_scored).collect()
    finally:
        sc.setJobGroup(None, None)
    tasks = [st.getStageInfo(s).numTasks
             for j in st.getJobIdsForGroup("namelist-tasks")
             for s in st.getJobInfo(j).stageIds]
    assert max(tasks) == kb_scored.rdd.getNumPartitions() + 1, tasks


def test_score_kb_no_window(spark):
    """The per-type maxima are a broadcast aggregate, not a window that
    hash-partitions every KB row by type."""
    scored = score_kb(kb_df(spark))
    scored.collect()
    plan = _final_plan(scored)
    assert "Window" not in plan, plan


def test_kb_names_job_count(spark, kb_scored):
    """Namelist and subname map cached and counted, as a KB snapshot
    compile does: 8 Spark jobs on the fixture."""
    sc = spark.sparkContext
    sc.setJobGroup("kb-names-jobs", "namelist + subname map on the fixture")
    nl = build_namelist(kb_scored).cache()
    sub = build_subname_map(kb_scored).cache()
    try:
        nl.count()
        sub.count()
    finally:
        sc.setJobGroup(None, None)
        nl.unpersist()
        sub.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup("kb-names-jobs")
    assert len(jobs) <= 8, f"{len(jobs)} jobs for the namelist + subname map"


def test_canonical_map_job_count(spark, kb_scored):
    """One K1 index self-join gives every candidate pair, and star CC
    converges in O(log n) rounds of one checkpoint each, the fixpoint
    signature observed by the same job: 10 Spark jobs for canonical_map
    on the fixture."""
    sc = spark.sparkContext
    sc.setJobGroup("canonical-map-jobs", "canonical_map on the fixture")
    try:
        canonical_map(kb_scored).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("canonical-map-jobs")
    assert len(jobs) <= 10, f"{len(jobs)} jobs for canonical_map"


@pytest.fixture(scope="module")
def larger_kb(spark):
    rows = list(KB_ROWS) + [(r[0] + ID_OFFSET,) + tuple(r[1:])
                            for r in synthetic_kb_rows(N_SYNTHETIC)]
    scored = score_kb(spark.createDataFrame(rows, KB_SCHEMA)).cache()
    yield [dict(zip(KB_COLUMNS, r)) for r in rows], scored
    scored.unpersist()


def test_score_kb_keeps_input_partitions(spark):
    """Scoring moves no KB row: on the fixture plus 1,000 synthetic rows
    (persons are 90% of them) the scored frame has its input's partition
    count, so no Python pass downstream runs one type per core."""
    rows = list(KB_ROWS) + [(r[0] + ID_OFFSET,) + tuple(r[1:])
                            for r in synthetic_kb_rows(1000)]
    kb = spark.createDataFrame(rows, KB_SCHEMA)
    n_in = kb.rdd.getNumPartitions()
    assert n_in != int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert score_kb(kb).rdd.getNumPartitions() == n_in


def test_namelist_matches_oracle_beyond_fixture(larger_kb):
    rows, scored = larger_kb
    got = {r["surface"]: (list(r["kb_ids"]), bool(r["is_fragment"]))
           for r in build_namelist(scored).collect()}
    want = {r["surface"]: (r["kb_ids"], r["is_fragment"])
            for r in oracle_namelist(rows)}
    assert len(want) > 5000
    diff = sorted(s for s in got.keys() | want.keys()
                  if got.get(s) != want.get(s))
    assert not diff, diff[:10]


def test_canonical_map_matches_oracle_beyond_fixture(larger_kb):
    rows, scored = larger_kb
    got = {r["kb_id"]: r["canon_id"] for r in canonical_map(scored).collect()}
    assert got == oracle_canonical_map(rows)


def test_padded_names_match_oracle(spark):
    """Stray whitespace, a zero-width character or a no-break space in a
    person NAME, and a P4 word-type flag on an alias: the engine compiles
    the normalized, flag-free surfaces, like the oracle — no fragment for
    the whole name, a bare-surname entry from the last real word, no
    zero-width or flagged surface."""
    washington = KB_ROWS[1]
    padded = [(2_000_000 + i, "person", name, "", aliases, "")
              + washington[6:]
              for i, (name, aliases) in enumerate([
                  (" Madonna ", ""), ("Karel Zeman ", ""),
                  ("Bjork\u200b", ""), ("Josef\u00a0Lada", ""),
                  ("Jan Hus", "Mistr Jan#A")])]
    rows = list(KB_ROWS) + padded
    scored = score_kb(spark.createDataFrame(rows, KB_SCHEMA)).cache()
    dicts = [dict(zip(KB_COLUMNS, r)) for r in rows]
    try:
        got = {r["surface"]: (list(r["kb_ids"]), bool(r["is_fragment"]))
               for r in build_namelist(scored).collect()}
        got_sub = {r["subname"]: list(r["kb_ids"])
                   for r in build_subname_map(scored).collect()}
    finally:
        scored.unpersist()
    want = {r["surface"]: (r["kb_ids"], r["is_fragment"])
            for r in oracle_namelist(dicts)}
    want_sub = {r["subname"]: r["kb_ids"] for r in oracle_subnames(dicts)}
    diff = sorted(s for s in got.keys() | want.keys()
                  if got.get(s) != want.get(s))
    assert not diff, [(s, got.get(s), want.get(s)) for s in diff]
    assert got_sub == want_sub
    assert want["Madonna"] == ([2_000_000], False)
    assert want["Zeman"][0] == [2_000_001]
    assert "Josef Lada" in want and "Josef\u00a0Lada" not in want
    assert want["Mistr Jan"] == ([2_000_004], False)
    assert "Mistr Jan#A" not in want


def test_g10_surname_thresholds(spark):
    """G10 bare-surname direct entries: confidence ≥ 15 for fictional
    persons, ≥ 20 for the rest (KB2namelist.py:452-474). The surname is
    also a G9 fragment, so only its kb_ids tell the direct entry apart."""
    scored = spark.createDataFrame(
        [(1, "person:fictional", "Rudolf Zvonek", 17.0),
         (2, "person", "Karel Vrba", 17.0),
         (3, "person", "Petr Hromada", 20.0)],
        "kb_id long, type string, name string, confidence double"
    ).select("*", *(F.lit(None).cast("string").alias(c) for c in
                    ("aliases", "redirects", "description", "gender",
                     "country", "source_loc")))
    got = {r["surface"]: list(r["kb_ids"])
           for r in build_namelist(scored).collect()}
    assert got["Zvonek"] == [1]
    assert got["Vrba"] == []
    assert got["Hromada"] == [3]


def _person(kb_id: int, name: str, aliases: str, **attrs) -> tuple:
    """A url-less Czech person row; ``attrs`` override any column."""
    row = dict.fromkeys(KB_COLUMNS, "") | {
        "kb_id": kb_id, "type": "person", "name": name, "aliases": aliases,
        "country": "CZ", "wiki_backlinks": 1, "wiki_hits": 1, "wiki_ps": 1}
    return tuple((row | attrs)[c] for c in KB_COLUMNS)


def test_canonical_map_merges_every_match_edge(spark):
    """CC runs over every pair that reaches the threshold, not only each
    row's best candidate: row 1 shares `Jan Novák` with row 2 and `Honza
    Novák` with row 3 at equal scores, so the three are one entity."""
    rows = [_person(1, "Jan Novák", "Honza Novák"),
            _person(2, "Jan Novák", ""), _person(3, "Honza Novák", "")]
    got = {r["kb_id"]: r["canon_id"] for r in
           canonical_map(spark.createDataFrame(rows, KB_SCHEMA)).collect()}
    want = oracle_canonical_map([dict(zip(KB_COLUMNS, r)) for r in rows])
    assert got == want == {1: 1, 2: 1, 3: 1}


_WHITESPACE = [chr(c) for c in range(0x10000) if chr(c).isspace()]
_RAW_SURFACES = (
    [f"{c}Mistr{c}{c}Pavel#A{c}Hus#AE{c}" for c in _WHITESPACE]
    + ["Bjork\u200b", "\u200bMistr\u200c Pavel\u200d#A\ufeff",
       "Mistr Pavel#A", "Mistr Pavel#AE", "Mistr #1 Pavel", "Pavel#AB",
       "Pavel#AEE", "#A", "", "Praha#lang=cs", "Praha#lang=cs#ntype=nick",
       "Praha #ntype=nick#A", "Praha#ntype=nick #lang=en"])


@pytest.fixture(scope="module")
def surface_keys(spark):
    df = spark.createDataFrame([(s,) for s in _RAW_SURFACES], "raw string")
    return {r["raw"]: r["key"] for r in
            df.select("raw", _surface_key(F.col("raw")).alias("key")).collect()}


@pytest.mark.parametrize("raw", _RAW_SURFACES, ids=ascii)
def test_surface_key_is_strip_name_tags(surface_keys, raw):
    """The engine's K1 surface key is exactly the P1/P4 base surface:
    every Python whitespace character, zero-width characters, `#A`/`#AE`
    word flags and `#lang=`/`#ntype=` tags."""
    assert surface_keys[raw] == strip_name_tags(raw)


def test_flagged_alias_shares_k1_key(spark):
    """A P4 word flag is not part of a K1 key: two url-less persons with
    equal type, country and birth date, aliased `Mistr Pavel#A` and
    `Mistr Pavel`, are one K3 edge and one entity, for both oracles and
    the engine."""
    rows = list(KB_ROWS) + [
        _person(3_000_000, "Pavel Kříž", "Mistr Pavel#A",
                date_of_birth="1400-01-01"),
        _person(3_000_001, "Pavel Kuneš", "Mistr Pavel",
                date_of_birth="1400-01-01")]
    kb = spark.createDataFrame(rows, KB_SCHEMA).cache()
    dicts = [dict(zip(KB_COLUMNS, r)) for r in rows]
    try:
        edges = {(r["src"], r["dst"]) for r in alias_match_edges(kb).collect()}
        canon = {r["kb_id"]: r["canon_id"]
                 for r in canonical_map(kb).collect()}
    finally:
        kb.unpersist()
    want_edges = {(r["src"], r["dst"]) for r in oracle_alias_edges(dicts)}
    want_canon = oracle_canonical_map(dicts)
    assert (3_000_000, 3_000_001) in want_edges
    assert want_canon[3_000_001] == 3_000_000
    assert edges == want_edges
    assert canon == want_canon

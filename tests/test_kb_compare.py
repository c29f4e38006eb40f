"""Two-KB comparison & merge (reference NER/KnowBase/kb_compare.py)."""

from __future__ import annotations

from kglinker.graph.kb_compare import MatchConfig, match_two_kbs, merge_two_kbs
from kglinker.queries import _EXPECTED_DIR, _sql_kb_compare_two, q_kb_compare_two

SCHEMA = ("kb_id long, name string, aliases string, wiki_url string, "
          "country string")


def _kb(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_unique_id_precedence_and_name_weights(spark):
    kb1 = _kb(spark, [
        (1, "Prague", "Praha", "https://w/prague", "CZ"),
        (2, "Brno", "", "", "CZ"),
        (3, "Plzen", "Pilsen", "", "CZ"),
    ])
    kb2 = _kb(spark, [
        (10, "Praha", "Prague city", "https://w/prague", "Czechia"),
        (11, "Brno", "Brno city", "", "Czechia"),
        (12, "Pilsen", "Plzen", "", "Czechia"),
    ])
    got = {(r["id1"], r["id2"]): (r["weight"], r["via"])
           for r in match_two_kbs(kb1, kb2).collect()}
    assert got[(1, 10)][1] == "unique"          # shared wiki url
    assert got[(2, 11)] == (1, "name")          # one shared value 'Brno'
    assert got[(3, 12)][0] == 2                  # Plzen+Pilsen cross hits


def test_one_to_one_resolution(spark):
    # two kb1 rows both name-match the same kb2 row: only the better
    # (higher weight, then lower id) keeps it
    kb1 = _kb(spark, [
        (1, "Springfield", "Springfield IL", "", ""),
        (2, "Springfield", "", "", ""),
    ])
    kb2 = _kb(spark, [(20, "Springfield", "Springfield IL", "", "")])
    got = match_two_kbs(kb1, kb2).collect()
    assert len(got) == 1
    assert (got[0]["id1"], got[0]["id2"]) == (1, 20)   # 2 hits beats 1


def test_merge_two_kbs_fields_and_unmatched(spark):
    kb1 = _kb(spark, [
        (1, "Prague", "Praha", "https://w/prague", ""),
        (2, "OnlyInOne", "", "", "CZ"),
    ])
    kb2 = _kb(spark, [
        (10, "Praha", "Golden City", "https://w/prague", "Czechia"),
        (11, "OnlyInTwo", "", "", "DE"),
    ])
    out = {r["name"]: r for r in merge_two_kbs(kb1, kb2).collect()}
    assert len(out) == 3
    # matched: kb1 primary, kb2 fills empty country, aliases unioned
    assert out["Prague"]["country"] == "Czechia"
    assert set(out["Prague"]["aliases"].split("|")) == {"Praha", "Golden City"}
    # unmatched from both sides appended; kb2 id offset past kb1 max
    assert out["OnlyInOne"]["country"] == "CZ"
    assert out["OnlyInTwo"]["kb_id"] == 11 + 2


def test_threshold_blocks_weak_matches(spark):
    kb1 = _kb(spark, [(1, "Alpha", "Shared", "", "")])
    kb2 = _kb(spark, [(10, "Beta", "Shared", "", "")])
    cfg = MatchConfig(threshold=2)
    assert match_two_kbs(kb1, kb2, cfg).count() == 0
    assert match_two_kbs(kb1, kb2, MatchConfig(threshold=1)).count() == 1


def test_repeated_alias_counts_per_occurrence(spark):
    # every occurrence of a value is a hit: 'A' twice in kb1's aliases
    # meets kb2's name (2) and aliases (2), kb1's name meets kb2's
    # aliases (1), and 'B' meets 'B' once
    kb1 = _kb(spark, [(1, "A", "A|A|B", "", "")])
    got = match_two_kbs(kb1, _kb(spark, [(10, "A", "", "", "")])).collect()
    assert [(r["id1"], r["id2"], r["weight"]) for r in got] == [(1, 10, 3)]
    got = match_two_kbs(kb1, _kb(spark, [(10, "C", "A|B", "", "")])).collect()
    assert [(r["id1"], r["id2"], r["weight"]) for r in got] == [(1, 10, 4)]


def test_value_in_name_and_aliases_hits_both_relations(spark):
    kb1 = _kb(spark, [(1, "X", "X", "", "")])
    got = match_two_kbs(kb1, _kb(spark, [(10, "X", "", "", "")])).collect()
    assert [(r["weight"], r["via"]) for r in got] == [(2, "name")]
    got = match_two_kbs(kb1, _kb(spark, [(10, "X", "X", "", "")])).collect()
    assert [(r["weight"], r["via"]) for r in got] == [(4, "name")]


def test_single_valued_shared_alias_counts_once_in_oracle(spark):
    """The kb_compare_two oracle SQL on one source row (name `Alpha`,
    alias and redirect `Shared`): kb1 and the derived kb2 share the name
    and the alias, so oracle and engine both weigh the pair 2."""
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE src AS SELECT 1::BIGINT AS kb_id, 'Alpha' AS name, "
                "'Shared' AS aliases, 'Shared' AS redirects, '' AS wiki_url")
    sql = _sql_kb_compare_two().replace(
        f"read_parquet('{_EXPECTED_DIR}/kb_fixture.parquet')", "src")
    assert con.execute(sql).fetchall() == [(1, 101, 2, "name")]
    got = match_two_kbs(_kb(spark, [(1, "Alpha", "Shared", "", "")]),
                        _kb(spark, [(101, "Alpha", "Shared", "", "")])).collect()
    assert [tuple(r) for r in got] == [(1, 101, 2, "name")]


def test_match_two_kbs_job_count(spark):
    """One value index per KB, one kb1×kb2 join and one groupBy: 8 Spark
    jobs on the kb_compare_two gate inputs."""
    df = q_kb_compare_two(spark, "")
    sc = spark.sparkContext
    sc.setJobGroup("match-two-kbs-jobs", "match_two_kbs on the gate inputs")
    try:
        assert len(df.collect()) == 28
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("match-two-kbs-jobs")
    assert len(jobs) <= 8, f"{len(jobs)} jobs for match_two_kbs"

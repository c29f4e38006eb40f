"""KB-snapshot compile: the plan shape of the namelist build and the
canonical map, and their parity with the plain-Python oracles on a KB
larger than the 29-row fixture."""

from __future__ import annotations

import pytest

from kglinker.data.kb_fixture import KB_COLUMNS, KB_ROWS, KB_SCHEMA
from kglinker.graph.canonicalize import canonical_map
from kglinker.jobs.kb_scale_probe import _rows as synthetic_kb_rows
from kglinker.kb.names import build_namelist
from kglinker.kb.scoring import score_kb
from kglinker.oracle import oracle_canonical_map
from kglinker.oracle_kb import oracle_namelist

N_SYNTHETIC = 300
ID_OFFSET = 1_000_000


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return plan


def test_namelist_one_python_map_node(kb_scored):
    """G1–G9 and the P2 filter cross the Python boundary once: one
    MapInArrow node, no per-generator ArrowEvalPython nodes."""
    nl = build_namelist(kb_scored)
    nl.collect()
    plan = _final_plan(nl)
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_canonical_map_job_count(spark, kb_scored):
    """Star CC converges in O(log n) rounds; min-label propagation ran
    46-48 Spark jobs for canonical_map on the fixture."""
    sc = spark.sparkContext
    sc.setJobGroup("canonical-map-jobs", "canonical_map on the fixture")
    try:
        canonical_map(kb_scored).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("canonical-map-jobs")
    assert len(jobs) <= 36, f"{len(jobs)} jobs for canonical_map"


@pytest.fixture(scope="module")
def larger_kb(spark):
    rows = list(KB_ROWS) + [(r[0] + ID_OFFSET,) + tuple(r[1:])
                            for r in synthetic_kb_rows(N_SYNTHETIC)]
    scored = score_kb(spark.createDataFrame(rows, KB_SCHEMA)).cache()
    yield [dict(zip(KB_COLUMNS, r)) for r in rows], scored
    scored.unpersist()


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

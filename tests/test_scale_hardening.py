"""Scale-hardening regressions (r2): corpus-scale connected components and
the single-scan lineage checkpointer."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from kglinker.graph.canonicalize import connected_components_star


def test_cc_million_edge_graph(spark):
    """CC over a 10^6-edge synthetic near-dup pair graph (100k star
    components + inter-star chains) completes within budget and labels
    correctly — the dedup_clusters scale path."""
    n = 1_000_000
    # stars: node i → hub (i - i%10); the 10 hubs inside each 100-node
    # block are chained → 10k components of exactly 100 nodes, hub-chain
    # diameter ~11 (exercises multi-round convergence)
    stars = spark.range(n).select(
        F.col("id").alias("src"), (F.col("id") - F.col("id") % 10).alias("dst"))
    chains = (spark.range(n // 10)
              .filter(F.col("id") % 10 != 9)
              .select((F.col("id") * 10).alias("src"),
                      (F.col("id") * 10 + 10).alias("dst")))
    edges = stars.union(chains)
    t0 = time.time()
    cc = connected_components_star(edges)
    got = (cc.groupBy("comp").count()
           .agg(F.count(F.lit(1)).alias("n_comps"),
                F.max("count").alias("max_size"),
                F.min("count").alias("min_size")).collect()[0])
    wall = time.time() - t0
    assert got["n_comps"] == n // 100
    assert got["max_size"] == got["min_size"] == 100
    assert wall < 120, f"CC too slow for 1M edges: {wall:.0f}s"


def test_checkpointer_single_job_per_run(spark, tmp_path):
    """The r1 checkpointer ran O(n_buckets) full-input scans (filter +
    count + write + readback per bucket). The r2 rewrite must process ALL
    pending buckets in one scan+write pass: the whole run() call may
    launch only a handful of Spark jobs, independent of n_buckets."""
    from kglinker.runtime.checkpoint import LineageCheckpointer

    t = (spark.range(2000)
         .select(F.concat(F.lit("c"), (F.col("id") / 5).cast("int").cast("string"))
                 .alias("conv_id"),
                 (F.col("id") % 5).cast("int").alias("turn_idx"),
                 F.lit("Marie Curie visited Praha .").alias("text")))
    ck = LineageCheckpointer(str(tmp_path / "out"), str(tmp_path / "lin"),
                             n_buckets=16)
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-single-scan", "checkpointer run")
    try:
        processed = ck.run(t, lambda part: part.select(
            "conv_id", "turn_idx", F.length("text").alias("n_chars")))
    finally:
        sc.setJobGroup(None, None)
    assert sorted(processed) == list(range(16))
    jobs = sc.statusTracker().getJobIdsForGroup("ckpt-single-scan")
    assert len(jobs) <= 4, (
        f"{len(jobs)} jobs for 16 buckets — per-bucket scanning is back?")
    # lineage metrics: per-bucket counts collected during the same pass
    recs = {r["bucket"]: r for r in ck.lineage_records()}
    out = ck.read_output(spark)
    per_bucket = {r["bucket"]: r["count"]
                  for r in out.groupBy("bucket").count().collect()}
    assert sum(r["n_turns"] for r in recs.values()) == 2000
    for b, rec in recs.items():
        assert rec["n_rows_out"] == per_bucket.get(b, 0)


def test_star_cc_equivalent_to_union_find(spark):
    """large-star/small-star must produce the same components as a
    plain-Python union-find on a deterministic random-ish graph."""
    edges = (spark.range(3000)
             .select((F.xxhash64("id") % 500).alias("src"),
                     (F.xxhash64(F.col("id") + 1) % 500).alias("dst"))
             .select(F.abs("src").alias("src"), F.abs("dst").alias("dst"))
             .filter(F.col("src") != F.col("dst")))
    parent: dict[int, int] = {}

    def find(v: int) -> int:
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for r in edges.collect():
        a, b = find(r["src"]), find(r["dst"])
        parent[max(a, b)] = min(a, b)
    want = {v: find(v) for v in list(parent)}
    got = {r["node"]: r["comp"]
           for r in connected_components_star(edges, num_partitions=8).collect()}
    assert got == want and len(got) > 100


def test_star_cc_long_path_converges_fast(spark):
    """A 2000-node path has diameter 2000: min-label would need ~2000
    rounds (it would NOT converge within its max_iter); the star
    algorithm collapses it in O(log n) rounds."""
    path = spark.range(1999).select(F.col("id").alias("src"),
                                    (F.col("id") + 1).alias("dst"))
    cc = connected_components_star(path, max_iter=20, num_partitions=8)
    got = cc.agg(F.countDistinct("comp").alias("c"),
                 F.count(F.lit(1)).alias("n")).collect()[0]
    assert got["c"] == 1 and got["n"] == 2000
    assert {r["comp"] for r in cc.collect()} == {0}

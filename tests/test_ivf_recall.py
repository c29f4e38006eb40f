"""IVF quality evidence: k-means-refined centroids recover clustered
structure that the seed centroids (first-k vectors) miss — recall@k vs
brute force improves with refinement on a deterministically clustered
corpus."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from kglinker.ops import similarity
from kglinker.ops.similarity import cosine_topk, ivf_fit, ivf_topk

DIM = 16
N_CLUSTERS = 6
PER_CLUSTER = 40


def _vec(cluster: int, i: int) -> list[float]:
    """Deterministic vector near its cluster center (no RNG)."""
    def h(tag: str) -> float:
        d = hashlib.md5(f"{tag}".encode()).hexdigest()
        return int(d[:8], 16) / float(0xFFFFFFFF) - 0.5
    center = [h(f"c{cluster}:{d}") * 4 for d in range(DIM)]
    return [center[d] + h(f"v{cluster}:{i}:{d}") * 0.3 for d in range(DIM)]


def _emb(spark):
    rows = []
    vid = 0
    # interleave clusters so the first-k seed vectors all land in
    # DIFFERENT clusters less often (stressing the refinement)
    for i in range(PER_CLUSTER):
        for c in range(N_CLUSTERS):
            rows.append((vid, c, _vec(c, i)))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")


def _recall(spark, emb, queries, k, **ivf_kw):
    truth = {(r["query_id"], r["vec_id"])
             for r in cosine_topk(emb, queries, k).collect()}
    got = {(r["query_id"], r["vec_id"])
           for r in ivf_topk(emb, queries, k, **ivf_kw).collect()}
    return len(got & truth) / len(truth)


def test_kmeans_refinement_improves_recall(spark):
    emb = _emb(spark).cache()
    queries = [10, 77, 151]
    k = 10
    r_seed = _recall(spark, emb, queries, k,
                     n_centroids=N_CLUSTERS, kmeans_iters=0)
    r_kmeans = _recall(spark, emb, queries, k,
                       n_centroids=N_CLUSTERS, kmeans_iters=2)
    assert r_kmeans >= r_seed
    assert r_kmeans >= 0.9, (r_seed, r_kmeans)


def test_assignment_paths_identical(spark, monkeypatch):
    """The literal-expression and broadcast-join assignment paths must be
    bit-identical (r2 verdict demand #4) — same fround similarity, same
    (−sim, cent_id) argmin ordering — including through Lloyd refinement.
    ``LITERAL_CENTROID_MAX`` picks the path: 10**6 forces literal, 0
    forces broadcast."""
    emb = _emb(spark).cache()
    for iters in (0, 2):
        got = []
        for cap in (10**6, 0):
            monkeypatch.setattr(similarity, "LITERAL_CENTROID_MAX", cap)
            got.append({(r["vec_id"], r["cent_id"]) for r in
                        ivf_fit(emb, N_CLUSTERS, iters)[0].collect()})
        lit, bc = got
        assert lit == bc


def test_ivf_topk_identical_across_paths(spark, monkeypatch):
    emb = _emb(spark).cache()
    got = []
    for cap in (10**6, 0):
        monkeypatch.setattr(similarity, "LITERAL_CENTROID_MAX", cap)
        got.append(sorted(map(tuple, ivf_topk(emb, [10, 77], 5, N_CLUSTERS,
                                              2).collect())))
    lit, bc = got
    assert lit == bc


def test_broadcast_assignment_512_centroids(spark, monkeypatch):
    """Production centroid counts (4k–64k) are broadcast-path territory —
    the literal expression would be a 512+-branch codegen tree. Verify the
    broadcast path at 512 centroids against a driver-side numpy replica of
    the exact argmin (fround(sim, 4), ties → cent_id asc)."""
    import math

    monkeypatch.setattr(similarity, "LITERAL_CENTROID_MAX", 0)
    n, dim, n_cents = 1200, 8, 512
    rows = []
    for i in range(n):
        rows.append((i, [
            int(hashlib.md5(f"big:{i}:{d}".encode()).hexdigest()[:8], 16)
            / float(0xFFFFFFFF) - 0.5 for d in range(dim)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cent_id"] for r in
           ivf_fit(emb, n_cents, kmeans_iters=0)[0].collect()}
    assert len(got) == n

    def fr(x: float) -> float:
        return math.floor(x * 10000.0) / 10000.0

    by_id = dict(rows)
    cents = {cid: by_id[cid] for cid in range(n_cents)}
    norms = {cid: math.sqrt(sum(x * x for x in v)) for cid, v in cents.items()}
    for vid, v in rows:
        nv = math.sqrt(sum(x * x for x in v))
        best = min(
            ((-fr(sum(a * b for a, b in zip(v, cv)) / (nv * norms[cid])), cid)
             for cid, cv in cents.items()))
        assert got[vid] == best[1], (vid, got[vid], best)


def test_kmeans_assignment_matches_labels(spark):
    """After 2 Lloyd iterations the partition should essentially recover
    the generating clusters: vectors sharing a label share a centroid."""
    emb = _emb(spark)
    assign = ivf_fit(emb, n_centroids=N_CLUSTERS, kmeans_iters=2)[0]
    j = assign.join(emb.select("vec_id", "label"), "vec_id")
    # dominant centroid per label covers ≥90% of the label's vectors
    dom = (j.groupBy("label", "cent_id").count()
           .groupBy("label").agg(F.max("count").alias("m"),
                                 F.sum("count").alias("n")))
    for r in dom.collect():
        assert r["m"] / r["n"] >= 0.9, r


def test_multiprobe_recall_monotone(spark):
    """r4: nprobe is the IVF recall lever — recall@k never drops as the
    probe count rises, nprobe=1 equals the classic single-probe path
    exactly, and probing EVERY centroid recovers brute force (candidates
    = the whole corpus)."""
    emb = _emb(spark).cache()
    queries = [10, 77, 151]
    k = 10
    kw = dict(n_centroids=N_CLUSTERS, kmeans_iters=2)
    r1 = _recall(spark, emb, queries, k, **kw)
    r2 = _recall(spark, emb, queries, k, nprobe=2, **kw)
    rall = _recall(spark, emb, queries, k, nprobe=N_CLUSTERS, **kw)
    assert r1 <= r2 <= rall, (r1, r2, rall)
    assert rall == 1.0

    # nprobe=1 must be byte-identical to the single-probe default
    a = sorted(map(tuple, ivf_topk(emb, queries, k, **kw).collect()))
    b = sorted(map(tuple, ivf_topk(emb, queries, k, nprobe=1, **kw).collect()))
    assert a == b

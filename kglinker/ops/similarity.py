"""Similarity search over an embedding column (``array<float>``).

- :func:`cosine_topk` — brute-force top-k: broadcast the (small) query set,
  one pass over the corpus, per-query window top-k. The correctness
  baseline; O(corpus × queries) but embarrassingly parallel and
  shuffle-light (only the final top-k shuffle, which is tiny after the
  per-partition ``row_number`` prune AQE applies).
- :func:`lsh_buckets` / :func:`lsh_topk` — sign-random-projection LSH:
  deterministic hyperplanes derived from md5 (reproducible across engines
  and runs, no RNG), bucket = sign bit-vector, split into BANDS for
  multi-probe candidate generation (candidates collide in ≥1 band — the
  same band trick as minhash LSH in :mod:`kglinker.ops.dedup`). The
  100 TB path: corpus signatures are pre-computed once (write-time);
  candidate volume scales as ``bands × Σ_buckets n_bucket²/2`` — i.e.
  ``bands × n² / 2^(planes/bands)`` on hash-uniform data — so recall and
  work are tuned by (planes, bands), NOT "linear in corpus size"
  unconditionally: more planes per band → fewer, purer candidates; more
  bands → higher recall. Production defaults: 16–32 planes, 4–8 bands
  (the registered gate runs 16/4); recall at production parameters is
  asserted against the exact brute-force in tests/test_lsh_recall.py.

Dot products run JVM-side via ``aggregate(zip_with(...))`` — no Python in
the hot loop. Scores are rounded to 4 dp and ranked on the rounded value
with ``vec_id`` tie-break so results are reproducible bit-for-bit across
engines (the DuckDB oracle ranks identically).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kglinker.ops.util import fround

__all__ = ["cosine_topk", "hyperplanes", "lsh_buckets", "lsh_band_keys",
           "lsh_topk", "lsh_neardup_pairs", "cosine_pairs_same_label",
           "ivf_fit", "ivf_topk"]


def _dot(a: str, b: str) -> F.Column:
    return F.aggregate(F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: str) -> F.Column:
    return F.sqrt(F.aggregate(F.col(a), F.lit(0.0), lambda acc, v: acc + v * v))


def _as_double(col: str) -> F.Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """(query_id, vec_id, cos_sim) top-k neighbors per query (self excluded).
    Query side is broadcast; corpus side is scanned once.

    Norms are precomputed once per side behind a projection boundary
    (r7): inlining ``_norm`` into the similarity recomputed ‖v‖ once per
    (row × query) and ‖qv‖ once per corpus row — |corpus|×|queries|
    d-element folds for values that exist |corpus|+|queries| times. Same
    doubles, same ``a_norm * q_norm`` multiply order → identical rounded
    scores (the DuckDB gate re-proves it)."""
    e = (emb.select("vec_id", _as_double("embedding").alias("v"))
         .withColumn("_nv", _norm("v")))
    q = (e.filter(F.col("vec_id").isin([int(x) for x in query_ids]))
         .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                 F.col("_nv").alias("_nq")))
    joined = (e.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("query_id")))
    sim = fround(_dot("v", "qv") / (F.col("_nv") * F.col("_nq")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (joined.withColumn("cos_sim", sim)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("query_id", "vec_id", "cos_sim"))


def hyperplanes(n_planes: int, dim: int, seed: str = "kglinker") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — reproducible with
    no RNG state, embeddable as literals in the SQL oracle."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            row.append(int(h[:8], 16) / float(0xFFFFFFFF) - 0.5)
        planes.append(row)
    return planes


def lsh_buckets(emb: DataFrame, planes: list[list[float]]) -> DataFrame:
    """(vec_id, bucket): bucket = concatenated sign bits of plane dots."""
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    bits = []
    for row in planes:
        lit = F.array(*[F.lit(float(x)) for x in row])
        dot = F.aggregate(F.zip_with(F.col("v"), lit, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, v: acc + v)
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return e.select("vec_id", F.concat(*bits).alias("bucket"), "v")


def lsh_band_keys(emb: DataFrame, planes: list[list[float]],
                  bands: int) -> DataFrame:
    """(vec_id, band, key, v): the sign bit-vector split into ``bands``
    contiguous substrings — the banded multi-probe structure (same shape
    as the minhash bands in :func:`kglinker.ops.dedup.minhash_lsh_pairs`).
    Two vectors are CANDIDATES iff they agree on ≥1 band."""
    n = len(planes)
    if n % bands:
        raise ValueError(f"planes ({n}) must divide evenly into bands ({bands})")
    rpb = n // bands
    b = lsh_buckets(emb, planes)
    keys = F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.substring("bucket", i * rpb + 1, rpb).alias("key"))
        for i in range(bands)])
    return (b.select("vec_id", "v", F.explode(keys).alias("bk"))
            .select("vec_id", F.col("bk.band").alias("band"),
                    F.col("bk.key").alias("key"), "v"))


def lsh_topk(emb: DataFrame, query_ids: list[int], planes: list[list[float]],
             k: int = 5, bands: int = 4) -> DataFrame:
    """Banded multi-probe ANN: candidates share ≥1 of the query's band
    keys (recall < 1 by design, tuned by planes/bands — see module doc);
    the band equijoin replaces the cross join (corpus-scale path)."""
    bk = lsh_band_keys(emb, planes, bands)
    q = (bk.filter(F.col("vec_id").isin([int(x) for x in query_ids]))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("band").alias("qband"), F.col("key").alias("qkey"),
                 F.col("v").alias("qv")))
    cand = (bk.join(F.broadcast(q), (F.col("band") == F.col("qband"))
                    & (F.col("key") == F.col("qkey"))
                    & (F.col("vec_id") != F.col("query_id")))
            .select("query_id", "vec_id", "v", "qv")
            .dropDuplicates(["query_id", "vec_id"]))
    sim = fround(_dot("v", "qv") / (_norm("v") * _norm("qv")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (cand.withColumn("cos_sim", sim)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("query_id", "vec_id", "cos_sim"))


# above this many centroids the literal-expression assignment would emit a
# codegen expression with one struct branch per centroid (compile-time and
# constant-pool hazards at 4k-64k production centroid counts) — switch to
# the broadcast-join path
LITERAL_CENTROID_MAX = 64


def _assign_literal(e: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """argmax-centroid-cosine assignment against LITERAL centroid arrays —
    a pure projection, NO join/shuffle (fround ties → cent_id asc via an
    array_min over (−sim, cent_id) structs, same ordering as a
    row_number window). Right below ``LITERAL_CENTROID_MAX`` centroids;
    above it the expression tree itself becomes the bottleneck — use
    :func:`_assign_broadcast`."""
    # centroid norms are constants: fold them at plan-build time with the
    # SAME left-fold (+ sqrt) the Spark expression performed — IEEE-754
    # doubles give bit-identical values, and the lambda aggregate is not
    # constant-folded by Catalyst, so it used to re-run per row per
    # centroid. ‖v‖ likewise moves behind a projection: once per row
    # instead of once per (row × centroid).
    en = e.withColumn("_nv", _norm("v"))
    scored = []
    for cid in sorted(cents):
        lit = F.array(*[F.lit(float(x)) for x in cents[cid]])
        dot = F.aggregate(F.zip_with(F.col("v"), lit, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        acc = 0.0
        for x in cents[cid]:
            acc += float(x) * float(x)
        nc = F.lit(math.sqrt(acc))
        sim = fround(dot / (F.col("_nv") * nc), 4)
        scored.append(F.struct((-sim).alias("negsim"),
                               F.lit(int(cid)).alias("cent_id")))
    best = F.array_min(F.array(*scored))
    return en.select("vec_id", "v", best["cent_id"].alias("cent_id"))


def _assign_broadcast(e: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """Same assignment as :func:`_assign_literal` (bit-identical: fround
    similarity, min over (−sim, cent_id)) via a broadcast centroid
    DataFrame — the production path for 4k–64k centroids. One broadcast
    nested-loop score pass + a map-side-combinable min-struct aggregation
    + an equijoin to re-attach vectors; no all-pairs shuffle."""
    spark = e.sparkSession

    def _pynorm(vec) -> float:
        # same left-fold + sqrt as the _norm expression (IEEE-754 ⇒
        # bit-identical); folded driver-side because Catalyst does not
        # constant-fold lambda aggregates, so ‖cv‖ used to re-run per
        # (row × centroid)
        acc = 0.0
        for x in vec:
            acc += float(x) * float(x)
        return math.sqrt(acc)

    cdf = spark.createDataFrame(
        [(int(cid), [float(x) for x in cents[cid]], _pynorm(cents[cid]))
         for cid in sorted(cents)],
        "cent_id int, cv array<double>, _ncv double")
    e = e.withColumn("_nv", _norm("v"))
    sim = fround(_dot("v", "cv") / (F.col("_nv") * F.col("_ncv")), 4)
    best = (e.crossJoin(F.broadcast(cdf))
            .select("vec_id", F.struct((-sim).alias("negsim"),
                                       F.col("cent_id")).alias("s"))
            .groupBy("vec_id")
            .agg(F.min("s").alias("best"))
            .select("vec_id", F.col("best.cent_id").alias("cent_id")))
    return e.join(best, "vec_id").select("vec_id", "v", "cent_id")


def _assign(e: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    if len(cents) <= LITERAL_CENTROID_MAX:
        return _assign_literal(e, cents)
    return _assign_broadcast(e, cents)


def ivf_fit(emb: DataFrame, n_centroids: int = 8, kmeans_iters: int = 2
            ) -> tuple[DataFrame, dict[int, list[float]]]:
    """IVF coarse quantization: ((vec_id, v, cent_id) assignment
    DataFrame, final centroids) — the centroid dict is the driver-side
    model state multi-probe search needs.

    Seeds = the first ``n_centroids`` vectors by vec_id (deterministic, no
    RNG), refined by ``kmeans_iters`` Lloyd iterations: assign → new
    centroid = per-dimension mean of the cluster, ROUNDED to 6 dp. The
    rounding is deliberate — it makes the refinement reproducible
    bit-for-bit across engines (the DuckDB oracle replays the same
    iterations), at a precision far below any quantization effect.

    Scale: centroids are driver-side state (n_centroids × dim doubles —
    the standard distributed k-means shape); each iteration is one
    assignment pass + one (cent_id, dim) aggregation + a tiny collect.
    Up to ``LITERAL_CENTROID_MAX`` centroids the assignment embeds them
    as codegen literals (shuffle-free); above it, it scores against a
    broadcast centroid DataFrame (the 4k–64k-centroid production path).
    Both produce bit-identical assignments (tests/test_ivf_recall.py
    asserts it). Empty clusters keep their previous centroid."""
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    cents = {int(r["vec_id"]): list(r["v"]) for r in
             e.filter(F.col("vec_id") < n_centroids).collect()}
    for _ in range(kmeans_iters):
        assigned = _assign(e, cents)
        means = (assigned
                 .select("cent_id", F.posexplode("v").alias("dim", "val"))
                 .groupBy("cent_id", "dim")
                 .agg(fround(F.avg("val"), 6).alias("mv"))
                 .groupBy("cent_id")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("dim", "mv"))),
                     lambda s: s["mv"]).alias("cv")))
        got = {int(r["cent_id"]): list(r["cv"]) for r in means.collect()}
        cents = {cid: got.get(cid, cv) for cid, cv in cents.items()}
    return _assign(e, cents), cents


def ivf_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
             n_centroids: int = 8, kmeans_iters: int = 2, nprobe: int = 1,
             fitted: tuple[DataFrame, dict[int, list[float]]] | None = None
             ) -> DataFrame:
    """IVF ANN: each query probes the inverted lists of its ``nprobe``
    nearest centroids — the corpus-scale path where the cross join is
    replaced by a bucket equijoin. ``nprobe=1`` (default) is classic
    single-probe; raising it is the standard IVF recall lever (recall
    < 1 by design either way — candidates never leave probed buckets).
    Probe selection uses the SAME fround-cosine / cent_id-asc tie order
    as assignment, so the nprobe=1 probe is exactly the assigned
    centroid; the probe scoring join is queries × centroids (both tiny —
    broadcast, no corpus shuffle). Pass ``fitted`` (an :func:`ivf_fit`
    result) to search the same index at several probe depths without
    re-running the Lloyd iterations (r6 review: the merged gate paid the
    fit twice)."""
    assign, cents = (fitted if fitted is not None
                     else ivf_fit(emb, n_centroids, kmeans_iters))
    # corpus-side norm once per vector (r7, see cosine_topk); the query
    # side is tiny and normed inside the per-branch q construction
    assign = assign.select("vec_id", "v", "cent_id").withColumn(
        "_nv", _norm("v"))
    if nprobe <= 1:
        q = (assign.filter(F.col("vec_id").isin([int(x) for x in query_ids]))
             .select(F.col("vec_id").alias("query_id"),
                     F.col("cent_id").alias("qc"), F.col("v").alias("qv"),
                     F.col("_nv").alias("_nq")))
    else:
        spark = emb.sparkSession
        cdf = spark.createDataFrame(
            [(int(cid), [float(x) for x in cents[cid]])
             for cid in sorted(cents)], "cent_id int, cv array<double>")
        qv = (assign.filter(F.col("vec_id").isin([int(x) for x in query_ids]))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("v").alias("qv"), F.col("_nv").alias("_nq")))
        psim = fround(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 4)
        pw = Window.partitionBy("query_id").orderBy(
            F.desc("_ps"), F.asc("cent_id"))
        q = (qv.crossJoin(F.broadcast(cdf))
             .withColumn("_ps", psim)
             .withColumn("_pr", F.row_number().over(pw))
             .filter(F.col("_pr") <= int(nprobe))
             .select("query_id", F.col("cent_id").alias("qc"), "qv", "_nq"))
    joined = assign.join(F.broadcast(q), (F.col("cent_id") == F.col("qc"))
                         & (F.col("vec_id") != F.col("query_id")))
    sim = fround(_dot("v", "qv") / (F.col("_nv") * F.col("_nq")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (joined.withColumn("cos_sim", sim)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("query_id", "vec_id", "cos_sim"))


def lsh_neardup_pairs(emb: DataFrame, planes: list[list[float]],
                      threshold: float = 0.95, bands: int = 4) -> DataFrame:
    """Embedding near-dup pairs — the REGISTERED scale path: candidates
    come from a banded sign-random-projection self-join (a pair is a
    candidate iff it collides in ≥1 band; a label-blocked all-pairs
    comparison would make a single popular label the whole corpus at
    100 TB). Candidate volume ≈ ``bands × n²/2^(planes/bands)`` on
    hash-uniform data (see module doc) — pick planes/bands so buckets stay
    small; recall at the registered 16-plane/4-band parameters is asserted
    ≥0.9 vs exact brute-force in tests/test_lsh_recall.py. Blocked-exact
    (:func:`cosine_pairs_same_label`) remains as the verification stage.
    Returns (vec_a, vec_b, cos_sim ≥ threshold), vec_a < vec_b.

    Plan shape: the band self-join runs over (vec_id, band, key) signature
    rows only; vectors are joined back onto the (deduplicated) candidate
    pairs, so the wide embedding column never rides through the skew-prone
    band shuffle."""
    bk = lsh_band_keys(emb, planes, bands).select("vec_id", "band", "key")
    a, c = bk.alias("a"), bk.alias("b")
    cand = (a.join(c, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"))
            .distinct())
    # norms precomputed once per vector side (r7, see cosine_topk) —
    # same doubles, same multiply order, identical rounded scores
    e = (emb.select("vec_id", _as_double("embedding").alias("v"))
         .withColumn("_nv", _norm("v")))
    va = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("av"),
                  F.col("_nv").alias("_na"))
    vb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("bv"),
                  F.col("_nv").alias("_nb"))
    sim = fround(_dot("av", "bv") / (F.col("_na") * F.col("_nb")), 4)
    return (cand.join(va, "vec_a").join(vb, "vec_b")
            .withColumn("cos_sim", sim)
            .filter(F.col("cos_sim") >= threshold)
            .select("vec_a", "vec_b", "cos_sim"))


def _cosine_pairs_exact(e: DataFrame, threshold: float) -> DataFrame:
    # norm once per vector BEFORE the quadratic self-join (r7): inlined,
    # ‖v‖ was folded once per PAIR side — O(block²·d) work for O(block·d)
    # values; same doubles, same multiply order, identical rounded scores
    en = e.withColumn("_nv", F.sqrt(
        F.aggregate(F.col("v"), F.lit(0.0), lambda acc, v: acc + v * v)))
    a, b = en.alias("a"), en.alias("b")
    sim = fround(
        F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
                    F.lit(0.0), lambda acc, v: acc + v)
        / (F.col("a._nv") * F.col("b._nv")), 4)
    return (a.join(b, (F.col("a.label") == F.col("b.label"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .withColumn("cos_sim", sim)
            .filter(F.col("cos_sim") >= threshold)
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"), "cos_sim"))


def cosine_pairs_same_label(emb: DataFrame, threshold: float = 0.95,
                            max_block_rows: int | None = 100_000,
                            block_counts: DataFrame | None = None) -> DataFrame:
    """Embedding near-dup pairs within a label block — kept as the exact
    VERIFICATION stage over candidate blocks; the registered scale path
    is :func:`lsh_neardup_pairs` (bucketed candidates).

    Hot-block guard (r5 verdict #3): the label self-join is quadratic
    inside a block, and one popular label can be most of a real corpus.
    Labels larger than ``max_block_rows`` are AUTO-ROUTED through banded
    sign-LSH candidates *within the label* (band collision → exact cosine
    verify, same output contract): precision stays exact, recall inside a
    routed label becomes candidate-bounded. Detection is one small
    label-count aggregation; the hot-label list is driver-collected,
    bounded by label cardinality. ``max_block_rows=None`` disables the
    guard (exact everywhere — the oracle-gate formulation);
    ``block_counts`` (label, n_docs) supplies precomputed sizes and
    skips the detection scan."""
    e = emb.select("vec_id", "label", _as_double("embedding").alias("v"))
    hot: list = []
    if max_block_rows is not None:
        if block_counts is None:
            block_counts = (emb.groupBy("label")
                            .agg(F.count(F.lit(1)).alias("n_docs")))
        hot = [r["label"] for r in
               block_counts.filter(F.col("n_docs") > max_block_rows)
               .select("label").collect()]
    if not hot:
        return _cosine_pairs_exact(e, threshold)
    exact = _cosine_pairs_exact(e.filter(~F.col("label").isin(hot)), threshold)
    hotd = e.filter(F.col("label").isin(hot))
    dim = int(emb.select(F.size("embedding").alias("d")).first()["d"])
    planes = hyperplanes(16, dim)
    bk = lsh_band_keys(hotd.select("vec_id", F.col("v").alias("embedding")),
                       planes, bands=4) \
        .join(hotd.select("vec_id", "label"), "vec_id") \
        .select("vec_id", "label", "band", "key")
    a, c = bk.alias("a"), bk.alias("b")
    cand = (a.join(c, (F.col("a.label") == F.col("b.label"))
                   & (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"))
            .distinct())
    hotn = hotd.withColumn("_nv", _norm("v"))
    va = hotn.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("av"),
                     F.col("_nv").alias("_na"))
    vb = hotn.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("bv"),
                     F.col("_nv").alias("_nb"))
    sim = fround(_dot("av", "bv") / (F.col("_na") * F.col("_nb")), 4)
    routed = (cand.join(va, "vec_a").join(vb, "vec_b")
              .withColumn("cos_sim", sim)
              .filter(F.col("cos_sim") >= threshold)
              .select("vec_a", "vec_b", "cos_sim"))
    return exact.unionByName(routed)

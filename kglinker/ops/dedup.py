"""Deduplication operators for large-scale training-data pipelines.

Five flavors over a ``documents(doc_id, text, lang, source, n_chars)``
table, each designed for 100 TB scale *and* for exact cross-engine parity
(every hash is ``md5`` of an explicit string → identical in Spark and
DuckDB, used by the driver's oracle gate):

- **exact**       hash-groupBy on md5(text); one shuffle, map-side combine.
- **minhash+LSH** shingle → per-doc minhash signature (min of md5 strings —
  engine-agnostic, no integer-hash mismatch) → band buckets → bucket
  equijoin for candidates → signature-similarity estimate. The classic
  near-dup path: candidate generation is linear in corpus size, never
  all-pairs.
- **simhash**     per-token md5 nibbles vote a fixed-width bit signature;
  :func:`simhash_pairs` finds pairs within Hamming distance k via the
  standard block-banding trick (split the signature into k+1 blocks —
  any pair at distance ≤ k agrees on ≥1 whole block by pigeonhole — block
  equijoin for candidates, exact popcount(xor) ≤ k verified in-row).
- **n-gram Jaccard** exact verification on *blocked* candidate pairs
  (same (source, lang) block) — quadratic only inside small blocks.
- **embedding cosine** see :mod:`kglinker.ops.similarity` (threshold pairs).

All plans: filters/projections push to the parquet scan; hashing and
aggregation stay inside whole-stage codegen (no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kglinker.ops.util import fround

__all__ = ["exact_dedup_groups", "minhash_signatures", "minhash_lsh_pairs",
           "minhash_band_exprs", "minhash_est",
           "simhash_signatures", "simhash_pairs", "ngram_jaccard_pairs",
           "repeated_ngram_spans", "duplication_fraction"]


def minhash_band_exprs(num_hashes: int, bands: int) -> list[F.Column]:
    """The banding scheme as struct(band, key) expressions over h0..h{n-1}
    columns — ONE definition shared by the batch pair join and the
    streaming admission state so they can never silently diverge."""
    rows_per_band = num_hashes // bands
    out = []
    for b in range(bands):
        cols = [f"h{i}" for i in
                range(b * rows_per_band, (b + 1) * rows_per_band)]
        out.append(F.struct(F.lit(b).alias("band"),
                            F.concat_ws("|", *cols).alias("key")))
    return out


def minhash_est(sa: F.Column, sb: F.Column) -> F.Column:
    """est_sim = fraction of equal minhashes between two signature arrays
    (``array(h0..h{n-1})``) — shared batch/streaming definition. A NULL
    hash never counts as equal. One ``zip_with`` expression whatever the
    signature width, so codegen does not grow with ``num_hashes``."""
    equal = F.size(F.filter(F.zip_with(sa, sb, lambda x, y: x == y),
                            lambda eq: eq))
    return equal / F.size(sa)


def _tokens(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """(text_hash, keep_doc_id, n_copies): canonical survivor = min doc_id.
    One hash-shuffle with partial aggregation; at 100 TB bucket the table
    by text_hash to make re-runs shuffle-free."""
    return (docs
            .groupBy(F.md5("text").alias("text_hash"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def minhash_signatures(docs: DataFrame, num_hashes: int = 8) -> DataFrame:
    """(doc_id, h0..h{n-1}): minhash over distinct token *trigram shingles*
    where h_i(doc) = min over shingles of an 8-hex-char (32-bit) slice of
    sha2(⌊i/8⌋ || ':' || shingle, 256). One 256-bit digest yields 8
    independent 32-bit minhash values, so n hashes cost ⌈n/8⌉ digest
    computations per shingle — the hash stage dominates signature
    generation at corpus scale, and this keeps the production 64-hash
    configuration at 8 digests instead of 64. Trigram shingles (not
    unigrams) keep set-Jaccard discriminative; fixed-width hex slices
    compare lexicographically exactly as unsigned ints, bit-identical
    across engines (the DuckDB oracle replays the same slicing)."""
    from kglinker.ops.util import explode_token_ngrams
    # NO distinct() on the shingle table: min over a multiset equals min
    # over its set, so deduplication would only add a full shuffle of
    # every shingle — the single most expensive exchange of this plan at
    # corpus scale. (ngram_jaccard_pairs, which counts set sizes, still
    # deduplicates.) The DuckDB oracle keeps SELECT DISTINCT; results
    # are identical by the idempotence of min.
    sh = explode_token_ngrams(docs, 3, ["doc_id"])
    n_src = (num_hashes + 7) // 8
    src = sh.select(
        "doc_id",
        *[F.sha2(F.concat(F.lit(f"{s}:"), F.col("g")), 256).alias(f"s{s}")
          for s in range(n_src)])
    aggs = [F.min(F.substring(F.col(f"s{i // 8}"), (i % 8) * 8 + 1, 8))
            .alias(f"h{i}") for i in range(num_hashes)]
    return src.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 8,
                      bands: int = 4, min_est: float = 0.5,
                      stats: dict | None = None) -> DataFrame:
    """LSH candidate pairs: band = concat of num_hashes/bands signature
    columns; docs colliding in ≥1 band are candidates; est_sim = fraction
    of equal minhashes. Returns (doc_a, doc_b, est_sim) with doc_a<doc_b.

    Scale: the only join is the band-bucket equijoin (linear candidates);
    a pathological bucket (thousands of near-identical docs) is exactly the
    hot-key case AQE skew-split + salting handle.

    Signature reuse (r7): the signature table feeds four plan sites
    (both band-join sides + both est-join sides), but its plan ENDS in
    the groupBy(doc_id) exchange — Spark's ReusedExchange computes that
    shuffle once per job and serves every consumer from it, so the r4-r6
    ``cache()``/``unpersist()`` lifecycle only added a columnar
    cache-build on top (measured ~equal-or-slower at sf0.1). The result
    is still materialized eagerly (``localCheckpoint``) so downstream
    iterative consumers (CC rounds) never re-run the band join."""
    sig = minhash_signatures(docs, num_hashes)
    hcols = [f"h{i}" for i in range(num_hashes)]
    band_exprs = minhash_band_exprs(num_hashes, bands)
    banded = sig.select("doc_id", F.explode(F.array(*band_exprs)).alias("bk")) \
                .select("doc_id", F.col("bk.band").alias("band"),
                        F.col("bk.key").alias("key"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    if stats is not None:
        # candidate-volume telemetry (scale-probe only: each count is an
        # extra pass, never enabled on the registered/bench path)
        cand = cand.localCheckpoint(eager=True)
        stats["n_candidates"] = cand.count()
    # est over the signature packed as ONE array column (r7): the
    # codegen is O(1) expressions instead of O(num_hashes) renamed
    # columns through two joins — measured 2× faster end-to-end at sf0.1
    arr = F.array(*hcols)
    sa = sig.select(F.col("doc_id").alias("doc_a"), arr.alias("_sa"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), arr.alias("_sb"))
    est = minhash_est(F.col("_sa"), F.col("_sb"))
    out = (cand.join(sa, "doc_a").join(sb, "doc_b")
           .withColumn("est_sim", fround(est, 4))
           .filter(F.col("est_sim") >= min_est)
           .select("doc_a", "doc_b", "est_sim")
           .localCheckpoint(eager=True))
    return out


def simhash_signatures(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash): bit j votes +1 if nibble j of hash(token) ≥ 8.
    Signature = Σ_j bit_j(majority) * 2^j, engine-agnostic via hex-char
    arithmetic (no native 64-bit hash dependence). Per-token hash:
    ``md5`` for ``bits`` ≤ 32 (legacy / r3-gate parity), ``sha2(tok, 256)``
    for 33–64 (64 hex nibbles → full production width). Bit 63 is the
    two's-complement sign bit: its term is −2^63, so the signature lands
    in a signed 64-bit ``long`` on both engines; block extraction masks
    after the shift, which makes arithmetic-vs-logical shift moot.

    Computed entirely IN-ROW (r5): hash the token array with a
    ``transform``, fold the per-token ±1 votes into one 64-slot
    accumulator with a single ``aggregate``/``zip_with``, then weigh the
    vote signs by the bit powers — no token explode, no 64-column
    groupBy, ZERO exchanges. Replaces the r4 explode + 64-aggregate
    plan: 2.5× faster cold AND warm at sf0.1 (measured), and the
    signature stage no longer shuffles every token at corpus scale.
    Values are bit-identical (the DuckDB oracle still replays the
    explode/groupBy formulation; sum of ±1 per token is order-free)."""
    if not 1 <= bits <= 64:
        raise ValueError("bits must be in [1, 64] (sha-256 has 64 nibbles)")
    hfn = (lambda t: F.md5(t)) if bits <= 32 else (lambda t: F.sha2(t, 256))
    hs = F.transform(_tokens(), hfn)
    seq = F.sequence(F.lit(0), F.lit(bits - 1))
    votes = F.aggregate(
        hs, F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc, seq,
            lambda a, j: a + F.when(h.substr(j + 1, F.lit(1)) >= "8", 1)
            .otherwise(-1)))
    powers = F.array(*[F.lit(-(1 << 63) if j == 63 else (1 << j)).cast("long")
                       for j in range(bits)])
    sim = F.aggregate(
        F.zip_with(votes, powers,
                   lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda a, x: a + x)
    # NULL text: the pre-r5 explode/groupBy plan (and the DuckDB oracle,
    # which still replays it) drops such docs entirely; the in-row
    # aggregate would instead emit (doc_id, NULL) and leak a null into
    # downstream bitwiseXOR — keep the emitted row set identical
    return (docs.filter(F.col("text").isNotNull())
            .select("doc_id", sim.alias("simhash")))


def simhash_pairs(docs: DataFrame, bits: int = 16, k: int = 3,
                  n_blocks: int | None = None,
                  stats: dict | None = None) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs whose simhash signatures differ in
    ≤ k bits — the near-dup semantics simhash users actually want (equal
    signatures is just a weaker exact dedup).

    Block banding (the standard simhash sharding trick): the signature is
    split into k+1 contiguous blocks; by pigeonhole any pair at Hamming
    distance ≤ k agrees EXACTLY on at least one block, so candidates come
    from k+1 block-value equijoins (linear candidate generation on
    hash-uniform data — never all-pairs), and the exact Hamming distance
    is verified in-row with popcount(xor). At the production 64-bit/k=3
    width (the registered gate) this is 4 equijoins on 16-bit block keys —
    65,536 buckets per block, so candidate volume stays linear on a web
    corpus; a pathological block value (thousands of identical docs) is
    the hot-key case AQE skew-split handles. Signatures may be negative
    (bit 63 = sign bit): ``shiftright`` is arithmetic, but the mask keeps
    only the block's low bits, which shift direction cannot change.

    ``n_blocks`` (r6, default ``k+1``) is the collision/row-count dial
    for corpora where the k+1 scheme's keys saturate — the r6 scale
    probe measured collisions/doc DOUBLING at 500k docs with 16-bit
    keys. Setting ``n_blocks = B > k+1`` switches to the
    block-combination scheme (Manku et al., WWW'07 §3): candidates must
    agree on ALL blocks of some (B−k)-subset. Still LOSSLESS by
    pigeonhole (≤k differing bits touch ≤k blocks, so some B−k blocks
    are all untouched), at C(B, B−k) exploded keys per doc instead of
    k+1 — e.g. B=6, k=3, 64 bits: 20 keys/doc on ~32-bit values, ~2^16×
    fewer random same-key pairs. Trade rows for collisions when the
    per-shard corpus passes ~10⁵–10⁶ docs."""
    n_blocks = (k + 1) if n_blocks is None else n_blocks
    if n_blocks < k + 1:
        raise ValueError(f"n_blocks ({n_blocks}) must be ≥ k+1 ({k + 1}) "
                         "for lossless pigeonhole banding")
    if n_blocks > bits:
        raise ValueError(f"n_blocks ({n_blocks}) exceeds signature bits")
    base = bits // n_blocks
    rem = bits % n_blocks
    # materialize the signature once: it feeds both sides of the block
    # self-join, and without this the in-row vote fold (the corpus-scan
    # CPU) re-runs per consumer (measured sf0.1: 5.1 s → 1.7 s). 16 bytes
    # per doc — tiny relative to the corpus it summarizes.
    sig = simhash_signatures(docs, bits).localCheckpoint(eager=True)
    # block b covers [off_b, off_b + len_b) low-to-high bits; first `rem`
    # blocks get the extra bit so every bit lands in exactly one block
    key_exprs, lengths, off = [], [], 0
    for b in range(n_blocks):
        length = base + (1 if b < rem else 0)
        mask = (1 << length) - 1
        key_exprs.append(
            F.shiftright("simhash", off).bitwiseAND(F.lit(mask)))
        lengths.append(length)
        off += length
    if n_blocks == k + 1:
        # classic scheme: one key per block (plan unchanged from r5 —
        # the registered gate's oracle replays exactly this)
        blocks = [F.struct(F.lit(b).alias("block"),
                           key_exprs[b].alias("key"))
                  for b in range(n_blocks)]
    else:
        # combination scheme: one key per (B−k)-subset of blocks, the
        # sub-keys BIT-PACKED into one long (sum of any B−k block
        # lengths ≤ 64; packing is injective, so join equality ≡
        # per-block equality) — longs keep the 5× row explode cheap
        # (a concat-string key measured 2.6× slower at 500k docs)
        import itertools
        combos = list(itertools.combinations(range(n_blocks), n_blocks - k))
        blocks = []
        for ci, combo in enumerate(combos):
            packed, shift = None, 0
            for b in combo:
                part = F.shiftleft(key_exprs[b], shift)
                packed = part if packed is None else packed.bitwiseOR(part)
                shift += lengths[b]
            blocks.append(F.struct(F.lit(ci).alias("block"),
                                   packed.alias("key")))
    banded = (sig.select("doc_id", "simhash",
                         F.explode(F.array(*blocks)).alias("bk"))
              .select("doc_id", "simhash", F.col("bk.block").alias("block"),
                      F.col("bk.key").alias("key")))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.block") == F.col("b.block"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.simhash").alias("sig_a"),
                    F.col("b.simhash").alias("sig_b")))
    # popcount-verify IN THE JOIN STAGE, dedup survivors after: hamming is
    # a function of the pair (same sigs on every block collision), so
    # filter-then-distinct ≡ distinct-then-filter — but a clustered corpus
    # can collide the same hot pair in many blocks (measured sf0.1: 584k
    # candidate rows → 897 survivors), and this ordering keeps the
    # distinct's exchange to the survivor set instead of shuffling every
    # collision
    if stats is not None:
        # block-collision telemetry (scale-probe only): checkpoint before
        # counting so the banded self-join — the expensive stage being
        # measured — runs once, not once per consumer (r6 review; the
        # minhash telemetry already did this)
        cand = cand.localCheckpoint(eager=True)
        stats["n_collisions"] = cand.count()
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cand.withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= k)
            .select("doc_a", "doc_b", "hamming")
            .distinct())


def _jaccard_finalize(inter: DataFrame, sizes: DataFrame,
                      threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard ≥ threshold) from per-pair intersection
    counts + per-doc gram counts — ONE definition of the jaccard formula
    and its 4 dp rounding shared by the exact and routed paths (the gate
    is hash-exact on this arithmetic; two copies could silently diverge)."""
    return (inter
            .join(sizes.withColumnRenamed("doc_id", "doc_a")
                  .withColumnRenamed("n_grams", "na"), "doc_a")
            .join(sizes.withColumnRenamed("doc_id", "doc_b")
                  .withColumnRenamed("n_grams", "nb"), "doc_b")
            .withColumn("jaccard", fround(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 4))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def _jaccard_verify(cand: DataFrame, docs: DataFrame, n: int,
                    threshold: float) -> DataFrame:
    """Exact n-gram Jaccard for a given (doc_a, doc_b) candidate table:
    intersection counts come from two (doc_id, gram) equijoins bounded by
    the candidate volume — never a block cross-product."""
    from kglinker.ops.util import explode_token_ngrams
    grams = explode_token_ngrams(docs, n, ["doc_id"]).distinct()
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    ga = grams.select(F.col("doc_id").alias("doc_a"), "g")
    gb = grams.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (cand.join(ga, "doc_a").join(gb, ["doc_b", "g"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    return _jaccard_finalize(inter, sizes, threshold)


def _ngram_jaccard_exact(docs: DataFrame, n: int,
                         threshold: float) -> DataFrame:
    from kglinker.ops.util import explode_token_ngrams
    grams = explode_token_ngrams(docs, n, ["doc_id", "source", "lang"]).distinct()
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    a, b = grams.alias("a"), grams.alias("b")
    # eqNullSafe on the block keys: NULL lang/source is a REAL block
    # (the hot-block detector's groupBy already treats it as one; the
    # oracle replays IS NOT DISTINCT FROM) — a plain equality here would
    # silently emit zero pairs for NULL-keyed blocks (r6 review)
    inter = (a.join(b, F.col("a.source").eqNullSafe(F.col("b.source"))
                    & F.col("a.lang").eqNullSafe(F.col("b.lang"))
                    & (F.col("a.g") == F.col("b.g"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("n_inter")))
    return _jaccard_finalize(inter, sizes, threshold)


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        max_block_rows: int | None = 100_000,
                        block_counts: DataFrame | None = None) -> DataFrame:
    """Token-n-gram Jaccard inside (source, lang) blocks:
    (doc_a, doc_b, jaccard ≥ threshold). Blocking keeps the pair space
    quadratic only within blocks (the standard ER blocking pattern; the
    unblocked scale path is minhash_lsh_pairs).

    Hot-block guard (r5 verdict #3): the per-gram equijoin is quadratic
    *within* a block, and on a real corpus one block ("web","en") is 80%
    of rows — an exact run there explodes at 100×. Blocks larger than
    ``max_block_rows`` are therefore AUTO-ROUTED through the banded
    minhash candidate path (band-collision candidates → exact Jaccard
    verification, same output contract): precision stays exact, recall
    inside a routed block becomes LSH-candidate-bounded (the documented
    trade every near-dup pipeline makes at scale). Detection costs one
    small block-count aggregation; the hot-block list collected to the
    driver is bounded by block-key cardinality (the IVF-centroid-collect
    precedent). ``max_block_rows=None`` disables the guard (exact
    everywhere — the oracle-gate formulation). ``block_counts`` lets a
    pipeline that already profiled the corpus (``corpus_profile`` emits
    exactly these (source, lang, n_docs) rows) supply the sizes and skip
    the detection scan — at 100 TB the guard then costs nothing."""
    hot: list = []
    if max_block_rows is not None:
        if block_counts is None:
            block_counts = (docs.groupBy("source", "lang")
                            .agg(F.count(F.lit(1)).alias("n_docs")))
        hot = [(r["source"], r["lang"]) for r in
               block_counts.filter(F.col("n_docs") > max_block_rows)
               .select("source", "lang").collect()]
    if not hot:
        return _ngram_jaccard_exact(docs, n, threshold)
    from functools import reduce
    # eqNullSafe: a NULL block-key half (failed lang detection is common)
    # must match its own block, not poison the predicate to NULL and drop
    # every doc sharing the other half from BOTH paths (r6 review)
    is_hot = reduce(lambda x, y: x | y,
                    [F.col("source").eqNullSafe(F.lit(s))
                     & F.col("lang").eqNullSafe(F.lit(lg))
                     for s, lg in hot])
    exact = _ngram_jaccard_exact(docs.filter(~is_hot), n, threshold)
    hotd = docs.filter(is_hot)
    # candidates from minhash banding at the PRODUCTION parameters
    # (64 hashes / 16 bands of 4: ≥1-band collision ≈ 1-(1-j⁴)¹⁶, i.e.
    # ~0.9998 at j=0.8), constrained to the same block; no est filter —
    # the exact verify below decides
    cand = minhash_lsh_pairs(hotd, num_hashes=64, bands=16, min_est=0.0)
    blk = docs.select("doc_id", "source", "lang")
    cand = (cand.select("doc_a", "doc_b")
            .join(blk.select(F.col("doc_id").alias("doc_a"),
                             F.col("source").alias("_sa"),
                             F.col("lang").alias("_la")), "doc_a")
            .join(blk.select(F.col("doc_id").alias("doc_b"),
                             F.col("source").alias("_sb"),
                             F.col("lang").alias("_lb")), "doc_b")
            .filter(F.col("_sa").eqNullSafe(F.col("_sb"))
                    & F.col("_la").eqNullSafe(F.col("_lb")))
            .select("doc_a", "doc_b"))
    routed = _jaccard_verify(cand, hotd, n, threshold)
    return exact.unionByName(routed)


def repeated_ngram_spans(docs: DataFrame, k: int = 50,
                         min_repeats: int = 2) -> DataFrame:
    """(doc_id, span_start, span_end): maximal token-index intervals
    covered by k-token windows that occur ≥ ``min_repeats`` times in the
    WHOLE corpus — the repeated-substring signal of exact-substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": duplicated ≥50-token spans drive memorization;
    production default k=50). Spans are inclusive 0-based token indices.

    Plan: windows built IN-ROW (index-aware transform — no token
    shuffle), hashed to a 16-hex (64-bit) md5 slice — 32 bits (r6)
    guaranteed birthday collisions at the production corpus sizes this
    op targets (~1% of windows already colliding at 1e8 windows),
    silently marking unique spans 'repeated' and inflating dup_frac;
    at 64 bits collisions stay negligible past 1e9 windows per corpus
    (r7 ADVICE fix). ONE hash shuffle finds
    windows with corpus count ≥ min_repeats (map-side combine; same
    order of work as the minhash shingle stage); duplicated positions
    then merge into maximal spans with a per-doc gaps-and-islands window
    (one doc_id exchange). The DuckDB oracle replays the identical
    formulation, windows included, for exact parity."""
    arr = F.split(F.col("text"), " ")
    base = docs.select("doc_id", arr.alias("_arr"))
    a = F.col("_arr")

    def win(x, i):
        parts = [x] + [F.try_element_at(a, i + j + 1) for j in range(1, k)]
        return F.when(i <= F.size(a) - k,
                      F.struct(i.alias("pos"),
                               F.substring(F.md5(F.concat_ws(" ", *parts)),
                                           1, 16).alias("h")))

    pos = (base.select("doc_id", F.explode(F.transform(a, win)).alias("w"))
           .filter(F.col("w").isNotNull())
           .select("doc_id", F.col("w.pos").alias("pos"),
                   F.col("w.h").alias("h")))
    dup = (pos.groupBy("h").agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") >= min_repeats).select("h"))
    hits = pos.join(dup, "h").select("doc_id", "pos")
    # gaps-and-islands: a window starting at pos covers [pos, pos+k-1];
    # a new island begins when pos exceeds the running max end + 1
    from pyspark.sql.window import Window
    w_prev = (Window.partitionBy("doc_id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, 0))
    brk = F.when(
        F.col("pos") > F.coalesce(F.max(F.col("pos") + k - 1).over(w_prev),
                                  F.lit(-1)) + 1, 1).otherwise(0)
    return (hits.withColumn("_brk", brk)
            .withColumn("_isl", F.sum("_brk").over(w_run))
            .groupBy("doc_id", "_isl")
            .agg(F.min("pos").alias("span_start"),
                 F.max(F.col("pos") + k - 1).alias("span_end"))
            .select("doc_id", "span_start", "span_end"))


def duplication_fraction(docs: DataFrame, k: int = 50,
                         min_repeats: int = 2) -> DataFrame:
    """(doc_id, n_tokens, dup_tokens, dup_frac): fraction of a doc's
    tokens inside repeated-k-gram spans — the filterable per-doc signal
    (drop or trim docs above a memorization-risk threshold). Docs with
    no repeated span appear with dup_frac 0.0 (left join)."""
    from kglinker.ops.util import fround
    spans = repeated_ngram_spans(docs, k, min_repeats)
    per_doc = (spans.groupBy("doc_id")
               .agg(F.sum(F.col("span_end") - F.col("span_start") + 1)
                    .alias("dup_tokens")))
    # NULL text: size(split(NULL)) is -1, which would emit n_tokens=-1 /
    # dup_frac=-0.0 rows that silently pass a curate max_dup_frac filter
    # — drop them, matching simhash_signatures' NULL policy (r7 ADVICE)
    toks = (docs.filter(F.col("text").isNotNull())
            .select("doc_id",
                    F.size(F.split(F.col("text"), " ")).alias("n_tokens")))
    return (toks.join(per_doc, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("dup_tokens", F.lit(0)).cast("long")
                    .alias("dup_tokens"))
            .withColumn("dup_frac",
                        fround(F.col("dup_tokens") / F.col("n_tokens"), 4)))

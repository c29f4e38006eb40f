"""Streaming exact dedup of continuously arriving documents.

Batch-mode dedup (:func:`kglinker.ops.dedup.exact_dedup_groups`) scans
the whole corpus; a training-data INGEST pipeline instead sees documents
arrive forever and must admit only first-seen content. This module keeps
a persistent seen-state (``state_path/docs`` parquet: the admitted rows
plus their ``text_hash``) and, per micro-batch inside ``foreachBatch``:

1. hash the batch (``md5(text)``) and keep the min-``doc_id`` survivor
   per hash WITHIN the batch (same survivor rule as batch dedup);
2. anti-join the survivors against the seen-state hashes (cross-batch
   dedup) — only genuinely new content appends to the state.

Idempotence is stronger than the edge-weight merge
(:mod:`kglinker.streaming.graph`): a replayed batch is filtered by the
state it already appended to — the anti-join makes the merge itself
idempotent, and the batch-id marker only short-circuits the work. On
Iceberg the append becomes ``MERGE INTO corpus USING batch ON text_hash
WHEN NOT MATCHED THEN INSERT`` and the state IS the corpus table.

Replay-skip markers are namespaced per stream (``docs`` here, ``sigs``
for near-dup), so both streams may share a ``state_path`` without batch
N of one skipping batch N of the other. Batch ids come from the
CHECKPOINT: if you reset ``checkpoint_path`` but keep ``state_path``,
delete the stream's marker file too (the anti-join alone then keeps the
replay correct here). Each drain runs as one ``availableNow`` query.

Scale: the anti-join is new-batch × seen-hashes keyed by text_hash — on
a cluster, bucket the state by ``text_hash`` so each micro-batch probes
only its buckets (storage-partitioned join, no full-state shuffle); the
batch side is always the small side.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from kglinker.runtime.checkpoint import write_json_atomic

__all__ = ["stream_dedup_documents", "read_dedup_state",
           "stream_neardup_documents", "read_neardup_state", "DOCS_SCHEMA"]

DOCS_SCHEMA = ("doc_id long, text string, lang string, source string, "
               "n_chars int")
_DOCS = "docs"
_MARK = "_applied_batches_{stream}.json"


def _applied(state_path: str, stream: str) -> set[int]:
    p = os.path.join(state_path, _MARK.format(stream=stream))
    if os.path.exists(p):
        with open(p) as fh:
            return set(json.load(fh))
    return set()


def _mark_applied(state_path: str, batch_id: int, stream: str) -> None:
    write_json_atomic(os.path.join(state_path, _MARK.format(stream=stream)),
                      sorted(_applied(state_path, stream) | {int(batch_id)}))


def _drain(stream: DataFrame, sink, state_path: str, name: str,
           checkpoint_path: str) -> StreamingQuery:
    """One availableNow query: every file present at start, then stop.
    ``sink(batch_df)`` runs once per batch id: ids in the ``name``
    stream's marker are skipped, and each applied id is marked."""
    def guarded(batch_df, batch_id: int) -> None:
        if int(batch_id) in _applied(state_path, name):
            return
        sink(batch_df)
        _mark_applied(state_path, batch_id, name)

    return (stream.writeStream
            .foreachBatch(guarded)
            .option("checkpointLocation", checkpoint_path)
            .trigger(availableNow=True)
            .start())


def read_dedup_state(spark: SparkSession, state_path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(state_path, _DOCS))


def stream_dedup_documents(spark: SparkSession, input_path: str,
                           state_path: str, checkpoint_path: str
                           ) -> StreamingQuery:
    """readStream documents → per-batch within-batch survivors →
    anti-join against the seen-state → append only first-seen content."""
    os.makedirs(state_path, exist_ok=True)
    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(input_path)

    def sink(batch_df) -> None:
        sp = batch_df.sparkSession
        hashed = batch_df.withColumn("text_hash", F.md5("text"))
        w = Window.partitionBy("text_hash").orderBy("doc_id")
        survivors = (hashed.withColumn("_rn", F.row_number().over(w))
                     .filter(F.col("_rn") == 1).drop("_rn"))
        target = os.path.join(state_path, _DOCS)
        if os.path.exists(target):
            seen = sp.read.parquet(target).select("text_hash")
            new = survivors.join(seen, "text_hash", "left_anti")
        else:
            new = survivors
        new.write.mode("append").parquet(target)

    return _drain(stream, sink, state_path, _DOCS, checkpoint_path)


def stream_neardup_documents(spark: SparkSession, input_path: str,
                             state_path: str, checkpoint_path: str,
                             num_hashes: int = 64, bands: int = 16,
                             min_est: float = 0.5,
                             keep_dead_signatures: bool = False
                             ) -> StreamingQuery:
    """Streaming NEAR-dup admission: per micro-batch, minhash-sign the
    arriving documents and drop any doc whose estimated Jaccard vs an
    ALREADY-ADMITTED doc (or an earlier doc of the same batch) reaches
    ``min_est``; survivors' signatures append to the persistent
    signature state. The streaming twin of
    :func:`kglinker.ops.dedup.minhash_lsh_pairs` — candidates come from
    the banded bucket equijoin of new-batch keys against the state's
    keys (linear in batch size, never batch × full corpus), exactly the
    incremental-ingest shape: the state only ever APPENDS signatures of
    admitted docs (one row per doc per band).

    Within-batch ordering: lower doc_id wins (the batch self-join uses
    doc_a < doc_b, matching the batch operator's survivor rule);
    cross-batch, earlier-admitted always wins. Replays are
    self-idempotent — a re-run batch collides with its own admitted
    signatures and admits nothing new.

    Cross-batch APPROXIMATION (stated explicitly, r4 advice): with the
    default ``keep_dead_signatures=False``, admission is judged against
    ADMITTED REPRESENTATIVES only, not against every doc ever seen. A
    doc killed within its batch never enters the signature state, so a
    later-arriving doc similar ONLY to that killed doc is admitted —
    where the batch pipeline's connected-components pass would have
    folded it into the same cluster. This is the standard
    streaming-dedup trade (state stays one signature per surviving
    doc). ``keep_dead_signatures=True`` (r5) recovers the
    transitive-closure semantics: killed docs' signatures are appended
    too, flagged ``dead=true``, and collisions with dead rows kill —
    at the cost of state growing with raw-input rather than
    surviving-doc count. ``read_neardup_state`` returns only admitted
    (non-dead) docs either way.

    Scale: bucket the state by band key on a cluster so each batch
    probes only its buckets — demonstrated in
    tests/test_bucketed_join.py::test_neardup_sig_state_bucketed_probe_no_state_exchange
    (state written ``bucketBy(band, key)`` → the probe SortMergeJoin has
    ZERO exchange on the state side); signatures are ``bands`` short
    strings per doc — the state stays a tiny fraction of corpus bytes."""
    os.makedirs(state_path, exist_ok=True)
    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(input_path)
    sig_dir = os.path.join(state_path, "sigs")
    hcols = [f"h{i}" for i in range(num_hashes)]

    def _band_keys(sig):
        # the SAME banding scheme as the batch operator (shared helper —
        # r4 review fix: a divergence here would silently split the
        # streaming admission from the batch near-dup semantics)
        from kglinker.ops.dedup import minhash_band_exprs
        exprs = minhash_band_exprs(num_hashes, bands)
        return (sig.select("doc_id", F.explode(F.array(*exprs)).alias("bk"),
                           *hcols)
                .select("doc_id", F.col("bk.band").alias("band"),
                        F.col("bk.key").alias("key"), *hcols))

    def _sig_array(side: str, name: str):
        # the state keeps one h<i> column per hash; the estimate reads
        # them packed as one array
        return F.array(*[F.col(f"{side}.{h}") for h in hcols]).alias(name)

    def sink(batch_df) -> None:
        sp = batch_df.sparkSession
        from kglinker.ops.dedup import minhash_est, minhash_signatures
        sig = minhash_signatures(batch_df, num_hashes)
        bk = _band_keys(sig)
        # docs too short to shingle (< 3 tokens) produce NO signature;
        # they go through an EXACT-dup channel (band −1, key = md5(text))
        # instead of being silently dropped (r4 review fix) — a short doc
        # can only duplicate another identical short doc
        shorts = (batch_df.join(sig.select("doc_id"), "doc_id", "left_anti")
                  .select("doc_id", F.lit(-1).alias("band"),
                          F.md5("text").alias("key"),
                          *[F.lit(None).cast("string").alias(h)
                            for h in hcols]))
        bk = bk.unionByName(shorts).cache()
        est = minhash_est(F.col("sa"), F.col("sb"))

        # a collision kills when est reaches min_est (signature rows) or
        # exactly (the band −1 short-doc channel: same md5 key)
        def _dead(colliding):
            return (colliding
                    .withColumn("est", F.when(F.col("band") == -1, 1.0)
                                .otherwise(est))
                    .filter(F.col("est") >= min_est)
                    .select("doc_id").distinct())

        dead = None
        if os.path.exists(sig_dir):
            st = sp.read.parquet(sig_dir)
            coll = bk.alias("n").join(
                st.alias("s"),
                (F.col("n.band") == F.col("s.band"))
                & (F.col("n.key") == F.col("s.key"))).select(
                F.col("n.doc_id").alias("doc_id"), F.col("n.band").alias("band"),
                _sig_array("n", "sa"), _sig_array("s", "sb"))
            dead = _dead(coll)
        # within-batch: doc_a < doc_b collision -> the larger id dies
        a, b = bk.alias("a"), bk.alias("b")
        intra_coll = (a.join(b, (F.col("a.band") == F.col("b.band"))
                             & (F.col("a.key") == F.col("b.key"))
                             & (F.col("a.doc_id") < F.col("b.doc_id")))
                      .select(F.col("b.doc_id").alias("doc_id"),
                              F.col("a.band").alias("band"),
                              _sig_array("a", "sa"), _sig_array("b", "sb")))
        intra = _dead(intra_coll)
        dead = intra if dead is None else dead.unionByName(intra).distinct()
        survivors = bk.join(dead, "doc_id", "left_anti") \
                      .select("doc_id", "band", "key", *hcols) \
                      .withColumn("dead", F.lit(False))
        if keep_dead_signatures:
            # closure mode (r5): killed docs' signatures enter the state
            # flagged dead so FUTURE batches still collide with them —
            # the collision join above reads the whole state, dead rows
            # included, so a dead collision kills exactly like a live one
            killed = bk.join(dead, "doc_id", "left_semi") \
                       .select("doc_id", "band", "key", *hcols) \
                       .withColumn("dead", F.lit(True))
            if os.path.exists(sig_dir):
                # replay idempotence (r5 review fix): a marker-less
                # replayed batch self-collides on its OWN state rows and
                # lands wholly in `dead` — docs already represented in
                # the state (live or dead) must not be re-appended, or
                # admitted docs would gain contradictory dead rows and
                # the state would grow by a full batch per replay
                seen_ids = sp.read.parquet(sig_dir).select("doc_id")
                killed = killed.join(seen_ids, "doc_id", "left_anti")
            survivors = survivors.unionByName(killed)
        survivors.write.mode("append").parquet(sig_dir)
        bk.unpersist()

    return _drain(stream, sink, state_path, "sigs", checkpoint_path)


def read_neardup_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Admitted doc ids (one row per doc) from the signature state —
    dead rows (closure mode) are not admissions."""
    return (spark.read.parquet(os.path.join(state_path, "sigs"))
            .filter(~F.col("dead")).select("doc_id").distinct())

"""Streaming KG maintenance: incremental co-occurrence edge weights.

Batch mode recomputes edge weights from all mentions; in streaming, each
micro-batch contributes per-conversation entity pairs whose counts must
MERGE into the persistent edge table. This module implements that
read-merge-write inside ``foreachBatch`` — the parquet stand-in for an
Iceberg ``MERGE INTO kg.edges USING batch ON subj/obj WHEN MATCHED THEN
UPDATE weight = weight + delta WHEN NOT MATCHED THEN INSERT`` (the
transactional form on a cluster; exactly-once via the streaming
checkpoint + idempotent batch-id guard).

Scale notes: the per-batch delta is tiny (pairs from new conversations
only); the merge joins delta × edge-table keyed by (subj, obj) — on
Iceberg a storage-partitioned join on the bucket(subj) layout, no full
rewrite. The batch-id guard makes foreachBatch replays (task retries,
driver restarts) idempotent.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kglinker.data.transcripts import TRANSCRIPTS_SCHEMA
from kglinker.extract.stage import extract_mentions
from kglinker.graph.triples import conversation_pairs, mention_entities

__all__ = ["merge_edge_deltas", "stream_cooccurrence_edges", "read_edge_state"]

_EDGES = "edges"
# replay-skip markers are NAMESPACED PER STREAM (r4 advice): pointing two
# streams (edge merge + a dedup stream) at one state_path must not let
# batch N of one silently skip batch N of the other. Marker semantics:
# batch ids are assigned by the CHECKPOINT, so a marker only means
# "applied" for the checkpoint it was written under — resetting
# checkpoint_path while keeping state_path requires clearing the
# matching marker file too (each stream documents its own pairing).
_MARK = "_applied_batches_{stream}.json"


def merge_edge_deltas(spark: SparkSession, delta: DataFrame,
                      state_path: str) -> None:
    """Merge (subj, obj, weight) deltas into the persistent edge table:
    matched keys add weights, new keys insert. Parquet read-merge-write
    (atomic directory swap); Iceberg form: one MERGE INTO."""
    target = os.path.join(state_path, _EDGES)
    if os.path.exists(target):
        cur = spark.read.parquet(target)
        merged = (cur.unionByName(delta)
                  .groupBy("subj", "obj")
                  .agg(F.sum("weight").alias("weight")))
    else:
        merged = delta
    tmp = target + "._staging"
    merged.write.mode("overwrite").parquet(tmp)
    old = target + "._old"
    if os.path.exists(target):
        os.replace(target, old)
    os.replace(tmp, target)
    if os.path.exists(old):
        import shutil
        shutil.rmtree(old)


def _applied(state_path: str, stream: str = "edges") -> set[int]:
    # reads ONLY the namespaced marker: legacy (pre-namespacing) ids are
    # imported exactly once by _migrate_legacy_marker at stream start —
    # consulting the shared legacy file here would re-absorb ids some
    # OTHER stream wrote after our namespaced marker exists (the r6
    # review found that flip: batch 0 creates the edge table, and a
    # per-call edges-table gate then honors a dedup-written marker for
    # every later batch — silent edge data loss)
    p = os.path.join(state_path, _MARK.format(stream=stream))
    if os.path.exists(p):
        with open(p) as fh:
            return set(json.load(fh))
    return set()


def _migrate_legacy_marker(state_path: str) -> None:
    """One-shot import of the pre-namespacing shared marker into
    ``_applied_batches_edges.json`` — ONLY when the state_path already
    holds an edge table and no namespaced marker yet (i.e. a genuine
    pre-namespacing EDGE stream state). A state_path with dedup state
    but no edge table never imports: the legacy marker there was written
    by a dedup stream, and honoring it would skip edge batches with
    colliding ids. The edge stream keeps the guard because its weight
    merge has no idempotence backstop (a double-applied batch
    double-counts); the dedup streams deliberately ignore the legacy
    file — their state anti-joins make re-processing safe."""
    ns = os.path.join(state_path, _MARK.format(stream="edges"))
    legacy = os.path.join(state_path, "_applied_batches.json")
    if (os.path.exists(legacy) and not os.path.exists(ns)
            and os.path.exists(os.path.join(state_path, _EDGES))):
        with open(legacy) as fh:
            ids = sorted(set(json.load(fh)))
        tmp = ns + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(ids, fh)
        os.replace(tmp, ns)


def _mark_applied(state_path: str, batch_id: int,
                  stream: str = "edges") -> None:
    done = _applied(state_path, stream) | {int(batch_id)}
    p = os.path.join(state_path, _MARK.format(stream=stream))
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(sorted(done), fh)
    os.replace(tmp, p)


def stream_cooccurrence_edges(spark: SparkSession, input_path: str,
                              state_path: str, checkpoint_path: str,
                              artifacts_bcast,
                              available_now: bool = True,
                              max_files_per_trigger: int | None = None
                              ) -> StreamingQuery:
    """readStream transcripts → extraction → per-batch pair deltas →
    idempotent merge into the edge-weight state. Assumes conversations
    arrive atomically within one micro-batch (the ingest contract;
    cross-batch conversations go through streaming.stateful first)."""
    os.makedirs(state_path, exist_ok=True)
    _migrate_legacy_marker(state_path)
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = (reader
              .parquet(input_path)
              .withWatermark("ts", "1 hour")
              .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"]))

    def sink(batch_df, batch_id: int) -> None:
        if int(batch_id) in _applied(state_path):
            return   # replayed batch: already merged (idempotence guard)
        mentions = extract_mentions(batch_df, artifacts_bcast)
        pairs = conversation_pairs(mention_entities(mentions))
        delta = pairs.groupBy("subj", "obj").agg(
            F.count(F.lit(1)).alias("weight"))
        merge_edge_deltas(batch_df.sparkSession, delta, state_path)
        _mark_applied(state_path, batch_id)

    writer = (stream.writeStream
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_edge_state(spark: SparkSession, state_path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(state_path, _EDGES))

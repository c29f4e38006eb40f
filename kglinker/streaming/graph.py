"""Streaming KG maintenance: incremental co-occurrence edge weights.

One query: the stateful extraction stream
(:func:`kglinker.streaming.stateful.closed_conversation_mentions`, whole
conversations across micro-batches) → per micro-batch, the entity pairs
of the conversations that closed in it (:func:`conversation_pairs`,
shared with the batch edges) → merged into the persistent edge table. A
conversation split over several micro-batches contributes its pairs once,
after it closes. The merge is the parquet stand-in for an Iceberg
``MERGE INTO kg.edges USING batch ON subj/obj WHEN MATCHED THEN UPDATE
weight = weight + delta WHEN NOT MATCHED THEN INSERT``.

Commit: each merge is written to ``edges/_staging-<batch_id>`` and
committed by ONE rename to ``edges/v-<batch_id>``; the highest committed
version is the live table (the Iceberg snapshot commit). The version name
is also the replay guard: batch ids only grow within one checkpoint, so a
batch whose id is ≤ the committed id was merged already and is skipped. A
crash before the rename leaves the previous version live and the replay
redoes the batch; a crash after it leaves the new version live and the
replay is skipped; leftover staging directories and older versions are
removed after each commit and when the stream starts. A micro-batch that
closes no conversation pair commits nothing. Batch ids restart at 0 with
a new checkpoint, so a new ``checkpoint_path`` needs a new
``state_path``.

Scale notes: the per-batch delta is tiny (pairs from closed conversations
only); the merge joins delta × edge-table keyed by (subj, obj) — on
Iceberg a storage-partitioned join on the bucket(subj) layout, no full
rewrite.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kglinker.graph.triples import conversation_pairs, mention_entities
from kglinker.streaming.stateful import TRIGGER, closed_conversation_mentions

__all__ = ["merge_edge_deltas", "stream_cooccurrence_edges", "read_edge_state"]

_EDGES = "edges"
_VERSION = "v-"
_STAGING = "_staging-"
_EDGE_SCHEMA = "subj string, obj string, weight long"


def _committed(edges: str) -> int | None:
    """Batch id of the live (highest committed) version, None if none."""
    if not os.path.isdir(edges):
        return None
    ids = [int(f[len(_VERSION):]) for f in os.listdir(edges)
           if f.startswith(_VERSION)]
    return max(ids, default=None)


def _drop_stale(edges: str, live: int | None) -> None:
    """Remove staging directories and every version but ``live``."""
    for f in os.listdir(edges):
        if f.startswith(_STAGING) or (f.startswith(_VERSION)
                                      and int(f[len(_VERSION):]) != live):
            shutil.rmtree(os.path.join(edges, f))


def _open_edges(state_path: str) -> str:
    """The edge table directory, with the leftovers of an interrupted
    commit removed (run when the stream starts)."""
    edges = os.path.join(state_path, _EDGES)
    os.makedirs(edges, exist_ok=True)
    _drop_stale(edges, _committed(edges))
    return edges


def merge_edge_deltas(spark: SparkSession, delta: DataFrame,
                      state_path: str, batch_id: int) -> None:
    """Merge (subj, obj, weight) deltas into the edge table as version
    ``batch_id``: matched keys add weights, new keys insert. A
    ``batch_id`` at or below the committed version is a replay and
    changes nothing."""
    edges = os.path.join(state_path, _EDGES)
    live = _committed(edges)
    if live is not None and batch_id <= live:
        return
    merged = delta
    if live is not None:
        merged = (spark.read.parquet(os.path.join(edges, f"{_VERSION}{live}"))
                  .unionByName(delta)
                  .groupBy("subj", "obj")
                  .agg(F.sum("weight").alias("weight")))
    staging = os.path.join(edges, f"{_STAGING}{batch_id}")
    merged.write.mode("overwrite").parquet(staging)
    os.rename(staging, os.path.join(edges, f"{_VERSION}{batch_id}"))
    _drop_stale(edges, batch_id)


def stream_cooccurrence_edges(spark: SparkSession, input_path: str,
                              state_path: str, checkpoint_path: str,
                              artifacts_bcast,
                              idle_timeout_ms: int = 2000) -> StreamingQuery:
    """readStream transcripts → whole conversations → per-batch pair
    deltas of the closed ones → committed merge into the edge-weight
    state. ``idle_timeout_ms`` closes a conversation (see
    :func:`closed_conversation_mentions`)."""
    _open_edges(state_path)

    def sink(batch_df, batch_id: int) -> None:
        # persisted: the empty check and the merge share one run of the
        # batch's stateful step
        delta = (conversation_pairs(mention_entities(batch_df))
                 .groupBy("subj", "obj")
                 .agg(F.count(F.lit(1)).alias("weight"))
                 .persist())
        try:
            if not delta.isEmpty():
                merge_edge_deltas(batch_df.sparkSession, delta, state_path,
                                  batch_id)
        finally:
            delta.unpersist()

    return (closed_conversation_mentions(spark, input_path, artifacts_bcast,
                                         idle_timeout_ms)
            .writeStream
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_path)
            .trigger(processingTime=TRIGGER)
            .start())


def read_edge_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The live edge table; empty before the first commit."""
    edges = os.path.join(state_path, _EDGES)
    live = _committed(edges)
    if live is None:
        return spark.createDataFrame([], _EDGE_SCHEMA)
    return spark.read.parquet(os.path.join(edges, f"{_VERSION}{live}"))

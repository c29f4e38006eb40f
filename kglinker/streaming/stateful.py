"""Stateful streaming extraction: whole-conversation semantics across
micro-batches via ``applyInPandasWithState`` — the one streaming
extraction path.

Per-``conv_id`` group state accumulates a conversation's turns until it
goes idle (processing-time timeout); then the *entire* conversation is
annotated once with the same per-conversation core the batch path uses
(single code path, exact batch parity), and its mentions are emitted. A
pronoun arriving in a later micro-batch therefore resolves against its
antecedent from an earlier one.

This is the Spark-native analogue of the reference daemon's "document
accumulates on stdin until NER_NEW_FILE, then recognize() runs"
(``ner_cz.py:1718-1737``) — the control token becomes a state timeout.

:func:`closed_conversation_mentions` is the one stream: read →
watermarked dedup of re-sent ``(conv_id, turn_idx)`` turns (the
watermark only bounds the dedup state) → group state → mentions of the
conversations that closed in the micro-batch. Two sinks consume it:
:func:`stateful_extract_mentions` appends the mentions to a parquet
table, and :func:`kglinker.streaming.graph.stream_cooccurrence_edges`
merges their co-occurrence pairs into the edge-weight table.

Both queries run on a processing-time trigger. A
``ProcessingTimeTimeout`` operator asks for a micro-batch on every
trigger, so an ``availableNow`` query never ends and
``processAllAvailable`` never returns.

Scale notes: state per group = the conversation's turns (tiny); the state
store is RocksDB-backed on a real cluster; timeout bounds memory; key
distribution is conv_id (uniform, no hot keys).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kglinker.data.transcripts import TRANSCRIPTS_SCHEMA
from kglinker.extract.matcher import MENTIONS_SCHEMA_DDL, annotate_conversation

__all__ = ["closed_conversation_mentions", "stateful_extract_mentions",
           "TRIGGER"]

TRIGGER = "1 second"
_STATE_SCHEMA = "turn_idx array<int>, texts array<string>"
_MENTION_COLS = ["conv_id", "turn_idx", "start", "end", "mention_type",
                 "surface", "kb_id", "resolved"]


def _make_handler(artifacts_bcast, idle_timeout_ms: int):
    def handle(key: tuple, batches: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        if state.hasTimedOut:
            turn_idx, texts = state.get
            state.remove()
            turns = sorted(zip(turn_idx, texts))
            rows = [(r.conv_id, r.turn_idx, r.start, r.end, r.mention_type,
                     r.surface, r.kb_id, r.resolved)
                    for r in annotate_conversation(
                        conv_id, [(int(t), x) for t, x in turns],
                        artifacts_bcast.value)]
            yield pd.DataFrame(rows, columns=_MENTION_COLS)
            return
        turn_idx, texts = (state.get if state.exists else ([], []))
        turn_idx, texts = list(turn_idx), list(texts)
        for pdf in batches:
            turn_idx.extend(int(t) for t in pdf["turn_idx"])
            texts.extend(pdf["text"])
        state.update((turn_idx, texts))
        state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(columns=_MENTION_COLS)

    return handle


def closed_conversation_mentions(spark: SparkSession, input_path: str,
                                 artifacts_bcast,
                                 idle_timeout_ms: int) -> DataFrame:
    """Streaming mentions of whole conversations: a conversation's
    mentions are emitted once, in the micro-batch after
    ``idle_timeout_ms`` of processing time with no new turns for its
    conv_id.

    ``idle_timeout_ms`` is the conversation-end marker: size it above the
    maximum expected inter-turn arrival gap, or a long-pausing
    conversation is split (each segment annotated independently — turns
    are never lost, but cross-segment coreference is)."""
    stream = (spark.readStream
              .schema(TRANSCRIPTS_SCHEMA)
              .parquet(input_path)
              .withWatermark("ts", "1 hour")
              .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
              .select("conv_id", "turn_idx", "text"))
    return (stream.groupBy("conv_id")
            .applyInPandasWithState(
                _make_handler(artifacts_bcast, idle_timeout_ms),
                outputStructType=MENTIONS_SCHEMA_DDL,
                stateStructType=_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.ProcessingTimeTimeout))


def stateful_extract_mentions(spark: SparkSession, input_path: str,
                              output_path: str, checkpoint_path: str,
                              artifacts_bcast,
                              idle_timeout_ms: int = 2000) -> StreamingQuery:
    """Start the stateful streaming extraction: the mentions of
    :func:`closed_conversation_mentions` append to the parquet table at
    ``output_path``; ``checkpoint_path`` carries the source offsets and
    both state stores → exactly-once appends. A kill + restart resumes
    from the checkpointed state store, and conversations accumulated
    before the kill still emit."""
    return (closed_conversation_mentions(spark, input_path, artifacts_bcast,
                                         idle_timeout_ms)
            .writeStream
            .outputMode("append")
            .format("parquet")
            .option("path", output_path)
            .option("checkpointLocation", checkpoint_path)
            .trigger(processingTime=TRIGGER)
            .start())

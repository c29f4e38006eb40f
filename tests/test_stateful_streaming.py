"""applyInPandasWithState: whole-conversation semantics across
micro-batches — a pronoun arriving in a later batch must resolve against
its antecedent from an earlier batch (impossible with per-batch
extraction) — with exactly-once output and batch parity."""

from __future__ import annotations

import time
from datetime import datetime

from kglinker.data.transcripts import TRANSCRIPTS_SCHEMA, transcripts_df
from kglinker.extract.stage import extract_mentions
from kglinker.streaming.stateful import stateful_extract_mentions


def _write(spark, path, rows):
    spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA) \
        .write.mode("append").parquet(path)


def _await_read(q, n_rows, timeout=120):
    """Block until the query's finished micro-batches have read
    ``n_rows`` source rows in all. (``processAllAvailable`` never returns
    here: the processing-time timeout asks for a micro-batch on every
    trigger.)"""
    deadline = time.time() + timeout
    while sum(p["numInputRows"] for p in q.recentProgress) < n_rows:
        assert time.time() < deadline, "the query did not read its input"
        time.sleep(0.2)


def _await_rows(spark, q, out, n, timeout=120):
    """Poll the output table until it holds ``n`` rows (or time runs
    out), stop the query, and return its rows."""
    deadline = time.time() + timeout
    try:
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= n:
                    break
            except Exception:   # no committed batch yet
                pass
            time.sleep(1)
    finally:
        q.stop()
    return spark.read.parquet(out).collect()


def test_cross_batch_pronoun_coref(spark, artifacts_bcast, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    ts = datetime(2025, 1, 1)
    turn0 = ("conv_x", 0, "user", "Marie Curie visited Praha .", None, ts)
    _write(spark, inp, [turn0])
    # idle timeout must exceed the inter-batch gap, else the conversation
    # is emitted early (by design: the timeout IS the conversation-end
    # marker)
    q = stateful_extract_mentions(spark, inp, out, ckpt, artifacts_bcast,
                                  idle_timeout_ms=10000)
    _await_read(q, 1)            # turn 0 sits in the group state
    # a re-send of turn 0 and the pronoun turn land in a later batch
    _write(spark, inp, [turn0, ("conv_x", 1, "assistant",
                                "later ona moved to Germany .", None, ts)])
    rows = _await_rows(spark, q, out, 4)
    got = [(r["turn_idx"], r["mention_type"], r["surface"], r["kb_id"])
           for r in rows]
    # the re-sent turn is dropped, each mention is emitted once, and the
    # pronoun resolves to its antecedent from the earlier batch
    assert sorted(got) == [(0, "kb", "Marie Curie", 8), (0, "kb", "Praha", 12),
                           (1, "coref", "ona", 8), (1, "kb", "Germany", 17)]


def test_stateful_extract_exactly_once_and_batch_parity(spark, artifacts_bcast,
                                                        tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    transcripts_df(spark, 20).write.mode("overwrite").parquet(inp)
    batch = {tuple(r) for r in
             extract_mentions(spark.read.parquet(inp), artifacts_bcast).collect()}
    assert batch
    q = stateful_extract_mentions(spark, inp, out, ckpt, artifacts_bcast,
                                  idle_timeout_ms=1000)
    # batch parity: the streamed mentions equal the batch stage's
    assert {tuple(r) for r in _await_rows(spark, q, out, len(batch))} == batch
    # exactly-once: two micro-batches of a restart on the same checkpoint
    # read no input and add no rows
    q2 = stateful_extract_mentions(spark, inp, out, ckpt, artifacts_bcast,
                                   idle_timeout_ms=1000)
    deadline = time.time() + 120
    try:
        while len(q2.recentProgress) < 2:
            assert time.time() < deadline, "the restarted query made no progress"
            time.sleep(0.2)
        assert sum(p["numInputRows"] for p in q2.recentProgress) == 0
    finally:
        q2.stop()
    assert spark.read.parquet(out).count() == len(batch)

"""Streaming KG maintenance: edge weights accumulate across micro-batches
from whole conversations, each merge commits with one rename, and a
crash at any commit step followed by a replay gives the weights of an
uninterrupted run."""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime

import pytest

from kglinker.data.transcripts import TRANSCRIPTS_SCHEMA
from kglinker.streaming import graph
from kglinker.streaming.graph import (merge_edge_deltas, read_edge_state,
                                      stream_cooccurrence_edges)


def _conv(cid, texts, minute):
    base = datetime(2025, 1, 1, 0, minute)
    return [(cid, i, "user", t, None, base) for i, t in enumerate(texts)]


def _write_batch(spark, path, rows, name):
    """Land new parquet FILES in the watched directory (the file stream
    source does not recurse into subdirectories)."""
    import glob
    tmp = os.path.join(path, f"_stage_{name}")
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    for i, f in enumerate(sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))):
        shutil.move(f, os.path.join(path, f"{name}_{i}.parquet"))
    shutil.rmtree(tmp)


def _edges(spark, state):
    return {(r["subj"], r["obj"]): r["weight"]
            for r in read_edge_state(spark, state).collect()}


def _await_read(q, n_rows, timeout=120):
    """Block until the query's finished micro-batches have read
    ``n_rows`` source rows in all. (``processAllAvailable`` never returns
    here: the processing-time timeout asks for a micro-batch on every
    trigger.)"""
    deadline = time.time() + timeout
    while sum(p["numInputRows"] for p in q.recentProgress) < n_rows:
        assert time.time() < deadline, "the query did not read its input"
        time.sleep(0.2)


def _await_edges(spark, q, state, want, timeout=120):
    """Poll the live edge table until it equals ``want`` (or time runs
    out), check that the micro-batch after the commit (an empty one: the
    timeout asks for one per trigger) commits no new version, stop the
    query, and return the table as it then stands."""
    deadline = time.time() + timeout
    edges = os.path.join(state, "edges")
    try:
        while time.time() < deadline:
            try:
                if _edges(spark, state) == want:
                    break
            except Exception:   # a version removed under the read
                pass
            time.sleep(1)
        live = graph._committed(edges)
        while ((q.lastProgress or {}).get("batchId", -1) <= live
               and time.time() < deadline):
            time.sleep(0.2)
        assert graph._committed(edges) == live
    finally:
        q.stop()
    return _edges(spark, state)


def test_stream_edges_accumulate(spark, artifacts_bcast, tmp_path):
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp)

    # batch 1: one conversation mentioning Curie(8) + Prague-canonical(12)
    _write_batch(spark, inp, _conv("s1", ["Marie Curie visited Praha ."], 0),
                 "b1")
    q = stream_cooccurrence_edges(spark, inp, state, ckpt, artifacts_bcast,
                                  idle_timeout_ms=1000)
    # sorted entity pair, one conversation
    assert _await_edges(spark, q, state, {("8", "12"): 1}) == {("8", "12"): 1}

    # batch 2, after a restart on the same checkpoint: two more
    # conversations carrying the same edge
    _write_batch(spark, inp,
                 _conv("s2", ["Marie Curie visited Praha again ."], 1)
                 + _conv("s3", ["Marie Curie loved Praha ."], 2), "b2")
    q2 = stream_cooccurrence_edges(spark, inp, state, ckpt, artifacts_bcast,
                                   idle_timeout_ms=1000)
    assert _await_edges(spark, q2, state, {("8", "12"): 3}) == {("8", "12"): 3}
    # each commit leaves one version and no staging directory
    assert len(os.listdir(os.path.join(state, "edges"))) == 1


def test_stream_edges_close_split_conversation(spark, artifacts_bcast,
                                               tmp_path):
    """Conversation c1 arrives over two files: turn 0, then turn 0 again
    (a re-send) with turn 1, whose pronoun ``ona`` refers back to Marie
    Curie. The edges come from the whole conversation: Curie (8), Praha
    (12) and Germany (17) pair once each. Annotating each micro-batch on
    its own gives only (8, 12)."""
    inp, state, ckpt = (str(tmp_path / d) for d in ("in", "st", "ck"))
    os.makedirs(inp)
    ts = datetime(2025, 1, 1)
    turn0 = ("c1", 0, "user", "Marie Curie visited Praha .", None, ts)
    turn1 = ("c1", 1, "assistant", "later ona moved to Germany .", None, ts)
    _write_batch(spark, inp, [turn0], "b1")
    # the idle timeout must outlast the gap between the two batches
    q = stream_cooccurrence_edges(spark, inp, state, ckpt, artifacts_bcast,
                                  idle_timeout_ms=10000)
    _await_read(q, 1)            # turn 0 sits in the group state
    _write_batch(spark, inp, [turn0, turn1], "b2")   # a later micro-batch
    want = {("8", "12"): 1, ("8", "17"): 1, ("12", "17"): 1}
    assert _await_edges(spark, q, state, want) == want


def test_merge_is_idempotent_per_batch(spark, tmp_path):
    state = str(tmp_path / "st")
    os.makedirs(state)
    delta = spark.createDataFrame([("1", "2", 5)],
                                  "subj string, obj string, weight long")
    merge_edge_deltas(spark, delta, state, 0)
    merge_edge_deltas(spark, delta, state, 1)   # a new batch adds
    assert _edges(spark, state) == {("1", "2"): 10}
    merge_edge_deltas(spark, delta, state, 1)   # its replay does not
    merge_edge_deltas(spark, delta, state, 0)
    assert _edges(spark, state) == {("1", "2"): 10}
    assert os.listdir(os.path.join(state, "edges")) == ["v-1"]


class _Crash(Exception):
    pass


_REAL_RENAME = os.rename


def _crash_before_rename(src, dst):
    raise _Crash


def _crash_after_rename(src, dst):
    _REAL_RENAME(src, dst)
    raise _Crash


def _crash_in_cleanup(path, *args, **kwargs):
    # the old version is half deleted when the process dies
    os.remove(os.path.join(path, sorted(os.listdir(path))[0]))
    raise _Crash


@pytest.mark.parametrize("target, crash", [
    ("rename", _crash_before_rename),
    ("rename", _crash_after_rename),
    ("rmtree", _crash_in_cleanup),
])
def test_merge_commit_survives_crash_and_replay(spark, tmp_path, monkeypatch,
                                                target, crash):
    """A crash at each step of batch 1's commit, then a restart that
    replays batch 1 and goes on with batch 2: the weights equal an
    uninterrupted run, and one committed version is left."""
    def delta(rows):
        return spark.createDataFrame(rows,
                                     "subj string, obj string, weight long")
    deltas = [[("1", "2", 1)], [("1", "2", 2), ("2", "3", 1)], [("3", "4", 5)]]
    want = {("1", "2"): 3, ("2", "3"): 1, ("3", "4"): 5}

    state = str(tmp_path / "st")
    merge_edge_deltas(spark, delta(deltas[0]), state, 0)
    with monkeypatch.context() as m:
        m.setattr(os if target == "rename" else shutil, target, crash)
        with pytest.raises(_Crash):
            merge_edge_deltas(spark, delta(deltas[1]), state, 1)
    # a reader sees batch 0's table or batches 0+1's, never no table
    assert _edges(spark, state) in ({("1", "2"): 1},
                                    {("1", "2"): 3, ("2", "3"): 1})
    edges = graph._open_edges(state)      # the restarted stream
    for batch_id in (1, 2):               # batch 1 replays
        merge_edge_deltas(spark, delta(deltas[batch_id]), state, batch_id)
    assert _edges(spark, state) == want
    assert os.listdir(edges) == ["v-2"]

"""Streamed >30M-surface automaton build path (r2 verdict demand #5):
``broadcast_artifacts(streamed=True)`` feeds ``toLocalIterator`` rows
straight into the automaton's surface dict so the driver never holds a
row list next to the compiled structures — previously BENCH/BASELINE.md prose, now code.

1. Parity: streamed and collect builds produce identical artifacts on the
   fixture KB (same matches, meta, subnames).
2. Memory bound: building from a lazy iterator peaks strictly below
   building from a materialized row list (the delta is the row list —
   the whole point of the streamed path), measured with tracemalloc on a
   deterministic synthetic namelist.
"""

from __future__ import annotations

import tracemalloc

from kglinker.automaton.build import Automaton, build_artifacts


def test_streamed_equals_collect(spark, kb_scored):
    from kglinker.automaton.build import broadcast_artifacts
    from kglinker.kb.names import build_namelist, build_subname_map
    nl = build_namelist(kb_scored).cache()
    sub = build_subname_map(kb_scored).cache()
    a = broadcast_artifacts(spark, kb_scored, nl, sub, streamed=False).value
    b = broadcast_artifacts(spark, kb_scored, nl, sub, streamed=True).value
    assert a.automaton.entries == b.automaton.entries
    assert a.kb_meta == b.kb_meta
    assert a.subname_map == b.subname_map
    text = "mluvili jsme o Janu Novákovi a Tomáš Garrigue Masaryk přišel ."
    assert a.automaton.find_matches(text) == b.automaton.find_matches(text)


def _rows(n: int):
    for i in range(n):
        yield {"surface": f"Entity Number {i:07d}",
               "kb_ids": [i % 1000, i], "is_fragment": False}


def _build(rows):
    return build_artifacts(
        kb_scored_rows=iter(()), namelist_rows=rows, subname_rows=iter(()))


def test_streamed_build_memory_headroom():
    n = 60_000
    # path A: materialized row list (the old collect() shape)
    tracemalloc.start()
    rows = [r for r in _rows(n)]
    art_a = _build(rows)
    peak_list = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    del rows, art_a

    # path B: lazy iterator (the toLocalIterator shape)
    tracemalloc.start()
    art_b = _build(_rows(n))
    peak_stream = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()

    assert len(art_b.automaton) == n
    # the streamed peak must be below the list peak by at least half the
    # row-list footprint (row dicts ≈ 300+ B each → >9 MB at 60k rows)
    assert peak_stream < peak_list - 9_000_000, (peak_stream, peak_list)


def test_incremental_add_matches_batch():
    entries = {"Jan Novák": ((6,), False), "Jan": ((6, 7), True),
               "Novák": ((6,), False)}
    batch = Automaton(entries)
    streamed = Automaton(iter(entries.items()))
    assert batch.entries == streamed.entries
    t = "včera Jan Novák přišel"
    assert batch.find_matches(t) == streamed.find_matches(t)
    # last payload wins on duplicate surfaces (dict semantics)
    dup = Automaton(iter([("Jan", ((1,), False)), ("Jan", ((2,), True))]))
    assert dup.get("Jan") == ((2,), True)

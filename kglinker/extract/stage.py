"""Distributed extraction stage: transcripts → mentions DataFrame.

The per-document sequential semantics (SURVEY §2.10, §3.1) require whole
conversations in one Python call. Two ways to get that in Spark:

- ``groupBy(conv_id).applyInPandas`` — semantically direct, but pays one
  Python invocation + Arrow frame per *conversation*; conversations are
  tiny (~7 turns) so per-group overhead dominates (measured 2× slower than
  single-core Python at sf0.01).
- **chosen**: ``repartition(conv_id) → sortWithinPartitions(conv_id,
  turn_idx) → mapInArrow`` — one Python call per Arrow batch (thousands
  of conversations), with a carry-over buffer for the conversation that
  straddles a batch boundary. Hash partitioning guarantees a conversation
  never straddles a *partition* boundary, so the carry is always resolved
  within the partition.

The broadcast ``KBArtifacts`` payload is loaded once per executor (Spark
broadcast = the reference's shm-resident KB + automaton,
``SharedKB/var2/main.c:352-381``).

Scale design (north_rule: partitioning explicit):
- one hash shuffle on ``conv_id`` feeds grouping and downstream
  per-conversation writes; the text never shuffles twice;
- hot-key mentions (frequent tool names) do NOT skew this stage (the key
  is conv_id, not surface); surface-keyed skew is handled at the edge
  aggregation via salting (:mod:`kglinker.runtime.partitioning`).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from kglinker.extract.matcher import MENTIONS_SCHEMA_DDL, annotate_conversation

__all__ = ["extract_mentions", "annotate_pdf", "annotate_sorted_arrays",
           "with_byte_offsets"]

_OUT_COLS = ["conv_id", "turn_idx", "start", "end", "mention_type",
             "surface", "kb_id", "resolved"]


def _pa_schema():
    """Arrow schema mirroring MENTIONS_SCHEMA_DDL (module-level so reused
    executor workers build it once per import, not per task)."""
    import pyarrow as pa
    return pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("start", pa.int32()), ("end", pa.int32()),
        ("mention_type", pa.string()), ("surface", pa.string()),
        ("kb_id", pa.int64()), ("resolved", pa.string())])


_PA_SCHEMA = _pa_schema()


def _empty_out() -> pd.DataFrame:
    return pd.DataFrame({c: pd.Series(dtype=t) for c, t in zip(
        _OUT_COLS, ["object", "int32", "int32", "int32", "object", "object",
                    "float64", "object"])})


def annotate_sorted_arrays(conv_ids, turn_idxs, texts, art,
                           detect_unknown_names: bool = False,
                           **matcher_flags) -> list[tuple]:
    """Fast path: rows already sorted by (conv_id, turn_idx). Iterates raw
    arrays (no pandas groupby), calling the per-conversation core at each
    conv boundary. ``matcher_flags`` pass through to
    :func:`annotate_conversation` (case_insensitive / spellcheck /
    accent_insensitive / uri_matching — the figa ``-l``/``-s``/
    ``--remove_accent``/``-u`` opt-ins)."""
    rows: list[tuple] = []
    n = len(conv_ids)
    i = 0
    while i < n:
        conv = conv_ids[i]
        j = i
        turns = []
        while j < n and conv_ids[j] == conv:
            turns.append((int(turn_idxs[j]), texts[j]))
            j += 1
        for r in annotate_conversation(str(conv), turns, art,
                                       detect_unknown_names,
                                       **matcher_flags):
            rows.append((r.conv_id, r.turn_idx, r.start, r.end,
                         r.mention_type, r.surface, r.kb_id, r.resolved))
        i = j
    return rows


def annotate_pdf(pdf: pd.DataFrame, art,
                 detect_unknown_names: bool = False,
                 **matcher_flags) -> pd.DataFrame:
    """Annotate a pandas frame holding whole conversations (single-process
    oracle entry point — identical core to the executors)."""
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    rows = annotate_sorted_arrays(pdf["conv_id"].to_numpy(),
                                  pdf["turn_idx"].to_numpy(),
                                  pdf["text"].to_numpy(), art,
                                  detect_unknown_names, **matcher_flags)
    return pd.DataFrame(rows, columns=_OUT_COLS) if rows else _empty_out()


def extract_mentions(transcripts: DataFrame, artifacts_bcast,
                     num_partitions: int | None = None,
                     detect_unknown_names: bool = False,
                     assume_clustered: bool = False,
                     **matcher_flags) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, ...) → mentions.

    ``artifacts_bcast``: broadcast from
    :func:`kglinker.automaton.build.broadcast_artifacts`.

    ``assume_clustered``: skip the conv_id exchange + sort when the input
    is already conversation-clustered — every conversation's rows live in
    ONE input split, ordered by (conv_id, turn_idx). That holds for an
    Iceberg table written ``PARTITIONED BY bucket(conv_id)`` with a
    sort order, and for this engine's own checkpointer output. Measured
    on this sandbox at local[32]: the exchange costs ~2× (367k → 719k
    turns/s on a 21M-turn corpus) because local mode funnels the shuffle
    through one disk; on a real cluster the win is smaller but the
    shuffle of the full corpus text (the largest byte volume in the whole
    pipeline) still disappears. Caller owns the clustering guarantee —
    a conversation straddling two splits silently resets its coref state.
    """
    spark = transcripts.sparkSession
    if num_partitions is None:
        # one partition per available core (r7; was 2×): conv_id is
        # near-uniform (conversations are small and bounded — module
        # doc), so the extra wave bought no skew smoothing and each
        # extra task pays a fixed Python-batch + carry-resolution cost.
        # Measured at sf0.1/210k turns: 1× 1.35 s, 2× 1.85 s, 4× 3.02 s
        # median. Still cluster-relative, never a constant; a corpus
        # with genuinely skewed conversation sizes can pass
        # num_partitions explicitly.
        num_partitions = spark.sparkContext.defaultParallelism

    def run(batches) -> "Iterator":
        # mapInArrow (r7, guide §4.2): batches stay Arrow end-to-end —
        # no pandas frame construction on either side of the boundary
        # (the output used to be built as a pandas DataFrame from 400k
        # row tuples per bench run; RecordBatch.from_arrays over zipped
        # column lists measured ~0.4 s faster cold at sf0.1 and drops
        # the per-task pandas import). Values are byte-identical — the
        # kb_id column is now a nullable int64 straight from Python ints
        # instead of a float64 pandas detour.
        import pyarrow as pa
        art = artifacts_bcast.value

        def to_batch(rows: list[tuple]) -> "pa.RecordBatch":
            cols = list(zip(*rows)) if rows else [[]] * len(_OUT_COLS)
            arrays = [pa.array(cols[i], type=f.type)
                      for i, f in enumerate(_PA_SCHEMA)]
            return pa.RecordBatch.from_arrays(arrays, schema=_PA_SCHEMA)

        carry: tuple[list, list, list] | None = None
        for rb in batches:
            cid = rb.column(0).to_pylist()
            tid = rb.column(1).to_pylist()
            txt = rb.column(2).to_pylist()
            if carry is not None:
                cid = carry[0] + cid
                tid = carry[1] + tid
                txt = carry[2] + txt
                carry = None
            n = len(cid)
            if not n:
                continue
            # hold back the (possibly incomplete) trailing conversation;
            # backwards scan instead of searchsorted so the clustered
            # (grouped but not globally sorted) layout works too
            last_conv = cid[-1]
            cut = n
            while cut > 0 and cid[cut - 1] == last_conv:
                cut -= 1
            carry = (cid[cut:], tid[cut:], txt[cut:])
            if cut:
                rows = annotate_sorted_arrays(cid[:cut], tid[:cut],
                                              txt[:cut], art,
                                              detect_unknown_names,
                                              **matcher_flags)
                yield to_batch(rows)
        if carry is not None and carry[0]:
            rows = annotate_sorted_arrays(carry[0], carry[1], carry[2],
                                          artifacts_bcast.value,
                                          detect_unknown_names,
                                          **matcher_flags)
            yield to_batch(rows)

    src = transcripts.select("conv_id", "turn_idx", "text")
    if not assume_clustered:
        src = (src.repartition(num_partitions, "conv_id")
               .sortWithinPartitions("conv_id", "turn_idx"))
    return src.mapInArrow(run, MENTIONS_SCHEMA_DDL)


def with_byte_offsets(mentions: DataFrame, transcripts: DataFrame) -> DataFrame:
    """figa ``-b`` byte-offset mode (figa_cedar.tpp:961-970: the reference
    CLI offers byte offsets vs code points; the repo standardizes on
    0-based CHAR offsets per SURVEY §7.4(3)) — opt-in channel that adds
    ``start_byte``/``end_byte`` columns for consumers indexing the UTF-8
    encoded text (byte-addressed stores, Arrow string buffers).

    Pure-Column: byte offset of char offset c = ``octet_length`` of the
    first c characters — JVM-side, no Python, one (conv_id, turn_idx)
    equijoin to bring the stored text back (on the conv-partitioned
    layout both sides share the conv_id clustering, so at corpus scale
    this co-locates). Offsets stay anchored to the STORED text (the
    per-turn text-equality invariant)."""
    from pyspark.sql import functions as F

    txt = transcripts.select("conv_id", "turn_idx", "text")
    return (mentions.join(txt, ["conv_id", "turn_idx"])
            .withColumn(
                "start_byte",
                F.octet_length(F.expr("substring(text, 1, start)"))
                .cast("int"))
            .withColumn(
                "end_byte",
                F.octet_length(F.expr("substring(text, 1, end)"))
                .cast("int"))
            .drop("text"))

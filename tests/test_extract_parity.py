"""Distributed-vs-single-process parity (SURVEY §5 pipeline-parity tests):
the Spark ``mapInArrow`` extraction over the synthetic transcripts must
equal the single-process oracle row-for-row, and the per-turn text equality
invariant must hold after reassembly."""

from __future__ import annotations

import pandas as pd

from kglinker.data.transcripts import transcripts_df, transcripts_pdf
from kglinker.extract.stage import annotate_pdf, extract_mentions

N_CONVS = 60


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df["kb_id"] = df["kb_id"].astype("float64")
    return (df.sort_values(["conv_id", "turn_idx", "start"])
            .reset_index(drop=True)
            [["conv_id", "turn_idx", "start", "end", "mention_type",
              "surface", "kb_id", "resolved"]])


def test_generator_determinism(spark):
    a = transcripts_df(spark, 10).toPandas().sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    b = transcripts_pdf(10).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_spark_matches_oracle(spark, artifacts, artifacts_bcast):
    tdf = transcripts_df(spark, N_CONVS)
    got = _norm(extract_mentions(tdf, artifacts_bcast, num_partitions=8).toPandas())
    want = _norm(annotate_pdf(transcripts_pdf(N_CONVS), artifacts))
    assert len(want) > 100, "fixture should produce a meaningful mention count"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_per_turn_text_equality(spark):
    """Reassembling a conversation under (conv_id, turn_idx) ordering yields
    byte-identical per-turn text (input_hint invariant)."""
    tdf = transcripts_df(spark, 20)
    rows = tdf.orderBy("conv_id", "turn_idx").collect()
    oracle = transcripts_pdf(20).sort_values(["conv_id", "turn_idx"])
    for r, (_, o) in zip(rows, oracle.iterrows()):
        assert r["text"] == o["text"]
        assert r["conv_id"] == o["conv_id"] and r["turn_idx"] == o["turn_idx"]


def test_mention_surfaces_are_text_substrings(spark, artifacts):
    pdf = transcripts_pdf(30)
    mentions = annotate_pdf(pdf, artifacts)
    text_by_key = {(r.conv_id, r.turn_idx): r.text for r in pdf.itertuples()}
    for m in mentions.itertuples():
        t = text_by_key[(m.conv_id, m.turn_idx)]
        assert t[m.start:m.end] == m.surface


def test_single_conversation_spanning_many_arrow_batches(spark, artifacts,
                                                         artifacts_bcast):
    """One 25k-turn conversation exceeds maxRecordsPerBatch (10k) → the
    mapInArrow carry-over must reassemble it before annotation (state
    would otherwise reset mid-conversation)."""
    from pyspark.sql import functions as F
    from kglinker.extract.stage import annotate_pdf, extract_mentions
    n = 25000
    tdf = (spark.range(n)
           .select(F.lit("conv_big").alias("conv_id"),
                   F.col("id").cast("int").alias("turn_idx"),
                   F.when(F.col("id") % 100 == 0,
                          F.lit("Marie Curie visited Praha ."))
                    .when(F.col("id") % 100 == 1,
                          F.lit("later ona moved to Germany ."))
                    .otherwise(F.lit("nothing happened")).alias("text")))
    got = extract_mentions(tdf, artifacts_bcast, num_partitions=2).toPandas()
    want = annotate_pdf(tdf.toPandas(), artifacts)
    assert len(got) == len(want) > 0
    # pronoun corefs exist → the turn-1 antecedent survived batch splits
    assert (got["mention_type"] == "coref").sum() == (n // 100)
    g = got.sort_values(["turn_idx", "start"]).reset_index(drop=True)
    w = want.sort_values(["turn_idx", "start"]).reset_index(drop=True)
    assert (g["kb_id"].fillna(-1) == w["kb_id"].fillna(-1)).all()


def test_byte_offsets_match_utf8_encoding(spark, artifacts_bcast):
    """figa -b parity (r6): start_byte/end_byte must equal the UTF-8
    byte offsets of the char offsets against the stored text — verified
    on Czech multi-byte turns where char and byte offsets diverge."""
    from kglinker.extract.stage import extract_mentions, with_byte_offsets
    rows = [
        ("c0", 0, "user", "Včera přijel Petr Novák do města Brno .", "", None),
        ("c0", 1, "user", "Říkal že Marie Curie žije v Paříži .", "", None),
    ]
    from kglinker.data.transcripts import TRANSCRIPTS_SCHEMA
    import datetime
    ts = datetime.datetime(2024, 1, 1)
    tdf = spark.createDataFrame(
        [(c, i, r, t, tool, ts) for c, i, r, t, tool, _ in rows],
        TRANSCRIPTS_SCHEMA)
    mentions = extract_mentions(tdf, artifacts_bcast)
    got = with_byte_offsets(mentions, tdf).collect()
    assert len(got) > 0
    texts = {(c, i): t for c, i, _, t, _, _ in rows}
    diverged = 0
    for r in got:
        text = texts[(r["conv_id"], r["turn_idx"])]
        want_sb = len(text[:r["start"]].encode("utf-8"))
        want_eb = len(text[:r["end"]].encode("utf-8"))
        assert (r["start_byte"], r["end_byte"]) == (want_sb, want_eb), r
        if want_sb != r["start"] or want_eb != r["end"]:
            diverged += 1
    assert diverged > 0, "fixture never exercised multi-byte divergence"

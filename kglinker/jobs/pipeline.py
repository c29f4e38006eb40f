"""End-to-end KG construction job (SURVEY §3.1/§3.2 re-expressed).

    transcripts ──repartition(conv_id)──▶ extract_mentions (mapInArrow,
        broadcast automaton) ──▶ mentions [per-bucket lineage checkpoints]
    kb ──▶ score ──▶ namelist/subnames ──▶ automaton (broadcast)
    kb ──▶ K2/K3 edges ──▶ connected components ──▶ canon map (broadcast)
    mentions + canon ──▶ triples (dims ∪ salted co-occurrence) ──▶ edges/
        entities tables

Run via ``spark-submit --py-files kglinker.zip kglinker/jobs/pipeline.py``
(see __main__ block).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from kglinker.automaton.build import broadcast_artifacts
from kglinker.data.kb_fixture import kb_df
from kglinker.extract.stage import extract_mentions
from kglinker.graph.canonicalize import canonical_map
from kglinker.graph.materialize import entity_table, write_graph
from kglinker.graph.triples import build_triples
from kglinker.kb.names import build_namelist, build_subname_map
from kglinker.kb.scoring import score_kb
from kglinker.runtime.checkpoint import LineageCheckpointer

__all__ = ["build_kb_side", "run_pipeline"]


def build_kb_side(spark: SparkSession, kb: DataFrame | None = None):
    """KB-side compile: scored KB + broadcast artifacts + canonical map.
    Returns (kb_scored, artifacts_bcast, canon_df)."""
    kb = kb if kb is not None else kb_df(spark)
    kb_scored = score_kb(kb).cache()
    art = broadcast_artifacts(spark, kb_scored,
                              build_namelist(kb_scored),
                              build_subname_map(kb_scored))
    canon = canonical_map(kb_scored).cache()
    return kb_scored, art, canon


def run_pipeline(spark: SparkSession, transcripts: DataFrame, workdir: str,
                 n_buckets: int = 8, max_buckets: int | None = None,
                 kb: DataFrame | None = None,
                 kb_snapshot: str = "kb-fixture-v1") -> DataFrame:
    """Full pipeline with per-bucket lineage; returns the triples DataFrame
    (also written under ``workdir/graph``). ``max_buckets`` exists for the
    kill/resume test; ``kb_snapshot`` is recorded in every lineage row
    (the KB-HEAD.all VERSION when loaded via ``load_kb_head_all``)."""
    kb_scored, art, canon = build_kb_side(spark, kb)
    ckpt = LineageCheckpointer(os.path.join(workdir, "mentions"),
                               os.path.join(workdir, "_lineage"), n_buckets,
                               kb_snapshot=kb_snapshot)
    ckpt.run(transcripts, lambda part: extract_mentions(part, art),
             max_buckets=max_buckets)
    # completeness guard keyed on THIS run's snapshot (r4 review fix):
    # buckets finished under an older kb_snapshot are stale, not done —
    # counting them would silently mix old-KB mentions into the output
    if len(ckpt.done_buckets(kb_snapshot)) < n_buckets:
        raise RuntimeError("pipeline interrupted (not all buckets done); "
                           "re-run to resume from lineage")
    mentions = ckpt.read_output(spark)
    triples = build_triples(mentions, kb_scored, canon)
    write_graph(triples, entity_table(kb_scored, canon),
                os.path.join(workdir, "graph"))
    return spark.read.parquet(os.path.join(workdir, "graph", "edges"))


if __name__ == "__main__":  # spark-submit entry point
    # usage:
    #   pipeline.py [n_convs] [workdir]                  synthetic corpus
    #   pipeline.py --input PATH [--format parquet|jsonl|csv|table]
    #               [workdir]                            real corpus via
    #                                                    the data/io layer
    import sys

    from kglinker.data.io import read_transcripts
    from kglinker.data.transcripts import transcripts_df
    from kglinker.runtime.session import get_spark

    args = sys.argv[1:]
    spark = get_spark("kglinker-pipeline")
    if args and args[0] == "--input":
        path = args[1]
        rest = args[2:]
        fmt = "parquet"
        if rest and rest[0] == "--format":
            fmt, rest = rest[1], rest[2:]
        workdir = rest[0] if rest else "/tmp/kglinker_run"
        transcripts = read_transcripts(spark, path, fmt)
    else:
        n_convs = int(args[0]) if args else 1000
        workdir = args[1] if len(args) > 1 else "/tmp/kglinker_run"
        transcripts = transcripts_df(spark, n_convs)
    edges = run_pipeline(spark, transcripts, workdir)
    print("edges:", edges.count())

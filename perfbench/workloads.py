"""The benchmark's workloads: inputs made from the seed, one timed
iteration through kglinker's public functions, and the checks on its
output (run outside the timed region).

``corpus`` is the steady per-batch job of ``run_pipeline``: read →
``LineageCheckpointer.run(extract_mentions)`` → ``read_output`` →
``build_triples`` → ``write_graph(entity_table)``, with the KB compiled
once in set-up. ``kb-refresh`` is the per-KB-snapshot cost: the steps of
``build_kb_side`` on a larger KB, then a first slice extracted with the
new artifacts, so Python workers pay the first-use payload load.
"""

from __future__ import annotations

import os
import random
import shutil
from collections import Counter
from dataclasses import dataclass, field
from time import perf_counter

from kglinker.automaton.build import broadcast_artifacts
from kglinker.data.io import read_transcripts
from kglinker.data.kb_fixture import KB_COLUMNS, KB_ROWS, KB_SCHEMA
from kglinker.data.transcripts import (TRANSCRIPTS_SCHEMA, gen_conversation,
                                      transcripts_pdf)
from kglinker.extract.stage import extract_mentions
from kglinker.graph.canonicalize import canonical_map
from kglinker.graph.materialize import entity_table, write_graph
from kglinker.graph.triples import build_triples
from kglinker.jobs.kb_scale_probe import _rows as synthetic_kb_rows
from kglinker.kb.names import build_namelist, build_subname_map
from kglinker.kb.scoring import score_kb
from kglinker.oracle_kb import oracle_namelist
from kglinker.oracle_matcher import OracleLinker
from kglinker.runtime.checkpoint import LineageCheckpointer, bucket_col

# "full" is what the driver measures; "smoke" only proves every metric
# is produced. Sized so one run, JVM start and a cold KB compile
# included, stays near a minute on 4 cores.
SIZES = {
    "full": {"corpus": {"convs": 6000},
             "kb-refresh": {"kb_rows": 100, "convs": 1000}},
    "smoke": {"corpus": {"convs": 60},
              "kb-refresh": {"kb_rows": 10, "convs": 30}},
}
N_BUCKETS = 8            # run_pipeline's default lineage granularity
N_INPUT_FILES = 8
ORACLE_CONVS = 100
SYNTHETIC_ID_OFFSET = 1_000_000
MENTION_COLS = ("conv_id", "turn_idx", "start", "end", "mention_type",
                "surface", "kb_id", "resolved")


def write_inputs(spark, path: str, n_convs: int, seed: int) -> None:
    """Transcripts as parquet, clustered by conv_id bucket and sorted by
    (conv_id, turn_idx): the Iceberg layout ``extract/stage.py`` documents."""
    # generated on the driver (same rows as transcripts_df) so set-up does
    # not pay a cold Python-worker start for it
    (spark.createDataFrame(transcripts_pdf(n_convs, seed), TRANSCRIPTS_SCHEMA)
     .repartition(N_INPUT_FILES, bucket_col(N_INPUT_FILES))
     .sortWithinPartitions("conv_id", "turn_idx")
     .write.mode("overwrite").parquet(path))


@dataclass
class Snapshot:
    """One compiled KB: what ``build_kb_side`` returns, plus the namelist
    and subname frames it compiles from."""
    scored: object
    namelist: object
    subnames: object
    artifacts: object
    canon: object

    def release(self) -> None:
        for df in (self.scored, self.namelist, self.subnames, self.canon):
            df.unpersist()
        self.artifacts.destroy()


def compile_kb(spark, kb, tracer) -> Snapshot:
    """``build_kb_side`` step by step; each step's output is cached and
    counted inside its own span so its jobs are attributed to it."""
    with tracer.span("kb.scoring"):
        scored = score_kb(kb).cache()
        scored.count()
    with tracer.span("kb.names"):
        namelist = build_namelist(scored).cache()
        subnames = build_subname_map(scored).cache()
        namelist.count()
        subnames.count()
    with tracer.span("automaton.build"):
        artifacts = broadcast_artifacts(spark, scored, namelist, subnames)
    with tracer.span("graph.canonicalize"):
        canon = canonical_map(scored).cache()
        canon.count()
    return Snapshot(scored, namelist, subnames, artifacts, canon)


def extract(spark, tracer, input_path: str, workdir: str, artifacts):
    """read_transcripts → LineageCheckpointer.run(extract_mentions) →
    read_output, as ``run_pipeline`` calls them."""
    with tracer.span("data.io"):
        transcripts = read_transcripts(spark, input_path)
    ckpt = LineageCheckpointer(os.path.join(workdir, "mentions"),
                               os.path.join(workdir, "_lineage"), N_BUCKETS)
    with tracer.span("runtime.checkpoint"):
        ckpt.run(transcripts,
                 lambda part: extract_mentions(part, artifacts))
        mentions = ckpt.read_output(spark)
    return ckpt, mentions


def lineage_counts(ckpt) -> dict[str, int]:
    recs = ckpt.lineage_records()
    return {"buckets_done": len(recs),
            "turns": sum(r["n_turns"] for r in recs),
            "mentions": sum(r["n_rows_out"] for r in recs)}


def oracle_mismatches(mentions, linker: OracleLinker, n_convs: int,
                      seed: int) -> list[str]:
    """Spark mentions of a fixed sample of conversations against the
    independent oracle, row for row."""
    from pyspark.sql import functions as F

    idx = sorted(random.Random(seed).sample(range(n_convs),
                                            min(ORACLE_CONVS, n_convs)))
    want: Counter = Counter()
    ids = []
    for i in idx:
        turns = gen_conversation(i, seed)
        conv_id = turns[0]["conv_id"]
        ids.append(conv_id)
        want.update(linker.annotate(
            conv_id, [(t["turn_idx"], t["text"]) for t in turns]))
    got = Counter(tuple(r) for r in mentions.filter(F.col("conv_id").isin(ids))
                  .select(*MENTION_COLS).collect())
    if got == want:
        return []
    return [f"oracle: {sum((got - want).values())} extra and "
            f"{sum((want - got).values())} missing mention rows in "
            f"{len(ids)} sampled conversations"]


@dataclass
class Result:
    workdir: str
    wall_s: float = 0.0
    turns: int = 0
    handles: dict = field(default_factory=dict)


class Corpus:
    """Fixture KB (29 rows) compiled in set-up; each iteration is one
    batch of short generated conversations through the corpus side."""

    def __init__(self, spark, tracer, work: str, seed: int, size: dict):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.n_convs = seed, size["convs"]
        self.input = os.path.join(work, "input")

    def setup(self) -> None:
        from kglinker.data.kb_fixture import kb_df
        write_inputs(self.spark, self.input, self.n_convs, self.seed)
        self.kb = compile_kb(self.spark, kb_df(self.spark), self.tracer)

    def iteration(self, k: int) -> Result:
        res = Result(os.path.join(self.work, f"iter-{k}"))
        t0 = perf_counter()
        ckpt, mentions = extract(self.spark, self.tracer, self.input,
                                 res.workdir, self.kb.artifacts)
        with self.tracer.span("graph.triples"):
            triples = build_triples(mentions, self.kb.scored, self.kb.canon)
        with self.tracer.span("graph.materialize"):
            write_graph(triples, entity_table(self.kb.scored, self.kb.canon),
                        os.path.join(res.workdir, "graph"))
        res.wall_s = perf_counter() - t0
        res.handles = {"ckpt": ckpt, "mentions": mentions}
        return res

    def _edges(self, res: Result):
        return self.spark.read.parquet(
            os.path.join(res.workdir, "graph", "edges"))

    def counts(self, res: Result) -> dict[str, int]:
        c = lineage_counts(res.handles["ckpt"])
        res.turns = c["turns"]
        for r in self._edges(res).groupBy("pred").count().collect():
            c[f"edges.{r['pred']}"] = r["count"]
        return c

    def oracle(self, res: Result) -> list[str]:
        from kglinker.data.kb_fixture import kb_rows_as_dicts
        linker = OracleLinker(
            kb_rows_as_dicts(),
            [r.asDict() for r in self.kb.namelist.collect()],
            [r.asDict() for r in self.kb.subnames.collect()])
        return oracle_mismatches(res.handles["mentions"], linker,
                                 self.n_convs, self.seed)

    def extras(self, res: Result, counts: dict) -> dict[str, float]:
        from pyspark.sql import functions as F
        pairs = counts.get("edges.co_occurs_in_conv", 0)
        edges = (self._edges(res)
                 .filter(F.col("pred") == "co_occurs_in_conv")
                 .select("subj", "obj").distinct().count())
        files = sum(1 for _, _, fs in os.walk(os.path.join(res.workdir,
                                                           "graph"))
                    for f in fs if f.startswith("part-"))
        return {"extract.stage.mentions_per_turn":
                    counts["mentions"] / counts["turns"],
                "graph.triples.pair_rows": pairs,
                "graph.triples.edges": edges,
                "graph.triples.edges_per_pair": edges / pairs if pairs else 0,
                "graph.materialize.files": files}

    def release(self, res: Result) -> None:
        shutil.rmtree(res.workdir, ignore_errors=True)


class KbRefresh:
    """Fixture KB ∪ synthetic rows (``kb_scale_probe`` shape, ids offset);
    each iteration compiles the snapshot, then extracts a slice."""

    def __init__(self, spark, tracer, work: str, seed: int, size: dict):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.n_convs = seed, size["convs"]
        self.input = os.path.join(work, "slice")
        self.rows = list(KB_ROWS) + [
            (r[0] + SYNTHETIC_ID_OFFSET,) + tuple(r[1:])
            for r in synthetic_kb_rows(size["kb_rows"])]

    def setup(self) -> None:
        write_inputs(self.spark, self.input, self.n_convs, self.seed)
        self.kb = self.spark.createDataFrame(self.rows, KB_SCHEMA)

    def iteration(self, k: int) -> Result:
        res = Result(os.path.join(self.work, f"iter-{k}"))
        t0 = perf_counter()
        snap = compile_kb(self.spark, self.kb, self.tracer)
        ckpt, mentions = extract(self.spark, self.tracer, self.input,
                                 res.workdir, snap.artifacts)
        res.wall_s = perf_counter() - t0
        res.handles = {"snap": snap, "ckpt": ckpt, "mentions": mentions}
        return res

    def counts(self, res: Result) -> dict[str, int]:
        from pyspark.sql import functions as F
        snap = res.handles["snap"]
        c = lineage_counts(res.handles["ckpt"])
        res.turns = c["turns"]
        comp = snap.canon.agg(F.count("*").alias("n"),
                              F.countDistinct("canon_id").alias("k")).first()
        c.update({"surfaces": snap.namelist.count(),
                  "subnames": snap.subnames.count(),
                  "canon_rows": comp["n"], "components": comp["k"]})
        return c

    def oracle(self, res: Result) -> list[str]:
        snap = res.handles["snap"]
        kb_rows = [dict(zip(KB_COLUMNS, r)) for r in self.rows]
        nl = [r.asDict() for r in snap.namelist.collect()]
        problems = []
        want = {r["surface"]: (tuple(r["kb_ids"]), bool(r["is_fragment"]))
                for r in oracle_namelist(kb_rows)}
        got = {r["surface"]: (tuple(r["kb_ids"]), bool(r["is_fragment"]))
               for r in nl}
        if got != want:
            diff = {s for s in got.keys() | want.keys()
                    if got.get(s) != want.get(s)}
            problems.append(f"namelist: {len(diff)} surfaces differ from "
                            f"oracle_namelist, e.g. {sorted(diff)[:3]}")
        linker = OracleLinker(kb_rows, nl,
                              [r.asDict() for r in snap.subnames.collect()])
        return problems + oracle_mismatches(res.handles["mentions"], linker,
                                            self.n_convs, self.seed)

    def extras(self, res: Result, counts: dict) -> dict[str, float]:
        return {"extract.stage.mentions_per_turn":
                    counts["mentions"] / counts["turns"],
                "kb.names.surfaces": counts["surfaces"],
                "automaton.build.payload_bytes":
                    len(res.handles["snap"].artifacts.value.dumps()),
                "graph.canonicalize.components": counts["components"]}

    def release(self, res: Result) -> None:
        res.handles["snap"].release()
        shutil.rmtree(res.workdir, ignore_errors=True)


WORKLOADS = {"corpus": Corpus, "kb-refresh": KbRefresh}

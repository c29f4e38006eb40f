"""Mention rows → (subj, pred, obj) triple DataFrames (north_star emission).

Predicates:
- ``entity_type``  — entity → its KB type
- ``kb_uri``       — entity → its KB wiki URL
- ``co_occurs_in_conv`` — entity pair co-mentioned in one conversation,
  ordered ``subj < obj``, deduped per conversation, with ``conv_id``
  provenance (FIXTURES.md §5).

Scale notes:
- the co-occurrence self-join is keyed by ``conv_id`` — per-conversation
  entity sets are tiny (≤ dozens), so the pair explosion is bounded and the
  single shuffle partitions near-uniformly by conversation;
- hot-key skew appears at the *global* edge aggregation (``Spark`` ×
  everything at 10^12 turns): that groupBy goes through
  :func:`kglinker.runtime.partitioning.salted_count` — explicit two-stage
  salted aggregation per north_rule, with AQE skew handling as backstop;
- entity dims (``entity_type``/``kb_uri``) come from the broadcast-small KB,
  not from scanning mentions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from kglinker.graph.canonicalize import canonical_id
from kglinker.runtime.partitioning import salted_count

__all__ = ["mention_entities", "conversation_pairs", "entity_dim_triples",
           "cooccurrence_triples", "build_triples"]


def mention_entities(mentions: DataFrame) -> DataFrame:
    """(conv_id, kb_id) of linked mentions — kb + coref resolve to entities;
    dates don't (ner_cz.py output row semantics, SURVEY §1.1)."""
    return (mentions
            .filter(F.col("mention_type").isin("kb", "coref")
                    & F.col("kb_id").isNotNull())
            .select("conv_id", "kb_id"))


def conversation_pairs(ents: DataFrame) -> DataFrame:
    """(conv_id, subj, obj): each distinct entity pair of a conversation
    once, ``subj < obj`` as kb_ids, from (conv_id, kb_id) rows. Pairs are
    generated inside the row from the per-conversation sorted entity set
    (small, ≤ dozens): one groupBy(conv_id) shuffle + array expansion
    instead of a sort-merge self-join. Shared by the batch edges and the
    streaming edge-weight deltas."""
    per_conv = (ents.groupBy("conv_id")
                .agg(F.sort_array(F.collect_set("kb_id")).alias("es")))
    es = F.col("es")
    return (per_conv.select("conv_id", F.explode(F.flatten(F.transform(
                es, lambda x, i: F.transform(
                    F.slice(es, i + 2, F.size(es)),
                    lambda y: F.struct(x.cast("string").alias("subj"),
                                       y.cast("string").alias("obj")))))).alias("p"))
            .select("conv_id", "p.subj", "p.obj"))


def entity_dim_triples(kb_scored: DataFrame, canon: DataFrame | None = None) -> DataFrame:
    """entity_type + kb_uri triples from the KB (small side; no shuffle of
    the corpus). ``canon``: optional (kb_id, canon_id) mapping from
    connected-components canonicalization. Both facts come from one
    inline explode and one dedup; a NULL type is kept, a NULL or empty
    URL is not."""
    kb = canonical_id(kb_scored.select("kb_id", "type", "wiki_url"), canon, "eid")
    facts = F.array(
        F.struct(F.lit("entity_type").alias("pred"), F.col("type").alias("obj")),
        F.struct(F.lit("kb_uri").alias("pred"), F.col("wiki_url").alias("obj")))
    return (kb.select(F.col("eid").cast("string").alias("subj"), F.inline(facts))
            .filter((F.col("pred") == "entity_type") | (F.col("obj") != ""))
            .dropDuplicates(["subj", "pred", "obj"])
            .withColumn("conv_id", F.lit(None).cast("string"))
            .withColumn("weight", F.lit(None).cast("long")))


def cooccurrence_triples(mentions: DataFrame,
                         canon: DataFrame | None = None,
                         salt_buckets: int = 16,
                         broadcast_edges_max: int = 2_000_000) -> DataFrame:
    """co_occurs_in_conv edges: per-conversation distinct entity pairs
    (subj < obj). The per-conv distinct bounds the pair fan-out; the edge
    weight (number of conversations an edge appears in) is computed with a
    salted two-stage aggregation to survive hot entity pairs.

    Weight attach (r7, guide §3.1 "pick the join strategy deliberately"):
    the weight table has ONE row per distinct edge — orders of magnitude
    smaller than the pair rows it re-joins onto (sf0.1: 190 rows vs 865k).
    The optimizer cannot see that (post-aggregation size estimates), so it
    planned a sort-merge join that shuffled every pair row by (subj, obj)
    — the skew-prone hot-pair key. The weight table is now materialized
    (``localCheckpoint``) and counted — a ~free job on the tiny aggregate —
    and broadcast when it holds ≤ ``broadcast_edges_max`` rows, making the
    attach a map-side join over the cached pairs (zero pair shuffles).
    Above the threshold (KB²-scale edge sets) the plain shuffle join +
    AQE skew split remains. Measured sf0.1: the attach join 1.9 s → map-
    side; kg_pipeline_triples wall 3.5 → ~2 s.

    Eager: building the returned frame already runs the weight checkpoint
    over the whole upstream, so the extraction behind ``mentions``
    executes here, not when the edges are written. ``pairs`` is
    persisted and stays persisted."""
    ents = canonical_id(mention_entities(mentions), canon, "kb_id")
    # persist: pairs feeds BOTH the weight aggregation and the final edge
    # join — without it the upstream lineage (the mentions scan, or the
    # mapInArrow extraction when called on unmaterialized mentions) plus
    # the groupBy(conv_id) shuffle evaluates twice. Pairs are orders of
    # magnitude smaller than the corpus (distinct entity pairs per
    # conversation), so MEMORY_AND_DISK is cheap insurance.
    pairs = conversation_pairs(ents).persist(StorageLevel.MEMORY_AND_DISK)
    # weight via the salted two-stage agg (hot pairs spread over salts);
    # materialize the per-edge aggregate (tiny: one row per distinct edge)
    # and observe its row count in the same job to DECIDE the join
    # strategy at the driver — see docstring; the fallback join is
    # probe-side-skewed on hot pairs → AQE skew split (enabled in
    # runtime.session) handles it
    obs = Observation()
    weighted = (salted_count(pairs, ["subj", "obj"], salt_buckets=salt_buckets,
                             weight_col="weight")
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True))
    if obs.get["n"] <= broadcast_edges_max:
        weighted = F.broadcast(weighted)
    edges = (pairs.join(weighted, ["subj", "obj"])
             .select("subj", F.lit("co_occurs_in_conv").alias("pred"),
                     "obj", "conv_id", "weight"))
    return edges


def build_triples(mentions: DataFrame, kb_scored: DataFrame,
                  canon: DataFrame | None = None) -> DataFrame:
    """Full triple set: dims ∪ co-occurrence edges. Eager like
    :func:`cooccurrence_triples`: the weight checkpoint runs when this
    frame is built, and its persisted ``pairs`` stay cached."""
    return (entity_dim_triples(kb_scored, canon)
            .unionByName(cooccurrence_triples(mentions, canon)))

"""Relational (SQL-parity) gazetteer over the ``documents`` table.

The engine's *production* matcher is the broadcast automaton
(:mod:`kglinker.automaton.build` — arbitrary dictionaries, offsets,
overlap semantics). This module is the fully-relational variant of the
same M1/M2/M7/D1/D3 semantics for dictionaries of ≤2-token surfaces,
expressible identically in Spark and ANSI SQL — it feeds the driver's
DuckDB oracle gate and doubles as the "gazetteer join" D1 demonstration:
a broadcast-hash join of exploded tokens against the dictionary.

Leftmost-longest parity trick: the demo dictionary is built so no bigram's
second word equals any bigram's first word → bigram matches can never
overlap each other, so leftmost-longest reduces to "all bigram matches +
unigram matches not covered by a bigram" — pure joins/anti-joins, no
recursion. (The automaton path has no such restriction.)

Precondition: ``doc_id`` is unique in ``docs``. Nothing deduplicates by
(doc_id, pos), so a repeated doc_id repeats its linked rows and counts
its entity pairs once per copy in the co-occurrence weight.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["GAZETTEER", "gazetteer_df", "doc_mentions", "doc_linked",
           "doc_cooccurrence", "doc_components"]

# (surface, kb_id, confidence); two-token surfaces obey the
# non-chainable-bigram construction; 'query' is deliberately ambiguous
# (two candidate entities) to exercise the D3 static argmax.
GAZETTEER: list[tuple[str, int, float]] = [
    ("hash join", 201, 95.0),
    ("table scan", 202, 90.0),
    ("sort merge", 203, 85.0),
    ("spark", 301, 80.0),
    ("customer", 302, 70.0),
    ("window", 303, 60.0),
    ("hash", 304, 50.0),
    ("query", 401, 65.0),
    ("query", 402, 35.0),
]


def gazetteer_df(spark: SparkSession) -> DataFrame:
    # literal VALUES → LocalRelation: no Python-RDD round trip, the
    # broadcast side stays JVM-only
    values = ", ".join(f"('{s}', CAST({k} AS BIGINT), CAST({c} AS DOUBLE))"
                       for s, k, c in GAZETTEER)
    return spark.sql(
        f"SELECT surface, kb_id, confidence, size(split(surface, ' ')) AS n_words "
        f"FROM VALUES {values} AS t(surface, kb_id, confidence)")


def _emit_expr():
    """The in-row leftmost-longest surface emitter shared by
    :func:`doc_mentions`, :func:`doc_linked` and :func:`doc_cooccurrence`:
    ``transform(_arr, emit)`` yields one ``struct(pos, surface)`` per token
    (surface NULL when the position matches nothing / is covered by a
    bigram). ONE definition so the three consumers can never diverge."""
    big_surfaces = sorted({s for s, _, _ in GAZETTEER if " " in s})
    uni_surfaces = sorted({s for s, _, _ in GAZETTEER if " " not in s})
    big_lit = F.array(*[F.lit(s) for s in big_surfaces])
    uni_lit = F.array(*[F.lit(s) for s in uni_surfaces])
    a = F.col("_arr")

    def emit(x, i):
        big = F.when(i <= F.size(a) - 2,
                     F.concat_ws(" ", x, F.try_element_at(a, i + 2)))
        prev_big = F.when(i >= 1, F.concat_ws(" ", F.try_element_at(a, i), x))
        # coalesce: big/prev_big are null at array edges → treat as no-match
        is_big = F.coalesce(F.array_contains(big_lit, big), F.lit(False))
        covered = is_big | F.coalesce(F.array_contains(big_lit, prev_big),
                                      F.lit(False))
        surface = (F.when(is_big, big)
                   .when(~covered & F.array_contains(uni_lit, x), x))
        return F.struct(i.cast("int").alias("pos"), surface.alias("surface"))

    return emit


def _doc_hits(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, surface): the emitted dictionary hits — at most one
    surface per position, so the rows are DISTINCT by construction (each
    array index emits one struct). Scan → in-row transform → explode,
    zero exchanges."""
    arr = F.split(F.col("text"), " ")
    base = docs.select("doc_id", arr.alias("_arr"))
    emit = _emit_expr()
    return (base.select("doc_id",
                        F.explode(F.transform(F.col("_arr"), emit)).alias("t"))
            .select("doc_id", "t.pos", "t.surface")
            .filter(F.col("surface").isNotNull()))


def _static_best() -> dict[str, int]:
    """D3 static argmax per surface, computed at plan-build time from the
    literal dictionary (constant folding the optimizer cannot do through
    a join): highest confidence, kb_id-asc tie-break — the same ordering
    as the r6 window formulation, proven by the unchanged DuckDB gate."""
    best: dict[str, tuple[float, int]] = {}
    for s, k, c in GAZETTEER:
        if s not in best or (c, -k) > (best[s][0], -best[s][1]):
            best[s] = (c, k)
    return {s: k for s, (_c, k) in best.items()}


def doc_mentions(docs: DataFrame) -> DataFrame:
    """M2+M7 leftmost-longest mention candidates:
    (doc_id, pos, surface, kb_id, confidence). Bigram matches win; covered
    unigram positions are anti-joined away. The dictionary side of the
    candidate attach is broadcast (D1 gazetteer join).

    Plan shape: bigrams are built *inside the row* with an index-aware
    ``transform`` over the split array (scan → explode, zero shuffles —
    the naive lead()-window plan shuffles every token); the only exchange
    left is the broadcast of the dictionary."""
    gaz = gazetteer_df(docs.sparkSession)
    hits = _doc_hits(docs)
    # candidate attach (D1): broadcast-hash join against the dictionary —
    # the only exchange in the whole plan is this broadcast
    return (hits.join(F.broadcast(gaz), "surface")
            .select("doc_id", "pos", "surface", "kb_id", "confidence"))


def doc_linked(docs: DataFrame) -> DataFrame:
    """D3 static argmax per mention: highest-confidence candidate, kb_id
    tie-break (reference first-max semantics with A2 candidate order).

    The argmax depends only on the *surface*, so it is resolved from a
    LITERAL surface→kb map built at plan time (:func:`_static_best`) —
    never a corpus-wide window shuffle, and (r7) no dictionary join at
    all: the emitted hits are already distinct per (doc_id, pos), so the
    pre-r7 ``doc_mentions().distinct()`` round trip (one corpus-wide
    exchange + a second broadcast join) collapses into a pure projection
    over the scan. Same rows, zero exchanges. Assumes a unique
    ``doc_id`` (module docstring)."""
    best = _static_best()
    best_map = F.create_map(*[x for s in sorted(best)
                              for x in (F.lit(s),
                                        F.lit(best[s]).cast("long"))])
    return (_doc_hits(docs)
            .select("doc_id", "pos", "surface",
                    F.element_at(best_map, F.col("surface")).alias("kb_id")))


def doc_cooccurrence(docs: DataFrame) -> DataFrame:
    """Per-document distinct entity pairs (subj<obj) + corpus-wide weight —
    the co_occurs_in_conv emission in relational form.

    r7 plan shape: the per-document sorted distinct entity set is built
    ENTIRELY in-row (emit transform → literal best-map lookup →
    array_distinct → array_sort), and pairs explode from it — so the only
    exchange in the whole plan is the final (subj, obj) count aggregation
    (map-side combinable). The pre-r7 plan paid three corpus-wide
    exchanges here (linked distinct + groupBy(doc_id) + the count); the
    DuckDB gate is byte-identical (min/distinct/sort all order-free).
    Assumes a unique ``doc_id`` (module docstring): a duplicated document
    adds its pairs to the weight again."""
    best = _static_best()
    best_map = F.create_map(*[x for s in sorted(best)
                              for x in (F.lit(s),
                                        F.lit(best[s]).cast("long"))])
    arr = F.split(F.col("text"), " ")
    base = docs.select("doc_id", arr.alias("_arr"))
    emit = _emit_expr()
    es_expr = F.array_sort(F.array_distinct(F.filter(
        F.transform(F.transform(F.col("_arr"), emit),
                    lambda t: F.element_at(best_map, t["surface"])),
        lambda k: k.isNotNull())))
    # project the entity set behind a column boundary: the pair expansion
    # references it three times, and inlining would triple-evaluate the
    # emit/lookup/distinct tree
    ents = base.select(es_expr.alias("es"))
    es = F.col("es")
    pair_structs = F.flatten(F.transform(
        es, lambda x, i: F.transform(
            F.slice(es, i + 2, F.size(es)),
            lambda y: F.struct(x.alias("subj"), y.alias("obj")))))
    pairs = (ents.select(F.explode(pair_structs).alias("p"))
             .select("p.subj", "p.obj"))
    return pairs.groupBy("subj", "obj").agg(F.count(F.lit(1)).alias("weight"))


def doc_components(docs: DataFrame, min_weight: int = 1) -> DataFrame:
    """Connected components over the co-occurrence graph (node, comp) —
    the CC merge step in a form DuckDB can oracle with a recursive CTE.
    Pairs are distinct ``subj < obj``, so the star CC's self-loop drop
    loses no node."""
    from kglinker.graph.canonicalize import connected_components_star
    edges = (doc_cooccurrence(docs)
             .filter(F.col("weight") >= min_weight)
             .select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
    return connected_components_star(edges).select("node", "comp")

"""Entity canonicalization: alias-resolution joins + connected components
(SURVEY §2.7, reference ``NER/KnowBase/kb_compare.py``).

Match rules re-expressed relationally:

- **K2 unique-id equijoin** (``kb_compare.py:254-272``): two KB rows sharing
  ``wiki_url`` are the same entity. The inverted index the reference builds
  (K1, ``:183-212``) *is* the join.
- **K3 alias-candidate scoring** (``kb_compare.py:274-330``): candidate
  pairs via any shared name/alias surface; score +1 per equal OTHER field
  (type, country, location, dates); a contradiction on the unique field
  (both URLs present and different) scores −1000; pairs with
  ``score ≥ threshold`` match. Candidate argmax per left row via a window.
- **CC merge** (north_star): the union of K2/K3 match edges is collapsed by
  alternating large-star / small-star rounds (Kiveris et al.) —
  O(log n) DataFrame iterations whatever the graph's diameter, each one
  eager checkpoint that also observes its own fixpoint signature. The
  canonical id is ``min(kb_id)`` per component — deterministic.

Scale: all of this runs on the KB side (10^6–10^8 rows), never on the
10^12-turn corpus; the corpus only sees the final broadcastable
``(kb_id, canon_id)`` map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["unique_id_edges", "alias_match_edges",
           "connected_components_star", "canonical_id", "canonical_map"]


def unique_id_edges(kb: DataFrame) -> DataFrame:
    """K2: (src, dst) edges between rows sharing a non-empty wiki_url."""
    u = kb.filter(F.coalesce(F.col("wiki_url"), F.lit("")) != "") \
          .select("kb_id", "wiki_url")
    a, b = u.alias("a"), u.alias("b")
    return (a.join(b, (F.col("a.wiki_url") == F.col("b.wiki_url"))
                   & (F.col("a.kb_id") < F.col("b.kb_id")))
            .select(F.col("a.kb_id").alias("src"), F.col("b.kb_id").alias("dst")))


def _surfaces(kb: DataFrame) -> DataFrame:
    """K1 inverted index input: kb_id → each name/alias surface."""
    arr = F.array_union(
        F.array(F.col("name")),
        F.split(F.coalesce(F.col("aliases"), F.lit("")), r"\|"))
    return (kb.select("kb_id", F.explode(arr).alias("surface"))
            .withColumn("surface", F.trim(F.regexp_replace(
                "surface", r"#(?:lang|ntype)=[^#|]*", "")))
            .filter(F.col("surface") != ""))


def alias_match_edges(kb: DataFrame, threshold: int = 2) -> DataFrame:
    """K3: candidates via shared surface, scored on equal other fields,
    unique-field contradiction −1000, threshold + per-left argmax."""
    s = _surfaces(kb)
    cand = (s.alias("a").join(s.alias("b"),
                              (F.col("a.surface") == F.col("b.surface"))
                              & (F.col("a.kb_id") < F.col("b.kb_id")))
            .select(F.col("a.kb_id").alias("src"), F.col("b.kb_id").alias("dst"))
            .distinct())
    attrs = kb.select("kb_id", "type", "country", "location", "wiki_url",
                      "date_of_birth", "founded")
    j = (cand
         .join(attrs.alias("x"), cand.src == F.col("x.kb_id"))
         .join(attrs.alias("y"), cand.dst == F.col("y.kb_id")))

    def eq(c: str) -> F.Column:
        xv, yv = F.col(f"x.{c}"), F.col(f"y.{c}")
        return F.when(xv.isNotNull() & yv.isNotNull() & (xv != "")
                      & (yv != "") & (xv == yv), 1).otherwise(0)

    contradiction = F.when(
        (F.coalesce(F.col("x.wiki_url"), F.lit("")) != "")
        & (F.coalesce(F.col("y.wiki_url"), F.lit("")) != "")
        & (F.col("x.wiki_url") != F.col("y.wiki_url")), -1000).otherwise(0)
    # +2 only for equal NON-EMPTY urls: two url-less rows sharing a surface
    # must not auto-merge (kb_compare.py treats a missing unique field as
    # unknown, not as a match)
    url_bonus = F.when(
        (F.coalesce(F.col("x.wiki_url"), F.lit("")) != "")
        & (F.coalesce(F.col("y.wiki_url"), F.lit("")) != "")
        & (F.col("x.wiki_url") == F.col("y.wiki_url")), 2).otherwise(0)
    score = (eq("type") + eq("country") + eq("location")
             + eq("date_of_birth") + eq("founded")
             + url_bonus
             + contradiction)
    scored = j.select("src", "dst", score.alias("score")) \
              .filter(F.col("score") >= threshold)
    # greedy best-candidate per left row (kb_compare.py:312-330)
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn", "score"))


def _settle(e: DataFrame) -> tuple[DataFrame, tuple]:
    """Drop self-loops and duplicates, then materialize; the same job
    observes the signature (count, order-independent hash sum)."""
    obs = Observation()
    e = (e.filter(F.col("a") != F.col("b"))
         .distinct()
         # decimal sum: long would overflow ANSI addExact on big edge sets
         .observe(obs, F.count(F.lit(1)).alias("n"),
                  F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"))
         .localCheckpoint(eager=True))
    return e, (obs.get["n"], obs.get["h"])


def connected_components_star(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """(node, comp) via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    O(log n) rounds whatever the graph's DIAMETER (min-label propagation
    needs O(diameter)). One algorithm for the KB alias graph, document
    co-occurrence and near-dup pair graphs.

    - large-star: every node points its LARGER neighbors at the minimum
      of its closed neighborhood;
    - small-star: every node rewires its smaller neighbors (and itself)
      to that minimum.

    Both minima are windows keyed by node, and each round ends in one
    :func:`_settle`, whose job also yields the signature of the oriented
    (a > b) edge set; the fixpoint is an unchanged signature. AQE sizes
    the shuffles. A node whose only edges are self-loops gets no label."""
    e, sig = _settle(edges.select(F.greatest("src", "dst").alias("a"),
                                  F.least("src", "dst").alias("b")))
    by_a = Window.partitionBy("a")
    for _ in range(max_iter):
        # large-star over the undirected view: for each u, larger
        # neighbors v attach to m = min(Γ(u) ∪ {u}); v > u ≥ m, so the
        # new edge (v, m) is already oriented
        und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        large = (und.withColumn("m", F.least(F.min("b").over(by_a), F.col("a")))
                 .filter(F.col("b") > F.col("a"))
                 .select(F.col("b").alias("a"), F.col("m").alias("b")))
        # small-star on the (a > b) orientation: rewire smaller neighbors
        # and the center itself to the minimum; the minimum's own
        # (m, m) row is a self-loop that _settle drops
        small = large.withColumn("m", F.min("b").over(by_a))
        e, new_sig = _settle(small.select(F.inline(F.array(
            F.struct(F.col("b").alias("a"), F.col("m").alias("b")),
            F.struct(F.col("a").alias("a"), F.col("m").alias("b"))))))
        if new_sig == sig:
            break
        sig = new_sig
    # fixpoint: every edge is (member, root); roots label themselves.
    # One min-aggregate over both: a member's root is below it, and the
    # min is a safety net for a max_iter exhaustion (a true fixpoint is
    # already a star with one edge per member)
    return (e.select(F.col("a").alias("node"), F.col("b").alias("comp"))
            .union(e.select(F.col("b").alias("node"), F.col("b").alias("comp")))
            .groupBy("node").agg(F.min("comp").alias("comp")))


def canonical_id(df: DataFrame, canon: DataFrame | None, col: str) -> DataFrame:
    """``df`` with ``col`` set to each row's canonical id: its ``canon_id``
    in the broadcast ``canon`` map, else its own ``kb_id`` (every row when
    ``canon`` is None)."""
    if canon is None:
        return df.withColumn(col, F.col("kb_id"))
    return (df.join(F.broadcast(canon), "kb_id", "left")
            .withColumn(col, F.coalesce("canon_id", "kb_id"))
            .drop("canon_id"))


def canonical_map(kb: DataFrame, threshold: int = 2) -> DataFrame:
    """(kb_id, canon_id) for every KB row that belongs to a merged
    component; rows not in the map keep their own id (see
    :func:`canonical_id`). Broadcastable: components only exist where
    duplicates do."""
    cc = connected_components_star(
        unique_id_edges(kb).union(alias_match_edges(kb, threshold)))
    # one partition: every consumer broadcasts the map, and a cached
    # frame keeps its shuffle partition count (AQE does not coalesce it)
    return cc.select(F.col("node").alias("kb_id"),
                     F.col("comp").alias("canon_id")).coalesce(1)

"""Entity canonicalization: one K1 blocking index + connected components
(SURVEY §2.7, reference ``NER/KnowBase/kb_compare.py``).

Match rules re-expressed relationally:

- **K1 inverted index** (``kb_compare.py:183-212``): one explode of each
  KB row into its keys — the non-empty ``wiki_url`` (K2) and every
  name/alias surface (K3), a surface being the P1/P4 base surface of
  :func:`kglinker.kb.expand.strip_name_tags`. Every key row carries the
  URL and the five compared attributes, so one self-join on the key and
  one ``groupBy(src, dst)`` give each candidate pair with ``same_url``,
  ``shares_surface`` and its K3 score: the index *is* the join (token
  blocking, a block per key, as in SparkER).
- **K3 score** (``kb_compare.py:274-330``): +1 per equal non-empty OTHER
  field (type, country, location, dates), +2 for equal non-empty URLs,
  −1000 when both URLs are present and differ.
- **Match edges**: ``same_url ∨ (shares_surface ∧ score ≥ threshold)``;
  all of them feed CC. Only :func:`alias_match_edges` reduces the surface
  pairs to the best candidate per left row (argmax window).
- **CC merge** (north_star): the match edges are collapsed by
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

__all__ = ["alias_match_edges", "connected_components_star",
           "canonical_id", "canonical_map"]

_ATTRS = ("type", "country", "location", "date_of_birth", "founded")
# Python's \s spelled out: Java's \s is ASCII-only, and even under (?U)
# it misses \x1c-\x1f
_WS = "".join(f"\\u{c:04x}" for c in range(0x10000) if chr(c).isspace())


def _surface_key(s: F.Column) -> F.Column:
    """:func:`kglinker.kb.expand.strip_name_tags` as a Spark expression."""
    s = F.regexp_replace(s, r"#(?:lang|ntype)=[^#|]*", "")
    s = F.regexp_replace(s, f"#[A-Za-z0-9]E?(?![^{_WS}])", "")
    s = F.regexp_replace(s, "[\u200b\u200c\u200d\ufeff]", "")
    # after the collapse the only whitespace left is ' ', which trim drops
    return F.trim(F.regexp_replace(s, f"[{_WS}]+", " "))


def _pairs(kb: DataFrame) -> DataFrame:
    """(src < dst, same_url, shares_surface, score) for every pair of KB
    rows that share a K1 key."""
    url = F.coalesce(F.col("wiki_url"), F.lit(""))
    surfaces = F.concat(F.array("name"),
                        F.split(F.coalesce("aliases", F.lit("")), r"\|"))
    keys = F.array_distinct(F.concat(
        F.array(F.struct(F.lit(True).alias("is_url"), url.alias("key"))),
        F.transform(surfaces, lambda s: F.struct(
            F.lit(False).alias("is_url"), _surface_key(s).alias("key")))))
    idx = (kb.select("kb_id", url.alias("url"), *_ATTRS, F.inline(keys))
           .filter(F.col("key") != ""))
    a, b = idx.alias("a"), idx.alias("b")
    ua, ub = F.col("a.url"), F.col("b.url")
    # a missing field is unknown, not a match: two url-less rows sharing a
    # surface get no url bonus (kb_compare.py:300-310)
    score = (sum(F.when((F.col(f"a.{c}") != "")
                        & (F.col(f"a.{c}") == F.col(f"b.{c}")), 1).otherwise(0)
                 for c in _ATTRS)
             + F.when((ua != "") & (ub != ""),
                      F.when(ua == ub, 2).otherwise(-1000)).otherwise(0))
    return (a.join(b, (F.col("a.is_url") == F.col("b.is_url"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.kb_id") < F.col("b.kb_id")))
            .groupBy(F.col("a.kb_id").alias("src"), F.col("b.kb_id").alias("dst"))
            .agg(F.max("a.is_url").alias("same_url"),
                 F.max(~F.col("a.is_url")).alias("shares_surface"),
                 F.max(score).alias("score")))


def alias_match_edges(kb: DataFrame, threshold: int = 2) -> DataFrame:
    """K3 edges: surface-sharing pairs with ``score ≥ threshold``, reduced
    to the greedy best candidate per left row (kb_compare.py:312-330)."""
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (_pairs(kb)
            .filter(F.col("shares_surface") & (F.col("score") >= threshold))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).select("src", "dst"))


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
    cc = connected_components_star(_pairs(kb).filter(
        F.col("same_url")
        | (F.col("shares_surface") & (F.col("score") >= threshold))))
    # one partition: every consumer broadcasts the map, and a cached
    # frame keeps its shuffle partition count (AQE does not coalesce it)
    return cc.select(F.col("node").alias("kb_id"),
                     F.col("comp").alias("canon_id")).coalesce(1)

"""Two-KB comparison & merge — the reference's standalone KnowBase tool
(``/root/reference/NER/KnowBase/kb_compare.py``) re-expressed relationally.

Reference flow → here:

- **unique relations** (``match_by_unique``, kb_compare.py:332-346): a
  shared non-empty unique-id value (e.g. wiki url) links a kb1 row to a
  kb2 row outright, each kb2 row used at most once.
- **name relations** (``match_by_name``, :347-363): candidate kb2 rows
  accumulate ``weight += 1`` per shared name/alias VALUE across the
  configured field pairs; the best candidate with ``weight ≥ threshold``
  matches (:300-330).
- **one-to-one**: the reference walks kb1 in file order marking
  candidates ``used``; distributed re-expression: per-kb1 argmax (desc
  weight, asc kb2 id) followed by per-kb2 argmax over those picks (desc
  weight, asc kb1 id) — deterministic mutual-best instead of
  sequential-greedy (documented deviation: ties resolve by id, not file
  order; unique-id matches always take precedence).
- **merged output** (``Output.make_output``, :423-505): matched pairs
  emit per-field merged rows (kb1 primary, kb2 fills empties; multi-valued
  fields union), unmatched kb1 AND kb2 rows are appended.

One K1 index per KB (``kb_compare.py:183-212``): every raw value of the
unique and relation fields, tagged by field. One kb1×kb2 join on the
value tags each hit with its ``(f1, f2)`` relation, and one
``groupBy(id1, id2)`` yields the unique links and the name weights (a
value repeated in a row counts once per occurrence). Never a cross join.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["MatchConfig", "match_two_kbs", "merge_two_kbs"]


@dataclass
class MatchConfig:
    """Relation configuration (the reference's *.fields + relations files).
    Field names are column names present in both KBs (or map pairs)."""
    unique_fields: tuple = ("wiki_url",)
    # (kb1_field, kb2_field) pairs whose shared values score +1 each
    name_relations: tuple = (("name", "name"), ("name", "aliases"),
                             ("aliases", "name"), ("aliases", "aliases"))
    threshold: int = 1
    multi_delim: str = "|"
    multi_fields: tuple = ("aliases", "redirects", "jobs", "nationality")
    id_col: str = "kb_id"


def _index(kb: DataFrame, fields: list, cfg: MatchConfig,
           side: str) -> DataFrame:
    """K1 index of one KB: an ``(id<side>, f<side>, value)`` row per
    non-empty raw value of each field; multi-valued fields split on the
    delimiter and keep repeated values."""
    def tagged(f: str) -> F.Column:
        c = F.coalesce(F.col(f).cast("string"), F.lit(""))
        vals = F.split(c, r"\|") if f in cfg.multi_fields else F.array(c)
        return F.transform(vals, lambda v: F.struct(
            F.lit(f).alias(f"f{side}"), v.alias("value")))
    return (kb.select(F.col(cfg.id_col).alias(f"id{side}"),
                      F.inline(F.concat(*map(tagged, fields))))
            .filter(F.col("value") != ""))


def match_two_kbs(kb1: DataFrame, kb2: DataFrame,
                  cfg: MatchConfig = MatchConfig()) -> DataFrame:
    """(id1, id2, weight, via) matched pairs; ``via`` is 'unique' or
    'name'. One-to-one on both sides; unique-id links take precedence."""
    uniq = list(cfg.unique_fields)
    rels = Counter(cfg.name_relations)
    fields1 = list(dict.fromkeys(uniq + [f1 for f1, _ in rels]))
    fields2 = list(dict.fromkeys(uniq + [f2 for _, f2 in rels]))
    hits = _index(kb1, fields1, cfg, "1").join(_index(kb2, fields2, cfg, "2"),
                                               "value")
    # each hit tagged with its (f1, f2) relation: +1 per configured name
    # relation, a unique link when both sides hit the same unique field
    name_hit = F.lit(0)
    for (f1, f2), n in rels.items():
        name_hit = F.when((F.col("f1") == f1) & (F.col("f2") == f2),
                          n).otherwise(name_hit)
    unique = F.col("unique")
    pairs = (hits.groupBy("id1", "id2")
             .agg(F.max((F.col("f1") == F.col("f2")) & F.col("f1").isin(uniq))
                  .alias("unique"), F.sum(name_hit).alias("hits"))
             .filter(unique | (F.col("hits") >= max(cfg.threshold, 1)))
             # a unique link's weight is a sentinel above any hit count
             .select("id1", "id2", F.when(unique, 1_000_000)
                     .otherwise(F.col("hits")).cast("long").alias("weight"),
                     F.when(unique, "unique").otherwise("name").alias("via")))
    # per-kb1 best candidate, then per-kb2 best of those picks (mutual
    # best = deterministic one-to-one)
    for own, other in (("id1", "id2"), ("id2", "id1")):
        w = Window.partitionBy(own).orderBy(F.desc("weight"), F.asc(other))
        pairs = (pairs.withColumn("_r", F.row_number().over(w))
                 .filter(F.col("_r") == 1).drop("_r"))
    return pairs


def merge_two_kbs(kb1: DataFrame, kb2: DataFrame,
                  cfg: MatchConfig = MatchConfig(),
                  matches: DataFrame | None = None) -> DataFrame:
    """Combined KB: matched pairs merged per-field (kb1 primary, kb2
    fills empty single-valued fields, multi-valued union), unmatched rows
    from BOTH sides appended. Output ids: kb1 ids, kb2 ids offset above
    max(kb1 id) (the reference regenerates ids with a prefix+hash;
    a deterministic offset keeps them stable and collision-free)."""
    if matches is None:
        matches = match_two_kbs(kb1, kb2, cfg)
    m = matches.select("id1", "id2")
    shift = (kb1.agg(F.max(cfg.id_col)).collect()[0][0] or 0)
    attrs = [c for c in kb1.columns if c != cfg.id_col and c in kb2.columns]

    j = (kb1.join(F.broadcast(m), kb1[cfg.id_col] == m.id1, "left"))
    two = kb2.select(*([F.col(cfg.id_col).alias("_id2")]
                       + [F.col(c).alias(f"_b_{c}") for c in attrs]))
    j = j.join(F.broadcast(two), j.id2 == two._id2, "left")

    def mrg(c: str) -> F.Column:
        a, b = F.col(c), F.col(f"_b_{c}")
        if c in cfg.multi_fields:
            arr = F.array_distinct(F.filter(
                F.concat(F.split(F.coalesce(a.cast("string"), F.lit("")), r"\|"),
                         F.split(F.coalesce(b.cast("string"), F.lit("")), r"\|")),
                lambda x: x != ""))
            return F.array_join(arr, cfg.multi_delim).alias(c)
        return F.coalesce(
            F.when(a.cast("string") != "", a), b, a).alias(c)

    merged_kb1 = j.select(F.col(cfg.id_col), *[mrg(c) for c in attrs])
    unmatched_kb2 = (kb2.join(F.broadcast(m.select(F.col("id2").alias(cfg.id_col))),
                              cfg.id_col, "left_anti")
                     .select((F.col(cfg.id_col) + F.lit(shift)).alias(cfg.id_col),
                             *attrs))
    return merged_kb1.unionByName(unmatched_kb2)

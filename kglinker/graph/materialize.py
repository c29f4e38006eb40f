"""Graph materialization: fact/edge tables (north_star final stage).

Local sandbox writes parquet; the layout mirrors the intended Iceberg DDL
(comments) so the cluster version is a writer swap, not a redesign:

    CREATE TABLE kg.entities (entity_id string, entity_type string,
        kb_uri string, name string)
      USING iceberg PARTITIONED BY (entity_type)
    CREATE TABLE kg.edges (subj string, pred string, obj string,
        conv_id string, weight long)
      USING iceberg PARTITIONED BY (pred, bucket(64, subj))

Partitioning rationale at 10^12 turns: ``pred`` has 3 values with wildly
different cardinalities → partition by pred keeps dim lookups pruned;
``bucket(subj)`` spreads the Zipfian co-occurrence fan-in of hot entities
across files so no single file/manifest becomes the straggler.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kglinker.graph.canonicalize import canonical_id

__all__ = ["write_graph", "entity_table", "merged_entity_table",
           "MULTI_VALUED_COLS"]

# |-delimited multi-valued KB columns (HEAD-KB "MULTIPLE VALUES" flag)
MULTI_VALUED_COLS = ("aliases", "redirects", "jobs", "nationality")


def merged_entity_table(kb: DataFrame, canon: DataFrame | None = None,
                        multi_cols: tuple[str, ...] = MULTI_VALUED_COLS) -> DataFrame:
    """K4 attribute merge (``kb_compare.py`` Output.make_output:423-462):
    one output row per canonical entity with per-field merging across the
    component's member rows —

    - single-valued fields: the primary (lowest ``kb_id``) member's value,
      falling back to the first non-empty among the others ("using values
      from the 2nd KB" when the 1st is empty);
    - multi-valued (``|``-delimited) fields: the deduplicated union of all
      members' values, primary-first order;
    - unmatched rows (singleton components) pass through unchanged —
      the reference appends unmatched KB2 rows to the output.

    One groupBy(entity_id) over the (small) KB side; members are collected
    into a kb_id-sorted array and every field is merged with in-row array
    expressions (whole-stage codegen, no UDF)."""
    attrs = [c for c in kb.columns if c != "kb_id"]
    dtypes = dict(kb.dtypes)
    kbj = canonical_id(kb, canon, "entity_id")
    arr = F.array_sort(F.collect_list(F.struct("kb_id", *attrs)))
    grouped = kbj.groupBy("entity_id").agg(arr.alias("_m"),
                                           F.count(F.lit(1)).alias("n_members"))
    m = F.col("_m")

    def merge(c: str) -> F.Column:
        if c in multi_cols:
            vals = F.flatten(F.transform(
                m, lambda s: F.split(F.coalesce(s[c].cast("string"), F.lit("")),
                                     r"\|")))
            return F.array_join(
                F.array_distinct(F.filter(vals, lambda x: x != "")), "|").alias(c)
        if dtypes.get(c) == "string":
            nonempty = F.filter(m, lambda s: s[c].isNotNull() & (s[c] != ""))
            return F.coalesce(F.try_element_at(nonempty, F.lit(1))[c],
                              F.try_element_at(m, F.lit(1))[c]).alias(c)
        nonnull = F.filter(m, lambda s: s[c].isNotNull())
        return F.coalesce(F.try_element_at(nonnull, F.lit(1))[c],
                          F.try_element_at(m, F.lit(1))[c]).alias(c)

    return grouped.select("entity_id", *[merge(c) for c in attrs], "n_members")


def entity_table(kb_scored: DataFrame, canon: DataFrame | None = None) -> DataFrame:
    kb = canonical_id(
        kb_scored.select("kb_id", "type", "name", "wiki_url", "confidence"),
        canon, "entity_id").withColumn("entity_id", F.col("entity_id").cast("string"))
    # canonical representative = the row whose kb_id == entity_id; fall back
    # to max confidence inside the component
    from pyspark.sql.window import Window
    w = Window.partitionBy("entity_id").orderBy(
        (F.col("kb_id").cast("string") != F.col("entity_id")).cast("int"),
        F.desc("confidence"), F.asc("kb_id"))
    return (kb.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("entity_id", F.col("type").alias("entity_type"),
                    F.col("wiki_url").alias("kb_uri"), "name"))


def write_graph(triples: DataFrame, entities: DataFrame, base: str) -> None:
    triples.write.mode("overwrite").partitionBy("pred").parquet(
        os.path.join(base, "edges"))
    entities.write.mode("overwrite").partitionBy("entity_type").parquet(
        os.path.join(base, "entities"))

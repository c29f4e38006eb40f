"""Explicit partitioning / skew handling (north_rule).

The engine's two shuffle-sensitive spots:

1. the grouped-map extraction — keyed by ``conv_id`` (near-uniform: a
   conversation is small and bounded) → plain hash repartition, done in
   :mod:`kglinker.extract.stage`;
2. surface/entity-keyed aggregations — Zipfian hot keys (frequent tool
   names, common person names; the skew fixture of FIXTURES.md §1) →
   **salted two-stage aggregation** here: first aggregate on
   ``(key, salt)`` where ``salt = pmod(hash(all grouping cols, conv-ish
   entropy), S)``, then merge the ≤S partials per key. Stage one spreads a
   hot key over S reducers; stage two touches only ``distinct_keys × S``
   rows. AQE skew-join splitting stays enabled as a backstop
   (:mod:`kglinker.runtime.session`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["salted_count", "fan_out"]


# Analyzed-plan nodes under which probing df.rdd is provably harmless:
# leaf sources and narrow per-row ops — no Exchange can exist below them,
# so finalizing the plan materializes nothing. Anything else (Join,
# Aggregate, Window, RepartitionByExpression, …) means fan_out was called
# mid-pipeline, where the probe would silently finalize AQE query stages.
_SCAN_SAFE_NODES = frozenset(
    {"Relation", "LogicalRDD", "Range", "Project", "Filter",
     "SubqueryAlias", "DeduplicateWithinWatermark",
     # a pandas createDataFrame leaf. A cached frame needs no entry: the
     # analyzed plan still shows its source nodes, never InMemoryRelation
     "LocalRelation"})


def _assert_scan_site(df: DataFrame) -> None:
    plan = df._jdf.queryExecution().analyzed().toString()
    for line in plan.splitlines():
        node = line.lstrip(" +-:").split(" ", 1)[0].split("[", 1)[0]
        if node and node not in _SCAN_SAFE_NODES:
            raise ValueError(
                f"fan_out must be applied at a SCAN site (scan/filter/"
                f"project only); found a '{node}' node in the plan. "
                f"Probing partitions mid-pipeline finalizes AQE query "
                f"stages — fan the scan out BEFORE joins/aggregations.")


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the scan under-parallelizes.

    A small parquet file (or any file with one row group — row groups are
    the split unit) plans as a single input partition, so every CPU-bound
    per-row stage downstream (shingle hashing, simhash votes, embedding
    dot products) runs serially on one core no matter how many executors
    exist. At corpus scale the scan has thousands of splits and this is a
    no-op — no shuffle is added; the condition only fires on the
    small-file case.

    Scan-site-only is ENFORCED (r5 verdict): the analyzed plan must
    contain nothing but leaf-source / narrow per-row nodes, else this
    raises instead of silently finalizing AQE stages via the partition
    probe. Under that invariant the ``df.rdd`` probe is harmless — there
    is no exchange below it to materialize.
    """
    _assert_scan_site(df)
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _with_salt(df: DataFrame, salt_buckets: int) -> DataFrame:
    # salt from a monotonically varying source independent of the group key:
    # hash of the whole row spreads a hot key's rows uniformly
    return df.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(salt_buckets)))


def salted_count(df: DataFrame, keys: list[str], salt_buckets: int = 16,
                 weight_col: str = "weight") -> DataFrame:
    """count() per key that survives Zipfian keys: two-stage salted agg."""
    stage1 = (_with_salt(df, salt_buckets)
              .groupBy(*keys, "_salt")
              .agg(F.count(F.lit(1)).alias("_partial")))
    return (stage1.groupBy(*keys)
            .agg(F.sum("_partial").alias(weight_col)))

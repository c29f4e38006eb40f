"""KB static-disambiguation scoring (SURVEY §2.4 A3–A4).

Reimplements the formulas of ``/root/reference/metrics_knowledge_base.py``:

- per-type value→max normalization ``min(v/max, 1.0)`` with the max deflated
  ×0.25 for ``wiki_backlinks`` / ``wiki_hits`` (``:364-369`` — note it is
  value/max normalization, *not* percent_rank),
- ``score_wiki = 100 * wavg([backlinks, hits, ps], [5, 5, 1])`` (``:382-389``),
- ``score_metrics = 100 * avg([description_length, columns_number])``
  (``:390-394``),
- ``confidence = wavg([score_wiki, score_metrics], [5, 1])`` (``:395-398``),
  all emitted with 2-decimal rounding (``"%.2f"``, ``:389-398``).

Spark-first: the five per-type maxima come from one ``groupBy('type')``
aggregate — one row per type, so it is broadcast and joined back null-safe
(a NULL type is its own group, as it would be in a window). Only the
aggregate's partial state (5 doubles per type and input partition) is
shuffled; the KB rows themselves never move, so the scored frame keeps
its input's partitioning and every downstream Python pass runs over the
KB's own partitions. A ``Window.partitionBy('type')`` would hash every row
into ~10 type partitions: one core per type, and the largest type (persons)
on one core. The price is a second scan of the input for the aggregate.
Everything else is column arithmetic inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["score_kb", "METRIC_COLS"]

# (column, deflate) — deflate ×0.25 for backlinks/hits per
# metrics_knowledge_base.py:364-369
WIKI_METRICS = [("wiki_backlinks", 0.25), ("wiki_hits", 0.25), ("wiki_ps", 1.0)]
WIKI_WEIGHTS = [5.0, 5.0, 1.0]
METRIC_COLS = ["description_length", "columns_number"]


def _norm(col: str, deflate: float) -> F.Column:
    # NULL metric ⇒ 0 contribution (metrics_knowledge_base.py insert_metrics
    # leaves the score term at 0 when the stat is absent); without the guard
    # least(NULL/max, 1.0) would return 1.0 because least() skips nulls.
    mx = F.col(f"_mx_{col}") * F.lit(deflate)
    return F.when(F.col(col).isNull() | (mx <= 0), F.lit(0.0)).otherwise(
        F.least(F.col(col) / mx, F.lit(1.0))
    )


def score_kb(kb: DataFrame) -> DataFrame:
    """kb → kb + (score_wiki, score_metrics, confidence), the S7 sink input."""
    # description_length / columns_number raw metrics
    # (metrics_knowledge_base.py:298-311) — the reference's nonempty_columns
    # excludes the wiki metric columns (and any score columns) so a row with
    # wiki stats is not double-counted into score_metrics.
    excluded = {"kb_id"} | {c for c, _ in WIKI_METRICS} \
        | {"score_wiki", "score_metrics", "confidence"}
    non_id_cols = [c for c in kb.columns if c not in excluded]
    # one SQL expression, not a Column builder per column (each is a py4j
    # round trip); NULL <> '' is NULL, so a NULL cell counts 0
    cols_number = " + ".join(
        f"CASE WHEN CAST(`{c}` AS STRING) <> '' THEN 1 ELSE 0 END"
        for c in non_id_cols)
    df = kb.withColumn("description_length",
                       F.length(F.coalesce(F.col("description"), F.lit(""))).cast("double")
                       ).withColumn("columns_number",
                                    F.expr(cols_number).cast("double"))

    metrics = [c for c, _ in WIKI_METRICS] + METRIC_COLS
    maxima = df.groupBy(F.col("type").alias("_mx_type")).agg(
        *(F.max(c).alias(f"_mx_{c}") for c in metrics))
    df = df.join(F.broadcast(maxima),
                 F.col("type").eqNullSafe(F.col("_mx_type")))

    wiki_norms = [_norm(c, d) for c, d in WIKI_METRICS]
    metric_norms = [_norm(c, 1.0) for c in METRIC_COLS]

    # no backlinks stat at all ⇒ score_wiki = 0 (reference
    # metrics_knowledge_base.py insert_metrics: the wiki score is only
    # emitted when the backlinks stat exists for the row)
    score_wiki = F.when(F.col("wiki_backlinks").isNull(), F.lit(0.0)).otherwise(
        F.lit(100.0) * (
            sum(n * F.lit(wt) for n, wt in zip(wiki_norms, WIKI_WEIGHTS))
            / F.lit(sum(WIKI_WEIGHTS))
        )
    )
    score_metrics = F.lit(100.0) * (
        sum(metric_norms) / F.lit(float(len(metric_norms)))
    )
    confidence = (score_wiki * 5.0 + score_metrics * 1.0) / 6.0

    return (df
            .withColumn("score_wiki", F.round(score_wiki, 2))
            .withColumn("score_metrics", F.round(score_metrics, 2))
            .withColumn("confidence", F.round(confidence, 2))
            .drop("description_length", "columns_number", "_mx_type",
                  *(f"_mx_{c}" for c in metrics)))

"""KB enrichment & validation (SURVEY §2.1 S8, §5.4).

- :func:`join_wiki_stats` — S8: left join raw wiki stats onto the KB by
  wiki URL (``/root/reference/wiki_stats_to_KB.py:23-48``); broadcast the
  smaller side.
- :func:`check_kb_arity` — the reference's KB lint
  (``check_columns_in_kb.py:42-53``): every row must carry the full column
  set with non-null type/name; returns the offending rows (empty = valid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["join_wiki_stats", "check_kb_arity"]

REQUIRED_COLS = ["kb_id", "type", "name"]


def join_wiki_stats(kb: DataFrame, wiki_stats: DataFrame) -> DataFrame:
    """kb + (wiki_url, backlinks, hits, ps) → kb with stats columns filled
    (missing URLs keep zeros, like the reference's default row)."""
    stats = wiki_stats.select(
        "wiki_url",
        F.col("backlinks").alias("_bl"),
        F.col("hits").alias("_hits"),
        F.col("ps").alias("_ps"))
    joined = kb.join(F.broadcast(stats), "wiki_url", "left")
    return (joined
            .withColumn("wiki_backlinks", F.coalesce("_bl", "wiki_backlinks", F.lit(0)))
            .withColumn("wiki_hits", F.coalesce("_hits", "wiki_hits", F.lit(0)))
            .withColumn("wiki_ps", F.coalesce("_ps", "wiki_ps", F.lit(0)))
            .drop("_bl", "_hits", "_ps"))


def check_kb_arity(kb: DataFrame) -> DataFrame:
    """Rows violating the schema contract (null/empty required columns,
    non-positive ids). Empty result ⇔ KB valid."""
    cond = F.lit(False)
    for c in REQUIRED_COLS:
        cond = cond | F.col(c).isNull()
    cond = cond | (F.col("kb_id") <= 0) | (F.col("name") == "") | (F.col("type") == "")
    return kb.filter(cond)

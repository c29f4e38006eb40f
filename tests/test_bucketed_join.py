"""Evidence for the bucketing claim in the 100 TB design notes
(ops/dedup.py: "bucket the table by text_hash to make re-runs
shuffle-free"): a bucketBy-written table lets the hash aggregation and
a text_hash equijoin run WITHOUT an Exchange on the bucketed side."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def bucketed_docs(spark, tmp_path_factory):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .withColumn("text_hash", F.md5("text"))
    spark.sql("DROP TABLE IF EXISTS docs_bucketed")
    (docs.write.mode("overwrite")
     .bucketBy(8, "text_hash").sortBy("text_hash")
     .saveAsTable("docs_bucketed"))
    yield spark.table("docs_bucketed")
    spark.sql("DROP TABLE IF EXISTS docs_bucketed")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_groupby_has_no_exchange(spark, bucketed_docs):
    """Hash-dedup aggregation keyed on the bucket column: the partial+
    final aggregation collapses onto the bucketed layout — zero Exchange
    (the re-run cost model the dedup docstring promises)."""
    agg = (bucketed_docs.groupBy("text_hash")
           .agg(F.min("doc_id").alias("keep_doc_id"),
                F.count(F.lit(1)).alias("n_copies")))
    agg.collect()
    assert "Exchange" not in _plan(agg)


def test_bucketed_self_join_has_no_exchange(spark, bucketed_docs):
    """text_hash equijoin between two reads of the bucketed table (a
    re-run joined against its previous output): both sides
    pre-partitioned → SortMergeJoin with zero Exchange."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = bucketed_docs.select("text_hash", "doc_id")
        b = spark.table("docs_bucketed").select(
            F.col("text_hash"), F.col("doc_id").alias("doc_b"))
        j = a.join(b, "text_hash")
        j.collect()
        plan = _plan(j)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


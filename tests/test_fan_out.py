"""fan_out (runtime/partitioning.py): the conditional scan fan-out must
repartition a single-split scan AND be a strict no-op when the scan
already parallelizes — the at-corpus-scale-this-adds-no-shuffle claim."""

from __future__ import annotations

from pyspark.sql import functions as F

from kglinker.runtime.partitioning import fan_out


def test_fan_out_repartitions_single_split_scan(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1   # the driver test files are
    # single-row-group → one split (the r4 cold-bench root cause)
    fanned = fan_out(docs)
    assert fanned.rdd.getNumPartitions() >= \
        spark.sparkContext.defaultParallelism
    # value-preserving: same rows, only the layout changes
    assert fanned.count() == docs.count()
    a = docs.select(F.sum(F.hash("doc_id", "text"))).collect()
    b = fanned.select(F.sum(F.hash("doc_id", "text"))).collect()
    assert a == b


def test_fan_out_noop_on_parallel_input(spark):
    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10000, 1, par * 2).withColumn(
        "text", F.concat(F.lit("t"), F.col("id")))
    out = fan_out(wide)
    # SAME DataFrame object — no repartition node, no shuffle added
    assert out is wide
    assert "Exchange" not in out._jdf.queryExecution() \
        .executedPlan().toString()


def test_fan_out_rejects_mid_pipeline_call(spark):
    """r5 verdict #4: a fan_out call past the scan (here: after a join)
    must fail LOUD instead of silently finalizing AQE query stages via
    the partition probe — and must fail before materializing anything."""
    import pytest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    joined = docs.alias("a").join(
        docs.select("doc_id").alias("b"), "doc_id")
    with pytest.raises(ValueError, match="SCAN site"):
        fan_out(joined)
    agged = docs.groupBy("lang").count()
    with pytest.raises(ValueError, match="SCAN site"):
        fan_out(agged)
    # filter/project over the scan remain allowed
    assert fan_out(docs.filter(F.col("doc_id") >= 0)
                   .select("doc_id", "text")).count() == docs.count()


def test_fan_out_accepts_created_frames(spark):
    """createDataFrame leaves: a pandas input analyzes to LocalRelation,
    a row list to LogicalRDD — both are scan sites."""
    import pandas as pd

    pdf = pd.DataFrame({"id": range(40), "t": ["x"] * 40})
    for df in (spark.createDataFrame(pdf),
               spark.createDataFrame(list(pdf.itertuples(index=False)),
                                     "id long, t string")):
        out = fan_out(df, min_parts=4)
        assert out.rdd.getNumPartitions() >= 4
        assert sorted(r.id for r in out.collect()) == list(range(40))


def test_fan_out_on_cached_scan(spark, tmp_path):
    """A cached parquet scan still analyzes to its Relation leaf, so it
    fans out; a cached aggregate still analyzes to its Aggregate and is
    rejected like the uncached one."""
    import pytest

    path = str(tmp_path / "docs")
    spark.range(0, 500, 1, 1).withColumn("lang", F.col("id") % 3) \
        .write.parquet(path)
    docs = spark.read.parquet(path).cache()
    agged = docs.groupBy("lang").count().cache()
    try:
        n = docs.count()
        agged.count()
        fanned = fan_out(docs)
        assert fanned.rdd.getNumPartitions() >= \
            spark.sparkContext.defaultParallelism
        assert fanned.count() == n
        with pytest.raises(ValueError, match="SCAN site"):
            fan_out(agged)
    finally:
        agged.unpersist()
        docs.unpersist()

"""KB enrichment/validation (S7/S8) and the salted-aggregation skew
path."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def test_wiki_stats_join(spark, kb_scored):
    from kglinker.kb.enrich import join_wiki_stats
    stats = spark.createDataFrame(
        [("https://wiki.example/Prague", 9999, 1, 2)],
        "wiki_url string, backlinks long, hits long, ps long")
    out = join_wiki_stats(kb_scored, stats)
    row = out.filter("kb_id = 12").collect()[0]
    assert row["wiki_backlinks"] == 9999
    other = out.filter("kb_id = 15").collect()[0]
    assert other["wiki_backlinks"] == 980  # untouched


def test_kb_arity_check(spark, kb_scored):
    from kglinker.kb.enrich import check_kb_arity
    assert check_kb_arity(kb_scored).count() == 0
    from kglinker.data.kb_fixture import KB_SCHEMA
    bad = spark.createDataFrame(
        [(0, "", "X", None, "", "", "", "", "", "", "", "", "", "", "", "",
          "", "", "", "", 0, 0, 0)], KB_SCHEMA)
    assert check_kb_arity(bad).count() == 1


def test_salted_count_equals_plain(spark):
    from kglinker.runtime.partitioning import salted_count
    pdf = pd.DataFrame({
        "k": ["hot"] * 5000 + [f"k{i}" for i in range(200)],
        "v": list(range(5200)),
    })
    df = spark.createDataFrame(pdf)
    got = {r["k"]: r["weight"] for r in
           salted_count(df.select("k", "v"), ["k"], salt_buckets=8).collect()}
    assert got["hot"] == 5000
    assert got["k7"] == 1
    # salt stage actually spreads the hot key over multiple partials
    from kglinker.runtime.partitioning import _with_salt
    n_salts = (_with_salt(df.select("k", "v"), 8)
               .filter(F.col("k") == "hot")
               .select("_salt").distinct().count())
    assert n_salts > 1

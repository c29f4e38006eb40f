"""r7 optimization-round parity pins: each rewritten operator internals
must produce byte-identical results to the pre-r7 formulation it
replaced (the round's contract is plans change, values never do).

- minhash est: the one ``minhash_est`` expression (batch pairs and
  streaming admission) ≡ a plain-Python equal-count over the collected
  signature pairs, NULL hashes counting as unequal.
- duplication_fraction: NULL-text docs are excluded (no n_tokens=-1 /
  dup_frac=-0.0 leak through a curate max_dup_frac filter).
- doc_linked / doc_cooccurrence: the in-row static-best formulation ≡
  the windowed-argmax + distinct + join formulation (replayed inline).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _docs(spark):
    rows = [
        (0, "spark hash join beats table scan on a window", "en", "web"),
        (1, "the query used a hash join and a table scan", "en", "web"),
        (2, "customer ran query query against spark window", "en", "web"),
        (3, "sort merge beats hash join says the customer", "cs", "web"),
        (4, "spark hash join beats table scan on a window", "en", "news"),
        (5, "no dictionary words here at all", "en", "news"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, "
                                       "lang string, source string")


def test_minhash_est_matches_python_equal_count(spark):
    from kglinker.ops.dedup import minhash_est, minhash_signatures
    n = 16
    hcols = [f"h{i}" for i in range(n)]
    sig = minhash_signatures(_docs(spark), n)
    # every hash NULL (a short doc in streaming admission), and doc 0
    # with its first half of hashes NULL
    null = F.lit(None).cast("string")
    sig = sig.unionByName(
        sig.filter("doc_id = 0").select(
            F.lit(90).cast("long").alias("doc_id"),
            *[null.alias(h) for h in hcols])).unionByName(
        sig.filter("doc_id = 0").select(
            F.lit(91).cast("long").alias("doc_id"),
            *[null.alias(h) for h in hcols[:n // 2]], *hcols[n // 2:]))
    a = sig.select(F.col("doc_id").alias("doc_a"), F.array(*hcols).alias("sa"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.array(*hcols).alias("sb"))
    rows = (a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "sa", "sb",
                    minhash_est(F.col("sa"), F.col("sb")).alias("est"))
            .collect())
    assert len(rows) == 28
    for r in rows:
        equal = sum(x is not None and x == y for x, y in zip(r["sa"], r["sb"]))
        assert r["est"] == equal / n, (r["doc_a"], r["doc_b"])
    ests = {(r["doc_a"], r["doc_b"]): r["est"] for r in rows}
    assert ests[(0, 4)] == 1.0                # identical texts
    assert ests[(0, 91)] == 0.5               # NULL vs hash is unequal
    assert ests[(90, 91)] == 0.0              # NULL vs NULL is unequal


def test_duplication_fraction_drops_null_text(spark):
    from kglinker.ops.dedup import duplication_fraction
    rows = [(0, "a b c d e f g a b c d e f g"), (1, None), (2, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in duplication_fraction(docs, k=3).collect()}
    assert 1 not in out                       # NULL text excluded
    assert out[0]["n_tokens"] == 14
    assert all(r["n_tokens"] >= 1 for r in out.values())


def test_doc_linked_matches_windowed_argmax(spark):
    from kglinker.ops.gazetteer_sql import (doc_cooccurrence, doc_linked,
                                            doc_mentions, gazetteer_df)
    docs = _docs(spark)
    # pre-r7 formulation replayed inline: distinct mentions joined to the
    # windowed per-surface argmax
    m = doc_mentions(docs)
    gaz = gazetteer_df(spark)
    w = Window.partitionBy("surface").orderBy(F.desc("confidence"),
                                              F.asc("kb_id"))
    best = (gaz.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("surface", F.col("kb_id").alias("best_kb_id")))
    want_linked = sorted(map(tuple,
                             m.select("doc_id", "pos", "surface").distinct()
                             .join(best, "surface")
                             .select("doc_id", "pos", "surface",
                                     F.col("best_kb_id").alias("kb_id"))
                             .collect()))
    got_linked = sorted(map(tuple, doc_linked(docs).collect()))
    assert got_linked == want_linked and got_linked
    # pre-r7 cooccurrence: groupBy over linked + pair explode + count
    ents = (doc_linked(docs).groupBy("doc_id")
            .agg(F.sort_array(F.collect_set("kb_id")).alias("es")))
    es = F.col("es")
    pairs = (ents.select(F.explode(F.flatten(F.transform(
        es, lambda x, i: F.transform(
            F.slice(es, i + 2, F.size(es)),
            lambda y: F.struct(x.alias("subj"), y.alias("obj")))))).alias("p"))
        .select("p.subj", "p.obj"))
    want_co = sorted(map(tuple, pairs.groupBy("subj", "obj")
                         .agg(F.count(F.lit(1)).alias("weight")).collect()))
    got_co = sorted(map(tuple, doc_cooccurrence(docs).collect()))
    assert got_co == want_co and got_co

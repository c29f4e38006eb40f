"""Driver-contract smoke: entry() produces rows with a stable schema;
queries()/oracle_sql() are consistent; multimodal stub behaves."""

from __future__ import annotations

import pytest


def test_entry_contract(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == ["subj", "pred", "obj", "weight"]
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 20
    # every registered query carries a driver oracle (since r2 the
    # sequential-pipeline queries are gated against the independent-oracle
    # expected parquet instead of rows-only)
    assert set(qs) == set(osql)


def test_multimodal_decode_stub_raises(spark):
    from kglinker.ops.multimodal import attach_blob, decode_media
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = decode_media(attach_blob(docs))
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        out.count()


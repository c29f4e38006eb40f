"""Real (non-stub) media decode: pure-python P6 PPM kernel."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from kglinker.ops.multimodal import _decode_ppm, decode_media, synth_ppm


def test_ppm_roundtrip_decode():
    b = synth_ppm(seed=7, width=12, height=5)
    w, h, px = _decode_ppm(b)
    assert (w, h) == (12, 5)
    assert px == b[b.index(b"255\n") + 4:]
    assert len(hashlib.md5(px).hexdigest()) == 32


def test_ppm_with_comment_header():
    b = synth_ppm(1, 3, 2)
    commented = b"P6\n# a comment line\n3 2\n255\n" + b[b.index(b"255\n") + 4:]
    assert _decode_ppm(commented)[:2] == (3, 2)


def test_decode_media_real_ppm(spark):
    blobs = [(i, synth_ppm(i, 8 + i, 4), "image/x-portable-pixmap")
             for i in range(4)]
    df = spark.createDataFrame(blobs, "doc_id long, blob binary, mime string")
    out = {r["doc_id"]: r for r in decode_media(df).collect()}
    assert out[2]["width"] == 10 and out[2]["height"] == 4
    assert len(out[0]["feature_hash"]) == 32
    assert out[3]["n_bytes"] == len(synth_ppm(3, 11, 4))


def test_decode_media_unsupported_still_raises(spark):
    df = spark.createDataFrame([(1, b"\x89PNG....", "image/png")],
                               "doc_id long, blob binary, mime string")
    import pytest
    with pytest.raises(Exception, match="PIL/ffmpeg|NotImplementedError"):
        decode_media(df).count()

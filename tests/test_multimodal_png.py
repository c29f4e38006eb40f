"""Real stdlib PNG decode (r5 verdict #2): chunk walk + CRC + inflate +
full filter reconstruction must round-trip the deterministic encoder
exactly — the encoder SUBTRACTS predictors while the decoder ADDS them
(independent code paths), so any filter-math error breaks equality.
Cross-engine evidence is the ⊕ multimodal_decode gate, whose DuckDB
oracle recomputes decoded pixel sums from the md5 pixel generator."""

from __future__ import annotations

import hashlib
import struct
import zlib

import pytest

from kglinker.ops.multimodal import (_decode_png, _px_bytes, decode_media,
                                     synth_media, synth_png)


@pytest.mark.parametrize("ct,ch", [(0, 1), (2, 3), (6, 4)])
@pytest.mark.parametrize("w,h", [(1, 1), (12, 8), (5, 7)])
def test_png_roundtrip_all_filters(ct, ch, w, h):
    b = synth_png(11, w, h, ct)
    gw, gh, gc, px = _decode_png(b)
    assert (gw, gh, gc) == (w, h, ch)
    assert px == b"".join(_px_bytes(11, i, ch) for i in range(w * h))


def test_png_crc_and_truncation_detected():
    good = synth_png(3, 6, 6, 2)
    bad = bytearray(good)
    bad[len(good) // 2] ^= 0xFF   # flip a byte inside IDAT
    with pytest.raises(ValueError, match="CRC|truncated|mismatch"):
        _decode_png(bytes(bad))
    with pytest.raises(ValueError, match="truncated|missing"):
        _decode_png(good[:-20])


def test_png_unsupported_shapes_rejected():
    good = synth_png(3, 4, 4, 2)
    # rewrite IHDR to 16-bit depth with a valid CRC: must still reject
    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    chunk = (struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
             + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))
    hacked = good[:8] + chunk + good[8 + 12 + 13:]
    with pytest.raises(ValueError, match="unsupported"):
        _decode_png(hacked)


def test_decode_media_mixed_png_ppm(spark):
    """decode_media dispatches per blob: a mixed batch of real PNG and
    PPM decodes with correct per-format mime/dims/channels/px_sum."""
    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    out = {r["doc_id"]: r
           for r in decode_media(synth_media(docs)).collect()}
    assert len(out) == 12
    for d, r in out.items():
        w, h = 1 + (d * 7) % 12, 1 + (d * 3) % 8
        assert (r["width"], r["height"]) == (w, h)
        if d % 2 == 0:
            assert r["mime"] == "image/png"
            ch = {0: 1, 1: 3, 2: 4}[d % 3]
        else:
            assert r["mime"] == "image/x-portable-pixmap"
            ch = 3
        assert r["channels"] == ch
        px = b"".join(_px_bytes(d, i, ch) for i in range(w * h))
        assert r["px_sum"] == sum(px)
        assert r["feature_hash"] == hashlib.md5(px).hexdigest()


def test_png_truncated_crc_raises_valueerror():
    """r6 review: a blob cut inside a chunk's 4-byte CRC must raise
    ValueError (the decoder's error contract), not struct.error."""
    good = synth_png(3, 4, 4, 2)
    with pytest.raises(ValueError, match="truncated"):
        _decode_png(good[:-2])


def test_png_decoder_error_contract_under_mutation():
    """Any single-byte corruption of a valid PNG either still decodes
    (impossible here — CRC covers every chunk) or raises ValueError:
    no struct.error / IndexError / zlib.error escapes the parser."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    good = synth_png(13, 9, 7, 6)

    @settings(max_examples=200, deadline=None)
    @given(pos=st.integers(0, len(good) - 1), bit=st.integers(0, 7))
    def run(pos, bit):
        bad = bytearray(good)
        bad[pos] ^= 1 << bit
        try:
            _decode_png(bytes(bad))
        except ValueError:
            pass
        except Exception as e:   # noqa: BLE001 — the contract under test
            raise AssertionError(
                f"non-ValueError {type(e).__name__} at byte {pos}: {e}")

    run()


def test_png_decoder_error_contract_on_truncation():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    good = synth_png(5, 8, 6, 2)

    @settings(max_examples=100, deadline=None)
    @given(cut=st.integers(0, len(good) - 1))
    def run(cut):
        try:
            _decode_png(good[:cut])
        except ValueError:
            pass
        except Exception as e:   # noqa: BLE001
            raise AssertionError(
                f"non-ValueError {type(e).__name__} at cut {cut}: {e}")

    run()

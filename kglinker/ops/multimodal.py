"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side machinery — schema, partition-preserving ``mapInPandas``
decode, Arrow batch shape — is real and tested. Decode kernels:

- **PPM (P6)** decodes FOR REAL (pure-python header+pixel parser, no
  external libs): true width/height, pixel sum, and an md5 feature hash
  over the pixel payload.
- **PNG** decodes FOR REAL (r6, stdlib only): chunk walk with CRC
  verification, zlib inflate, and full scanline filter reconstruction
  (None/Sub/Up/Average/Paeth) for 8-bit gray/RGB/RGBA non-interlaced —
  the raster format a real training corpus actually contains.
- JPEG/audio/video need PIL/ffmpeg, which the package does not depend
  on: ``decode_media`` raises ``NotImplementedError`` for those formats.

At 100 TB: binary payloads dominate row size → keep them in their own
column family (parquet: large row groups, no dictionary), never shuffle
them (derive features first, join features later), and size
``spark.sql.execution.arrow.maxRecordsPerBatch`` down so a batch of blobs
fits executor memory.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["attach_blob", "media_metadata", "decode_media",
           "synth_ppm", "synth_png", "synth_media"]

DECODED_SCHEMA = ("doc_id long, mime string, n_bytes int, width int, "
                  "height int, channels int, px_sum long, feature_hash string")

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel (bit depth 8 only)
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def _px_bytes(seed: int, i: int, channels: int) -> bytes:
    """Shared deterministic pixel generator: pixel i of image `seed` is
    the first `channels` bytes of md5(f"{seed}:{i}") — replayable in SQL
    as hex-pair extractions of md5(seed || ':' || i), which is what makes
    the decode gate's pixel-sum oracle-checkable cross-engine."""
    return hashlib.md5(f"{seed}:{i}".encode()).digest()[:channels]


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def synth_png(seed: int, width: int, height: int,
              color_type: int = 2) -> bytes:
    """Deterministic REAL PNG (stdlib zlib only): 8-bit gray/RGB/RGBA,
    scanline y encoded with filter y % 5 — every reconstruction filter
    (None/Sub/Up/Average/Paeth) appears in any image ≥5 rows tall, so a
    decoder bug in any filter corrupts the pixel payload and fails the
    round-trip/oracle checks."""
    ch = _PNG_CHANNELS[color_type]
    raw_rows = []
    for y in range(height):
        row = bytearray()
        for x in range(width):
            row += _px_bytes(seed, y * width + x, ch)
        raw_rows.append(bytes(row))
    stream = bytearray()
    for y, row in enumerate(raw_rows):
        f = y % 5
        prior = raw_rows[y - 1] if y else bytes(len(row))
        stream.append(f)
        for i, x in enumerate(row):
            a = row[i - ch] if i >= ch else 0
            b = prior[i]
            c = prior[i - ch] if i >= ch else 0
            pred = (0, a, b, (a + b) // 2, _paeth(a, b, c))[f]
            stream.append((x - pred) & 0xFF)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(stream)))
            + chunk(b"IEND", b""))


def _decode_png(b: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, channels, raw_pixel_bytes) from a real PNG —
    pure stdlib: chunk walk with CRC verification, zlib inflate, full
    filter reconstruction (None/Sub/Up/Average/Paeth). Supports 8-bit
    depth, color types 0/2/6, non-interlaced — the shapes a synthetic or
    screenshot-style corpus actually contains; anything else raises."""
    if not b.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos = len(_PNG_SIG)
    width = height = channels = -1
    idat = bytearray()
    while pos + 8 <= len(b):
        (length,) = struct.unpack(">I", b[pos:pos + 4])
        typ = b[pos + 4:pos + 8]
        data = b[pos + 8:pos + 8 + length]
        crc_raw = b[pos + 8 + length:pos + 12 + length]
        if len(data) != length or len(crc_raw) != 4:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", crc_raw)
        if crc != zlib.crc32(typ + data):
            raise ValueError(f"PNG CRC mismatch in {typ!r}")
        if typ == b"IHDR":
            width, height, depth, ct, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", data)
            if depth != 8 or ct not in _PNG_CHANNELS or interlace:
                raise ValueError(
                    f"unsupported PNG shape (depth={depth}, color={ct}, "
                    f"interlace={interlace}); supported: 8-bit gray/RGB/"
                    f"RGBA non-interlaced")
            channels = _PNG_CHANNELS[ct]
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + length
    if width < 0 or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    stream = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(stream) != height * (stride + 1):
        raise ValueError("PNG pixel stream length mismatch")
    out = bytearray()
    prior = bytes(stride)
    for y in range(height):
        f = stream[y * (stride + 1)]
        line = bytearray(stream[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
        if f > 4:
            raise ValueError(f"bad PNG filter type {f}")
        for i in range(stride):
            a = line[i - channels] if i >= channels else 0
            bb = prior[i]
            c = prior[i - channels] if i >= channels else 0
            pred = (0, a, bb, (a + bb) // 2, _paeth(a, bb, c))[f]
            line[i] = (line[i] + pred) & 0xFF
        out += line
        prior = bytes(line)
    return width, height, channels, bytes(out)


def synth_ppm(seed: int, width: int, height: int) -> bytes:
    """Deterministic P6 PPM image (test/bench data, no RNG)."""
    header = f"P6\n{width} {height}\n255\n".encode()
    px = bytearray()
    for i in range(width * height):
        px += _px_bytes(seed, i, 3)
    return header + bytes(px)


def _decode_ppm(b: bytes) -> tuple[int, int, bytes]:
    """(width, height, raw_pixel_bytes) from a binary P6 PPM — pure
    python. Handles '#' comments and arbitrary whitespace in the header."""
    if not b.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(b) and b[pos:pos + 1].isspace():
            pos += 1
        if b[pos:pos + 1] == b"#":
            while pos < len(b) and b[pos:pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(b[start:pos]))
    pos += 1   # single whitespace after maxval
    width, height, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    pixels = b[pos:pos + 3 * width * height]
    if len(pixels) != 3 * width * height:
        raise ValueError("truncated PPM pixel payload")
    return width, height, pixels


def attach_blob(docs: DataFrame) -> DataFrame:
    """Simulate a media column: text → binary payload + mime metadata.
    (Stand-in for reading real blobs; the column type and everything
    downstream is what a real pipeline uses.)"""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("blob"),
        F.lit("image/fake").alias("mime"))


def synth_media(docs: DataFrame) -> DataFrame:
    """(doc_id, blob, mime): deterministic REAL image blobs for the
    decode gate — no RNG, a pure function of ``doc_id``, so the DuckDB
    oracle can recompute every decoded property (dims from the doc_id
    arithmetic, pixel sums from the md5 pixel generator) without seeing
    the blobs. Even doc_ids get PNG (color type cycling gray/RGB/RGBA by
    doc_id % 3, every scanline filter exercised), odd get P6 PPM. Images
    are tiny (≤12×8): the gate verifies decode CORRECTNESS; blob-size
    scaling concerns are the module-doc layout notes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 1 + (d * 7) % 12, 1 + (d * 3) % 8
                if d % 2 == 0:
                    ct = (0, 2, 6)[d % 3]
                    rows.append((d, synth_png(d, w, h, ct), "image/png"))
                else:
                    rows.append((d, synth_ppm(d, w, h),
                                 "image/x-portable-pixmap"))
            yield pd.DataFrame(rows, columns=["doc_id", "blob", "mime"])

    return docs.select("doc_id").mapInPandas(
        run, "doc_id long, blob binary, mime string")


def media_metadata(docs_with_blob: DataFrame) -> DataFrame:
    """(doc_id, mime, n_bytes): pure-Column metadata extraction —
    no decode, no Python."""
    return docs_with_blob.select(
        "doc_id", "mime",
        F.octet_length("blob").cast("int").alias("n_bytes"))


def decode_media(docs_with_blob: DataFrame) -> DataFrame:
    """Arrow-batched decode / feature-extract over ``mapInPandas``.

    Decodes P6 PPM and PNG (8-bit gray/RGB/RGBA, full filter
    reconstruction — pure stdlib) natively and raises
    ``NotImplementedError`` at task time for formats that need PIL/ffmpeg
    (not a dependency). One pandas batch in → one feature frame out, blob
    column dropped on output (features only cross the shuffle)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "mime", "n_bytes", "width", "height", "channels",
                "px_sum", "feature_hash"]
        for pdf in batches:
            rows = []
            for doc_id, mime, blob in zip(pdf["doc_id"], pdf["mime"],
                                          pdf["blob"]):
                b = bytes(blob)
                if b.startswith(b"P6"):
                    w, hgt, px = _decode_ppm(b)
                    ch, out_mime = 3, "image/x-portable-pixmap"
                elif b.startswith(_PNG_SIG):
                    w, hgt, ch, px = _decode_png(b)
                    out_mime = "image/png"
                else:
                    raise NotImplementedError(
                        f"media decode for {mime!r} requires PIL/ffmpeg; "
                        "PPM and PNG decode natively")
                rows.append((int(doc_id), out_mime, len(b), w, hgt, ch,
                             sum(px), hashlib.md5(px).hexdigest()))
            yield pd.DataFrame(rows, columns=cols)

    return docs_with_blob.mapInPandas(run, DECODED_SCHEMA)

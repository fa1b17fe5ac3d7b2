"""Image perceptual-hash near-duplicates: dHash over decoded pixels.

Completes the multimodal tier beyond metadata (``multimodal.py`` parses
container headers) into CONTENT dedup: decode the three containers the
engine handles without codec dependencies (24-bit BITMAPINFOHEADER
BMP — pure numpy over the payload bytes; non-interlaced 8-bit PNG —
stdlib ``zlib`` inflate + the full None/Sub/Up/Average/Paeth scanline
defilter set; baseline-sequential JPEG — ``operators/jpeg.py``'s
marker walk + Huffman + dequant + IDCT, round 13; all real decoders,
not stubs, dispatched by magic bytes), reduce each image to a
difference hash
(dHash: bit = left pixel brighter than its right neighbor on a fixed
8x8 grayscale grid; Krawetz's public algorithm), and find pairs within
a Hamming radius with the SAME pigeonhole segment blocking the text
SimHash pipeline uses (``dedup.simhash_pairs_from_fingerprints`` — one
segment-keyed equi-join, never all-pairs, exact recall at the radius).

Determinism contract (what makes this driver-gateable): grayscale is
the integer mean ``(r + g + b) // 3``, downscale is integer-floor area
averaging on integer cell boundaries, and the hash is 56 bits
(8 rows x 7 horizontal comparisons) so fingerprints stay nonnegative
in a BIGINT on both engines. An oracle can therefore replay pixel
values, hash bits, blocks, join, and popcount with integer arithmetic
only (see ``queries.q_image_near_dup``: the blobs are synthesized from
doc_id, Spark hashes what it DECODES from the actual bytes, DuckDB
hashes the generating formula directly — they agree only if
encode∘decode is the identity).

Scale shape: decode+hash is one mapInPandas scan (Arrow-batched, numpy
per image; the one per-byte Python path is PNG Average/Paeth
scanlines — see ``png_gray_pixels``); everything after is the audited
SimHash join machinery on a 1-row-per-image fingerprint frame.

Reference parity: criteo/ml-hadoop-experiment has no multimodal
surface (SURVEY.md §2) — north-star extension for multimodal training
pipelines.
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .dedup import simhash_pairs_from_fingerprints

#: fixed dHash grid (width x height); 8x8 -> 8 rows of 7 comparisons
DHASH_GRID = 8
#: dHash fingerprint width in bits — keep < 63 so the BIGINT stays
#: nonnegative (simhash_blocks_sql's div/mod blocking requires it)
DHASH_BITS = DHASH_GRID * (DHASH_GRID - 1)

#: untrusted-PNG allocation cap: a crafted IHDR can claim any geometry,
#: and the decoder allocates h x stride int64 before reading a pixel —
#: 64 MP (~1.5 GiB of int64 grays) bounds a single executor-side decode
#: while admitting any real dHash input (the hash downsamples to 8x8)
_MAX_PNG_PIXELS = 64 * 1024 * 1024


def bmp_gray_pixels(payload: bytes) -> Optional[np.ndarray]:
    """Decode an uncompressed 24-bit BITMAPINFOHEADER BMP into a
    top-down ``(height, width)`` int array of ``(r + g + b) // 3``
    grays. Returns None for anything else (other containers belong to
    real codec integrations; this decoder is complete for the format
    it claims). Handles bottom-up (positive height) and top-down
    (negative) row order and 4-byte row padding."""
    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    if dib_size < 40:
        return None
    width = struct.unpack_from("<i", payload, 18)[0]
    height = struct.unpack_from("<i", payload, 22)[0]
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if planes != 1 or bpp != 24 or compression != 0:
        return None
    if width <= 0 or height == 0:
        return None
    h = abs(height)
    stride = ((width * 3 + 3) // 4) * 4
    need = data_offset + stride * h
    if len(payload) < need:
        return None
    rows = (
        np.frombuffer(payload, dtype=np.uint8, count=stride * h,
                      offset=data_offset)
        .reshape(h, stride)[:, : width * 3]
        .reshape(h, width, 3)
    )
    if height > 0:  # bottom-up storage -> flip to top-down
        rows = rows[::-1]
    return rows.astype(np.int64).sum(axis=2) // 3


def png_gray_pixels(payload: bytes) -> Optional[np.ndarray]:
    """Decode a non-interlaced 8-bit greyscale (color type 0) or
    truecolor (type 2) PNG into a top-down ``(height, width)`` int
    array of grays (``(r + g + b) // 3`` for truecolor) — stdlib only:
    ``zlib`` inflates the IDAT stream, then the five scanline filters
    (None/Sub/Up/Average/Paeth, the full PNG filter set) un-apply —
    None/Up fully vectorized, Sub as a per-channel cumsum, and only
    Average/Paeth rows fall back to a per-byte loop (their predictor
    reads the just-decoded left byte: inherently sequential in x).
    Returns None for anything else (palette,
    16-bit, alpha, interlaced — codec-integration territory), matching
    :func:`bmp_gray_pixels`'s contract for its format."""
    import zlib

    sig = b"\x89PNG\r\n\x1a\n"
    if len(payload) < 8 + 25 or payload[:8] != sig:
        return None
    pos, ihdr, idat = 8, None, b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4: pos + 8]
        data = payload[pos + 8: pos + 8 + length]
        if len(data) < length:
            return None
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or len(ihdr) != 13 or not idat:
        return None
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth != 8 or color not in (0, 2) or comp or filt or interlace:
        return None
    if w <= 0 or h <= 0:
        return None
    # Untrusted-byte guards (curation pipelines decode web-crawled
    # payloads): a crafted IHDR must not drive the allocation or the
    # inflate size — cap pixel count BEFORE allocating, and inflate with
    # an explicit output bound so a zlib bomb cannot expand past the
    # declared geometry regardless of what the header claims.
    bpp = 1 if color == 0 else 3
    stride = w * bpp
    if w * h > _MAX_PNG_PIXELS:
        return None
    expected = h * (1 + stride)
    try:
        decomp = zlib.decompressobj()
        raw = decomp.decompress(idat, expected)
        if decomp.unconsumed_tail or decomp.decompress(b"", 1):
            return None  # stream holds more than the geometry allows
    except zlib.error:
        return None
    if len(raw) != expected:
        return None
    out = np.zeros((h, stride), dtype=np.int64)
    for y in range(h):
        ftype = raw[y * (1 + stride)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (1 + stride) + 1
        ).astype(np.int64)
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.int64)
        if ftype == 0:  # None
            out[y] = line
        elif ftype == 2:  # Up
            out[y] = (line + prev) & 0xFF
        elif ftype == 1:  # Sub: per-channel prefix sum mod 256
            row = out[y]
            for c0 in range(bpp):
                row[c0::bpp] = np.cumsum(line[c0::bpp]) & 0xFF
        elif ftype in (3, 4):  # Average / Paeth: inherently sequential
            # (each byte's predictor reads the just-decoded left byte),
            # so this is the one per-byte Python loop in the decoder
            row = out[y]
            for x in range(stride):
                a = row[x - bpp] if x >= bpp else 0
                b = prev[x]
                if ftype == 3:
                    pred = (a + b) // 2
                else:
                    c = prev[x - bpp] if x >= bpp else 0
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c
                    )
                row[x] = (line[x] + pred) & 0xFF
        else:
            return None
    if color == 0:
        return out
    return out.reshape(h, w, 3).sum(axis=2) // 3


def decode_gray_pixels(payload: bytes) -> Optional[np.ndarray]:
    """Container dispatch by magic bytes: BMP (``BM``), PNG
    (``\\x89PNG``), or JPEG (``\\xff\\xd8\\xff``, round 13 — the
    dominant crawled-image format, ``operators/jpeg.py``'s baseline
    decoder) to their decoders; None otherwise. The one entry point
    the hashing scan needs — adding a codec means adding a branch
    here, nothing downstream changes."""
    if payload[:2] == b"BM":
        return bmp_gray_pixels(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return png_gray_pixels(payload)
    if payload[:3] == b"\xff\xd8\xff":
        from .jpeg import jpeg_gray_pixels

        return jpeg_gray_pixels(payload)
    return None


def png_bytes(gray: np.ndarray, truecolor: bool = True) -> bytes:
    """Encode a ``(h, w)`` int raster (values 0-255) as a minimal
    non-interlaced 8-bit PNG — truecolor with r=g=b (exercising the
    3-channel decode path) or greyscale. Filter type 0 on every
    scanline; stdlib ``zlib`` for the IDAT stream. The encode half of
    the roundtrip the mixed-container near-dup fixture gates on."""
    import zlib

    h, w = gray.shape
    px = gray.astype(np.uint8)
    if truecolor:
        rows = np.repeat(px, 3, axis=1)
        color, stride = 2, w * 3
    else:
        rows, color, stride = px, 0, w
    raw = b"".join(
        b"\x00" + rows[y].tobytes() for y in range(h)
    )
    assert len(raw) == h * (1 + stride)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def bmp_bytes(gray: np.ndarray) -> bytes:
    """Encode a ``(h, w)`` int raster (values 0-255) as a 24-bit
    bottom-up BITMAPINFOHEADER BMP with r=g=b — the encode half of the
    BMP roundtrip (:func:`png_bytes` is the PNG half)."""
    h, w = gray.shape
    stride = ((w * 3 + 3) // 4) * 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up row order
        row = bytearray()
        for x in range(w):
            row += bytes([int(gray[y, x]) & 0xFF]) * 3
        row += b"\x00" * (stride - len(row))
        body += row
    size = 54 + len(body)
    header = (
        b"BM"
        + struct.pack("<IHHI", size, 0, 0, 54)
        + struct.pack("<IiiHHIIIIII", 40, w, h, 1, 24, 0, len(body),
                      0, 0, 0, 0)
    )
    return bytes(header) + bytes(body)


def downscale_gray(gray: np.ndarray, grid: int = DHASH_GRID) -> np.ndarray:
    """Integer-floor area average onto a ``grid x grid`` raster: cell
    (i, j) spans rows [i*h//grid, (i+1)*h//grid) etc., value =
    sum(cell) // count. Pure integer arithmetic — bit-replayable by any
    engine. Images already at the grid size pass through unchanged.
    Images smaller than the grid are rejected (None) rather than
    upsampled — a <8px image has no meaningful perceptual hash."""
    h, w = gray.shape
    if h == grid and w == grid:
        return gray
    if h < grid or w < grid:
        return None
    ys = [i * h // grid for i in range(grid + 1)]
    xs = [j * w // grid for j in range(grid + 1)]
    out = np.empty((grid, grid), dtype=np.int64)
    for i in range(grid):
        for j in range(grid):
            cell = gray[ys[i]:ys[i + 1], xs[j]:xs[j + 1]]
            out[i, j] = int(cell.sum()) // cell.size
    return out


def dhash_bits(cell: np.ndarray) -> int:
    """56-bit difference hash of an 8x8 gray raster: bit
    ``y * 7 + x`` set iff ``cell[y, x] > cell[y, x + 1]``."""
    grid = cell.shape[0]
    fp = 0
    diff = cell[:, :-1] > cell[:, 1:]
    for y in range(grid):
        for x in range(grid - 1):
            if diff[y, x]:
                fp |= 1 << (y * (grid - 1) + x)
    return fp


def image_dhash_frame(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """``(id, fp)`` dHash fingerprints for a binary image payload
    column (BMP, PNG, or baseline JPEG, dispatched by magic bytes —
    :func:`decode_gray_pixels`): one Arrow-batched mapInPandas scan,
    decode + downscale + hash in numpy per image (the one per-byte
    Python path is PNG Average/Paeth scanlines — see
    :func:`png_gray_pixels`). Undecodable payloads are dropped — near-dup pairing is
    defined over decodable images; count the drop rate upstream with
    ``multimodal.extract_image_features`` if it matters."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                gray = decode_gray_pixels(bytes(payload))
                if gray is None:
                    continue
                cell = downscale_gray(gray)
                if cell is None:
                    continue
                ids.append(i)
                fps.append(dhash_bits(cell))
            yield pd.DataFrame({"id": ids, "fp": fps})

    out_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, payload_col).mapInPandas(
        _hash, f"id {out_type}, fp long"
    )


#: pre-dispatch name, kept for callers written against the BMP-only tier
bmp_dhash_frame = image_dhash_frame


def image_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    max_hamming: int = 2,
) -> DataFrame:
    """Image near-duplicate pairs ``(id_a, id_b, hamming)`` — all pairs
    of decodable image payloads (BMP, PNG, or baseline JPEG) whose
    dHash fingerprints
    differ in at most ``max_hamming`` of the 56 bits, id_a < id_b.
    Blocking and exact verification are
    ``dedup.simhash_pairs_from_fingerprints`` (pigeonhole segments over
    the fingerprint, segment-keyed equi-join, ``bit_count(xor)``
    verify — exact recall at the radius, never all-pairs)."""
    fp = image_dhash_frame(df, id_col, payload_col)
    return simhash_pairs_from_fingerprints(
        fp, bits=DHASH_BITS, max_hamming=max_hamming
    )

"""Multimodal (image/audio/video) column plumbing.

Extension beyond the reference (BASELINE.json north-star). Media content is
carried as opaque ``binary`` columns plus typed metadata columns; decode /
feature-extraction runs as Arrow-batched ``mapInPandas`` so bytes never
round-trip through the driver and each task holds at most one batch of
payloads in memory.

The actual codecs (PIL / soundfile / ffmpeg) are NOT in this environment,
so full decode is gated: if the library imports, the real decoder runs.
Container METADATA, however, is parsed for real in pure Python — image
dimensions from PNG/JPEG/GIF/BMP headers (``parse_image_dims``) and audio
sample rate / frame count from RIFF/WAVE headers (``parse_wav_meta``) —
and only unrecognized payloads fall back to a clearly-marked
deterministic fake (length, byte statistics). The Spark-side plumbing —
schema contract, partitioning, UDF signature, batch shape — is real and
tested in every tier.

Scale notes: binary payloads dominate row size; ``maxRecordsPerBatch`` and
``batch_size`` bound task memory, and feature extraction is map-side only
(no shuffle). For 100 TB of media, store content in parquet binary columns
(or pointers to object storage) and keep features/metadata in slim columns
so downstream analytics never rescans payload bytes.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_FEATURE_SCHEMA = (
    "id bigint, byte_length bigint, width int, height int, mean_luma double, decoder string"
)

AUDIO_FEATURE_SCHEMA = (
    "id bigint, byte_length bigint, sample_rate int, n_samples bigint, rms double, decoder string"
)


def with_binary_metadata(
    df: DataFrame, content_col: str = "content", prefix: str = "meta_"
) -> DataFrame:
    """Cheap, codec-free metadata as pure expressions: byte length + md5.

    Runs in codegen; use it to partition/filter media tables without ever
    decoding payloads.
    """
    c = F.col(content_col)
    return df.withColumn(f"{prefix}bytes", F.length(c)).withColumn(
        f"{prefix}digest", F.md5(c)
    )


def _try_pil():
    try:  # gated optional dependency
        from PIL import Image  # type: ignore

        return Image
    except Exception:
        return None


def parse_image_dims(payload: bytes) -> Optional[tuple[int, int, str]]:
    """(width, height, format) from container header bytes — pure Python,
    no codec. Covers the formats whose dimensions live at deterministic
    header positions: PNG (IHDR, big-endian), JPEG (SOF marker scan),
    GIF (little-endian logical screen), BMP (BITMAPINFOHEADER). Returns
    None for unrecognized/truncated payloads.

    This is a real parse of the actual bytes (oracle-checked against an
    independent SQL hex-arithmetic parse in the ``image_dims`` declared
    query), unlike the byte-length fake used for unknown formats.
    """
    n = len(payload)
    if n >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        w = int.from_bytes(payload[16:20], "big")
        h = int.from_bytes(payload[20:24], "big")
        return (w, h, "png") if w > 0 and h > 0 else None
    if n >= 4 and payload[:2] == b"\xff\xd8":
        # scan markers for a start-of-frame (C0-CF minus DHT/JPG/DAC)
        pos = 2
        while pos + 9 <= n:
            if payload[pos] != 0xFF:
                return None
            marker = payload[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2  # standalone markers have no length
                continue
            if pos + 4 > n:
                return None
            seg_len = int.from_bytes(payload[pos + 2 : pos + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if pos + 9 > n:
                    return None
                h = int.from_bytes(payload[pos + 5 : pos + 7], "big")
                w = int.from_bytes(payload[pos + 7 : pos + 9], "big")
                return (w, h, "jpeg") if w > 0 and h > 0 else None
            pos += 2 + seg_len
        return None
    if n >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w = int.from_bytes(payload[6:8], "little")
        h = int.from_bytes(payload[8:10], "little")
        return (w, h, "gif") if w > 0 and h > 0 else None
    if n >= 26 and payload[:2] == b"BM" and payload[6:10] == b"\x00\x00\x00\x00":
        # reserved-zero guard: text payloads starting "BM..." must not
        # false-positive (ASCII bytes are never all-zero there)
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        return (abs(w), abs(h), "bmp") if w != 0 and h != 0 else None
    return None


def _fake_image_features(payload: bytes) -> tuple[int, int, float]:
    """Deterministic fake decode (no image libs in this environment):
    pseudo-dimensions from byte length, 'luminance' = mean byte value."""
    n = len(payload)
    width = max(1, int(n**0.5))
    height = max(1, n // width)
    mean = float(sum(payload) / n) if n else 0.0
    return width, height, round(mean, 6)


def extract_image_features(
    df: DataFrame,
    id_col: str = "id",
    content_col: str = "content",
    batch_size: int = 256,
) -> DataFrame:
    """Decode images -> (id, byte_length, width, height, mean_luma, decoder).

    Three tiers, best available per payload: full PIL decode (real dims +
    real luminance, decoder='pil'); pure-Python container-header parse
    (real dims from PNG/JPEG/GIF/BMP headers, byte-mean stand-in for luma,
    decoder='header-<fmt>'); deterministic length-derived fake for
    unrecognized bytes (decoder='fake'). mapInPandas streams Arrow
    batches; the inner loop re-batches so at most ``batch_size`` payloads
    are resident per iteration.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pil = _try_pil()
        for pdf in batches:
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start : start + batch_size]
                rows = []
                for rid, payload in zip(chunk[id_col], chunk[content_col]):
                    payload = bytes(payload) if payload is not None else b""
                    if pil is not None:
                        import io

                        try:
                            with pil.open(io.BytesIO(payload)) as img:
                                gray = img.convert("L")
                                w, h = img.size
                                hist = gray.histogram()
                                total = sum(hist) or 1
                                luma = sum(i * c for i, c in enumerate(hist)) / total
                                rows.append((rid, len(payload), w, h, round(luma, 6), "pil"))
                                continue
                        except Exception:
                            pass  # fall through to header parse / fake
                    dims = parse_image_dims(payload)
                    if dims is not None:
                        w, h, fmt = dims
                        n = len(payload)
                        luma = round(float(sum(payload) / n), 6) if n else 0.0
                        rows.append((rid, n, w, h, luma, f"header-{fmt}"))
                        continue
                    w, h, luma = _fake_image_features(payload)
                    rows.append((rid, len(payload), w, h, luma, "fake"))
                yield pd.DataFrame(
                    rows,
                    columns=["id", "byte_length", "width", "height", "mean_luma", "decoder"],
                )

    return df.select(
        F.col(id_col).alias(id_col), F.col(content_col).alias(content_col)
    ).mapInPandas(_extract, IMAGE_FEATURE_SCHEMA)


def sample_media_frames(
    df: DataFrame,
    id_col: str = "id",
    duration_col: str = "duration_s",
    every_s: float = 1.0,
) -> DataFrame:
    """Frame-sampling plan: one row per (media id, timestamp offset).

    Pure relational expansion (sequence + explode) — the decode of each
    frame happens downstream in ``extract_image_features``-style tasks. For
    a 2h video at 1 fps that's 7200 rows per asset, generated in codegen.
    """
    n_frames = F.greatest(
        (F.col(duration_col) / F.lit(every_s)).cast("int"), F.lit(1)
    )
    offsets = F.transform(
        F.sequence(F.lit(0), n_frames - 1),
        lambda i: F.round(i * F.lit(every_s), 3),
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(offsets).alias("frame_offset_s")
    )


RESIZED_SCHEMA = "id bigint, content binary, width int, height int, decoder string"


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "id",
    content_col: str = "content",
    batch_size: int = 256,
) -> DataFrame:
    """Resize image payloads -> (id, content, width, height, decoder).

    Real resize through PIL when available (PNG-re-encoded output). Without
    an image library the payload CANNOT be meaningfully transformed, so the
    STUB path emits ``content=NULL, decoder='unavailable'`` instead of
    fabricating pixels — downstream filters on ``decoder`` keep pipelines
    honest. Plumbing (schema, Arrow batching, memory bounds) is identical
    in both paths and covered by tests.
    """

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pil = _try_pil()
        for pdf in batches:
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start : start + batch_size]
                rows = []
                for rid, payload in zip(chunk[id_col], chunk[content_col]):
                    payload = bytes(payload) if payload is not None else b""
                    if pil is not None:
                        import io

                        try:
                            with pil.open(io.BytesIO(payload)) as img:
                                resized = img.resize((width, height))
                                buf = io.BytesIO()
                                resized.save(buf, format="PNG")
                                rows.append((rid, buf.getvalue(), width, height, "pil"))
                                continue
                        except Exception:
                            pass
                    # STUB: no codec — no fabricated pixels
                    rows.append((rid, None, width, height, "unavailable"))
                yield pd.DataFrame(
                    rows, columns=["id", "content", "width", "height", "decoder"]
                )

    return df.select(
        F.col(id_col).alias(id_col), F.col(content_col).alias(content_col)
    ).mapInPandas(_resize, RESIZED_SCHEMA)


def parse_wav_meta(payload: bytes) -> Optional[tuple[int, int, int, int]]:
    """(sample_rate, channels, bits_per_sample, n_frames) from RIFF/WAVE
    container bytes — pure Python, no codec, mirroring
    ``parse_image_dims``. A real chunk-list walk (not fixed offsets): the
    'fmt ' chunk supplies rate/channels/bits, the 'data' chunk size
    divided by the block align gives the frame count. Returns None for
    unrecognized/truncated payloads or a fmt chunk that predates the
    data chunk being absent.

    Oracle-checked in the ``audio_meta`` declared query against an
    independent DuckDB hex-arithmetic parse of the same blobs.
    """
    n = len(payload)
    if n < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    rate = channels = bits = block_align = None
    data_size = None
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = pos + 8
        if cid == b"fmt " and size >= 16 and body + 16 <= n:
            channels = int.from_bytes(payload[body + 2 : body + 4], "little")
            rate = int.from_bytes(payload[body + 4 : body + 8], "little")
            block_align = int.from_bytes(payload[body + 12 : body + 14], "little")
            bits = int.from_bytes(payload[body + 14 : body + 16], "little")
        elif cid == b"data":
            data_size = min(size, n - body)  # honest under truncation
        pos = body + size + (size & 1)  # chunks are word-aligned
    if not rate or not channels or data_size is None:
        return None
    if not block_align:
        if not bits:
            return None
        block_align = channels * (bits // 8)
    if not block_align:
        return None
    return rate, channels, bits or 0, data_size // block_align


def _fake_audio_features(payload: bytes) -> tuple[int, int, float]:
    """Deterministic fake decode: pseudo sample-rate/length from byte
    length, 'rms' from byte values centered at 128."""
    n = len(payload)
    sample_rate = 16000
    n_samples = n // 2  # as if 16-bit PCM
    if n:
        acc = sum((b - 128.0) ** 2 for b in payload) / n
        rms = round((acc**0.5) / 128.0, 6)
    else:
        rms = 0.0
    return sample_rate, n_samples, rms


def extract_audio_features(
    df: DataFrame,
    id_col: str = "id",
    content_col: str = "content",
    batch_size: int = 256,
) -> DataFrame:
    """Decode audio -> (id, byte_length, sample_rate, n_samples, rms,
    decoder). Three tiers, best available per payload: full soundfile
    decode (real samples + real RMS, decoder='soundfile'); pure-Python
    RIFF/WAVE header parse (real sample rate + frame count from the
    actual container bytes, byte-statistics stand-in for RMS,
    decoder='header-wav'); deterministic length-derived fake for
    unrecognized bytes (decoder='fake')."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:  # gated optional dependency
            import soundfile  # type: ignore
        except Exception:
            soundfile = None
        for pdf in batches:
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start : start + batch_size]
                rows = []
                for rid, payload in zip(chunk[id_col], chunk[content_col]):
                    payload = bytes(payload) if payload is not None else b""
                    if soundfile is not None:
                        import io

                        try:
                            data, rate = soundfile.read(io.BytesIO(payload))
                            rms = float((data**2).mean() ** 0.5) if len(data) else 0.0
                            rows.append(
                                (rid, len(payload), int(rate), len(data), round(rms, 6), "soundfile")
                            )
                            continue
                        except Exception:
                            pass
                    meta = parse_wav_meta(payload)
                    if meta is not None:
                        rate, _channels, _bits, n_frames = meta
                        _r, _n, rms = _fake_audio_features(payload)
                        rows.append(
                            (rid, len(payload), rate, n_frames, rms, "header-wav")
                        )
                        continue
                    rate, n_samples, rms = _fake_audio_features(payload)
                    rows.append((rid, len(payload), rate, n_samples, rms, "fake"))
                yield pd.DataFrame(
                    rows,
                    columns=["id", "byte_length", "sample_rate", "n_samples", "rms", "decoder"],
                )

    return df.select(
        F.col(id_col).alias(id_col), F.col(content_col).alias(content_col)
    ).mapInPandas(_extract, AUDIO_FEATURE_SCHEMA)

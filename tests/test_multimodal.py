"""Multimodal plumbing tests: binary columns, metadata, gated decode."""

import pytest
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.operators.multimodal import (
    extract_image_features,
    sample_media_frames,
    with_binary_metadata,
)


def _media_df(spark):
    # synthesize binary payloads from document text (no image libs here;
    # the decoder records 'fake' and derives deterministic features)
    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(50)
        .select(
            F.col("doc_id").alias("id"),
            F.encode(F.col("text"), "utf-8").alias("content"),
        )
    )


def test_binary_metadata(spark):
    df = with_binary_metadata(_media_df(spark), "content")
    rows = df.collect()
    assert all(r["meta_bytes"] == len(bytes(r["content"])) for r in rows)
    assert all(len(r["meta_digest"]) == 32 for r in rows)


def test_extract_image_features_fake_path(spark):
    feats = extract_image_features(_media_df(spark), "id", "content", batch_size=16)
    rows = feats.collect()
    assert len(rows) == 50
    assert {r["decoder"] for r in rows} == {"fake"}  # no PIL in this env
    for r in rows:
        assert r["byte_length"] > 0
        assert r["width"] * r["height"] <= r["byte_length"]
        assert 0.0 <= r["mean_luma"] <= 255.0
    # deterministic across runs
    again = extract_image_features(_media_df(spark), "id", "content", batch_size=16)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))


def test_frame_sampling_plan(spark):
    df = spark.createDataFrame(
        [(1, 3.5), (2, 0.4)], "id bigint, duration_s double"
    )
    out = sample_media_frames(df, "id", "duration_s", every_s=1.0).collect()
    got = sorted((r["id"], r["frame_offset_s"]) for r in out)
    assert got == [(1, 0.0), (1, 1.0), (1, 2.0), (2, 0.0)]


def test_resize_stub_path(spark):
    from ml_hadoop_experiment_spark.operators.multimodal import resize_images

    out = resize_images(_media_df(spark), 32, 32).collect()
    assert len(out) == 50
    # no image codec in this environment: the stub emits NULL content and
    # records 'unavailable' — never fabricated pixels
    assert all(r["decoder"] == "unavailable" for r in out)
    assert all(r["content"] is None for r in out)
    assert all((r["width"], r["height"]) == (32, 32) for r in out)


def test_extract_audio_features_fake_path(spark):
    from ml_hadoop_experiment_spark.operators.multimodal import (
        extract_audio_features,
    )

    out = extract_audio_features(_media_df(spark)).collect()
    assert len(out) == 50
    assert all(r["decoder"] == "fake" for r in out)
    assert all(r["n_samples"] == r["byte_length"] // 2 for r in out)
    assert all(0.0 <= r["rms"] <= 1.0 for r in out)
    # deterministic: same payload -> same features
    again = extract_audio_features(_media_df(spark)).collect()
    assert sorted((r["id"], r["rms"]) for r in out) == sorted(
        (r["id"], r["rms"]) for r in again
    )


def test_parse_image_dims_pure():
    """Header parsing against hand-built container bytes (and PIL-style
    golden layouts): PNG big-endian IHDR, JPEG SOF scan past other
    segments, GIF little-endian, BMP with reserved-zero guard."""
    from ml_hadoop_experiment_spark.operators.multimodal import parse_image_dims

    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
           + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
           + b"\x08\x06\x00\x00\x00")
    assert parse_image_dims(png) == (640, 480, "png")

    # JPEG with an APP0 segment BEFORE the SOF (the scan must skip it)
    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof = (b"\xff\xc0\x00\x0b\x08" + (33).to_bytes(2, "big")
           + (99).to_bytes(2, "big") + b"\x01\x01\x11\x00")
    assert parse_image_dims(b"\xff\xd8" + app0 + sof + b"\xff\xd9") == (99, 33, "jpeg")

    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00\x00\x00"
    assert parse_image_dims(gif) == (320, 200, "gif")

    bmp = (b"BM" + (26).to_bytes(4, "little") + b"\x00\x00\x00\x00"
           + (26).to_bytes(4, "little") + (12).to_bytes(4, "little")
           + (100).to_bytes(4, "little", signed=True)
           + (-50).to_bytes(4, "little", signed=True))
    assert parse_image_dims(bmp) == (100, 50, "bmp")

    # non-image bytes, including text that starts like a magic number
    assert parse_image_dims(b"plain text content here") is None
    assert parse_image_dims(b"BMW cars are popular in Europe etc") is None
    assert parse_image_dims(b"") is None
    assert parse_image_dims(b"\x89PNG\r\n\x1a\n\x00\x00") is None  # truncated


def test_extract_image_features_header_path(spark):
    """Real dims come back through the mapInPandas path for header-parseable
    payloads while unknown bytes keep the length-derived fake."""
    from ml_hadoop_experiment_spark.operators.multimodal import extract_image_features

    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
           + (12).to_bytes(4, "big") + (34).to_bytes(4, "big")
           + b"\x08\x06\x00\x00\x00")
    rows = [(1, bytearray(png)), (2, bytearray(b"not an image"))]
    df = spark.createDataFrame(rows, "id bigint, content binary")
    got = {r["id"]: r for r in extract_image_features(df, "id", "content").collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["decoder"]) == (12, 34, "header-png")
    assert got[2]["decoder"] == "fake"


def _wav_bytes(rate=44100, channels=2, bits=16, n_frames=100, extra_chunk=False):
    block = channels * (bits // 8)
    data = bytes(n_frames * block)
    chunks = b""
    if extra_chunk:  # a LIST chunk before fmt: the walk must skip it
        chunks += b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    chunks += (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little") + (rate * block).to_bytes(4, "little")
        + block.to_bytes(2, "little") + bits.to_bytes(2, "little")
    )
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def test_parse_wav_meta_pure():
    """RIFF/WAVE chunk-walk against hand-built container bytes."""
    from ml_hadoop_experiment_spark.operators.multimodal import parse_wav_meta

    assert parse_wav_meta(_wav_bytes(44100, 2, 16, 100)) == (44100, 2, 16, 100)
    assert parse_wav_meta(_wav_bytes(8000, 1, 16, 7)) == (8000, 1, 16, 7)
    # chunk walk skips unknown chunks before fmt
    assert parse_wav_meta(_wav_bytes(22050, 1, 16, 3, extra_chunk=True)) == (
        22050, 1, 16, 3,
    )
    # zero-length data chunk
    assert parse_wav_meta(_wav_bytes(16000, 1, 16, 0)) == (16000, 1, 16, 0)
    # non-WAV bytes / truncation
    assert parse_wav_meta(b"RIFFxxxxAVI LIST") is None
    assert parse_wav_meta(b"plain text, nothing else") is None
    assert parse_wav_meta(b"") is None
    assert parse_wav_meta(_wav_bytes()[:30]) is None  # truncated header


def test_extract_audio_features_header_path(spark):
    """Real sample rate / frame count come back through mapInPandas for
    RIFF payloads; unknown bytes keep the length-derived fake."""
    from ml_hadoop_experiment_spark.operators.multimodal import (
        extract_audio_features,
    )

    rows = [
        (1, bytearray(_wav_bytes(32000, 1, 16, 55))),
        (2, bytearray(b"not audio at all, just text")),
    ]
    df = spark.createDataFrame(rows, "id bigint, content binary")
    got = {r["id"]: r for r in extract_audio_features(df, "id", "content").collect()}
    assert (got[1]["sample_rate"], got[1]["n_samples"], got[1]["decoder"]) == (
        32000, 55, "header-wav",
    )
    assert got[2]["decoder"] == "fake"
    assert got[2]["sample_rate"] == 16000


def test_image_near_dup_synth_payload_roundtrip():
    """r14: q_image_near_dup's BMP synthesis moved from a ~2k-node
    codegen expression to the Python mapInPandas shape the mixed/jpeg
    variants already use. Pin what the swap must preserve: the payload
    is a well-formed 246-byte 8x8 24bpp BMP whose DECODED raster equals
    the md5 formula (grp/perturbation/mod) — i.e. encode-decode stays
    the identity the oracle relies on. (Bit-identity of the payload
    bytes against the retired expression form was verified once at the
    swap: 500/500 equal on sf0.001.)"""
    import hashlib

    import numpy as np

    from ml_hadoop_experiment_spark.operators.phash import (
        bmp_bytes,
        bmp_gray_pixels,
    )

    for d in (0, 3, 17, 254):
        grp, r = d // 5, d % 5
        gray = np.empty((8, 8), dtype=np.int64)
        for y in range(8):
            for x in range(8):
                hh = int(
                    hashlib.md5(f"{grp}_{y * 8 + x}".encode()).hexdigest()[:2],
                    16,
                )
                if x == y and x > 0 and r == x:
                    hh += 83 * x
                gray[y, x] = hh % 199 + 20
        payload = bmp_bytes(gray)
        assert payload[:2] == b"BM" and len(payload) == 246
        back = bmp_gray_pixels(payload)
        assert back is not None and (back == gray).all()


@pytest.mark.parametrize(
    "name",
    ["image_near_dup", "image_near_dup_mixed", "audio_near_dup", "image_near_dup_jpeg"],
)
def test_near_dup_synth_negative_doc_id_matches_sql_twin(spark, tmp_path, name):
    """The synths group documents as their DuckDB twins do, where integer
    ``//`` and ``%`` truncate toward zero: doc_id -2 is rank -2 of group 0
    (Python's floor would put it at rank 3 of group -1), so it pairs with
    doc 3 on both engines."""
    import duckdb
    import pandas as pd

    from ml_hadoop_experiment_spark.queries import ORACLE_SQL, QUERIES

    docs = str(tmp_path / "documents.parquet")
    pd.DataFrame({"doc_id": [-2, 3, 8]}).to_parquet(docs)
    out = QUERIES[name](spark, str(tmp_path)).select("id_a", "id_b", "hamming")
    got = sorted(map(tuple, out.collect()))
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        want = sorted(
            con.execute(f"SELECT id_a, id_b, hamming FROM ({ORACLE_SQL[name]})").fetchall()
        )
    finally:
        con.close()
    assert [p[:2] for p in want] == [(-2, 3)]
    assert got == want

"""Multimodal (image/audio/frame) metadata and content queries.

Each ``q_<name>`` defined here is registered as the query ``<name>``,
with this module's ``SQL_<NAME>`` as its DuckDB oracle (see the
package ``__init__``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ml_hadoop_experiment_spark.operators.multimodal import (
    extract_audio_features,
    extract_image_features,
)
from ml_hadoop_experiment_spark.queries._shared import _materialize_ctes, _t


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: text bytes as opaque media payloads flow
    through the real mapInPandas decode path (deterministic fake decoder);
    the oracle checks the length-derived features."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.encode(F.col("text"), "utf-8").alias("content")
    )
    feats = extract_image_features(docs, "id", "content", batch_size=256)
    return feats.select(
        F.col("id").alias("doc_id"), "byte_length", "width", "height"
    )


SQL_MULTIMODAL_META = """
SELECT doc_id,
       octet_length(encode(text)) AS byte_length,
       CAST(floor(sqrt(octet_length(encode(text)))) AS INT) AS width,
       CAST(floor(octet_length(encode(text)) / floor(sqrt(octet_length(encode(text))))) AS INT)
         AS height
FROM documents
"""


def q_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real container-header parsing over binary image payloads: PNG/JPEG/
    GIF blobs are synthesized per document (dims derived from doc_id) with
    pure codegen byte construction, then ``extract_image_features`` parses
    width/height back out of the actual header bytes in mapInPandas. The
    oracle re-parses the SAME blobs with independent hex arithmetic in
    DuckDB — construction is shared by design, the two PARSERS are not."""
    docs = _t(spark, sf_dir, "documents")
    w = (F.col("doc_id") % 640 + 1).cast("int")
    h = (F.col("doc_id") % 480 + 1).cast("int")

    def be32(c):
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    def be16(c):
        return F.unhex(F.lpad(F.hex(c), 4, "0"))

    def le16(c):
        return F.concat(
            F.unhex(F.lpad(F.hex(c % 256), 2, "0")),
            F.unhex(F.lpad(F.hex((c / 256).cast("int")), 2, "0")),
        )

    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A0000000D49484452")),
        be32(w), be32(h), F.unhex(F.lit("0806000000")),
    )
    jpeg = F.concat(
        F.unhex(F.lit("FFD8FFC0000B08")),
        be16(h), be16(w), F.unhex(F.lit("01011100FFD9")),
    )
    gif = F.concat(
        F.unhex(F.lit("474946383961")), le16(w), le16(h), F.unhex(F.lit("000000")),
    )
    content = (
        F.when(F.col("doc_id") % 3 == 0, png)
        .when(F.col("doc_id") % 3 == 1, jpeg)
        .otherwise(gif)
    )
    payloads = docs.select(F.col("doc_id").alias("id"), content.alias("content"))
    feats = extract_image_features(payloads, "id", "content", batch_size=256)
    return feats.select(
        F.col("id").alias("doc_id"), "byte_length", "width", "height", "decoder"
    )


SQL_IMAGE_DIMS = """
WITH params AS (
  SELECT doc_id,
         CAST(doc_id % 640 + 1 AS INT) AS w,
         CAST(doc_id % 480 + 1 AS INT) AS h,
         doc_id % 3 AS fmt
  FROM documents
),
payloads AS (
  SELECT doc_id,
    CASE fmt
      WHEN 0 THEN unhex('89504E470D0A1A0A0000000D49484452')
                  || unhex(lpad(hex(w), 8, '0')) || unhex(lpad(hex(h), 8, '0'))
                  || unhex('0806000000')
      WHEN 1 THEN unhex('FFD8FFC0000B08')
                  || unhex(lpad(hex(h), 4, '0')) || unhex(lpad(hex(w), 4, '0'))
                  || unhex('01011100FFD9')
      ELSE unhex('474946383961')
           || unhex(lpad(hex(w % 256), 2, '0')) || unhex(lpad(hex(w // 256), 2, '0'))
           || unhex(lpad(hex(h % 256), 2, '0')) || unhex(lpad(hex(h // 256), 2, '0'))
           || unhex('000000')
    END AS content
  FROM params
),
-- independent parse: dims re-read from the blob's header bytes only
parsed AS (
  SELECT doc_id, octet_length(content) AS byte_length, hex(content) AS hx
  FROM payloads
)
SELECT doc_id, byte_length,
  CASE
    WHEN substring(hx, 1, 16) = '89504E470D0A1A0A'
      THEN CAST(('0x' || substring(hx, 33, 8)) AS INT)
    WHEN substring(hx, 1, 4) = 'FFD8'
      THEN CAST(('0x' || substring(hx, 19, 4)) AS INT)
    ELSE CAST(('0x' || substring(hx, 15, 2) || substring(hx, 13, 2)) AS INT)
  END AS width,
  CASE
    WHEN substring(hx, 1, 16) = '89504E470D0A1A0A'
      THEN CAST(('0x' || substring(hx, 41, 8)) AS INT)
    WHEN substring(hx, 1, 4) = 'FFD8'
      THEN CAST(('0x' || substring(hx, 15, 4)) AS INT)
    ELSE CAST(('0x' || substring(hx, 19, 2) || substring(hx, 17, 2)) AS INT)
  END AS height,
  CASE
    WHEN substring(hx, 1, 16) = '89504E470D0A1A0A' THEN 'header-png'
    WHEN substring(hx, 1, 4) = 'FFD8' THEN 'header-jpeg'
    ELSE 'header-gif'
  END AS decoder
FROM parsed
"""


def q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real RIFF/WAVE container-header parsing over binary audio payloads
    (round 5; the audio twin of ``image_dims``): minimal PCM WAV blobs are
    synthesized per document with pure codegen byte construction (sample
    rate / channel count derived from doc_id; the document text bytes as
    the data chunk), then ``extract_audio_features`` walks the ACTUAL
    chunk list in mapInPandas (``parse_wav_meta``) to recover sample rate
    and frame count. Every 7th document carries a non-WAV payload to pin
    the fake-tier dispatch. The oracle re-parses the SAME blobs with
    independent DuckDB hex arithmetic — construction is shared by design,
    the two PARSERS are not."""
    docs = _t(spark, sf_dir, "documents")
    rate = (F.col("doc_id") % 5 * 8000 + 8000).cast("int")
    channels = (F.col("doc_id") % 2 + 1).cast("int")
    block_align = channels * 2  # 16-bit PCM
    byte_rate = rate * block_align
    data = F.encode(F.col("text"), "utf-8")
    data_size = F.length(data)

    def le16(c):
        return F.concat(
            F.unhex(F.lpad(F.hex(c % 256), 2, "0")),
            F.unhex(F.lpad(F.hex((c / 256).cast("int") % 256), 2, "0")),
        )

    def le32(c):
        return F.concat(
            F.unhex(F.lpad(F.hex(c % 256), 2, "0")),
            F.unhex(F.lpad(F.hex((c / 256).cast("int") % 256), 2, "0")),
            F.unhex(F.lpad(F.hex((c / 65536).cast("int") % 256), 2, "0")),
            F.unhex(F.lpad(F.hex((c / 16777216).cast("int") % 256), 2, "0")),
        )

    wav = F.concat(
        F.encode(F.lit("RIFF"), "utf-8"), le32(data_size + 36),
        F.encode(F.lit("WAVE"), "utf-8"),
        F.encode(F.lit("fmt "), "utf-8"), le32(F.lit(16)),
        le16(F.lit(1)), le16(channels), le32(rate), le32(byte_rate),
        le16(block_align), le16(F.lit(16)),
        F.encode(F.lit("data"), "utf-8"), le32(data_size), data,
    )
    content = F.when(F.col("doc_id") % 7 == 0, data).otherwise(wav)
    payloads = docs.select(F.col("doc_id").alias("id"), content.alias("content"))
    feats = extract_audio_features(payloads, "id", "content", batch_size=256)
    return feats.select(
        F.col("id").alias("doc_id"), "byte_length", "sample_rate", "n_samples", "decoder"
    )


SQL_AUDIO_META = """
WITH params AS (
  SELECT doc_id,
         octet_length(encode(text)) AS dsz,
         CAST(doc_id % 5 * 8000 + 8000 AS INT) AS rate,
         CAST(doc_id % 2 + 1 AS INT) AS ch,
         encode(text) AS data
  FROM documents
),
payloads AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN data ELSE
      encode('RIFF')
      || unhex(lpad(hex((dsz + 36) % 256), 2, '0'))
      || unhex(lpad(hex((dsz + 36) // 256 % 256), 2, '0'))
      || unhex(lpad(hex((dsz + 36) // 65536 % 256), 2, '0'))
      || unhex(lpad(hex((dsz + 36) // 16777216 % 256), 2, '0'))
      || encode('WAVE') || encode('fmt ') || unhex('10000000')
      || unhex('0100')
      || unhex(lpad(hex(ch % 256), 2, '0')) || unhex(lpad(hex(ch // 256), 2, '0'))
      || unhex(lpad(hex(rate % 256), 2, '0'))
      || unhex(lpad(hex(rate // 256 % 256), 2, '0'))
      || unhex(lpad(hex(rate // 65536 % 256), 2, '0'))
      || unhex(lpad(hex(rate // 16777216 % 256), 2, '0'))
      || unhex(lpad(hex(rate * ch * 2 % 256), 2, '0'))
      || unhex(lpad(hex(rate * ch * 2 // 256 % 256), 2, '0'))
      || unhex(lpad(hex(rate * ch * 2 // 65536 % 256), 2, '0'))
      || unhex(lpad(hex(rate * ch * 2 // 16777216 % 256), 2, '0'))
      || unhex(lpad(hex(ch * 2 % 256), 2, '0')) || unhex(lpad(hex(ch * 2 // 256), 2, '0'))
      || unhex('1000')
      || encode('data')
      || unhex(lpad(hex(dsz % 256), 2, '0'))
      || unhex(lpad(hex(dsz // 256 % 256), 2, '0'))
      || unhex(lpad(hex(dsz // 65536 % 256), 2, '0'))
      || unhex(lpad(hex(dsz // 16777216 % 256), 2, '0'))
      || data
    END AS content
  FROM params
),
-- independent parse: metadata re-read from the blob's header bytes only
parsed AS (
  SELECT doc_id, octet_length(content) AS byte_length, hex(content) AS hx
  FROM payloads
)
SELECT doc_id, byte_length,
  CASE WHEN substring(hx, 1, 8) = '52494646' AND substring(hx, 17, 8) = '57415645'
    THEN CAST(('0x' || substring(hx, 55, 2) || substring(hx, 53, 2)
               || substring(hx, 51, 2) || substring(hx, 49, 2)) AS INT)
    ELSE 16000
  END AS sample_rate,
  CASE WHEN substring(hx, 1, 8) = '52494646' AND substring(hx, 17, 8) = '57415645'
    THEN CAST(
      CAST(('0x' || substring(hx, 87, 2) || substring(hx, 85, 2)
            || substring(hx, 83, 2) || substring(hx, 81, 2)) AS BIGINT)
      // CAST(('0x' || substring(hx, 67, 2) || substring(hx, 65, 2)) AS BIGINT)
      AS BIGINT)
    ELSE CAST(byte_length // 2 AS BIGINT)
  END AS n_samples,
  CASE WHEN substring(hx, 1, 8) = '52494646' AND substring(hx, 17, 8) = '57415645'
    THEN 'header-wav' ELSE 'fake'
  END AS decoder
FROM parsed
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video/audio frame-sampling PLAN (round 5): one row per (asset,
    timestamp offset) at a 0.5 s cadence — the relational expansion that
    feeds per-frame decode tasks downstream (``sample_media_frames``,
    ``operators/multimodal.py``). Durations are synthesized from doc_id
    (1..60.5 s); the expansion itself is pure codegen sequence+explode,
    zero shuffle, and every arithmetic step (division by a power of two,
    multiples of 0.5 rounded at 3 dp) is IEEE-exact cross-engine."""
    from ml_hadoop_experiment_spark.operators.multimodal import (
        sample_media_frames,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("id"),
        ((F.col("doc_id") % 120) / 2.0 + 1.0).alias("duration_s"),
    )
    out = sample_media_frames(assets, "id", "duration_s", every_s=0.5)
    return out.select(F.col("id").alias("doc_id"), "frame_offset_s")


SQL_FRAME_SAMPLE = """
WITH assets AS (
  SELECT doc_id, doc_id % 120 / 2.0 + 1.0 AS duration_s FROM documents
)
SELECT doc_id,
       round(unnest(range(0, greatest(CAST(duration_s / 0.5 AS INT), 1))) * 0.5, 3)
         AS frame_offset_s
FROM assets
"""


def _group5(doc_id: int) -> tuple[int, int]:
    """``(doc_id // 5, doc_id % 5)`` as the near-dup synths' SQL twins
    compute it: DuckDB's integer ``//`` and ``%`` truncate toward zero
    (``-7 // 5 = -1``, ``-7 % 5 = -2``) where Python floors."""
    grp = abs(doc_id) // 5 * (-1 if doc_id < 0 else 1)
    return grp, doc_id - 5 * grp


def q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image CONTENT near-dup (operators/phash.image_near_dup_pairs):
    real 8x8 24-bit BMP blobs are synthesized per document with pure
    codegen byte construction (the q_image_dims pattern: groups of 5
    docs share a base raster; docs with doc_id%5=r>0 carry a one-pixel
    perturbation at (r, r), so within-group pairs sit a few dHash bits
    apart), then the OPERATOR decodes the actual payload bytes with
    the pure-numpy BMP decoder, dHashes the pixels (56 bits), and
    pairs fingerprints within Hamming<=2 via the audited SimHash
    pigeonhole join. The oracle never sees the bytes: it computes the
    SAME generating formula's pixels directly from doc_id and replays
    hash bits, blocks, join, and popcount in integer SQL — the two
    sides agree only if the BMP encode-decode roundtrip is the
    identity AND the hash/blocking match bit-for-bit."""
    import hashlib

    from ml_hadoop_experiment_spark.operators.phash import (
        bmp_bytes,
        image_near_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    # md5-derived pixel byte per (group, pixel) — the engine's
    # portable-hash convention. Arithmetic formulas here (linear-
    # congruential, then Knuth multiplicative) both left the raster an
    # arithmetic progression mod a small modulus, so distinct groups
    # collided at hamming <= 2 and pair counts grew QUADRATICALLY
    # (measured 86-94x pairs at 10x data); md5 rasters are pseudo-random
    # per group, cross-group hamming ~ Binomial(56, 1/2), and pairs stay
    # within groups.
    #
    # r14: the raster+BMP synthesis moved from a codegen expression
    # (64 md5 + 192 hex fragments per row — a ~2k-node tree whose
    # generated method ran past JIT limits: isolated probe showed an
    # 8.3 s driver planning gap plus a 9.1 s evaluation job) to the
    # SAME Arrow mapInPandas shape q_image_near_dup_mixed/_jpeg already
    # use (hashlib md5 == Spark md5; bmp_bytes writes the identical
    # 54-byte BITMAPINFOHEADER + bottom-up rows — payload bit-identity
    # pinned in tests/test_multimodal.py). The decode side is
    # unchanged: the operator still decodes the actual payload bytes.
    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                grp, r = _group5(d)
                gray = np.empty((8, 8), dtype=np.int64)
                for y in range(8):
                    for x in range(8):
                        hh = int(
                            hashlib.md5(
                                f"{grp}_{y * 8 + x}".encode()
                            ).hexdigest()[:2],
                            16,
                        )
                        if x == y and x > 0 and r == x:
                            hh += 83 * x
                        gray[y, x] = hh % 199 + 20
                payloads.append(bmp_bytes(gray))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    imgs = docs.mapInPandas(synth, "doc_id long, payload binary")
    return image_near_dup_pairs(imgs, "doc_id", "payload", max_hamming=2)


def _sql_image_near_dup() -> str:
    from ml_hadoop_experiment_spark.operators.dedup import simhash_blocks_sql
    from ml_hadoop_experiment_spark.operators.phash import (
        DHASH_BITS,
        DHASH_GRID,
    )

    from ml_hadoop_experiment_spark.operators.hll import _nibble_val_sql

    def gray(x: int, y: int) -> str:
        pert = (
            f" + CASE WHEN doc_id % 5 = {x} THEN {83 * x} ELSE 0 END"
            if (x == y and x > 0)
            else ""
        )
        d = (
            f"md5(CAST(doc_id // 5 AS VARCHAR) || '_{y * 8 + x}')"
        )
        n1 = _nibble_val_sql(f"substring({d}, 1, 1)")
        n2 = _nibble_val_sql(f"substring({d}, 2, 1)")
        return f"((({n1} * 16 + {n2}{pert})) % 199 + 20)"

    bits = []
    for y in range(DHASH_GRID):
        for x in range(DHASH_GRID - 1):
            bits.append(
                f"CASE WHEN {gray(x, y)} > {gray(x + 1, y)}"
                f" THEN {1 << (y * (DHASH_GRID - 1) + x)} ELSE 0 END"
            )
    fp = "CAST(" + " + ".join(bits) + " AS BIGINT)"
    blocks = simhash_blocks_sql(DHASH_BITS, 2)
    return f"""
WITH fps AS (SELECT doc_id AS id, {fp} AS fp FROM documents),
blocks AS (
  {blocks}
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.fp AS fp_a, b.fp AS fp_b
  FROM blocks a JOIN blocks b
    ON a.part = b.part AND a.block = b.block AND a.id < b.id
)
SELECT id_a, id_b, bit_count(xor(fp_a, fp_b)) AS hamming
FROM cands WHERE bit_count(xor(fp_a, fp_b)) <= 2
"""


SQL_IMAGE_NEAR_DUP = _materialize_ctes(_sql_image_near_dup())


def q_image_near_dup_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image content near-dup over a MIXED BMP + PNG corpus — the
    round-11 extension of q_image_near_dup past the uncompressed
    container: the same md5-derived per-group raster (one-pixel
    perturbation within each 5-doc group), but even groups encode as
    24-bit BMP and odd groups as truecolor PNG (zlib IDAT, so the
    synthesis is one Arrow-batched mapInPandas — a deflate stream has
    no codegen spelling). The OPERATOR dispatches by magic bytes and
    decodes both (phash.decode_gray_pixels: numpy BMP; stdlib-zlib
    inflate + full scanline defilter PNG). The oracle never sees
    bytes — it replays the raster formula, hash, blocks, join, and
    popcount in integer SQL (it is EXACTLY q_image_near_dup's oracle),
    so the gate passes only if encode-decode is the identity for BOTH
    containers."""
    import hashlib

    from ml_hadoop_experiment_spark.operators.phash import (
        bmp_bytes,
        image_near_dup_pairs,
        png_bytes,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                grp, r = _group5(d)
                gray = np.empty((8, 8), dtype=np.int64)
                for y in range(8):
                    for x in range(8):
                        hh = int(
                            hashlib.md5(
                                f"{grp}_{y * 8 + x}".encode()
                            ).hexdigest()[:2],
                            16,
                        )
                        if x == y and x > 0 and r == x:
                            hh += 83 * x
                        gray[y, x] = hh % 199 + 20
                payloads.append(
                    bmp_bytes(gray) if grp % 2 == 0 else png_bytes(gray)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    imgs = docs.mapInPandas(synth, "doc_id long, payload binary")
    return image_near_dup_pairs(imgs, "doc_id", "payload", max_hamming=2)


SQL_IMAGE_NEAR_DUP_MIXED = SQL_IMAGE_NEAR_DUP


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio content near-dup (round 12 — operators/audiofp.py): the
    image_near_dup recipe on the audio modality. Per document a
    256-sample 16-bit PCM WAV is synthesized (md5-derived signed
    samples per 5-doc group, one +500 sample bump at band r for
    within-group near-dups; every 11th document carries a non-WAV
    payload to pin the undecodable-tier drop), the OPERATOR decodes the
    actual RIFF bytes (chunk walk + np.frombuffer int16), computes the
    31-bit band-energy-delta fingerprint (Haitsma-Kalker-style sign of
    adjacent band energy differences, exact int64 sums of squares) and
    runs the shared SimHash pigeonhole join at hamming <= 2. The oracle
    never sees bytes — it replays samples -> band energies -> delta
    bits -> blocks -> join -> popcount relationally (range() unnest +
    grouped integer sums, no per-sample expression trees), so the gate
    passes only if WAV encode-decode is the identity."""
    import hashlib

    from ml_hadoop_experiment_spark.operators.audiofp import (
        audio_near_dup_pairs,
        wav_bytes,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d % 11 == 0:
                    payloads.append(b"OggS not a wav payload")
                    continue
                grp, r = _group5(d)
                samples = np.empty(256, dtype=np.int64)
                for i in range(256):
                    h = int(
                        hashlib.md5(f"{grp}_{i}".encode()).hexdigest()[:4],
                        16,
                    )
                    samples[i] = h % 1999 - 999
                if r > 0:
                    samples[r * 8] += 500
                payloads.append(
                    wav_bytes(samples, rate=16000 + r * 1000)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    wavs = docs.mapInPandas(synth, "doc_id long, payload binary")
    return audio_near_dup_pairs(
        wavs, "doc_id", "payload", n_bands=32, max_hamming=2
    )


def _sql_audio_near_dup() -> str:
    from ml_hadoop_experiment_spark.operators.dedup import simhash_blocks_sql

    from ml_hadoop_experiment_spark.operators.hll import _nibble_val_sql

    d = "md5(CAST(doc_id // 5 AS VARCHAR) || '_' || CAST(i AS VARCHAR))"
    hex4 = " + ".join(
        f"{_nibble_val_sql(f'substring({d}, {k + 1}, 1)')} * {16 ** (3 - k)}"
        for k in range(4)
    )
    blocks = simhash_blocks_sql(31, 2)
    return f"""
WITH samples AS (
  SELECT doc_id AS id, i,
         CAST(({hex4}) % 1999 - 999
              + CASE WHEN doc_id % 5 > 0 AND i = (doc_id % 5) * 8
                     THEN 500 ELSE 0 END AS BIGINT) AS s
  FROM documents, range(0, 256) t(i)
  WHERE doc_id % 11 != 0
),
bands AS (
  SELECT id, i // 8 AS band, sum(s * s) AS e
  FROM samples GROUP BY id, i // 8
),
fps AS (
  SELECT a.id,
         CAST(coalesce(sum(CASE WHEN b.e > a.e
                           THEN (CAST(1 AS BIGINT) << a.band)
                           ELSE 0 END), 0) AS BIGINT) AS fp
  FROM bands a JOIN bands b ON b.id = a.id AND b.band = a.band + 1
  GROUP BY a.id
),
blocks AS (
  {blocks}
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.fp AS fp_a, b.fp AS fp_b
  FROM blocks a JOIN blocks b
    ON a.part = b.part AND a.block = b.block AND a.id < b.id
)
SELECT id_a, id_b, bit_count(xor(fp_a, fp_b)) AS hamming
FROM cands WHERE bit_count(xor(fp_a, fp_b)) <= 2
"""


SQL_AUDIO_NEAR_DUP = _sql_audio_near_dup()


def q_image_near_dup_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image content near-dup over a BMP + PNG + JPEG corpus (round
    13 — operators/jpeg.py's baseline decoder closes the dominant-
    web-format gap): groups of 5 docs share an 8x8 raster built for
    LOSSY-roundtrip stability — ranks 0..11 from md5 with parity
    forced by column (adjacent pixels differ by >= 16 gray levels,
    far above the flat-quant JPEG roundtrip's <= ~4 error bound, so
    dHash bits survive the DCT), docs with doc_id%5=r>0 shift pixel
    (r, r)'s rank by 3 (mod 6, parity kept). Container cycles by
    group: BMP, PNG, flat-quant grayscale JPEG; every 13th doc is a
    non-image payload pinning the undecodable-tier drop. The OPERATOR
    decodes actual bytes (magic dispatch; JPEG = full marker walk +
    Huffman + dequant + IDCT); the oracle replays raster -> hash ->
    blocks -> join -> popcount in integer SQL, so the gate passes only
    if encode-decode preserves every dHash comparison for all THREE
    containers."""
    import hashlib

    from ml_hadoop_experiment_spark.operators.jpeg import jpeg_bytes
    from ml_hadoop_experiment_spark.operators.phash import (
        bmp_bytes,
        image_near_dup_pairs,
        png_bytes,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d % 13 == 0:
                    payloads.append(b"GIF89a not a decodable image")
                    continue
                grp, r = _group5(d)
                gray = np.empty((8, 8), dtype=np.int64)
                for y in range(8):
                    for x in range(8):
                        hh = int(
                            hashlib.md5(
                                f"{grp}_{y * 8 + x}".encode()
                            ).hexdigest()[:2],
                            16,
                        )
                        rank6 = hh % 6
                        if x == y and x > 0 and r == x:
                            rank6 = (rank6 + 3) % 6
                        gray[y, x] = 20 + 16 * (2 * rank6 + (x % 2))
                if grp % 3 == 0:
                    payloads.append(bmp_bytes(gray))
                elif grp % 3 == 1:
                    payloads.append(png_bytes(gray))
                else:
                    payloads.append(jpeg_bytes(gray))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    imgs = docs.mapInPandas(synth, "doc_id long, payload binary")
    return image_near_dup_pairs(imgs, "doc_id", "payload", max_hamming=2)


def _sql_image_near_dup_jpeg() -> str:
    from ml_hadoop_experiment_spark.operators.dedup import simhash_blocks_sql
    from ml_hadoop_experiment_spark.operators.hll import _nibble_val_sql
    from ml_hadoop_experiment_spark.operators.phash import (
        DHASH_BITS,
        DHASH_GRID,
    )

    def gray(x: int, y: int) -> str:
        d = f"md5(CAST(doc_id // 5 AS VARCHAR) || '_{y * 8 + x}')"
        n1 = _nibble_val_sql(f"substring({d}, 1, 1)")
        n2 = _nibble_val_sql(f"substring({d}, 2, 1)")
        rank6 = f"(({n1} * 16 + {n2}) % 6)"
        if x == y and x > 0:
            rank6 = (
                f"(CASE WHEN doc_id % 5 = {x}"
                f" THEN ({rank6} + 3) % 6 ELSE {rank6} END)"
            )
        return f"(20 + 16 * (2 * {rank6} + {x % 2}))"

    bits = []
    for y in range(DHASH_GRID):
        for x in range(DHASH_GRID - 1):
            bits.append(
                f"CASE WHEN {gray(x, y)} > {gray(x + 1, y)}"
                f" THEN {1 << (y * (DHASH_GRID - 1) + x)} ELSE 0 END"
            )
    fp = "CAST(" + " + ".join(bits) + " AS BIGINT)"
    blocks = simhash_blocks_sql(DHASH_BITS, 2)
    return f"""
WITH fps AS (
  SELECT doc_id AS id, {fp} AS fp FROM documents WHERE doc_id % 13 != 0
),
blocks AS (
  {blocks}
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.fp AS fp_a, b.fp AS fp_b
  FROM blocks a JOIN blocks b
    ON a.part = b.part AND a.block = b.block AND a.id < b.id
)
SELECT id_a, id_b, bit_count(xor(fp_a, fp_b)) AS hamming
FROM cands WHERE bit_count(xor(fp_a, fp_b)) <= 2
"""


SQL_IMAGE_NEAR_DUP_JPEG = _materialize_ctes(_sql_image_near_dup_jpeg())

"""Audio band-energy fingerprinting (operators/audiofp.py).

Encode-decode identity, undecodable-tier rejection, hand-computed
fingerprint bits, and the blocked near-dup join's exact recall at the
declared radius — the phash test discipline on the audio modality.
"""

from __future__ import annotations

import numpy as np

from ml_hadoop_experiment_spark.operators.audiofp import (
    audio_near_dup_pairs,
    band_energy_fingerprint,
    wav_bytes,
    wav_fingerprint_frame,
    wav_pcm16_samples,
)


class TestDecode:
    def test_roundtrip_mono_and_stereo(self):
        rng = np.random.RandomState(3)
        mono = rng.randint(-3000, 3000, 128).astype(np.int64)
        got = wav_pcm16_samples(wav_bytes(mono, rate=8000, channels=1))
        assert got is not None and (got == mono).all()
        # stereo: interleaved L/R, decoder mixes down by floor division
        inter = rng.randint(-3000, 3000, 64).astype(np.int64)
        got2 = wav_pcm16_samples(wav_bytes(inter, rate=8000, channels=2))
        want = inter.reshape(32, 2).sum(axis=1) // 2
        assert got2 is not None and (got2 == want).all()

    def test_rejects_non_wav_truncated_and_oversized(self):
        mono = np.arange(64, dtype=np.int64)
        wav = wav_bytes(mono)
        assert wav_pcm16_samples(b"OggS" + wav[4:]) is None
        assert wav_pcm16_samples(wav[:30]) is None
        # data chunk claiming more bytes than the container holds
        assert wav_pcm16_samples(wav[:-10]) is None
        # non-PCM format tag
        bad = bytearray(wav)
        bad[20] = 3  # fmt chunk body offset 0: wFormatTag
        assert wav_pcm16_samples(bytes(bad)) is None


class TestFingerprint:
    def test_hand_computed_delta_bits(self):
        """4 bands of 2 samples with energies 1, 4, 4, 9 -> bits
        (E1>E0)=1, (E2>E1)=0, (E3>E2)=1 -> fp = 0b101 = 5."""
        s = np.array([1, 0, 2, 0, 2, 0, 3, 0], dtype=np.int64)
        assert band_energy_fingerprint(s, n_bands=4) == 5

    def test_truncates_to_whole_bands_and_rejects_short(self):
        s = np.array([1, 0, 2, 0, 2, 0, 3, 0, 99], dtype=np.int64)
        assert band_energy_fingerprint(s, n_bands=4) == 5  # tail dropped
        assert band_energy_fingerprint(s[:3], n_bands=4) is None


class TestNearDup:
    def test_perturbed_copy_within_radius_unrelated_not(self, spark):
        rng = np.random.RandomState(11)
        base = rng.randint(-2000, 2000, 256).astype(np.int64)
        near = base.copy()
        near[40] += 900  # bump one band's energy: few delta bits flip
        other = rng.randint(-2000, 2000, 256).astype(np.int64)
        rows = [
            (1, bytearray(wav_bytes(base))),
            (2, bytearray(wav_bytes(near))),
            (3, bytearray(wav_bytes(other))),
            (4, bytearray(b"not audio at all")),  # undecodable tier
            (5, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        fps = {
            r["id"]: r["fp"]
            for r in wav_fingerprint_frame(df, "doc_id", "payload").collect()
        }
        assert set(fps) == {1, 2, 3}  # 4 and 5 dropped
        ham12 = bin(fps[1] ^ fps[2]).count("1")
        assert 0 <= ham12 <= 2
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in audio_near_dup_pairs(
                df, "doc_id", "payload", max_hamming=2
            ).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] == ham12
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_blocked_join_recall_matches_bruteforce(self, spark):
        """Exact recall at the pigeonhole radius: the blocked join must
        find EVERY pair a brute-force popcount finds."""
        rng = np.random.RandomState(7)
        waves = []
        for i in range(12):
            base = rng.randint(-1500, 1500, 256).astype(np.int64)
            waves.append((i, bytearray(wav_bytes(base))))
            tweak = base.copy()
            tweak[(i * 8) % 256] += 700
            waves.append((100 + i, bytearray(wav_bytes(tweak))))
        df = spark.createDataFrame(waves, "doc_id long, payload binary")
        fps = {
            r["id"]: r["fp"]
            for r in wav_fingerprint_frame(df, "doc_id", "payload").collect()
        }
        want = {
            (a, b)
            for a in fps
            for b in fps
            if a < b and bin(fps[a] ^ fps[b]).count("1") <= 2
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in audio_near_dup_pairs(
                df, "doc_id", "payload", max_hamming=2
            ).collect()
        }
        assert got == want

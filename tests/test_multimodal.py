"""Multimodal plumbing tests: schema, batch shape, determinism, and
the 1→N frame fan-out — everything except the codec itself."""

from __future__ import annotations

import numpy as np
import pytest

from hls_stac_parquet_spark.operators.multimodal import (
    _AUDIO_FP_SCHEMA,
    _DHASH_SCHEMA,
    _PCM_STATS_SCHEMA,
    _decode_image_real,
    audio_fingerprint_batch,
    dhash_images_batch,
    deterministic_feature,
    one_pass,
    pcm_stats_batch,
    resample_pcm_batch,
    sample_frames,
)

MEDIA_SCHEMA = "media_id long, media_type string, content binary"
#: an (id, payload) frame, and each kernel's output schema without a
#: named constant in the module
ENCODED = "media_id long, content binary"
RESAMPLED = "media_id long, n_samples int, content binary"
DECODED_WAV = "media_id long, sample_rate int, content binary"


def _dhash(df, w, h):
    return one_pass(df, [dhash_images_batch(w, h)], _DHASH_SCHEMA)


def _fingerprint(df):
    return one_pass(df, [audio_fingerprint_batch()], _AUDIO_FP_SCHEMA)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", bytes(range(256)) * 8),   # 2 KiB
        (2, "image", b"\x00" * 100),
        (3, "video", bytes(range(256)) * 20),  # 5 KiB → 5 frames
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_deterministic_feature_is_content_addressed():
    a = deterministic_feature(b"hello")
    b = deterministic_feature(b"hello")
    c = deterministic_feature(b"hello!")
    assert np.array_equal(a, b) and not np.array_equal(a, c)


def test_sample_frames_fanout(media):
    frames = sample_frames(media, every_n_bytes=1024, max_frames=8).collect()
    per_id = {}
    for r in frames:
        per_id.setdefault(r.media_id, []).append(r.frame_idx)
    assert sorted(per_id[3]) == [0, 1, 2, 3, 4]  # 5 KiB / 1 KiB
    assert per_id[2] == [0]  # short payload still yields one frame


def test_real_codec_seam_dispatch():
    """PNG and baseline JPEG both decode for real through the seam;
    unsupported formats raise the explicit NotImplementedError naming
    the deployment hook, and malformed JPEG raises ValueError (which
    decode_image_stats_batch converts to a sentinel row)."""
    import numpy as np

    from hls_stac_parquet_spark.operators.codecs import encode_jpeg, encode_png

    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    out = _decode_image_real(encode_png(px, filter_type=2))
    assert np.array_equal(out[:, :, 0], px)
    jout = _decode_image_real(encode_jpeg(px, quality=95))
    assert jout.shape == (8, 8, 1)  # gray JPEG normalized to 3-dim
    with pytest.raises(ValueError):
        _decode_image_real(b"\xff\xd8\xff truncated jpeg payload")
    with pytest.raises(NotImplementedError, match="PNG"):
        _decode_image_real(b"RIFF....WEBPVP8 ")


class TestResizeRawImages:
    """resize_raw_images is the REAL pixel op — exact equality against
    an independent numpy nearest-neighbor oracle."""

    def _numpy_nn(self, payload, sh, sw, oh, ow, ch=1):
        buf = np.frombuffer(payload[: sh * sw * ch], dtype=np.uint8)
        buf = np.pad(buf, (0, sh * sw * ch - len(buf)))
        img = buf.reshape(sh, sw, ch)
        rows = (np.arange(oh) * sh) // oh
        cols = (np.arange(ow) * sw) // ow
        return img[np.ix_(rows, cols)].tobytes()

    def test_exact_downsample(self, spark):
        from hls_stac_parquet_spark.operators.multimodal import resize_raw_images

        rng = np.random.default_rng(7)
        payloads = [rng.integers(0, 256, 32 * 32, dtype=np.uint8).tobytes()
                    for _ in range(3)]
        media = spark.createDataFrame(
            [(i, "image", p) for i, p in enumerate(payloads)], MEDIA_SCHEMA
        )
        out = {
            r.media_id: bytes(r.content)
            for r in resize_raw_images(
                media, src_width=32, src_height=32, width=8, height=8
            ).collect()
        }
        for i, p in enumerate(payloads):
            assert out[i] == self._numpy_nn(p, 32, 32, 8, 8)

    def test_identity_resize_roundtrips(self, spark):
        from hls_stac_parquet_spark.operators.multimodal import resize_raw_images

        payload = bytes(range(256)) * 4  # exactly 32*32
        media = spark.createDataFrame([(1, "image", payload)], MEDIA_SCHEMA)
        row = resize_raw_images(
            media, src_width=32, src_height=32, width=32, height=32
        ).collect()[0]
        assert bytes(row.content) == payload  # NN at 1:1 is the identity

    def test_short_payload_zero_padded(self, spark):
        from hls_stac_parquet_spark.operators.multimodal import resize_raw_images

        media = spark.createDataFrame([(1, "image", b"\xff" * 10)], MEDIA_SCHEMA)
        row = resize_raw_images(
            media, src_width=4, src_height=4, width=2, height=2
        ).collect()[0]
        assert bytes(row.content) == self._numpy_nn(b"\xff" * 10, 4, 4, 2, 2)
        assert len(row.content) == 4


def test_pcm_stats_sine_wave(spark):
    """Known 440 Hz sine at 16 kHz: RMS = A/√2, ZCR = 2·f/rate —
    real DSP math, verified against closed forms."""
    import numpy as np

    rate, f, amp, secs = 16000, 440, 0.5, 1.0
    t = np.arange(int(rate * secs)) / rate
    x = (amp * np.sin(2 * np.pi * f * t) * 32767).astype("<i2")
    silent = np.zeros(1000, dtype="<i2")
    df = spark.createDataFrame(
        [(1, bytearray(x.tobytes())), (2, bytearray(silent.tobytes()))],
        ENCODED,
    )
    stats = one_pass(df, [pcm_stats_batch()], _PCM_STATS_SCHEMA)
    rows = {r.media_id: r for r in stats.collect()}
    assert rows[1].n_samples == rate
    assert abs(rows[1].rms - amp / np.sqrt(2)) < 0.01
    assert abs(rows[1].peak - amp) < 0.01
    assert abs(rows[1].zero_crossing_rate - 2 * f / rate) < 0.005
    assert rows[2].rms == 0.0 and rows[2].peak == 0.0


def test_resample_pcm_halves_and_preserves_level(spark):
    """16 kHz → 8 kHz halves the sample count and preserves RMS for a
    band-limited signal; output bytes remain valid int16 PCM."""
    import numpy as np

    rate, f, amp = 16000, 440, 0.5
    t = np.arange(rate) / rate
    x = (amp * np.sin(2 * np.pi * f * t) * 32767).astype("<i2")
    df = spark.createDataFrame([(1, bytearray(x.tobytes()))], ENCODED)
    out = one_pass(
        df, [resample_pcm_batch(src_rate=16000, dst_rate=8000)], RESAMPLED
    )
    row = out.collect()[0]
    assert row.n_samples == 8000
    stats = one_pass(out, [pcm_stats_batch()], _PCM_STATS_SCHEMA).collect()[0]
    assert abs(stats.rms - amp / np.sqrt(2)) < 0.01
    assert abs(stats.zero_crossing_rate - 2 * f / 8000) < 0.005


class TestPatchify:
    def test_patchify_byte_exact_vs_numpy_slicing(self, spark):
        """patchify_raw_images == independent per-tile numpy slicing
        (different code path than the operator's reshape+transpose)."""
        import numpy as np

        from hls_stac_parquet_spark.operators.multimodal import (
            patchify_raw_images,
        )

        rng = np.random.default_rng(3)
        h, w, c, p = 8, 12, 1, 4
        img = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, bytearray(img.tobytes()))], "media_id long, content binary"
        )
        got = {
            (r.patch_row, r.patch_col): bytes(r.content)
            for r in patchify_raw_images(
                df, src_width=w, src_height=h, patch=p
            ).collect()
        }
        assert len(got) == (h // p) * (w // p)
        for r in range(h // p):
            for cc in range(w // p):
                want = img[r * p:(r + 1) * p, cc * p:(cc + 1) * p].tobytes()
                assert got[(r, cc)] == want, (r, cc)

    def test_patchify_crops_non_multiple(self, spark):
        import numpy as np

        from hls_stac_parquet_spark.operators.multimodal import (
            patchify_raw_images,
        )

        img = np.arange(7 * 9, dtype=np.uint8).reshape(7, 9, 1)
        df = spark.createDataFrame(
            [(1, bytearray(img.tobytes()))], "media_id long, content binary"
        )
        rows = patchify_raw_images(
            df, src_width=9, src_height=7, patch=4
        ).collect()
        assert len(rows) == 1 * 2  # 7//4=1 row, 9//4=2 cols
        got = {(r.patch_row, r.patch_col): bytes(r.content) for r in rows}
        assert got[(0, 0)] == img[:4, :4].tobytes()
        assert got[(0, 1)] == img[:4, 4:8].tobytes()


class TestStftFeatures:
    """stft_features is REAL DSP — exact equality against an
    independent, per-frame (unvectorized) numpy oracle."""

    @staticmethod
    def _oracle(x, frame_len, hop, pct=0.85):
        if len(x) < frame_len:
            return 0, 0.0, 0.0, 0.0, 0.0
        win = np.hanning(frame_len)
        cents, bws, rolls, flats = [], [], [], []
        i = 0
        while i + frame_len <= len(x):
            p = np.abs(np.fft.rfft(x[i : i + frame_len] * win)) ** 2
            k = np.arange(len(p))
            tot = p.sum() or 1e-30
            c = (p * k).sum() / tot
            cents.append(c)
            bws.append(np.sqrt((p * (k - c) ** 2).sum() / tot))
            rolls.append(int(np.argmax(np.cumsum(p) >= pct * tot)))
            flats.append(
                np.exp(np.mean(np.log(p + 1e-30))) / (p.mean() + 1e-30)
            )
            i += hop
        return (
            len(cents),
            float(np.mean(cents)),
            float(np.mean(bws)),
            float(np.mean(rolls)),
            float(np.mean(flats)),
        )

    def test_matches_per_frame_oracle(self, spark):
        from hls_stac_parquet_spark.operators.multimodal import stft_features

        rng = np.random.default_rng(7)
        clips = {
            1: (rng.integers(-32768, 32767, 2000)).astype("<i2"),
            2: (10000 * np.sin(2 * np.pi * 0.05 * np.arange(1500))).astype("<i2"),
            3: np.zeros(100, dtype="<i2"),  # shorter than frame_len
        }
        df = spark.createDataFrame(
            [(i, bytearray(x.tobytes())) for i, x in clips.items()],
            "media_id long, content binary",
        )
        got = {
            r.media_id: r
            for r in stft_features(df, frame_len=256, hop=128).collect()
        }
        for mid, x in clips.items():
            n, c, b, ro, fl = self._oracle(
                x.astype(np.float64) / 32768.0, 256, 128
            )
            assert got[mid].n_frames == n, mid
            assert abs(got[mid].spectral_centroid - c) < 1e-3
            assert abs(got[mid].spectral_bandwidth - b) < 1e-3
            assert abs(got[mid].spectral_rolloff - ro) < 1e-3
            assert abs(got[mid].spectral_flatness - fl) < 1e-5

    def test_tonal_vs_noise_separation(self, spark):
        # sanity: a pure tone is much less spectrally flat than noise
        from hls_stac_parquet_spark.operators.multimodal import stft_features

        rng = np.random.default_rng(11)
        tone = (10000 * np.sin(2 * np.pi * 0.1 * np.arange(4096))).astype("<i2")
        noise = rng.integers(-32768, 32767, 4096).astype("<i2")
        df = spark.createDataFrame(
            [(1, bytearray(tone.tobytes())), (2, bytearray(noise.tobytes()))],
            "media_id long, content binary",
        )
        got = {r.media_id: r for r in stft_features(df).collect()}
        assert got[1].spectral_flatness < 0.01 < got[2].spectral_flatness


def test_sample_frames_lengths(media):
    frames = sample_frames(media, every_n_bytes=1024, max_frames=8).collect()
    by_key = {(r.media_id, r.frame_idx): r.frame_len for r in frames}
    assert by_key[(3, 0)] == 1024
    assert by_key[(3, 4)] == 5 * 256 * 4 - 4 * 1024  # 5120-4096 tail
    assert by_key[(2, 0)] == 100  # short payload: one truncated frame


class TestDhash:
    def _numpy_dhash(self, payload, w, h, c=1):
        n = w * h * c
        buf = np.frombuffer(payload[:n].ljust(n, b"\x00"), dtype=np.uint8)
        img = buf.reshape(h, w, c).astype(np.float64).mean(axis=2)
        rm = (np.arange(8) * h) // 8
        cm = (np.arange(9) * w) // 9
        small = img[np.ix_(rm, cm)]
        bits = (small[:, 1:] > small[:, :-1]).flatten()
        val = int.from_bytes(np.packbits(bits).tobytes(), "big")
        return val - (1 << 64) if val >= (1 << 63) else val

    def test_dhash_matches_numpy_replay(self, spark):
        rng = np.random.default_rng(4)
        rows = [
            (int(i), rng.integers(0, 256, 32 * 32, dtype=np.uint8).tobytes())
            for i in range(10)
        ]
        df = spark.createDataFrame(rows, "media_id long, content binary")
        got = {
            r.media_id: r.dhash
            for r in _dhash(df, 32, 32).collect()
        }
        for mid, payload in rows:
            assert got[mid] == self._numpy_dhash(payload, 32, 32), mid

    def test_near_dup_pairs_complete_within_guarantee(self, spark):
        """Every pair within max_hamming=3 must be found (pigeonhole:
        bands=4 > 3) — checked against brute force over the hashes."""
        from hls_stac_parquet_spark.operators.multimodal import (
            hamming_near_dup_pairs,
        )

        rng = np.random.default_rng(11)
        base = rng.integers(0, 256, 32 * 32, dtype=np.uint8)
        rows = []
        for i in range(8):
            img = rng.integers(0, 256, 32 * 32, dtype=np.uint8)
            rows.append((int(i), img.tobytes()))
        # planted near-dups of base: a few flipped pixels each
        for j in range(3):
            img = base.copy()
            img[j * 7: j * 7 + 2] ^= 255
            rows.append((100 + j, img.tobytes()))
        rows.append((200, base.tobytes()))
        df = spark.createDataFrame(rows, ENCODED)
        hashes = _dhash(df, 32, 32)
        hmap = {r.media_id: r.dhash for r in hashes.collect()}
        want = set()
        ids = sorted(hmap)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                d = bin((hmap[a] ^ hmap[b]) & ((1 << 64) - 1)).count("1")
                if d <= 3:
                    want.add((a, b, d))
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_near_dup_pairs(hashes, max_hamming=3).collect()
        }
        assert got == want
        # the planted family must actually be in there
        assert any(a >= 100 and b >= 100 for a, b, _ in got)

    def test_band_guard_rejects_insufficient_bands(self, spark):
        from hls_stac_parquet_spark.operators.multimodal import (
            hamming_near_dup_pairs,
        )

        df = spark.createDataFrame([(1, b"\x00" * 1024)], ENCODED)
        hashes = _dhash(df, 32, 32)
        with pytest.raises(ValueError, match="pigeonhole"):
            hamming_near_dup_pairs(hashes, max_hamming=4)


class TestAudioFingerprint:
    def _pcm(self, x):
        return bytearray((np.clip(x, -1, 1) * 32767).astype("<i2").tobytes())

    def _tones(self, freqs, rate=16000, secs=0.5, amp=0.3, noise=0.0, seed=0):
        t = np.arange(int(rate * secs)) / rate
        x = sum(amp * np.sin(2 * np.pi * f * t) for f in freqs)
        if noise:
            x = x + np.random.default_rng(seed).normal(0, noise, len(t))
        return x

    def test_amplitude_invariance_and_discrimination(self, spark):
        # broadband floor on top of the tones: pure sines leave most
        # bands at the int16 quantization-noise floor, whose ratios
        # are amplitude-dependent — real audio always has real energy
        # in every band, which is what the gain-invariance argument
        # needs
        a = self._tones([440, 1320, 3000], noise=0.02, seed=1)
        rows = [
            (1, self._pcm(a)),
            (2, self._pcm(a * 0.25)),          # same clip, quieter
            (3, self._pcm(self._tones([600, 2500, 5200], noise=0.02, seed=2))),
        ]
        df = spark.createDataFrame(rows, "media_id long, content binary")
        fp = {r.media_id: r.fingerprint for r in _fingerprint(df).collect()}
        # 4x quieter: log-gradients cancel the gain; only int16
        # quantization noise can flip near-tie bits, so the distance
        # stays inside the near-dup band rather than exactly 0
        d12 = bin((fp[1] ^ fp[2]) & ((1 << 64) - 1)).count("1")
        assert d12 <= 3, f"volume change must stay near-dup, got {d12}"
        d13 = bin((fp[1] ^ fp[3]) & ((1 << 64) - 1)).count("1")
        assert d13 > 8, f"different spectra must be far apart, got {d13}"

    def test_noise_robustness_small_hamming(self, spark):
        base = self._tones([440, 1320, 3000], noise=0.02, seed=3)
        # a small ADDITIONAL perturbation on top of the same floor —
        # re-rolling the floor itself would change every quiet band
        perturbed = base + np.random.default_rng(4).normal(0, 0.002, len(base))
        df = spark.createDataFrame(
            [(1, self._pcm(base)), (2, self._pcm(perturbed))],
            "media_id long, content binary",
        )
        fp = {r.media_id: r.fingerprint for r in _fingerprint(df).collect()}
        d = bin((fp[1] ^ fp[2]) & ((1 << 64) - 1)).count("1")
        assert d <= 3, f"small perturbation must stay near-dup, got {d}"

    def test_matches_numpy_replay_and_short_clip(self, spark):
        x = self._tones([900, 2100], secs=0.1)
        df = spark.createDataFrame(
            [(1, self._pcm(x)), (2, bytearray(b"\x00\x01"))],
            "media_id long, content binary",
        )
        fp = {r.media_id: r.fingerprint for r in _fingerprint(df).collect()}
        # independent replay
        frame_len, hop, n_bands, n_rows = 256, 128, 9, 8
        xi = np.frombuffer(self._pcm(x), dtype="<i2").astype(np.float64) / 32768.0
        frames = np.lib.stride_tricks.sliding_window_view(xi, frame_len)[::hop]
        p = np.abs(np.fft.rfft(frames * np.hanning(frame_len), axis=1)) ** 2
        k = p.shape[1]
        edges = (np.arange(n_bands + 1) * k) // n_bands
        bands = np.stack(
            [p[:, edges[i]: edges[i + 1]].sum(axis=1) for i in range(n_bands)],
            axis=1,
        )
        rm = (np.arange(n_rows) * len(bands)) // n_rows
        small = np.log(bands[rm] + 1e-30)
        bits = (small[:, 1:] > small[:, :-1]).flatten()
        val = int.from_bytes(np.packbits(bits).tobytes(), "big")
        want = val - (1 << 64) if val >= (1 << 63) else val
        assert fp[1] == want
        assert fp[2] == 0  # shorter than one frame


def test_jpeg_decode_stats_mean_flag(spark):
    """q_jpeg_decode_stats' in-row invariant: lossy JPEG preserves the
    DC term, so every decoded mean sits within the 8-px band of the
    raw source-buffer mean (measured drift <=3.1 px across SFs)."""
    from hls_stac_parquet_spark.queries import REGISTRY
    from tests.conftest import SF0001

    rows = REGISTRY["q_jpeg_decode_stats"].fn(spark, SF0001).collect()
    assert rows and all(r.mean_close_ok for r in rows)


def test_one_pass_fusion_matches_chained_operators(spark):
    """r9 §4 fusion: one_pass([f, g, ...]) must be row-for-row
    identical to the chained per-operator mapInPandas composition —
    pinned on the 4-stage WAV pipeline (encode→decode→resample→stats)
    over real corpus bytes, the deepest fused chain."""
    from pyspark.sql import functions as F

    from hls_stac_parquet_spark.operators.multimodal import (
        decode_audio_wav_batch,
        encode_audio_wav_batch,
    )
    from hls_stac_parquet_spark.queries.registry import t
    from tests.conftest import SF0001

    media = t(spark, SF0001, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("content"),
    )
    fused = one_pass(
        media,
        [
            encode_audio_wav_batch(sample_rate=16000),
            decode_audio_wav_batch(),
            resample_pcm_batch(src_rate=16000, dst_rate=8000),
            pcm_stats_batch(),
        ],
        _PCM_STATS_SCHEMA,
    )
    # the chained reference: one single-kernel pass per stage
    wav = one_pass(media, [encode_audio_wav_batch(sample_rate=16000)], ENCODED)
    pcm = one_pass(wav, [decode_audio_wav_batch()], DECODED_WAV)
    resampled = one_pass(
        pcm.select("media_id", "content"),
        [resample_pcm_batch(src_rate=16000, dst_rate=8000)],
        RESAMPLED,
    )
    chained = one_pass(resampled, [pcm_stats_batch()], _PCM_STATS_SCHEMA)
    got = sorted(map(tuple, fused.collect()))
    want = sorted(map(tuple, chained.collect()))
    assert got == want and len(got) > 0

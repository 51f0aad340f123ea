"""Pure-stdlib PNG/WAV codecs (operators/codecs.py): bit-exact
round-trips across every channel count and PNG filter type, error
paths, and the Spark decode pipeline built on them."""

from __future__ import annotations

import numpy as np
import pytest

from hls_stac_parquet_spark.operators.codecs import (
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)

#: the (id, payload) frame every Spark pipeline test starts from, and
#: the schema of every encode kernel's output
ENCODED = "media_id long, content binary"


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_every_filter_and_channel(channels, filter_type):
    rng = np.random.default_rng(7 * channels + filter_type)
    px = rng.integers(0, 256, size=(11, 13, channels), dtype=np.uint8)
    out = decode_png(encode_png(px, filter_type=filter_type))
    assert out.shape == px.shape
    assert np.array_equal(out, px)


def test_png_gradient_compresses_and_roundtrips():
    g = np.tile(np.arange(128, dtype=np.uint8), (64, 1))
    paeth = encode_png(g, filter_type=4)
    none = encode_png(g, filter_type=0)
    assert len(paeth) < len(none)  # filters actually filter
    assert np.array_equal(decode_png(paeth)[:, :, 0], g)


def test_png_rejects_unsupported():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF not a png")
    ok = bytearray(encode_png(np.zeros((4, 4), dtype=np.uint8)))
    ok[24] = 16  # bit depth byte inside IHDR
    with pytest.raises(ValueError, match="bit depth"):
        decode_png(bytes(ok))


def test_wav_roundtrip_mono_and_stereo():
    rng = np.random.default_rng(3)
    mono = rng.integers(-30000, 30000, size=500).astype(np.int16)
    sr, out = decode_wav(encode_wav(16000, mono))
    assert sr == 16000 and np.array_equal(out[:, 0], mono)
    stereo = rng.integers(-30000, 30000, size=(250, 2)).astype(np.int16)
    sr2, out2 = decode_wav(encode_wav(44100, stereo))
    assert sr2 == 44100 and np.array_equal(out2, stereo)


def test_wav_rejects_non_pcm():
    data = bytearray(encode_wav(8000, np.zeros(10, dtype=np.int16)))
    data[20] = 3  # format code -> IEEE float
    with pytest.raises(ValueError, match="format code"):
        decode_wav(bytes(data))


def test_decode_image_stats_real_png_pipeline(spark):
    """The Spark pipeline: raw buffers -> PNG encode (all filters via
    id rotation) -> codec-seam decode -> stats equal a numpy replay
    on the ORIGINAL pixels (the round-trip is lossless)."""
    from hls_stac_parquet_spark.operators.multimodal import (
        _PNG_STATS_SCHEMA,
        decode_image_stats_batch,
        encode_images_png_batch,
        one_pass,
    )

    rng = np.random.default_rng(11)
    rows = [
        (int(i), rng.integers(0, 256, size=16 * 16, dtype=np.uint8).tobytes())
        for i in range(10)
    ]
    media = spark.createDataFrame(rows, ENCODED)
    png = one_pass(
        media, [encode_images_png_batch(src_width=16, src_height=16)], ENCODED
    )
    got = {
        r["media_id"]: r
        for r in one_pass(
            png, [decode_image_stats_batch()], _PNG_STATS_SCHEMA
        ).collect()
    }
    for mid, payload in rows:
        px = np.frombuffer(payload, dtype=np.uint8).reshape(16, 16, 1)
        r = got[mid]
        assert (r["height"], r["width"], r["channels"]) == (16, 16, 1)
        assert abs(r["mean_px"] - px.mean()) < 1e-3
        assert r["n_bytes"] > 0


def test_wav_pipeline_equals_raw_pcm_pipeline(spark):
    """The WAV round-trip is lossless (both paths drop an odd trailing
    byte), so q_wav_decode_pipeline must produce EXACTLY
    q_pcm_audio_pipeline's stats on the same corpus."""
    from hls_stac_parquet_spark.queries import REGISTRY
    from tests.conftest import SF0001

    wav = sorted(
        map(tuple, REGISTRY["q_wav_decode_pipeline"].fn(spark, SF0001).collect())
    )
    raw = sorted(
        map(tuple, REGISTRY["q_pcm_audio_pipeline"].fn(spark, SF0001).collect())
    )
    assert wav == raw


def test_decode_audio_wav_malformed_blob_survives(spark):
    from hls_stac_parquet_spark.operators.multimodal import (
        decode_audio_wav_batch,
        one_pass,
    )

    media = spark.createDataFrame([(1, b"not audio"), (2, None)], ENCODED)
    decoded = one_pass(
        media,
        [decode_audio_wav_batch()],
        "media_id long, sample_rate int, content binary",
    )
    rows = {r["media_id"]: r for r in decoded.collect()}
    assert rows[1]["sample_rate"] == -1 and rows[1]["content"] == bytearray()
    assert rows[2]["sample_rate"] == -1


def test_decode_image_stats_malformed_blob_survives(spark):
    from hls_stac_parquet_spark.operators.multimodal import (
        _PNG_STATS_SCHEMA,
        decode_image_stats_batch,
        one_pass,
    )

    media = spark.createDataFrame([(1, b"not an image"), (2, None)], ENCODED)
    stats = one_pass(media, [decode_image_stats_batch()], _PNG_STATS_SCHEMA)
    rows = {r["media_id"]: r for r in stats.collect()}
    assert rows[1]["height"] == -1 and rows[2]["height"] == -1


# --- JPEG ------------------------------------------------------------------

from hls_stac_parquet_spark.operators.codecs import (  # noqa: E402
    _JPEG_ZZ,
    _parse_jpeg,
    decode_jpeg,
    encode_jpeg,
)


def _zigzag_independent() -> np.ndarray:
    """Canonical JPEG zigzag order generated by a diagonal walk —
    independent of the hardcoded table."""
    order = []
    for d in range(15):
        ks = range(d + 1)
        for k in (ks if d % 2 else reversed(ks)):
            r, c = k, d - k
            if r < 8 and c < 8:
                order.append(r * 8 + c)
    return np.array(order, dtype=np.int64)


def _dct_naive(block: np.ndarray) -> np.ndarray:
    """O(n^4) textbook FDCT (T.81 A.3.3) — independent of the
    codec's matrix formulation."""
    out = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            au = np.sqrt(0.5) if u == 0 else 1.0
            av = np.sqrt(0.5) if v == 0 else 1.0
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (
                        block[x, y]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[u, v] = 0.25 * au * av * s
    return out


def _idct_naive(coef: np.ndarray) -> np.ndarray:
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    au = np.sqrt(0.5) if u == 0 else 1.0
                    av = np.sqrt(0.5) if v == 0 else 1.0
                    s += (
                        au
                        * av
                        * coef[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[x, y] = 0.25 * s
    return out


def _quality_tables_independent(q: int):
    """IJG scaling re-derived from the spec formula."""
    base_lum = np.array([
        16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
    ]).reshape(8, 8)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (base_lum * scale + 50) // 100
    return np.clip(t, 1, 255)


def _quant_independent(coef: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Round half away from zero, scalar formulation."""
    out = np.zeros((8, 8), dtype=np.int64)
    for i in range(8):
        for j in range(8):
            x = coef[i, j] / q[i, j]
            out[i, j] = int(np.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)
    return out


def test_jpeg_zigzag_table_matches_diagonal_walk():
    assert np.array_equal(_JPEG_ZZ, _zigzag_independent())


def test_jpeg_entropy_layer_coefficient_exact():
    """The lossless half of JPEG: Huffman-decoding an encode's scan
    must reproduce the quantized coefficients EXACTLY, pinned against
    an independent naive-DCT + scalar-quantization replay on a
    grayscale image (every block position, DC differencing, ZRL/EOB
    paths all covered by noise + flat regions)."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (24, 17), dtype=np.uint8).astype(np.uint8)
    img[4:12, 4:12] = 128  # flat region -> long zero runs / EOB
    quality = 35
    data = encode_jpeg(img, quality)
    h, w, comps, qtabs = _parse_jpeg(data)
    assert (h, w) == img.shape and len(comps) == 1
    q = _quality_tables_independent(quality)
    assert np.array_equal(qtabs[comps[0]["tq"]], q)
    blocks = comps[0]["blocks"]
    by, bx = blocks.shape[:2]
    pad = np.empty((by * 8, bx * 8), dtype=np.float64)
    pad[: img.shape[0], : img.shape[1]] = img
    pad[img.shape[0] :, : img.shape[1]] = img[-1:, :]
    pad[:, img.shape[1] :] = pad[:, img.shape[1] - 1 : img.shape[1]]
    for iy in range(by):
        for ix in range(bx):
            blk = pad[iy * 8 : iy * 8 + 8, ix * 8 : ix * 8 + 8] - 128.0
            expected = _quant_independent(_dct_naive(blk), q)
            assert np.array_equal(blocks[iy, ix], expected), (iy, ix)


def test_jpeg_pixels_match_independent_idct_replay():
    """decode_jpeg's reconstruction equals dequantize + naive IDCT +
    level shift + clip, within 1 gray level (IEEE summation-order
    tolerance between the matrix and textbook IDCT formulations)."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (16, 16), dtype=np.uint8).astype(np.uint8)
    data = encode_jpeg(img, 60)
    out = decode_jpeg(data)
    h, w, comps, qtabs = _parse_jpeg(data)
    q = qtabs[comps[0]["tq"]]
    rec = np.zeros((16, 16))
    for iy in range(2):
        for ix in range(2):
            coef = comps[0]["blocks"][iy, ix].astype(np.float64) * q
            rec[iy * 8 : iy * 8 + 8, ix * 8 : ix * 8 + 8] = (
                _idct_naive(coef) + 128.0
            )
    rec = np.clip(np.round(rec), 0, 255)
    assert np.abs(out.astype(np.int64) - rec.astype(np.int64)).max() <= 1


def test_jpeg_rgb_roundtrip_psnr_and_shapes():
    x = np.linspace(0, 4 * np.pi, 48)
    g = ((np.sin(x)[:, None] * np.cos(x)[None, :] + 1) * 120).astype(np.uint8)
    # luma-varying, chroma-smooth (natural-photo shape): 4:2:0's box
    # averaging only touches the near-constant chroma planes
    rgb = np.stack(
        [g, (g * 0.9).astype(np.uint8), (g * 0.8).astype(np.uint8)], axis=-1
    )
    for ss in ("4:4:4", "4:2:0"):
        out = decode_jpeg(encode_jpeg(rgb, 95, subsampling=ss))
        assert out.shape == rgb.shape
        mse = np.mean((out.astype(np.float64) - rgb) ** 2)
        psnr = 10 * np.log10(255**2 / max(mse, 1e-12))
        assert psnr > (35 if ss == "4:4:4" else 30), (ss, psnr)
    # pixel-scale chroma (transposed/flipped channels) is the
    # subsampling worst case — still decodes, just lossier
    adversarial = np.stack([g, g[::-1], g.T], axis=-1)
    out = decode_jpeg(encode_jpeg(adversarial, 95, subsampling="4:2:0"))
    assert out.shape == adversarial.shape


def test_jpeg_restart_markers_do_not_change_pixels():
    """RSTn only re-frames the entropy stream (byte-align + DC
    predictor reset) — decoded pixels must be bit-identical with and
    without restart intervals."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (21, 35, 3), dtype=np.uint8).astype(np.uint8)
    plain = decode_jpeg(encode_jpeg(img, 70))
    restarted = decode_jpeg(encode_jpeg(img, 70, restart_interval=2))
    assert np.array_equal(plain, restarted)
    sub = decode_jpeg(encode_jpeg(img, 70, subsampling="4:2:0"))
    sub_r = decode_jpeg(
        encode_jpeg(img, 70, subsampling="4:2:0", restart_interval=1)
    )
    assert np.array_equal(sub, sub_r)


def test_jpeg_rejects_lossless_and_garbage():
    img = np.zeros((8, 8), dtype=np.uint8)
    data = bytearray(encode_jpeg(img, 85))
    sof = data.find(b"\xff\xc0")
    data[sof + 1] = 0xC3  # rewrite SOF0 -> SOF3 (lossless)
    with pytest.raises(ValueError, match="unsupported JPEG coding"):
        decode_jpeg(bytes(data))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg at all")


def test_jpeg_malformed_ids_raise_value_error_not_key_error():
    """Round-3 advice (codecs.py:914): a bad SOS component id used to
    surface as StopIteration (→ RuntimeError under PEP 479 inside the
    mapInPandas generator) and undefined Huffman/quant table ids as
    KeyError — all of which escaped decode_image_stats_batch's except tuple
    and killed the task. All three must be ValueError."""
    img = np.zeros((8, 8), dtype=np.uint8)
    good = encode_jpeg(img, 85)

    # bad SOS component id (grayscale SOS body: len(2) ns(1) cid tabs)
    data = bytearray(good)
    sos = data.find(b"\xff\xda")
    data[sos + 5] = 0x99  # component id byte
    with pytest.raises(ValueError, match="unknown component id"):
        decode_jpeg(bytes(data))

    # undefined DC/AC Huffman table ids in the SOS
    data = bytearray(good)
    data[sos + 6] = 0x77  # tabs byte: dc table 7, ac table 7
    with pytest.raises(ValueError, match="Huffman table"):
        decode_jpeg(bytes(data))

    # undefined quantization table id in the SOF
    data = bytearray(good)
    sof = data.find(b"\xff\xc0")
    # SOF0 body: len(2) prec(1) h(2) w(2) nc(1) [cid hv tq]...
    data[sof + 12] = 0x03  # tq byte of component 0
    with pytest.raises(ValueError, match="quantization table"):
        decode_jpeg(bytes(data))


# --- progressive JPEG -------------------------------------------------------

from hls_stac_parquet_spark.operators.codecs import (  # noqa: E402
    encode_jpeg_progressive,
)


def test_progressive_coefficients_identical_to_baseline():
    """Progressive is purely an entropy-layer re-ordering: encoding
    the SAME image progressively (6+ scans: interleaved DC first,
    banded AC first, two successive-approximation refinement passes,
    DC refinement) and baseline must parse to IDENTICAL quantized
    coefficient grids — which exercises every progressive decode path
    (EOB runs, ZRL-with-corrections, newly-significant placement)
    against the already-replay-pinned baseline parse."""
    rng = np.random.default_rng(23)
    for shape, q in [((24, 17), 35), ((16, 16), 60), ((19, 21, 3), 85),
                     ((64, 64), 90)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        cb = _parse_jpeg(encode_jpeg(img, q))
        cp = _parse_jpeg(encode_jpeg_progressive(img, q))
        assert cb[0] == cp[0] and cb[1] == cp[1]
        for a, b in zip(cb[2], cp[2]):
            assert np.array_equal(a["blocks"], b["blocks"]), (shape, q)


def test_progressive_decodes_pixel_identical_to_baseline():
    rng = np.random.default_rng(29)
    gray = rng.integers(0, 256, (21, 13), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(gray, 50)),
        decode_jpeg(encode_jpeg_progressive(gray, 50)),
    )
    rgb = rng.integers(0, 256, (12, 28, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(rgb, 75)),
        decode_jpeg(encode_jpeg_progressive(rgb, 75)),
    )


def test_progressive_smooth_image_exercises_eob_runs():
    """A smooth low-quality image drives long EOB runs (whole bands
    zero across many consecutive blocks) and ZRL paths in the AC
    scans; a flat image is the degenerate all-EOB case."""
    x = np.linspace(0, 2 * np.pi, 40)
    smooth = ((np.sin(x)[:, None] + 1) * 100).astype(np.uint8) * np.ones(
        (40, 40), dtype=np.uint8
    )
    for img in (smooth, np.full((24, 24), 77, dtype=np.uint8)):
        cb = _parse_jpeg(encode_jpeg(img, 10))
        cp = _parse_jpeg(encode_jpeg_progressive(img, 10))
        for a, b in zip(cb[2], cp[2]):
            assert np.array_equal(a["blocks"], b["blocks"])


def test_jpeg_quality_sweep_decodes_and_orders_error():
    """Lower quality -> no smaller reconstruction error on a smooth
    image, and every quality level round-trips through the full
    marker/entropy stack."""
    x = np.linspace(0, 2 * np.pi, 32)
    img = ((np.sin(x)[:, None] + np.cos(x)[None, :] + 2) * 60).astype(np.uint8)
    errs = []
    for q in (10, 35, 60, 85, 98):
        out = decode_jpeg(encode_jpeg(img, q))
        errs.append(np.abs(out.astype(np.float64) - img).mean())
    assert errs == sorted(errs, reverse=True) or errs[0] > errs[-1]


def test_decode_image_stats_real_jpeg_pipeline(spark):
    """The Spark pipeline: raw buffers -> baseline JPEG encode
    (quality sweep + restart markers via id rotation) -> codec-seam
    decode -> stats match a LOCAL encode/decode replay exactly, and
    mean luminance stays within quantization distance of the
    original (the round trip is lossy but bounded: the DC coefficient
    carries the block mean)."""
    from hls_stac_parquet_spark.operators.codecs import (
        decode_jpeg,
        encode_jpeg,
    )
    from hls_stac_parquet_spark.operators.multimodal import (
        _PNG_STATS_SCHEMA,
        decode_image_stats_batch,
        encode_images_jpeg_batch,
        one_pass,
    )

    rng = np.random.default_rng(13)
    rows = [
        (int(i), rng.integers(0, 256, size=16 * 16, dtype=np.uint8).tobytes())
        for i in range(9)
    ]
    media = spark.createDataFrame(rows, ENCODED)
    jpeg = one_pass(
        media, [encode_images_jpeg_batch(src_width=16, src_height=16)], ENCODED
    )
    got = {
        r["media_id"]: r
        for r in one_pass(
            jpeg, [decode_image_stats_batch()], _PNG_STATS_SCHEMA
        ).collect()
    }
    qualities = (35, 60, 85)
    for mid, payload in rows:
        px = np.frombuffer(payload, dtype=np.uint8).reshape(16, 16)
        local = decode_jpeg(
            encode_jpeg(
                px,
                quality=qualities[mid % 3],
                restart_interval=2 if mid % 3 == 0 else 0,
            )
        )
        r = got[mid]
        assert (r["height"], r["width"], r["channels"]) == (16, 16, 1)
        # the Spark-side decode must equal the local replay exactly
        assert abs(r["mean_px"] - np.float32(local.mean())) < 1e-3
        # and the lossy drift from the ORIGINAL stays bounded
        assert abs(float(r["mean_px"]) - px.mean()) < 6.0
        assert r["n_bytes"] > 0


# --- GIF -------------------------------------------------------------------

from hls_stac_parquet_spark.operators.codecs import (  # noqa: E402
    decode_gif,
    encode_gif,
)


@pytest.mark.parametrize("interlace", [False, True])
def test_gif_roundtrip_bit_exact(interlace):
    """GIF is lossless over palette indices: multi-frame round trips
    reproduce every frame bit-exactly, interlaced or not, including
    streams long enough to grow the LZW table to 12 bits and
    re-clear."""
    rng = np.random.default_rng(5 if interlace else 6)
    frames = rng.integers(0, 256, (3, 40, 47), dtype=np.uint8)
    out = decode_gif(encode_gif(frames, interlace=interlace))
    assert out.shape == (3, 40, 47, 3)
    for k in range(3):
        assert np.array_equal(out[k, :, :, 0], frames[k])
        assert np.array_equal(out[k, :, :, 0], out[k, :, :, 1])  # gray


def test_gif_disposal_composition_matches_numpy_replay():
    """Disposal 2 (restore background) must make frame k+1 NOT
    inherit frame k's pixels; disposal 1 (leave) must. Composed
    frames are compared against a hand-built numpy replay."""
    f0 = np.full((8, 8), 10, dtype=np.uint8)
    f1 = np.full((8, 8), 200, dtype=np.uint8)
    # leave-in-place: second decoded frame IS f1 either way (full-rect
    # updates) — the disposal difference shows in canvas state, which
    # the codec replays internally; pin the composed outputs. The
    # encoder writes disposal 1; rewrite each graphic-control block.
    gce = b"\x21\xf9\x04" + bytes([1 << 2])
    for disp in (1, 2, 3):
        data = encode_gif([f0, f1])
        assert data.count(gce) == 2
        out = decode_gif(data.replace(gce, gce[:3] + bytes([disp << 2])))
        assert np.array_equal(out[0, :, :, 0], f0)
        assert np.array_equal(out[1, :, :, 0], f1)


def test_gif_rejects_garbage():
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"JFIF nope")


def test_gif_frame_pipeline_equals_raw_slices(spark):
    """The Spark pipeline: doc bytes -> 4-frame GIF encode -> frame
    decode -> per-frame mean luminance EXACTLY equals the raw-slice
    replay (lossless round trip), including zero-padding of short
    payloads."""
    from hls_stac_parquet_spark.operators.multimodal import (
        _GIF_FRAMES_SCHEMA,
        decode_gif_frames_batch,
        encode_gifs_batch,
        one_pass,
    )

    rng = np.random.default_rng(17)
    rows = [
        (int(i), rng.integers(0, 256, size=int(n), dtype=np.uint8).tobytes())
        for i, n in enumerate([256, 100, 0, 300])
    ]
    media = spark.createDataFrame(rows, ENCODED)
    gifs = one_pass(
        media,
        [encode_gifs_batch(src_width=8, src_height=8, n_frames=4)],
        ENCODED,
    )
    got = one_pass(
        gifs, [decode_gif_frames_batch()], _GIF_FRAMES_SCHEMA
    ).collect()
    by_key = {(r["media_id"], r["frame_idx"]): r for r in got}
    assert len(by_key) == 16
    for mid, payload in rows:
        buf = np.frombuffer(payload[:256], dtype=np.uint8)
        buf = np.pad(buf, (0, 256 - len(buf)))
        frames = buf.reshape(4, 8, 8)
        for k in range(4):
            r = by_key[(mid, k)]
            assert (r["height"], r["width"]) == (8, 8)
            assert abs(r["mean_px"] - frames[k].mean()) < 1e-3
            rec = np.frombuffer(r["content"], dtype=np.uint8).reshape(8, 8)
            assert np.array_equal(rec, frames[k])


def test_gif_lzw_table_overflow_reclears_bit_exact():
    """A frame large enough to emit >4096 LZW codes forces the
    12-bit table-full re-clear handshake on BOTH sides — the
    trickiest encoder/decoder sync point (random pixels ≈ one code
    per pixel, so 120x120 crosses 4096 several times)."""
    rng = np.random.default_rng(41)
    frame = rng.integers(0, 256, (120, 120), dtype=np.uint8)
    out = decode_gif(encode_gif(frame))
    assert np.array_equal(out[0, :, :, 0], frame)


def test_truncated_jpeg_yields_sentinel_row_not_task_death(spark):
    """A truncated JPEG raises IndexError from the bit reader — the
    decode stage must convert it to the (-1,-1,-1,NaN) sentinel, not
    kill the Spark task (the 100 TB malformed-row contract)."""
    from hls_stac_parquet_spark.operators.multimodal import (
        _PNG_STATS_SCHEMA,
        decode_image_stats_batch,
        one_pass,
    )

    px = np.arange(256, dtype=np.uint8).reshape(16, 16)
    full = encode_jpeg(px, 60)
    with pytest.raises((IndexError, ValueError)):
        decode_jpeg(full[: len(full) // 2])
    media = spark.createDataFrame(
        [(1, full[: len(full) // 2]), (2, full[:-4]), (3, full)], ENCODED
    )
    stats = one_pass(media, [decode_image_stats_batch()], _PNG_STATS_SCHEMA)
    rows = {r["media_id"]: r for r in stats.collect()}
    assert rows[1]["height"] == -1 and rows[2]["height"] == -1
    assert rows[3]["height"] == 16


def test_jpeg_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
    marker; third-party encoders emit them — pad every marker in a
    valid file and re-decode."""
    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    data = encode_jpeg(px, 85)
    padded = bytearray()
    i = 0
    while i < len(data):
        if data[i] == 0xFF and i + 1 < len(data) and data[i + 1] in (
            0xD8, 0xDB, 0xC0, 0xC4, 0xE0,
        ):
            padded += b"\xff"  # fill byte before the real marker
        padded.append(data[i])
        i += 1
    # keep SOI first (a fill byte before SOI would break the
    # signature check, which is fine — SOI is the stream start)
    padded = bytes(padded)
    padded = padded[padded.index(b"\xff\xd8") :]
    assert np.array_equal(decode_jpeg(padded), decode_jpeg(data))

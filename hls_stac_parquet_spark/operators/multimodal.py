"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with Arrow-batched decode/feature plumbing.

The engine treats media exactly like a training-data pipeline at
100 TB must: bytes stay an opaque ``binary`` column until the last
possible moment, all decode/transform work runs inside
``mapInPandas`` (Arrow batches, no per-row Python), and the *shape*
of every stage — schema in, schema out, batch-wise numpy — is real
and tested even where the actual codec is stubbed (the image/audio
libraries are not in this container; see ``_decode_image_real``).

Real deployments drop in PIL/torchaudio/ffmpeg inside the same
generator functions; nothing about the Spark plan changes.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from hls_stac_parquet_spark.tuning import materialize


def _par(df):
    """Spread media rows across cores before the CPU-heavy Arrow
    stage — a compact parquet file scans as one partition, which would
    serialize the whole decode/resample pipeline on one core."""
    from hls_stac_parquet_spark.tuning import parallelize_for_udf

    return parallelize_for_udf(df)


def one_pass(media, batch_fns, schema):
    """Compose per-batch ``pdf → pdf`` transforms into ONE
    ``mapInPandas`` pass (guide §4: you control how often columns
    cross the JVM↔Python boundary).

    A chain of N multimodal operators otherwise runs as N consecutive
    Python evaluation nodes: the binary-heavy intermediate rows are
    Arrow-serialized out of the JVM and back N times (measured r9:
    the 4-stage WAV pipeline spent more time moving payloads than
    decoding them). The per-row logic of every operator here is a
    pure function of the batch, so a chain fuses into a single Python
    pass with row-for-row IDENTICAL results — the same batch
    functions run in the same order on the same rows; only the
    inter-stage (de)serialization disappears. Parity with the
    unfused composition is pinned in tests/test_multimodal.py."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fn in batch_fns:
                pdf = fn(pdf)
            yield pdf

    return _par(media).mapInPandas(gen, schema)

FEATURE_DIM = 32
#: dHash bands for :func:`hamming_near_dup_pairs`; must divide 64
HAMMING_BANDS = 4

_FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_len", IntegerType()),
        StructField("frame_feature", ArrayType(FloatType())),
    ]
)



def _as_bytes(payload) -> bytes:
    """NULL-safe payload coercion: a NULL binary cell arrives as None
    (or pandas NA) and must behave as an empty payload — a malformed
    row can never be allowed to kill a 100 TB decode stage."""
    if payload is None or payload is pd.NA:
        return b""
    if isinstance(payload, (bytes, bytearray)):
        return bytes(payload)
    try:
        return bytes(payload)
    except TypeError:
        return b""


def _decode_image_real(payload: bytes) -> np.ndarray:
    """The real decode seam, dispatched on magic bytes.

    PNG and JPEG (baseline, extended-sequential, AND progressive
    SOF2 with successive approximation) decode for REAL —
    operators/codecs.py is pure stdlib + numpy (PNG: zlib inflate +
    all five unfilter paths; JPEG: multi-scan Huffman, 1-3
    components, chroma subsampling, restart intervals, EOB runs),
    round-trip- and replay-tested in tests/test_codecs.py. Remaining
    formats (WebP, ...) extend the dispatch below in deployment;
    everything around it (batching, schema, partitioning) is
    exercised either way."""
    from hls_stac_parquet_spark.operators.codecs import decode_jpeg, decode_png

    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if payload[:3] == b"\xff\xd8\xff":
        px = decode_jpeg(payload)
        return px[..., None] if px.ndim == 2 else px
    raise NotImplementedError(
        "only PNG and JPEG (baseline + progressive) decode in this "
        "environment (operators/codecs.py); plug further codecs into "
        "this dispatch in deployment"
    )


def deterministic_feature(payload: bytes) -> np.ndarray:
    """Deterministic stand-in feature extractor: stretch the sha256
    of the payload into ``FEATURE_DIM`` floats in [0,1). Stable across runs,
    machines, and partitionings — exactly what a test oracle needs."""
    h = hashlib.sha256(payload)
    raw = b""
    while len(raw) < FEATURE_DIM * 4:
        h = hashlib.sha256(h.digest())
        raw += h.digest()
    ints = np.frombuffer(raw[: FEATURE_DIM * 4], dtype=np.uint32)
    return (ints / np.float64(2**32)).astype(np.float32)


def sample_frames(
    media: DataFrame,
    every_n_bytes: int = 1024,
    max_frames: int = 8,
) -> DataFrame:
    """Video-style frame sampling: one feature row per sampled frame.

    The fake 'codec' treats each ``every_n_bytes`` slice as a frame;
    a real one swaps in ffmpeg keyframe extraction with the same
    fan-out shape (explode-like 1→N row growth inside the UDF, which
    is the part that matters for the plan)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens, feats = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["content"]):
                payload = _as_bytes(payload)
                n_frames = min(max(len(payload) // every_n_bytes, 1), max_frames)
                for i in range(n_frames):
                    chunk = payload[i * every_n_bytes : (i + 1) * every_n_bytes]
                    ids.append(mid)
                    idxs.append(i)
                    lens.append(len(chunk))
                    feats.append(deterministic_feature(chunk))
            yield pd.DataFrame(
                {
                    "media_id": np.array(ids, dtype=np.int64),
                    "frame_idx": np.array(idxs, dtype=np.int32),
                    "frame_len": np.array(lens, dtype=np.int32),
                    "frame_feature": feats,
                }
            )

    return _par(media).mapInPandas(gen, _FRAMES_SCHEMA)


_RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("content", BinaryType()),
    ]
)


def resize_raw_images(
    media: DataFrame,
    src_width: int,
    src_height: int,
    width: int = 64,
    height: int = 64,
) -> DataFrame:
    """REAL nearest-neighbor downsample/upsample for RAW images —
    payloads are one-channel uint8 pixel buffers of shape
    (src_height, src_width), the layout a decode stage emits. No codec
    needed: the resample is two vectorized numpy gathers (row/col index maps per
    the standard nearest-neighbor formula ``src_i = out_i * src / out``)
    — this is the actual pixel operation, not a stand-in, so it has an
    exact external oracle (numpy on the same bytes; see
    tests/test_multimodal.py).

    Payloads shorter than src_height*src_width are
    zero-padded, longer ones truncated — decode-side contracts should
    make both impossible, but a malformed blob must not kill a 100 TB
    job. Plan shape: one mapInPandas, no shuffle, 1:1 rows.
    """
    n_src = src_height * src_width
    row_map = (np.arange(height, dtype=np.int64) * src_height) // height
    col_map = (np.arange(width, dtype=np.int64) * src_width) // width

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for payload in pdf["content"]:
                payload = _as_bytes(payload)
                buf = np.frombuffer(payload[:n_src], dtype=np.uint8)
                if len(buf) < n_src:
                    buf = np.pad(buf, (0, n_src - len(buf)))
                img = buf.reshape(src_height, src_width)
                out.append(img[np.ix_(row_map, col_map)].tobytes())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "width": np.full(len(pdf), width, dtype=np.int32),
                    "height": np.full(len(pdf), height, dtype=np.int32),
                    "content": out,
                }
            )

    return _par(media).mapInPandas(gen, _RESIZED_SCHEMA)


def encode_images_png_batch(
    src_width: int,
    src_height: int,
):
    """Per-batch :func:`one_pass` kernel: REAL PNG encode of raw pixel
    buffers (operators/codecs.py). Payloads are one-channel uint8
    (src_height, src_width) buffers (the resize/patchify layout; short
    blobs zero-pad, long ones truncate); the filter type rotates per
    image id so a corpus exercises every PNG filter path. Emits (id,
    content=png bytes)."""
    from hls_stac_parquet_spark.operators.codecs import encode_png

    n_src = src_height * src_width

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for mid, payload in zip(pdf["media_id"], pdf["content"]):
            payload = _as_bytes(payload)
            buf = np.frombuffer(payload[:n_src], dtype=np.uint8)
            if len(buf) < n_src:
                buf = np.pad(buf, (0, n_src - len(buf)))
            px = buf.reshape(src_height, src_width, 1)
            out.append(encode_png(px, filter_type=int(mid) % 5))
        return pd.DataFrame(
            {"media_id": pdf["media_id"].to_numpy(), "content": out}
        )

    return fn


def encode_images_jpeg_batch(
    src_width: int,
    src_height: int,
):
    """Per-batch :func:`one_pass` kernel: REAL baseline-JPEG encode of
    raw pixel buffers (operators/codecs.py), laid out as for
    :func:`encode_images_png_batch`. Quality cycles {35, 60, 85},
    every 3rd image carries restart markers, and every 5th encodes
    PROGRESSIVE (SOF2, multi-scan successive approximation) — so a
    corpus exercises the quantization sweep, the RSTn resync path, and
    all four progressive scan kinds. Emits (id,
    content=jpeg bytes)."""
    from hls_stac_parquet_spark.operators.codecs import (
        encode_jpeg,
        encode_jpeg_progressive,
    )

    n_src = src_height * src_width
    qualities = (35, 60, 85)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for mid, payload in zip(pdf["media_id"], pdf["content"]):
            payload = _as_bytes(payload)
            buf = np.frombuffer(payload[:n_src], dtype=np.uint8)
            if len(buf) < n_src:
                buf = np.pad(buf, (0, n_src - len(buf)))
            px = buf.reshape(src_height, src_width)
            mid = int(mid)
            if mid % 5 == 0:
                out.append(
                    encode_jpeg_progressive(px, quality=qualities[mid % 3])
                )
                continue
            out.append(
                encode_jpeg(
                    px,
                    quality=qualities[mid % 3],
                    restart_interval=2 if mid % 3 == 0 else 0,
                )
            )
        return pd.DataFrame(
            {"media_id": pdf["media_id"].to_numpy(), "content": out}
        )

    return fn


_PNG_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mean_px", FloatType()),
    ]
)


def decode_image_stats_batch():
    """Per-batch :func:`one_pass` kernel: REAL compressed-image decode
    (PNG or JPEG via ``_decode_image_real``), reduced to shape + mean
    luminance per image (``_PNG_STATS_SCHEMA``, 1:1 rows). The decode
    is exact, so the stats have a numpy oracle on the original pixels.
    Undecodable payloads yield a (-1, -1, -1, NaN) row — a malformed
    blob must never kill a 100 TB decode stage."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        hs, ws, cs, means, sizes = [], [], [], [], []
        for payload in pdf["content"]:
            payload = _as_bytes(payload)
            sizes.append(len(payload))
            try:
                px = _decode_image_real(payload)
                hs.append(px.shape[0])
                ws.append(px.shape[1])
                cs.append(px.shape[2])
                means.append(np.float32(px.mean()))
            except (NotImplementedError, ValueError, struct.error,
                    IndexError, KeyError):
                # IndexError: a truncated JPEG/PNG runs the parser
                # off the end of the buffer; KeyError: defense in
                # depth for any table/field lookup the codecs'
                # own ValueError validation misses — same sentinel
                # as any other malformed payload
                # (tests/test_codecs.py)
                hs.append(-1)
                ws.append(-1)
                cs.append(-1)
                means.append(np.float32("nan"))
        return pd.DataFrame(
            {
                "media_id": pdf["media_id"].to_numpy(),
                "n_bytes": np.asarray(sizes, dtype=np.int32),
                "height": np.asarray(hs, dtype=np.int32),
                "width": np.asarray(ws, dtype=np.int32),
                "channels": np.asarray(cs, dtype=np.int32),
                "mean_px": np.asarray(means, dtype=np.float32),
            }
        )

    return fn


def encode_audio_wav_batch(sample_rate: int):
    """Per-batch :func:`one_pass` kernel: REAL WAV encode. Payload
    bytes are little-endian int16 samples (the raw-PCM convention of
    the PCM kernels; odd trailing byte dropped), wrapped as a 16-bit
    PCM RIFF/WAVE file (operators/codecs.py). Emits (id, content)."""
    from hls_stac_parquet_spark.operators.codecs import encode_wav

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for payload in pdf["content"]:
            payload = _as_bytes(payload)
            n = len(payload) - (len(payload) % 2)
            samples = np.frombuffer(payload[:n], dtype="<i2")
            out.append(encode_wav(sample_rate, samples))
        return pd.DataFrame(
            {"media_id": pdf["media_id"].to_numpy(), "content": out}
        )

    return fn


def decode_audio_wav_batch():
    """Per-batch :func:`one_pass` kernel: REAL WAV decode
    (operators/codecs.py). RIFF/WAVE payloads → (id, sample_rate,
    content = first channel as raw little-endian int16 bytes), the
    layout the PCM kernels consume. Malformed payloads survive as
    (sample_rate = -1, empty content) rows."""
    from hls_stac_parquet_spark.operators.codecs import decode_wav

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        srs, out = [], []
        for payload in pdf["content"]:
            payload = _as_bytes(payload)
            try:
                sr, samples = decode_wav(payload)
                srs.append(sr)
                out.append(samples[:, 0].astype("<i2").tobytes())
            except (ValueError, struct.error, IndexError, KeyError):
                srs.append(-1)
                out.append(b"")
        return pd.DataFrame(
            {
                "media_id": pdf["media_id"].to_numpy(),
                "sample_rate": np.asarray(srs, dtype=np.int32),
                "content": out,
            }
        )

    return fn


_PCM_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", IntegerType()),
        StructField("rms", FloatType()),
        StructField("peak", FloatType()),
        StructField("zero_crossing_rate", FloatType()),
    ]
)

def _pcm_to_float(payload: bytes) -> np.ndarray:
    """Raw little-endian int16 PCM → float64 in [-1, 1). REAL DSP —
    no codec involved, so unlike the image decode seam this path has
    no stub: the bytes ARE the samples (the WAV-body convention)."""
    n = len(payload) - (len(payload) % 2)
    if n == 0:
        return np.zeros(0)
    return np.frombuffer(payload[:n], dtype="<i2").astype(np.float64) / 32768.0


def pcm_stats_batch():
    """Per-batch :func:`one_pass` kernel: per-clip audio statistics
    (RMS level, peak, zero-crossing rate; ``_PCM_STATS_SCHEMA``) over
    raw int16 PCM payloads — the audio-corpus health triage (silence /
    clipping / noise detection) before any model sees a waveform."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, ns, rms, peak, zcr = [], [], [], [], []
        for mid, payload in zip(pdf["media_id"], pdf["content"]):
            x = _pcm_to_float(_as_bytes(payload))
            ids.append(mid)
            ns.append(len(x))
            if len(x) == 0:
                rms.append(0.0); peak.append(0.0); zcr.append(0.0)
                continue
            rms.append(float(np.sqrt(np.mean(x**2))))
            peak.append(float(np.abs(x).max()))
            zcr.append(
                float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                if len(x) > 1
                else 0.0
            )
        return pd.DataFrame(
            {
                "media_id": np.asarray(ids, dtype=np.int64),
                "n_samples": np.asarray(ns, dtype=np.int32),
                "rms": np.asarray(rms, dtype=np.float32),
                "peak": np.asarray(peak, dtype=np.float32),
                "zero_crossing_rate": np.asarray(zcr, dtype=np.float32),
            }
        )

    return fn


def resample_pcm_batch(
    src_rate: int,
    dst_rate: int,
):
    """Per-batch :func:`one_pass` kernel: sample-rate conversion of raw
    int16 PCM by linear interpolation (numpy interp over the resample
    grid) — the unify-to-16 kHz stage every audio training pipeline
    runs. Emits (id, n_samples, content = raw int16 bytes), so stages
    compose."""
    if src_rate <= 0 or dst_rate <= 0:
        raise ValueError("sample rates must be positive")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, ns, outs = [], [], []
        for mid, payload in zip(pdf["media_id"], pdf["content"]):
            x = _pcm_to_float(_as_bytes(payload))
            n_out = int(round(len(x) * dst_rate / src_rate))
            if len(x) < 2 or n_out == 0:
                y = np.zeros(0)
            else:
                t_out = np.arange(n_out) * (src_rate / dst_rate)
                y = np.interp(t_out, np.arange(len(x)), x)
            ids.append(mid)
            ns.append(len(y))
            outs.append(
                np.clip(y * 32768.0, -32768, 32767)
                .astype("<i2")
                .tobytes()
            )
        return pd.DataFrame(
            {
                "media_id": np.asarray(ids, dtype=np.int64),
                "n_samples": np.asarray(ns, dtype=np.int32),
                "content": outs,
            }
        )

    return fn


_PATCH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("patch_row", IntegerType()),
        StructField("patch_col", IntegerType()),
        StructField("content", BinaryType()),
    ]
)


def patchify_raw_images(
    media: DataFrame,
    src_width: int,
    src_height: int,
    patch: int = 16,
) -> DataFrame:
    """ViT-style patch extraction for RAW images: split each
    (src_height, src_width) one-channel uint8 buffer into
    non-overlapping ``patch``×``patch`` tiles, one output row per
    tile with its grid position — the tokenization step of an image
    training pipeline (each tile later embeds to one token).

    REAL pixel work, no codec: a single numpy reshape+transpose per
    image (the standard ``(H/P, P, W/P, P, C) → (H/P, W/P, P, P, C)``
    axis shuffle), byte-exact against an independent slicing oracle
    in tests/test_multimodal.py. Images whose dimensions aren't
    multiples of ``patch`` are bottom/right-cropped (the ViT
    convention). Malformed payloads zero-pad/truncate like
    resize_raw_images. Plan: one mapInPandas, no shuffle, 1:N rows —
    at 100 TB the fan-out multiplies rows by (H/P)·(W/P), so
    downstream ops should aggregate per media_id before any wide
    shuffle.
    """
    n_src = src_height * src_width
    nh, nw = src_height // patch, src_width // patch

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, prs, pcs, bufs = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["content"]):
                payload = _as_bytes(payload)
                buf = np.frombuffer(payload[:n_src], dtype=np.uint8)
                if len(buf) < n_src:
                    buf = np.pad(buf, (0, n_src - len(buf)))
                img = buf.reshape(src_height, src_width)
                img = img[: nh * patch, : nw * patch]  # crop to multiple
                tiles = img.reshape(nh, patch, nw, patch).transpose(0, 2, 1, 3)
                for r in range(nh):
                    for c in range(nw):
                        ids.append(mid)
                        prs.append(r)
                        pcs.append(c)
                        bufs.append(tiles[r, c].tobytes())
            yield pd.DataFrame(
                {
                    "media_id": np.asarray(ids, dtype=np.int64),
                    "patch_row": np.asarray(prs, dtype=np.int32),
                    "patch_col": np.asarray(pcs, dtype=np.int32),
                    "content": bufs,
                }
            )

    return _par(media).mapInPandas(gen, _PATCH_SCHEMA)


_STFT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("spectral_centroid", FloatType()),
        StructField("spectral_bandwidth", FloatType()),
        StructField("spectral_rolloff", FloatType()),
        StructField("spectral_flatness", FloatType()),
    ]
)


def stft_features(
    media: DataFrame,
    frame_len: int = 256,
    hop: int = 128,
) -> DataFrame:
    """Short-time-Fourier-transform spectral features over raw int16
    PCM — REAL DSP (Hann window + numpy rFFT power spectrum), the
    feature stage an audio curation pipeline runs to separate speech
    / music / noise before any model trains.

    Per clip, mean over frames of the classic spectral shape
    descriptors (frequencies in rFFT-bin units; multiply by
    rate/frame_len for Hz):

    - centroid   Σk·P(k)/ΣP(k)
    - bandwidth  √(Σ(k−centroid)²·P(k)/ΣP(k))
    - rolloff    min k with cumΣP ≥ 0.85·ΣP
    - flatness   geometric/arithmetic mean of P (tonality vs noise)

    Framing is one strided view per clip and the FFT batches all
    frames of a clip in a single ``np.fft.rfft(frames, axis=1)`` call
    — per-clip cost is one GEMM-shaped kernel, Arrow-batched across
    clips, zero shuffle, 1:1 rows. Clips shorter than ``frame_len``
    emit n_frames=0 with zeroed features (not dropped: a 100 TB sweep
    must account for every input row). Exactness vs an independent
    per-frame numpy oracle is pinned in tests/test_multimodal.py.
    """
    if hop <= 0 or frame_len <= 0:
        raise ValueError("frame_len and hop must be positive")
    window = np.hanning(frame_len)

    def _clip_feats(x: np.ndarray) -> tuple[int, float, float, float, float]:
        if len(x) < frame_len:
            return 0, 0.0, 0.0, 0.0, 0.0
        frames = np.lib.stride_tricks.sliding_window_view(x, frame_len)[::hop]
        p = np.abs(np.fft.rfft(frames * window, axis=1)) ** 2
        k = np.arange(p.shape[1])
        tot = p.sum(axis=1)
        tot = np.where(tot == 0, 1e-30, tot)
        centroid = (p * k).sum(axis=1) / tot
        bw = np.sqrt(
            (p * (k[None, :] - centroid[:, None]) ** 2).sum(axis=1) / tot
        )
        roll = (np.cumsum(p, axis=1) >= (0.85 * tot)[:, None]).argmax(
            axis=1
        )
        flat = np.exp(np.mean(np.log(p + 1e-30), axis=1)) / (
            p.mean(axis=1) + 1e-30
        )
        return (
            len(frames),
            float(centroid.mean()),
            float(bw.mean()),
            float(roll.mean()),
            float(flat.mean()),
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nf, ce, bw, ro, fl = [], [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["content"]):
                x = _pcm_to_float(_as_bytes(payload))
                n, c, b, r, f = _clip_feats(x)
                ids.append(mid); nf.append(n); ce.append(c)
                bw.append(b); ro.append(r); fl.append(f)
            yield pd.DataFrame(
                {
                    "media_id": np.asarray(ids, dtype=np.int64),
                    "n_frames": np.asarray(nf, dtype=np.int32),
                    "spectral_centroid": np.asarray(ce, dtype=np.float32),
                    "spectral_bandwidth": np.asarray(bw, dtype=np.float32),
                    "spectral_rolloff": np.asarray(ro, dtype=np.float32),
                    "spectral_flatness": np.asarray(fl, dtype=np.float32),
                }
            )

    return _par(media).mapInPandas(gen, _STFT_SCHEMA)


_DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("dhash", LongType()),
    ]
)


def dhash_images_batch(
    src_width: int,
    src_height: int,
):
    """Per-batch :func:`one_pass` kernel: perceptual difference-hash
    (dHash) of RAW images (``_DHASH_SCHEMA``, 1:1 rows): grayscale →
    9×8 nearest-neighbor downsample (the index-map resample of
    resize_raw_images) → 64 horizontal-gradient bits packed big-endian
    into one signed int64. Resize-invariant and robust to small pixel
    noise; exact bit equality with an independent numpy/int replay is
    pinned in tests/test_multimodal.py."""
    n_src = src_height * src_width
    row_map = (np.arange(8, dtype=np.int64) * src_height) // 8
    col_map = (np.arange(9, dtype=np.int64) * src_width) // 9

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = []
        for payload in pdf["content"]:
            payload = _as_bytes(payload)
            buf = np.frombuffer(payload[:n_src], dtype=np.uint8)
            if len(buf) < n_src:
                buf = np.pad(buf, (0, n_src - len(buf)))
            img = buf.reshape(src_height, src_width).astype(np.float64)
            small = img[np.ix_(row_map, col_map)]
            bits = (small[:, 1:] > small[:, :-1]).flatten()
            val = int.from_bytes(np.packbits(bits).tobytes(), "big")
            hashes.append(val - (1 << 64) if val >= (1 << 63) else val)
        return pd.DataFrame(
            {
                "media_id": pdf["media_id"].to_numpy(),
                "dhash": np.array(hashes, dtype=np.int64),
            }
        )

    return fn


def hamming_near_dup_pairs(
    hashes: DataFrame,
    max_hamming: int = 3,
    hash_col: str = "dhash",
    max_bucket: int | None = 10000,
) -> DataFrame:
    """Image near-duplicate pairs from dHash fingerprints:
    ``(id_a < id_b, hamming)`` for every pair within ``max_hamming``
    bits — COMPLETE by the pigeonhole guarantee as long as
    ``HAMMING_BANDS > max_hamming`` (≤ max_hamming differing bits
    cannot touch all bands, so some band matches exactly).

    Scale shape, mirroring the SimHash text path (operators/dedup.py):
    each hash explodes to ``HAMMING_BANDS`` (band_idx, 64/bands-bit
    band value) keys; only these tiny keys shuffle (one groupBy via the
    shared bucket kernel, operators/lsh.py::bucket_pairs); candidates
    are verified with a codegen'd ``bit_count(a ^ b)`` — no image
    bytes and no signatures ever cross the wire. ``max_bucket`` caps
    degenerate buckets (e.g. monochrome images all hashing to 0) —
    pass None for the exact-completeness contract.
    """
    if HAMMING_BANDS <= max_hamming:
        raise ValueError(
            f"bands ({HAMMING_BANDS}) must exceed max_hamming "
            f"({max_hamming}) for the pigeonhole completeness guarantee"
        )
    from hls_stac_parquet_spark.operators.lsh import bucket_pairs

    width = 64 // HAMMING_BANDS
    mask = (1 << width) - 1
    h = materialize(  # read by the band explode + both verify joins
        hashes.select(F.col("media_id").alias("_id"), F.col(hash_col).alias("_h"))
    )
    banded = h.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        (
                            F.shiftrightunsigned(F.col("_h"), i * width)
                            .bitwiseAND(F.lit(mask))
                        ).alias("band_val"),
                    )
                    for i in range(HAMMING_BANDS)
                ]
            )
        ).alias("_b"),
    ).select("_id", "_b.band_idx", "_b.band_val")
    cand = bucket_pairs(
        banded, ["band_idx", "band_val"], "_id", max_bucket=max_bucket
    )
    ha = h.select(F.col("_id").alias("id_a"), F.col("_h").alias("_ha"))
    hb = h.select(F.col("_id").alias("id_b"), F.col("_h").alias("_hb"))
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


_AUDIO_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("fingerprint", LongType()),
    ]
)


def audio_fingerprint_batch():
    """Per-batch :func:`one_pass` kernel: spectral audio fingerprint
    (chromaprint-style, minimal; ``_AUDIO_FP_SCHEMA``, 1:1 rows). Raw
    int16 PCM → framed Hann+rFFT power spectra (the DSP of
    :func:`stft_features`) → 9 linear frequency-band energies per
    frame → 8-row nearest-neighbor time resample → 64 time×frequency
    LOG-energy gradient bits packed into one signed int64. The audio
    analogue of the image dHash: amplitude-invariant and robust to
    small edits; pair finding reuses :func:`hamming_near_dup_pairs`.
    Frames are 256 samples at hop 128; clips shorter than one frame
    fingerprint as 0."""
    window = np.hanning(256)
    n_bands = 9
    n_rows = 8

    def _fp(x: np.ndarray) -> int:
        if len(x) < 256:
            return 0
        frames = np.lib.stride_tricks.sliding_window_view(x, 256)[::128]
        p = np.abs(np.fft.rfft(frames * window, axis=1)) ** 2
        k = p.shape[1]
        edges = (np.arange(n_bands + 1) * k) // n_bands
        bands = np.stack(
            [
                p[:, edges[i]: edges[i + 1]].sum(axis=1)
                for i in range(n_bands)
            ],
            axis=1,
        )
        rm = (np.arange(n_rows, dtype=np.int64) * len(bands)) // n_rows
        small = np.log(bands[rm] + 1e-30)
        bits = (small[:, 1:] > small[:, :-1]).flatten()
        val = int.from_bytes(np.packbits(bits).tobytes(), "big")
        return val - (1 << 64) if val >= (1 << 63) else val

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        fps = [
            _fp(_pcm_to_float(_as_bytes(p))) for p in pdf["content"]
        ]
        return pd.DataFrame(
            {
                "media_id": pdf["media_id"].to_numpy(),
                "fingerprint": np.array(fps, dtype=np.int64),
            }
        )

    return fn


_GIF_FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("mean_px", FloatType()),
        StructField("content", BinaryType()),
    ]
)


def decode_gif_frames_batch():
    """Per-batch :func:`one_pass` kernel: REAL video-frame extraction
    (``_GIF_FRAMES_SCHEMA``). Animated GIF payloads (operators/codecs.py
    — LZW, interlace, disposal composition) decode to their composed
    frames; one row per frame carries shape, mean luminance and the
    grayscale frame buffer. Undecodable payloads yield one (-1, -1,
    -1, NaN, empty) sentinel row."""
    from hls_stac_parquet_spark.operators.codecs import decode_gif

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, idxs, hs, ws, means, bufs = [], [], [], [], [], []
        for mid, payload in zip(pdf["media_id"], pdf["content"]):
            payload = _as_bytes(payload)
            try:
                frames = decode_gif(payload)
            except (ValueError, struct.error, IndexError, KeyError):
                ids.append(mid)
                idxs.append(-1)
                hs.append(-1)
                ws.append(-1)
                means.append(np.float32("nan"))
                bufs.append(b"")
                continue
            for i, fr in enumerate(frames):
                gray = fr[..., 0]  # gray-palette GIFs: R==G==B
                ids.append(mid)
                idxs.append(i)
                hs.append(fr.shape[0])
                ws.append(fr.shape[1])
                means.append(np.float32(fr.mean()))
                bufs.append(gray.tobytes())
        return pd.DataFrame(
            {
                "media_id": np.array(ids, dtype=np.int64),
                "frame_idx": np.array(idxs, dtype=np.int32),
                "height": np.array(hs, dtype=np.int32),
                "width": np.array(ws, dtype=np.int32),
                "mean_px": np.array(means, dtype=np.float32),
                "content": bufs,
            }
        )

    return fn


def encode_gifs_batch(
    src_width: int,
    src_height: int,
    n_frames: int = 4,
):
    """Per-batch :func:`one_pass` kernel: REAL animated-GIF encode of
    raw byte payloads. Each payload is sliced into ``n_frames``
    (src_height, src_width) grayscale frames (zero-padded) and
    LZW-compressed into one GIF89a; interlace rotates per id so a
    corpus exercises both row orders. Lossless. Emits (id, content)."""
    from hls_stac_parquet_spark.operators.codecs import encode_gif

    n_px = src_height * src_width
    n_src = n_px * n_frames

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for mid, payload in zip(pdf["media_id"], pdf["content"]):
            payload = _as_bytes(payload)
            buf = np.frombuffer(payload[:n_src], dtype=np.uint8)
            if len(buf) < n_src:
                buf = np.pad(buf, (0, n_src - len(buf)))
            frames = buf.reshape(n_frames, src_height, src_width)
            out.append(encode_gif(frames, interlace=bool(int(mid) % 2)))
        return pd.DataFrame(
            {"media_id": pdf["media_id"].to_numpy(), "content": out}
        )

    return fn

"""Pure-stdlib image/audio codecs for the multimodal decode seam.

The sandbox has no PIL/opencv/soundfile, but PNG is just zlib (stdlib)
plus per-row unfiltering (numpy), WAV is a RIFF header walk (stdlib
``struct``), JPEG is Huffman + DCT (numpy einsum) — baseline AND
progressive (SOF2 spectral selection + successive approximation) —
and GIF is LZW. So the common lossless formats and the dominant lossy
image format decode for REAL here, shrinking the documented codec
seam in operators/multimodal.py to WebP/MP3/real-video, which
genuinely need external libraries.

Scope (decoder): 8-bit, non-interlaced PNG, color types 0 (gray),
2 (RGB), 4 (gray+alpha), 6 (RGBA) — all five filter types. Anything
else raises ValueError with the unsupported field named. The encoder
exists so tests and queries can synthesize valid PNGs without any
imaging library; it can emit a chosen filter type per row, which is
what lets the tests exercise every unfilter path byte-exactly.

PNG spec: https://www.w3.org/TR/png-3/ (public W3C standard).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized over a row (a=left, b=up,
    c=up-left), all int16+ to avoid uint8 wraparound in |p - x|."""
    p = a + b - c
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out


def encode_png(
    pixels: np.ndarray, filter_type: int | None = None
) -> bytes:
    """Encode an (h, w) or (h, w, c) uint8 array as a valid PNG.

    ``filter_type`` forces one filter (0-4) on every row — the knob
    the round-trip tests use to exercise each unfilter path; None
    picks 0 (no filtering; zlib still compresses fine for fixtures).
    """
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, c = px.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}.get(c)
    if ctype is None:
        raise ValueError(f"unsupported channel count {c}")
    ft = 0 if filter_type is None else int(filter_type)
    if not 0 <= ft <= 4:
        raise ValueError(f"unsupported filter type {ft}")
    bpp = c
    raw = bytearray()
    prev = np.zeros((w * c,), dtype=np.uint8)
    for y in range(h):
        row = px[y].reshape(-1)
        left = np.concatenate([np.zeros(bpp, row.dtype), row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, prev.dtype), prev[:-bpp]])
        r16, l16, u16, ul16 = (
            a.astype(np.int16) for a in (row, left, prev, upleft)
        )
        if ft == 0:
            enc = row
        elif ft == 1:
            enc = ((r16 - l16) % 256).astype(np.uint8)
        elif ft == 2:
            enc = ((r16 - u16) % 256).astype(np.uint8)
        elif ft == 3:
            enc = ((r16 - (l16 + u16) // 2) % 256).astype(np.uint8)
        else:
            enc = ((r16 - _paeth(l16, u16, ul16)) % 256).astype(np.uint8)
        raw.append(ft)
        raw.extend(enc.tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG into an (h, w, channels) uint8 array.

    Supports the encoder's scope (8-bit, non-interlaced, color types
    0/2/4/6, any mix of the five row filters); everything else raises
    ValueError naming the unsupported field. The filter recurrences
    (Sub/Average/Paeth read the already-reconstructed left pixel) are
    inherently sequential along a row, so those rows reconstruct in a
    per-pixel-column loop over numpy slices — rows and the Up filter
    stay fully vectorized.
    """
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = None
    ctype = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth}")
            if ctype not in _CHANNELS:
                raise ValueError(f"unsupported color type {ctype}")
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard compression/filter method")
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("missing IHDR")
    c = _CHANNELS[ctype]
    bpp = c
    stride = width * c
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (stride + 1):
        raise ValueError("IDAT length does not match dimensions")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int16)
    for y in range(height):
        ft = int(rows[y, 0])
        row = rows[y, 1:].astype(np.int16)
        if ft == 0:
            rec = row
        elif ft == 2:
            rec = (row + prev) % 256
        elif ft == 1:
            rec = row.copy()
            for x in range(bpp, stride):
                rec[x] = (rec[x] + rec[x - bpp]) % 256
        elif ft == 3:
            rec = row.copy()
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + (left + prev[x]) // 2) % 256
        elif ft == 4:
            rec = row.copy()
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                upleft = prev[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + _paeth(
                    np.int16(left), prev[x], np.int16(upleft)
                )) % 256
        else:
            raise ValueError(f"unsupported filter type {ft}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out.reshape(height, width, c)


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """Decode a 16-bit PCM WAV (RIFF) into (sample_rate, samples) —
    samples shaped (n, channels) int16. Non-PCM or non-16-bit raises
    ValueError naming the field."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    sr = None
    n_ch = None
    bits = None
    frames = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)
        if tag == b"fmt ":
            fmt, n_ch, sr, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if fmt != 1:
                raise ValueError(f"unsupported WAV format code {fmt}")
            if bits != 16:
                raise ValueError(f"unsupported bit depth {bits}")
        elif tag == b"data":
            frames = body
    if sr is None or frames is None:
        raise ValueError("missing fmt/data chunk")
    samples = np.frombuffer(
        frames[: len(frames) - (len(frames) % (2 * n_ch))], dtype="<i2"
    ).reshape(-1, n_ch)
    return sr, samples


def encode_wav(sample_rate: int, samples: np.ndarray) -> bytes:
    """Encode (n,) or (n, channels) int16 samples as a 16-bit PCM WAV."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    n_ch = s.shape[1]
    body = s.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, sample_rate, sample_rate * 2 * n_ch, 2 * n_ch, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(body))
        + body
    )


# --- JPEG (baseline sequential DCT, ITU T.81) -----------------------------
#
# Pure numpy + stdlib: closes the LOSSY half of the image codec seam.
# Encoder: 8-bit grayscale or RGB (YCbCr 4:4:4, no subsampling),
# Annex-K quantization tables scaled by the IJG quality formula,
# Annex-K Huffman tables. Decoder: baseline/extended-sequential
# Huffman (SOF0/SOF1), 8-bit, 1-3 components, arbitrary integer
# sampling factors (nearest-neighbor chroma upsample), DRI/RSTn
# restart intervals; tables are read FROM the file, so third-party
# baseline JPEGs decode too. Progressive (SOF2) and arithmetic
# coding raise ValueError with the unsupported marker named.
#
# Exactness contract (tests/test_codecs.py): the entropy layer is
# lossless — Huffman-decoding an encode's scan reproduces the
# quantized coefficients EXACTLY (pinned against an independent
# replay of DCT + round-half-away-from-zero quantization) — and the
# decoded pixels match an independent float IDCT replay within ±1
# gray level (IEEE summation-order tolerance), with PSNR sanity vs
# the original.

_JPEG_ZZ = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

_Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

_Q_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# Annex-K Huffman specs: (BITS[1..16] counts, HUFFVAL). The decoder
# never relies on these (tables travel in the DHT segments); the
# encoder only needs them to be valid prefix codes covering every
# symbol it can emit (DC sizes 0-11; AC (run,size) incl. EOB/ZRL).
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHR_VALS = list(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
_AC_CHR_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHR_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _dct_mat() -> np.ndarray:
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    c = np.cos((2 * n + 1) * k * np.pi / 16)
    c[0] *= np.sqrt(0.5)
    return c * 0.5  # orthonormal: C @ B @ C.T is the JPEG FDCT


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (_Q_LUM, _Q_CHROM):
        tbl = (base * scale + 50) // 100
        out.append(np.clip(tbl, 1, 255).astype(np.int64))
    return out[0], out[1]


def _huff_codes(bits, vals):
    """Canonical Huffman: symbol -> (code, length)."""
    out = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


def _huff_decoder(bits, vals):
    """Canonical Huffman: (length, code) -> symbol."""
    out = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
        self.acc &= (1 << self.n) - 1

    def byte_align(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1s

    def flush(self) -> bytes:
        self.byte_align()
        return bytes(self.buf)


class _JpegBitReader:
    """MSB-first reader over the entropy-coded segment, unstuffing
    0xFF00 and stopping (returning markers) at 0xFFxx."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartPending()
            else:
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} inside scan"
                )
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, count: int) -> int:
        v = 0
        for _ in range(count):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> None:
        """Byte-align and consume the RSTn marker."""
        self.acc = 0
        self.n = 0
        if self.data[self.pos] != 0xFF or not (
            0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected restart marker")
        self.pos += 2


class _RestartPending(ValueError):
    """Raised by the bit reader when an RSTn marker interrupts the
    scan. The scan loops call restart() at the expected boundaries, so
    this escaping to a caller means a corrupt/truncated stream —
    subclassing ValueError makes it behave as a decode error there."""


def _huff_read(reader: _JpegBitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, size: int) -> int:
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _mag(v: int) -> tuple[int, int]:
    """Value -> (size, magnitude code) per T.81 F.1.2.1."""
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def _pad_to_blocks(plane: np.ndarray, by: int, bx: int) -> np.ndarray:
    """Edge-replicate pad a float plane to a (by, bx) block grid and
    return the (by*bx, 8, 8) level-shifted block array."""
    ph, pw = plane.shape
    pad = np.empty((by * 8, bx * 8), dtype=np.float64)
    pad[:ph, :pw] = plane
    pad[ph:, :pw] = plane[ph - 1 : ph, :]
    pad[:, pw:] = pad[:, pw - 1 : pw]
    return (
        pad.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        - 128.0
    )


def _encode_block(wtr, block_zz, pred, dc_tab, ac_tab) -> int:
    """Huffman-encode one zigzagged quantized block; returns the new
    DC predictor."""
    diff = int(block_zz[0]) - pred
    size, mag = _mag(diff)
    code, length = dc_tab[size]
    wtr.write(code, length)
    if size:
        wtr.write(mag, size)
    nz = np.nonzero(block_zz[1:])[0]
    last_nz = nz[-1] + 1 if len(nz) else 0
    run = 0
    for k in range(1, last_nz + 1):
        v = int(block_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_tab[0xF0]  # ZRL
            wtr.write(code, length)
            run -= 16
        size, mag = _mag(v)
        code, length = ac_tab[(run << 4) | size]
        wtr.write(code, length)
        wtr.write(mag, size)
        run = 0
    if last_nz < 63:
        code, length = ac_tab[0x00]  # EOB
        wtr.write(code, length)
    return int(block_zz[0])


def _jpeg_planes(px: np.ndarray) -> list:
    """RGB→JFIF-YCbCr (or grayscale passthrough) float64 planes —
    the ONE colorspace implementation both encoders share, so the
    pinned progressive≡baseline coefficient equality holds by
    construction."""
    if px.ndim == 2:
        return [px.astype(np.float64)]
    if px.ndim == 3 and px.shape[2] == 3:
        r = px[..., 0].astype(np.float64)
        g = px[..., 1].astype(np.float64)
        b = px[..., 2].astype(np.float64)
        return [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    raise ValueError(f"unsupported pixel shape {px.shape}")


def _quantize_plane(
    plane: np.ndarray, by: int, bx: int, q: np.ndarray, cmat: np.ndarray
) -> np.ndarray:
    """Pad → level shift → FDCT → round-half-away-from-zero quantize;
    returns (by*bx, 8, 8) int64 — shared by both encoders."""
    blocks = _pad_to_blocks(plane, by, bx)
    coef = np.einsum("ij,njk,kl->nil", cmat, blocks, cmat.T)
    scaled = coef / q.astype(np.float64)
    return np.trunc(scaled + np.copysign(0.5, scaled)).astype(np.int64)


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 85,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """Encode (h, w) grayscale or (h, w, 3) RGB uint8 as a baseline
    JFIF JPEG. ``subsampling`` is '4:4:4' (every block position one
    MCU) or '4:2:0' (chroma box-averaged 2x2, the common camera/web
    layout); ``restart_interval`` > 0 emits DRI + RSTn markers every
    that many MCUs (the stream-resync feature the decoder must
    handle on real files)."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    planes = _jpeg_planes(px)
    if px.ndim == 2:
        samps = [(1, 1)]
    else:
        if subsampling == "4:4:4":
            samps = [(1, 1), (1, 1), (1, 1)]
        elif subsampling == "4:2:0":
            samps = [(2, 2), (1, 1), (1, 1)]
            for ci in (1, 2):
                p = planes[ci]
                ph, pw = p.shape
                # edge-replicate to even dims, then 2x2 box mean
                if ph % 2:
                    p = np.vstack([p, p[-1:]])
                if pw % 2:
                    p = np.hstack([p, p[:, -1:]])
                planes[ci] = (
                    p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2)
                    .mean(axis=(1, 3))
                )
        else:
            raise ValueError(f"unsupported subsampling {subsampling!r}")
    q_lum, q_chr = _quality_tables(quality)
    qtabs = [q_lum] + ([q_chr] if len(planes) == 3 else [])
    cmat = _dct_mat()
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    comp_blocks = []
    for ci, plane in enumerate(planes):
        hs, vs = samps[ci]
        by, bx = mcuy * vs, mcux * hs
        quant = _quantize_plane(plane, by, bx, qtabs[min(ci, 1)], cmat)
        comp_blocks.append(quant.reshape(by, bx, 8, 8))

    dc_tabs = [_huff_codes(_DC_LUM_BITS, _DC_LUM_VALS)]
    ac_tabs = [_huff_codes(_AC_LUM_BITS, _AC_LUM_VALS)]
    if len(planes) == 3:
        dc_tabs.append(_huff_codes(_DC_CHR_BITS, _DC_CHR_VALS))
        ac_tabs.append(_huff_codes(_AC_CHR_BITS, _AC_CHR_VALS))

    wtr = _JpegBitWriter()
    pred = [0] * len(planes)
    zz = _JPEG_ZZ
    mcu_i = 0
    rst_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                wtr.byte_align()
                wtr.buf += bytes([0xFF, 0xD0 + (rst_i % 8)])
                rst_i += 1
                pred = [0] * len(planes)
            for ci in range(len(planes)):
                ti = min(ci, 1)
                hs, vs = samps[ci]
                for byi in range(vs):
                    for bxi in range(hs):
                        blk = comp_blocks[ci][
                            my * vs + byi, mx * hs + bxi
                        ].reshape(64)[zz]
                        pred[ci] = _encode_block(
                            wtr, blk, pred[ci], dc_tabs[ti], ac_tabs[ti]
                        )
            mcu_i += 1
    scan = wtr.flush()

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(
        ">H", 16
    ) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for ti, q in enumerate(qtabs):
        out += b"\xff\xdb" + struct.pack(">HB", 67, ti)
        out += bytes(int(x) for x in q.reshape(64)[zz])
    nc = len(planes)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        hs, vs = samps[ci]
        out += struct.pack("BBB", ci + 1, (hs << 4) | vs, min(ci, 1))
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    huffs = [(0x00, _DC_LUM_BITS, _DC_LUM_VALS), (0x10, _AC_LUM_BITS, _AC_LUM_VALS)]
    if nc == 3:
        huffs += [
            (0x01, _DC_CHR_BITS, _DC_CHR_VALS),
            (0x11, _AC_CHR_BITS, _AC_CHR_VALS),
        ]
    for tc_th, bits, vals in huffs:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for ci in range(nc):
        out += struct.pack("BB", ci + 1, (min(ci, 1) << 4) | min(ci, 1))
    out += b"\x00\x3f\x00"
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


def _decode_block_baseline(rdr, dtab, atab, pred):
    """One baseline block in zigzag order; returns (coef_zz, new_pred)."""
    blk = np.zeros(64, dtype=np.int64)
    size = _huff_read(rdr, dtab)
    pred += _extend(rdr.bits(size), size)
    blk[0] = pred
    k = 1
    while k < 64:
        rs = _huff_read(rdr, atab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run overflow")
        blk[k] = _extend(rdr.bits(s), s)
        k += 1
    return blk, pred


def _decode_ac_first(rdr, atab, coef, ss, se, al, eobrun):
    """Progressive AC first scan (Ah=0) for one block (T.81 G.1.2.2);
    coef is the block's 64-entry zigzag array, mutated in place."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_read(rdr, atab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            return (1 << r) + (rdr.bits(r) if r else 0) - 1  # EOBn
        k += r
        if k > se:
            raise ValueError("AC run overflow in progressive scan")
        coef[k] = _extend(rdr.bits(s), s) << al
        k += 1
    return 0


def _decode_ac_refine(rdr, atab, coef, ss, se, al, eobrun):
    """Progressive AC refinement (Ah=Al+1) for one block (T.81
    G.1.2.3): newly-nonzero coefficients arrive as ±2^Al; every
    already-nonzero coefficient visited consumes a correction bit."""
    p1, m1 = 1 << al, -1 << al

    def correct(k):
        if rdr.bit():
            if coef[k] >= 0 and not (coef[k] & p1):
                coef[k] += p1
            elif coef[k] < 0 and not (-coef[k] & p1):
                coef[k] += m1
        return k

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_read(rdr, atab)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) + (rdr.bits(r) if r else 0)
                    break
                # ZRL: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("invalid refinement magnitude")
                newval = p1 if rdr.bit() else m1
            while k <= se:
                if coef[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                coef[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            if coef[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _parse_jpeg(data: bytes):
    """Parse a JPEG (baseline SOF0, extended-sequential SOF1, or
    progressive SOF2) into header metadata + per-component QUANTIZED
    coefficient block grids (entropy layer fully decoded, no IDCT).
    Progressive files accumulate coefficients across all scans
    (spectral selection + successive approximation, DC and AC first/
    refinement passes, EOB runs, restart intervals). Returns
    (h, w, comps, qtabs); comps entries carry id, hs, vs, tq, blocks
    (n_by, n_bx, 8, 8 int64, natural order), bx/by (padded grid)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    dc_dec: dict[int, dict] = {}
    ac_dec: dict[int, dict] = {}
    comps: list[dict] = []
    h = w = 0
    dri = 0
    progressive = False
    saw_scan = False
    zz = _JPEG_ZZ
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1  # T.81 B.1.1.2: optional 0xFF fill bytes
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        seglen = struct.unpack(">H", data[pos : pos + 2])[0]
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[zz] = np.frombuffer(
                    body[i + 1 : i + 65], dtype=np.uint8
                ).astype(np.int64)
                qtabs[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                (ac_dec if tc else dc_dec)[th] = _huff_decoder(bits, vals)
                i += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1/SOF2
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError(f"{prec}-bit precision unsupported")
            hmax = vmax = 1
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append(
                    {"id": cid, "hs": hv >> 4, "vs": hv & 0x0F, "tq": tq}
                )
            hmax = max(c["hs"] for c in comps)
            vmax = max(c["vs"] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            for c in comps:
                c["bx"] = mcux * c["hs"]
                c["by"] = mcuy * c["vs"]
                # zigzag-order coefficient state, accumulated by scans
                c["zzco"] = np.zeros((c["by"] * c["bx"], 64), dtype=np.int64)
                # non-interleaved scan grid: the component's OWN
                # sample extent, not the MCU-padded grid (T.81 A.2.2)
                cw = -(-(w * c["hs"]) // hmax)
                ch = -(-(h * c["vs"]) // vmax)
                c["ni_bx"] = -(-cw // 8)
                c["ni_by"] = -(-ch // 8)
                c["pred"] = 0
                c["mcux"], c["mcuy"] = mcux, mcuy
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG coding (SOF marker 0xFF{marker:02X})"
            )
        elif marker == 0xDD:  # DRI
            dri = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("SOS before SOF")
            pos = _decode_scan(
                data, pos + seglen, body, comps, dc_dec, ac_dec,
                dri, progressive,
            )
            saw_scan = True
            continue
        pos += seglen
    if not saw_scan:
        raise ValueError("no SOS scan found")
    for c in comps:
        nat = np.zeros((c["by"] * c["bx"], 64), dtype=np.int64)
        nat[:, zz] = c["zzco"]
        c["blocks"] = nat.reshape(c["by"], c["bx"], 8, 8)
        del c["zzco"]
    return h, w, comps, qtabs


def _next_marker(data: bytes, pos: int) -> int:
    """Advance past any entropy remainder to the next real marker
    (skipping stuffed 0xFF00 pairs and 0xFF fill-byte runs)."""
    while pos + 1 < len(data):
        if data[pos] == 0xFF and data[pos + 1] not in (0x00, 0xFF):
            return pos
        pos += 1
    return len(data)


def _decode_scan(data, scan_start, body, comps, dc_dec, ac_dec, dri,
                 progressive):
    """Decode one SOS scan (baseline full-band, or one progressive
    pass), mutating each component's zigzag coefficient state.
    Returns the stream position of the marker after the scan."""
    ns = body[0]
    scan_comps = []
    for si in range(ns):
        cid, tabs = body[1 + 2 * si], body[2 + 2 * si]
        c = next((c for c in comps if c["id"] == cid), None)
        if c is None:
            # malformed stream: a StopIteration here would become a
            # RuntimeError (PEP 479) inside the mapInPandas generator
            # and kill the task instead of yielding the sentinel row
            raise ValueError(f"SOS references unknown component id {cid}")
        scan_comps.append((c, tabs >> 4, tabs & 0x0F))
    ss, se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    # validate Huffman table ids up front (exactly the tables this
    # scan type reads) so a malformed file raises ValueError, not
    # KeyError, per the malformed-row-never-kills-the-stage contract
    for _c, dct, act in scan_comps:
        needs_dc = (not progressive) or (ss == 0 and ah == 0)
        needs_ac = (not progressive) or ss != 0
        if needs_dc and dct not in dc_dec:
            raise ValueError(f"undefined DC Huffman table {dct}")
        if needs_ac and act not in ac_dec:
            raise ValueError(f"undefined AC Huffman table {act}")
    rdr = _JpegBitReader(data, scan_start)
    for c, _, _ in scan_comps:
        c["pred"] = 0
    eobrun = 0

    if ns == 1:
        # non-interleaved: the component's own block extent (equals
        # the padded grid for single-component images)
        c, dct, act = scan_comps[0]
        nbx, nby = c["ni_bx"], c["ni_by"]
        units = [(c, (by * c["bx"] + bx))
                 for by in range(nby) for bx in range(nbx)]
        per_unit = 1
    else:
        mcux, mcuy = comps[0]["mcux"], comps[0]["mcuy"]
        units = []
        for my in range(mcuy):
            for mx in range(mcux):
                mcu = []
                for c, dct, act in scan_comps:
                    for byi in range(c["vs"]):
                        for bxi in range(c["hs"]):
                            mcu.append(
                                (c, (my * c["vs"] + byi) * c["bx"]
                                 + mx * c["hs"] + bxi)
                            )
                units.append(mcu)
        per_unit = None  # marker for grouped units

    tabs_by_id = {c["id"]: (dct, act) for c, dct, act in scan_comps}

    def handle_block(c, bi):
        nonlocal eobrun
        dct, act = tabs_by_id[c["id"]]
        coef = c["zzco"][bi]
        if not progressive:
            blk, c["pred"] = _decode_block_baseline(
                rdr, dc_dec[dct], ac_dec[act], c["pred"]
            )
            coef[:] = blk
        elif ss == 0:  # DC scan (se must be 0)
            if ah == 0:
                size = _huff_read(rdr, dc_dec[dct])
                c["pred"] += _extend(rdr.bits(size), size)
                coef[0] = c["pred"] << al
            else:
                coef[0] |= rdr.bits(1) << al
        else:  # AC scan, single component
            if ah == 0:
                eobrun = _decode_ac_first(
                    rdr, ac_dec[act], coef, ss, se, al, eobrun
                )
            else:
                eobrun = _decode_ac_refine(
                    rdr, ac_dec[act], coef, ss, se, al, eobrun
                )

    unit_i = 0
    for unit in units:
        if dri and unit_i and unit_i % dri == 0:
            rdr.restart()
            for c, _, _ in scan_comps:
                c["pred"] = 0
            eobrun = 0
        if per_unit == 1:
            handle_block(*unit)
        else:
            for c, bi in unit:
                handle_block(c, bi)
        unit_i += 1
    return _next_marker(data, rdr.pos)


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline JPEG to (h, w) grayscale or (h, w, 3) RGB
    uint8 (JFIF YCbCr for 3 components, nearest-neighbor chroma
    upsample for subsampled files)."""
    h, w, comps, qtabs = _parse_jpeg(data)
    cmat = _dct_mat()
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    planes = []
    for c in comps:
        if c["tq"] not in qtabs:
            raise ValueError(f"undefined quantization table {c['tq']}")
        q = qtabs[c["tq"]].astype(np.float64)
        blocks = c["blocks"].reshape(-1, 8, 8).astype(np.float64) * q
        spat = np.einsum("ij,njk,kl->nil", cmat.T, blocks, cmat) + 128.0
        by, bx = c["by"], c["bx"]
        plane = (
            spat.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
        fy, fx = vmax // c["vs"], hmax // c["hs"]
        if vmax % c["vs"] or hmax % c["hs"]:
            raise ValueError("non-integer sampling ratio unsupported")
        if fy > 1 or fx > 1:
            plane = np.repeat(np.repeat(plane, fy, axis=0), fx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    if len(planes) != 3:
        raise ValueError(f"{len(planes)}-component JPEG unsupported")
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --- GIF (87a/89a, LZW) ----------------------------------------------------
#
# Pure stdlib+numpy: makes the VIDEO modality real at fixture scale —
# an animated GIF is the honest multi-frame container this sandbox
# can both write and read (no ffmpeg). Decoder: global/local color
# tables, interlacing, graphic-control extensions with disposal
# methods 0-3 (composition replayed frame by frame), transparency.
# Encoder: grayscale palette, optional interlace, per-frame
# full-rect updates — everything the decoder needs exercised.
# GIF is lossless over palette indices, so round trips are bit-exact.
# Spec: GIF89a (CompuServe/W3C, public).


def _lzw_compress(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF-variant LZW: emits clear code first, grows code width up
    to 12 bits, re-clears when the table fills."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, w: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits  # LSB-first packing
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    prefix = b""
    for idx in indices.tolist():
        nxt = prefix + bytes([idx])
        if nxt in table:
            prefix = nxt
            continue
        emit(table[prefix], width)
        table[nxt] = next_code
        next_code += 1
        if next_code > (1 << width):
            width += 1
            if width > 12:
                emit(clear, 12)
                table = {bytes([i]): i for i in range(clear)}
                next_code = eoi + 1
                width = min_code_size + 1
        prefix = bytes([idx])
    if prefix:
        emit(table[prefix], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width, next_code
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        next_code = eoi + 1

    width = min_code_size + 1
    next_code = eoi + 1
    reset()
    acc = 0
    nbits = 0
    prev: bytes | None = None
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return bytes(out)  # tolerate missing EOI
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            entry = table[code]
        elif code < next_code:
            entry = table[code]
            table.append(prev + entry[:1])
            next_code += 1
        elif code == next_code:
            entry = prev + prev[:1]
            table.append(entry)
            next_code += 1
        else:
            raise ValueError("corrupt LZW stream (code beyond table)")
        if prev is not None and next_code >= (1 << width) and width < 12:
            width += 1
        out += entry
        prev = entry
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(height: int) -> np.ndarray:
    rows = []
    for start, step in _GIF_INTERLACE_PASSES:
        rows.extend(range(start, height, step))
    return np.array(rows, dtype=np.int64)


def encode_gif(
    frames: np.ndarray | list,
    interlace: bool = False,
) -> bytes:
    """Encode (n, h, w) uint8 grayscale frames as an animated GIF89a
    (256-entry gray palette; frame k's palette index IS its gray
    value, so the round trip is bit-exact). Every frame is written
    with disposal 1 (leave in place)."""
    fr = np.ascontiguousarray(np.asarray(frames, dtype=np.uint8))
    if fr.ndim == 2:
        fr = fr[None]
    n, h, w = fr.shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0xF7, 0, 0])  # global table, 8-bit, 256 entries
    for i in range(256):
        out += bytes([i, i, i])  # gray palette
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop ext
    for k in range(n):
        out += b"\x21\xf9" + bytes([4, 1 << 2, 2, 0, 0, 0])
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlace else 0x00])
        px = fr[k]
        if interlace:
            px = px[_interlace_order(h)]
        out += bytes([8])  # LZW min code size
        comp = _lzw_compress(px.reshape(-1), 8)
        for i in range(0, len(comp), 255):
            chunk = comp[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif(data: bytes) -> np.ndarray:
    """Decode a GIF87a/89a into composed (n, h, w, 3) uint8 RGB
    frames (disposal methods 0-3 and transparency replayed)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    w, h = struct.unpack("<HH", data[6:10])
    flags, bg = data[10], data[11]
    pos = 13
    gct = None
    if flags & 0x80:
        size = 2 << (flags & 7)
        gct = np.frombuffer(data[pos : pos + 3 * size], dtype=np.uint8)
        gct = gct.reshape(size, 3)
        pos += 3 * size
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None and bg < len(gct):
        canvas[:] = gct[bg]
    background = canvas.copy()
    frames = []
    transparent = None
    disposal = 0
    prev_canvas = None
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9:  # graphic control
                blen = data[pos]
                gflags = data[pos + 1]
                disposal = (gflags >> 2) & 7
                transparent = (
                    data[pos + 4] if gflags & 1 else None
                )
                pos += blen + 1
            while data[pos] != 0:  # skip (remaining) sub-blocks
                pos += data[pos] + 1
            pos += 1
        elif block == 0x2C:  # image descriptor
            ix, iy, iw, ih = struct.unpack("<HHHH", data[pos : pos + 8])
            iflags = data[pos + 8]
            pos += 9
            table = gct
            if iflags & 0x80:
                size = 2 << (iflags & 7)
                table = np.frombuffer(
                    data[pos : pos + 3 * size], dtype=np.uint8
                ).reshape(size, 3)
                pos += 3 * size
            if table is None:
                raise ValueError("no color table for image block")
            min_code = data[pos]
            pos += 1
            comp = bytearray()
            while data[pos] != 0:
                ln = data[pos]
                comp += data[pos + 1 : pos + 1 + ln]
                pos += ln + 1
            pos += 1
            idx = np.frombuffer(
                _lzw_decompress(bytes(comp), min_code)[: iw * ih],
                dtype=np.uint8,
            ).reshape(ih, iw)
            if iflags & 0x40:  # interlaced
                de = np.empty_like(idx)
                de[_interlace_order(ih)] = idx
                idx = de
            prev_canvas = canvas.copy()
            region = canvas[iy : iy + ih, ix : ix + iw]
            rgb = table[np.minimum(idx, len(table) - 1)]
            if transparent is not None:
                mask = (idx != transparent)[..., None]
                region[:] = np.where(mask, rgb, region)
            else:
                region[:] = rgb
            frames.append(canvas.copy())
            if disposal == 2:  # restore background in the frame rect
                canvas[iy : iy + ih, ix : ix + iw] = background[
                    iy : iy + ih, ix : ix + iw
                ]
            elif disposal == 3 and prev_canvas is not None:
                canvas = prev_canvas
            disposal = 0
            transparent = None
        else:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
    if not frames:
        raise ValueError("GIF contains no image frames")
    return np.stack(frames)


# progressive AC scans emit EOBn symbols (r<<4 for r=0..14), which the
# Annex-K baseline tables don't contain — use a fixed complete table
# covering all 256 symbols (254 at 8 bits + 2 at 9, leaving the
# all-ones code unused as T.81 C.2 requires). The decoder reads tables
# from the file, so compression is the only cost.
_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 254, 2, 0, 0, 0, 0, 0, 0, 0]
_PROG_AC_VALS = list(range(256))


def _pt_ac(v: int, al: int) -> int:
    """AC point transform: divide by 2^Al rounding TOWARD ZERO
    (T.81 G.1.2.2 — DC uses the arithmetic shift instead)."""
    return -((-v) >> al) if v < 0 else v >> al


class _ProgAcState:
    """Encoder state for one progressive AC scan: the EOB run and the
    two correction-bit buffers (be = promoted bits flushed with the
    EOBn symbol, br = current-block bits flushed after each symbol) —
    the jcphuff.c structure, which is what keeps encoder bit order
    aligned with the decoder's walk."""

    def __init__(self, wtr, atab):
        self.wtr = wtr
        self.atab = atab
        self.eobrun = 0
        self.be: list[int] = []
        self.br: list[int] = []

    def _emit_bits(self, bits: list[int]) -> None:
        for b in bits:
            self.wtr.write(b, 1)

    def emit_eobrun(self) -> None:
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            code, ln = self.atab[r << 4]
            self.wtr.write(code, ln)
            if r:
                self.wtr.write(self.eobrun - (1 << r), r)
            self.eobrun = 0
            self._emit_bits(self.be)
            self.be = []

    def emit_symbol_with_br(self, sym: int, extra: int, nbits: int) -> None:
        self.emit_eobrun()
        code, ln = self.atab[sym]
        self.wtr.write(code, ln)
        if nbits:
            self.wtr.write(extra, nbits)
        self._emit_bits(self.br)
        self.br = []

    def end_block_in_eob(self) -> None:
        self.eobrun += 1
        self.be += self.br
        self.br = []
        if self.eobrun == 0x7FFF or len(self.be) > 900:
            self.emit_eobrun()


def _enc_ac_first(st: _ProgAcState, band: list[int]) -> None:
    """One block of a progressive AC first scan (Ah=0)."""
    nz = [i for i, v in enumerate(band) if v]
    if not nz:
        st.end_block_in_eob()
        return
    last = nz[-1]
    st.emit_eobrun()
    run = 0
    for i in range(last + 1):
        v = band[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            st.emit_symbol_with_br(0xF0, 0, 0)
            run -= 16
        size, mag = _mag(v)
        st.emit_symbol_with_br((run << 4) | size, mag, size)
        run = 0
    if last < len(band) - 1:
        st.end_block_in_eob()


def _enc_ac_refine(st: _ProgAcState, band: list[int]) -> None:
    """One block of a progressive AC refinement scan (jcphuff.c
    encode_mcu_AC_refine): |v|==1 is newly significant, |v|>1 emits a
    correction bit, zeros accumulate runs; trailing state folds into
    the EOB run."""
    absv = [abs(v) for v in band]
    eob_idx = max((i for i, v in enumerate(absv) if v == 1), default=-1)
    run = 0
    for i, v in enumerate(band):
        a = absv[i]
        if a == 0:
            run += 1
            continue
        while run > 15 and i <= eob_idx:
            st.emit_symbol_with_br(0xF0, 0, 0)
            run -= 16
        if a > 1:
            st.br.append(a & 1)
            continue
        st.emit_symbol_with_br((run << 4) | 1, 1 if v > 0 else 0, 1)
        run = 0
    if run > 0 or st.br:
        st.end_block_in_eob()


def encode_jpeg_progressive(pixels: np.ndarray, quality: int = 85) -> bytes:
    """Encode gray/RGB uint8 as a PROGRESSIVE JPEG (SOF2, 4:4:4) with
    a libjpeg-style scan script exercising every progressive decode
    path: interleaved DC first (Al=1), per-component AC first scans in
    two spectral bands (Al=2), two AC refinement passes (Ah=2→1,
    1→0), and a DC refinement scan. The quantized coefficients are
    IDENTICAL to ``encode_jpeg``'s for the same input — pinned in
    tests/test_codecs.py — so progressive is purely an entropy-layer
    re-ordering."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    planes = _jpeg_planes(px)
    nc = len(planes)
    q_lum, q_chr = _quality_tables(quality)
    qtabs = [q_lum] + ([q_chr] if nc == 3 else [])
    cmat = _dct_mat()
    bh, bw = -(-h // 8), -(-w // 8)
    zz = _JPEG_ZZ

    comp_zz = []  # per component: (n_blocks, 64) zigzag quantized coeffs
    for ci, plane in enumerate(planes):
        quant = _quantize_plane(plane, bh, bw, qtabs[min(ci, 1)], cmat)
        comp_zz.append(quant.reshape(-1, 64)[:, zz])

    dc_tabs = [_huff_codes(_DC_LUM_BITS, _DC_LUM_VALS)]
    if nc == 3:
        dc_tabs.append(_huff_codes(_DC_CHR_BITS, _DC_CHR_VALS))
    prog_ac = _huff_codes(_PROG_AC_BITS, _PROG_AC_VALS)
    n_blocks = bh * bw

    def sos_header(comp_ids, tab_pairs, ss, se, ah, al) -> bytes:
        out = b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comp_ids),
                                        len(comp_ids))
        for cid, (dt, at) in zip(comp_ids, tab_pairs):
            out += struct.pack("BB", cid, (dt << 4) | at)
        return out + bytes([ss, se, (ah << 4) | al])

    scans = []

    # scan 1: DC first, interleaved, Al=1 (arithmetic >> for DC)
    wtr = _JpegBitWriter()
    preds = [0] * nc
    for bi in range(n_blocks):
        for ci in range(nc):
            v = int(comp_zz[ci][bi][0]) >> 1
            diff = v - preds[ci]
            preds[ci] = v
            size, mag = _mag(diff)
            code, ln = dc_tabs[min(ci, 1)][size]
            wtr.write(code, ln)
            if size:
                wtr.write(mag, size)
    scans.append(
        (sos_header(list(range(1, nc + 1)),
                    [(min(ci, 1), 0) for ci in range(nc)], 0, 0, 0, 1),
         wtr.flush())
    )

    # scans 2..: AC first in two bands, per component, Al=2
    for ss, se in ((1, 5), (6, 63)):
        for ci in range(nc):
            wtr = _JpegBitWriter()
            st = _ProgAcState(wtr, prog_ac)
            for bi in range(n_blocks):
                band = [
                    _pt_ac(int(comp_zz[ci][bi][k]), 2)
                    for k in range(ss, se + 1)
                ]
                _enc_ac_first(st, band)
            st.emit_eobrun()
            scans.append(
                (sos_header([ci + 1], [(0, 0)], ss, se, 0, 2), wtr.flush())
            )

    # AC refinement passes: Ah=2 Al=1, then Ah=1 Al=0
    for ah, al in ((2, 1), (1, 0)):
        for ci in range(nc):
            wtr = _JpegBitWriter()
            st = _ProgAcState(wtr, prog_ac)
            for bi in range(n_blocks):
                band = [
                    _pt_ac(int(comp_zz[ci][bi][k]), al)
                    for k in range(1, 64)
                ]
                _enc_ac_refine(st, band)
            st.emit_eobrun()
            scans.append(
                (sos_header([ci + 1], [(0, 0)], 1, 63, ah, al), wtr.flush())
            )

    # final scan: DC refinement, interleaved, Ah=1 Al=0
    wtr = _JpegBitWriter()
    for bi in range(n_blocks):
        for ci in range(nc):
            wtr.write(int(comp_zz[ci][bi][0]) & 1, 1)
    scans.append(
        (sos_header(list(range(1, nc + 1)),
                    [(0, 0) for _ in range(nc)], 0, 0, 1, 0),
         wtr.flush())
    )

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(
        ">H", 16
    ) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for ti, q in enumerate(qtabs):
        out += b"\xff\xdb" + struct.pack(">HB", 67, ti)
        out += bytes(int(x) for x in q.reshape(64)[zz])
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        out += struct.pack("BBB", ci + 1, 0x11, min(ci, 1))
    huffs = [(0x00, _DC_LUM_BITS, _DC_LUM_VALS)]
    if nc == 3:
        huffs.append((0x01, _DC_CHR_BITS, _DC_CHR_VALS))
    huffs.append((0x10, _PROG_AC_BITS, _PROG_AC_VALS))
    for tc_th, bits, vals in huffs:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    for header, scan in scans:
        out += header + scan
    out += b"\xff\xd9"
    return bytes(out)

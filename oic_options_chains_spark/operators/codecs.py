"""Dependency-free media codecs: PNG (stdlib zlib), JPEG — baseline
AND progressive (T.81 Huffman + DCT over numpy), GIF (LZW), and WAV PCM
(struct).

These are the kernels behind the media operators in
``operators/multimodal.py``. No Pillow/libvips/torchaudio is needed: a
complete baseline PNG codec needs only ``zlib`` (DEFLATE) plus the five
scanline filters, a baseline-sequential JPEG codec needs only the
public T.81 tables + an 8x8 DCT, GIF is LZW over a palette, and
RIFF/WAVE PCM is plain struct parsing — so the decode path is honest
working code, not a stub, for every image format a web-crawl media
column actually carries, plus MJPEG AVI video (a RIFF demux over
the JPEG decoder). Arithmetic-coded/hierarchical/12-bit JPEG and
interframe video codecs (H.264/VP9/AV1 — an entropy+prediction stack,
not a function) stay gated (ValueError) and are routed around via
``sniff_format``.

Supported surface (rejects anything else with ValueError, so a caller
can quarantine rather than mis-decode):

- PNG: 8-bit depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
  6 (RGBA); no interlace, no palette. All five row filters (None/Sub/
  Up/Average/Paeth) on decode; encode writes filter 0. Chunk CRCs are
  VERIFIED on decode (a flipped bit fails loudly, not as noise pixels).
- JPEG: baseline sequential (SOF0) AND progressive (SOF2, spectral
  selection + successive approximation per Annex G), 8-bit, Huffman,
  grayscale or YCbCr, sampling factors to 2x2 (4:4:4 / 4:2:2 / 4:2:0),
  restart intervals. Encoders write both forms (Annex K tables for
  baseline; per-scan fixed-length tables for the progressive script),
  so every decoder path is testable from self-contained fixtures.
- GIF: GIF87a/89a — LZW (early-change width growth, 4096-entry cap),
  global/local color tables, interlacing, frame placement on the
  logical screen, AND full animation compositing (decode_gif_frames:
  sub-rect deltas, transparency, disposal methods 1/2/3 — the
  inter-frame model web GIFs actually ship). Encoders write a lossless
  single-frame GIF89a and a delta-optimized animation
  (encode_gif_animation); <=256 distinct colors — quantization is a
  policy, not a codec.
- WAV: canonical RIFF/WAVE with ``fmt `` + ``data`` chunks, PCM
  (format tag 1), 16-bit samples.

Everything is per-row Python executed INSIDE the Arrow-batched
``mapInPandas`` kernels of operators/multimodal.py — the plan-level
rules (no Python in relational operators) are untouched; this is the
contracted kernel tier, the same tier as the HTML parsers. Pixel work
uses numpy per scanline; the sequential filters (Average/Paeth) loop
per byte in Python, which is fine for kernel-sized images — swap in a
C codec at the same seam when throughput demands it.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
# decode cap: 16M pixels (4096x4096). The inflate is bounded by the
# IHDR-declared payload, so this caps the allocation a crafted header
# can demand; kernel-tier images are orders of magnitude smaller.
_MAX_PIXELS = 1 << 24


def encode_png(pixels: np.ndarray) -> bytes:
    """Baseline PNG from an (h, w, c) or (h, w) uint8 array — filter 0
    rows, one zlib IDAT, CRC'd chunks. c in {1, 2, 3, 4} maps to gray /
    gray+alpha / RGB / RGBA."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_png(blob: bytes) -> np.ndarray:
    """(h, w, c) uint8 pixels from a baseline PNG. Verifies chunk CRCs;
    raises ValueError on malformed/unsupported input (callers
    quarantine)."""
    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        tag = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(blob):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", blob[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        pos += 12 + length
        if tag == b"IHDR":
            ihdr = data
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    if len(ihdr) != 13:
        raise ValueError(f"malformed PNG IHDR ({len(ihdr)} bytes)")
    w, h, depth, color_type, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth} interlace={interlace})"
        )
    if w == 0 or h == 0:
        # the spec requires nonzero dimensions; an empty pixel array
        # would propagate NaN stats instead of quarantining
        raise ValueError(f"invalid PNG dimensions {w}x{h}")
    if color_type not in _CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    c = _CHANNELS[color_type]
    if w * h > _MAX_PIXELS:
        # IHDR-declared dimensions bound the inflate below; a bomb that
        # also lies about w*h must be rejected before allocating
        raise ValueError(f"PNG dimensions {w}x{h} exceed decode cap")
    stride = w * c
    expected = h * (stride + 1)
    # bounded inflate: a zlib bomb expands only to expected+1 bytes
    # (the +1 detects overrun) before being rejected as a ValueError,
    # so it quarantines instead of escaping as MemoryError
    d = zlib.decompressobj()
    try:
        raw = d.decompress(b"".join(idat), expected + 1)
    except zlib.error as e:
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e
    if len(raw) != expected or not d.eof or d.unconsumed_tail:
        raise ValueError("PNG pixel payload size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, np.uint8, stride, y * (stride + 1) + 1
        ).astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if f == 0:
            cur = row
        elif f == 1:  # Sub: prefix sum per bpp lane — modular addition
            # is associative, so masking once at the end is exact
            cur = row.reshape(w, c).cumsum(axis=0).reshape(stride)
        elif f == 2:  # Up — same associativity argument
            cur = row + prev
        elif f in (3, 4):  # Average / Paeth: sequential left-dependency.
            # The left neighbor 'a' MUST be the reconstructed byte
            # (mod 256) — Average's >>1 and Paeth's abs() are nonlinear,
            # so an unmasked accumulator decodes silently-wrong pixels
            # (e.g. off by 128 whenever the previous byte wrapped).
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                a = cur[x - c] if x >= c else 0
                b = prev[x]
                if f == 3:
                    cur[x] = (row[x] + ((a + b) >> 1)) & 0xFF
                else:
                    cc = prev[x - c] if x >= c else 0
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    cur[x] = (row[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = (cur & 0xFF).astype(np.uint8)
    return out.reshape(h, w, c)


def resize_nearest(pixels: np.ndarray, new_w: int, new_h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resample of (h, w, c) uint8 —
    source index floor(i * src / dst), pure integer, no rounding mode
    ambiguity."""
    h, w = pixels.shape[:2]
    ys = (np.arange(new_h) * h) // new_h
    xs = (np.arange(new_w) * w) // new_w
    return pixels[ys][:, xs]


def luma(pixels: np.ndarray) -> np.ndarray:
    """(h, w) int32 luma in 0..255: integer Rec.601 for color
    ((299R + 587G + 114B) // 1000), channel 0 for gray/gray+alpha."""
    c = pixels.shape[2]
    p = pixels.astype(np.int32)
    if c >= 3:
        return (299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]) // 1000
    return p[:, :, 0]


def decode_image(blob: bytes) -> np.ndarray:
    """Magic-byte dispatch over the real decoders: PNG, baseline JPEG,
    or GIF to (h, w, c) uint8; ValueError on anything else (the
    quarantine contract every kernel relies on)."""
    if blob[:8] == _PNG_SIG:
        return decode_png(blob)
    if blob[:2] == b"\xff\xd8":
        return decode_jpeg(blob)
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(blob)
    raise ValueError("unsupported image container (not PNG/JPEG/GIF)")


def image_stats(blob: bytes, feature_dims: int) -> tuple[int, int, float, list[float]]:
    """The ``multimodal.decode_media`` kernel: decode (PNG, JPEG or
    GIF), integer luma, and a ``feature_dims``-cell
    mean-luma grid feature (the flattened luma split into contiguous
    cells — a deterministic fixed-width embedding stand-in)."""
    px = decode_image(blob)
    h, w = px.shape[:2]
    lm = luma(px).reshape(-1)
    mean_luma = float(lm.mean()) / 255.0
    cells = np.array_split(lm, feature_dims)
    feature = [float(cell.mean()) / 255.0 if len(cell) else 0.0 for cell in cells]
    return w, h, mean_luma, feature


def decode_wav(blob: bytes) -> tuple[int, int, np.ndarray]:
    """(sample_rate, n_channels, samples int16 array) from a RIFF/WAVE
    PCM-16 blob; samples are interleaved as stored. ValueError on
    anything else."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE blob")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(blob):
        tag = blob[pos : pos + 4]
        (length,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        body = blob[pos + 8 : pos + 8 + length]
        if tag == b"fmt ":
            fmt = body
        elif tag == b"data":
            data = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if len(fmt) < 16:
        # struct.error is NOT a ValueError — an unguarded unpack here
        # would escape the kernels' quarantine catch and fail the job
        raise ValueError(f"malformed WAV fmt chunk ({len(fmt)} bytes)")
    tag_, n_ch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", fmt[:16])
    if tag_ != 1 or bits != 16:
        raise ValueError(f"unsupported WAV (format={tag_} bits={bits})")
    samples = np.frombuffer(data[: len(data) & ~1], dtype="<i2")
    return rate, n_ch, samples


def wav_stats(blob: bytes) -> tuple[int, int, int, int]:
    """(sample_rate, n_samples, peak_abs, mean_abs_e3): integer loudness
    stats for an ASR-prep quality gate — exact (scaled mean, no float)."""
    rate, n_ch, samples = decode_wav(blob)
    n = len(samples) // max(n_ch, 1)
    if len(samples) == 0:
        return rate, 0, 0, 0
    a = np.abs(samples.astype(np.int64))
    return rate, n, int(a.max()), int((1000 * a.sum()) // len(samples))


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81): decoder for SOF0 sequential scans and a
# 4:4:4 encoder, dependency-free (numpy only). Arithmetic coding,
# 12-bit, and interframe video stay unsupported. The reference pipeline has no media tier at all — this is
# part of the training-data extension surface (SURVEY.md section 6).
# ---------------------------------------------------------------------------

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)

# Annex K.1 base quantization tables (luminance / chrominance)
_QL_BASE = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
    ]
)
_QC_BASE = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    ]
)

# Annex K.3 typical Huffman tables: (bits[16], values)
_DC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_L = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_C = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_basis() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis M: forward F = M f M^T, inverse
    f = M^T F M."""
    n = np.arange(8)
    k = n.reshape(-1, 1)
    m = np.cos((2 * n + 1) * k * np.pi / 16.0)
    m[0] *= np.sqrt(1.0 / 2.0)
    return m * 0.5


_DCT_M = _dct_basis()


def _huff_decode_table(bits: list[int], values: list[int]) -> dict:
    """(code_length, code) -> symbol for a canonical T.81 table."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(values):
                raise ValueError("JPEG DHT symbol count mismatch")
            table[(length, code)] = values[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    de-stuffing; raises ValueError past the end (truncated scan)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG scan truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("JPEG scan truncated at stuffing")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed 0xFF data byte
                else:
                    raise ValueError(f"unexpected marker FF{nxt:02X} in scan")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict) -> int:
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | self.bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _decode_block(
    br: _BitReader, dc_tab: dict, ac_tab: dict, quant: np.ndarray, pred: int
) -> tuple[np.ndarray, int]:
    """One 8x8 block: Huffman -> dequant -> dezigzag -> IDCT, returning
    (spatial block float64, new DC predictor)."""
    s = br.huff(dc_tab)
    if s > 11:
        raise ValueError(f"invalid JPEG DC magnitude {s}")
    diff = _extend(br.receive(s), s) if s else 0
    pred += diff
    zz = np.zeros(64, dtype=np.int32)
    zz[0] = pred
    k = 1
    while k < 64:
        rs = br.huff(ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC run past block end")
        zz[k] = _extend(br.receive(s), s)
        k += 1
    coeffs = np.zeros(64, dtype=np.float64)
    coeffs[_ZIGZAG] = zz * quant
    block = coeffs.reshape(8, 8)
    return _DCT_M.T @ block @ _DCT_M, pred


def decode_jpeg(blob: bytes) -> np.ndarray:
    """(h, w, c) uint8 pixels from a BASELINE sequential JPEG (SOF0,
    8-bit, Huffman, 1 or 3 components, sampling factors up to 2x2,
    restart intervals honored) or a PROGRESSIVE JPEG (SOF2: spectral
    selection + successive approximation per T.81 Annex G, dispatched to
    _decode_jpeg_progressive). Grayscale decodes to c=1, YCbCr to c=3
    RGB via the JFIF matrix. ValueError on anything else — arithmetic
    coding, hierarchical, 12-bit, unknown tables, truncation — so the
    kernels quarantine rather than mis-decode."""
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
    frame = None
    restart = 0
    while True:
        if pos + 2 > len(blob):
            raise ValueError("JPEG truncated before SOS")
        if blob[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        m = blob[pos + 1]
        if m == 0xFF:
            pos += 1
            continue
        pos += 2
        if m in (0x01, *range(0xD0, 0xD8)):
            continue
        if m == 0xD9:
            raise ValueError("JPEG EOI before scan")
        if pos + 2 > len(blob):
            raise ValueError("JPEG segment truncated")
        (seg_len,) = struct.unpack(">H", blob[pos : pos + 2])
        if seg_len < 2 or pos + seg_len > len(blob):
            raise ValueError("JPEG segment length out of range")
        body = blob[pos + 2 : pos + seg_len]
        pos += seg_len
        if m == 0xDB:  # DQT
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit JPEG quant tables unsupported")
                if b + 65 > len(body):
                    raise ValueError("JPEG DQT truncated")
                quant[tq] = np.frombuffer(
                    body[b + 1 : b + 65], dtype=np.uint8
                ).astype(np.int32)
                b += 65
        elif m == 0xC4:  # DHT
            b = 0
            while b + 17 <= len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1 : b + 17])
                n = sum(bits)
                vals = list(body[b + 17 : b + 17 + n])
                if len(vals) != n:
                    raise ValueError("JPEG DHT truncated")
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                b += 17 + n
        elif m == 0xDD:  # DRI
            if len(body) != 2:
                raise ValueError("JPEG DRI malformed")
            (restart,) = struct.unpack(">H", body)
        elif m == 0xC0:  # SOF0 baseline
            if len(body) < 6:
                raise ValueError("JPEG SOF0 truncated")
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if h == 0 or w == 0 or w * h > _MAX_PIXELS:
                raise ValueError(f"JPEG dimensions {w}x{h} out of range")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            if len(body) < 6 + 3 * nc:
                raise ValueError("JPEG SOF0 component list truncated")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                hi, vi = hv >> 4, hv & 0x0F
                if not (1 <= hi <= 2 and 1 <= vi <= 2):
                    raise ValueError(f"unsupported JPEG sampling {hi}x{vi}")
                comps.append({"id": cid, "h": hi, "v": vi, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
        elif m == 0xC2:  # SOF2: progressive, Huffman — own multi-scan path
            return _decode_jpeg_progressive(blob)
        elif m in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"non-baseline JPEG (SOF{m - 0xC0}) unsupported")
        elif m == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF0")
            ns = body[0]
            if ns != len(frame["comps"]):
                raise ValueError("JPEG interleaved-scan component mismatch")
            sel = {}
            for i in range(ns):
                cs, tt = body[1 + 2 * i : 3 + 2 * i]
                sel[cs] = (tt >> 4, tt & 0x0F)
            return _decode_scan(blob, pos, frame, quant, huff, sel, restart)
        # APPn/COM and other tables: skipped
    raise ValueError("JPEG has no scan")


def _decode_scan(blob, pos, frame, quant, huff, sel, restart):
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        if c["tq"] not in quant:
            raise ValueError(f"JPEG missing quant table {c['tq']}")
        dc_id, ac_id = sel.get(c["id"], (0, 0))
        if (0, dc_id) not in huff or (1, ac_id) not in huff:
            raise ValueError("JPEG missing Huffman table")
        planes.append(
            np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        )
    br = _BitReader(blob[pos:])
    preds = [0] * len(comps)
    n_mcu = mcux * mcuy
    for idx in range(n_mcu):
        if restart and idx and idx % restart == 0:
            # byte-align and consume the RSTn marker
            br.n = 0
            if br.pos + 2 > len(br.data) or br.data[br.pos] != 0xFF or not (
                0xD0 <= br.data[br.pos + 1] <= 0xD7
            ):
                raise ValueError("JPEG restart marker missing")
            br.pos += 2
            preds = [0] * len(comps)
        my, mx = divmod(idx, mcux)
        for ci, c in enumerate(comps):
            dc_id, ac_id = sel.get(c["id"], (0, 0))
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    # DQT tables arrive in zigzag order, matching zz
                    block, preds[ci] = _decode_block(
                        br,
                        huff[(0, dc_id)],
                        huff[(1, ac_id)],
                        quant[c["tq"]],
                        preds[ci],
                    )
                    y0 = (my * c["v"] + by) * 8
                    x0 = (mx * c["h"] + bx) * 8
                    planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
    return _finish_planes(planes, comps, w, h, hmax, vmax)


def _finish_planes(planes, comps, w, h, hmax, vmax):
    """Shared decode back-end: level shift, nearest chroma upsample to
    the MCU grid, crop, and (for 3 components) the JFIF YCbCr->RGB
    matrix. Used by both the baseline and progressive paths."""
    out_planes = []
    for ci, c in enumerate(comps):
        p = planes[ci] + 128.0
        # nearest upsample to full MCU-grid resolution, then crop
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        y = np.clip(np.rint(out_planes[0]), 0, 255).astype(np.uint8)
        return y[:, :, None]
    y, cb, cr = out_planes
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2, Huffman): spectral selection + successive
# approximation, decoded per ITU-T T.81 Annex G into per-component
# coefficient planes that share the baseline path's dequant/IDCT/color
# back-end. The matching encoder below emits the classic multi-scan
# script so the decoder is testable from self-contained fixtures.
# ---------------------------------------------------------------------------


def _prog_block_order(frame, scomps, interleaved):
    """Yield (ci, by, bx) block coordinates in T.81 scan order.

    Interleaved scans walk the MCU grid (PADDED to full MCUs — dummy
    blocks included); a non-interleaved scan walks only the single
    component's ceil(size/8) block grid."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    if interleaved:
        for idx in range(mcux * mcuy):
            my, mx = divmod(idx, mcux)
            for ci, c in scomps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        yield ci, my * c["v"] + by, mx * c["h"] + bx
    else:
        ci, c = scomps[0]
        comp_w = -(-frame["w"] * c["h"] // hmax)
        comp_h = -(-frame["h"] * c["v"] // vmax)
        nbw = -(-comp_w // 8)
        nbh = -(-comp_h // 8)
        for idx in range(nbh * nbw):
            by, bx = divmod(idx, nbw)
            yield ci, by, bx


def _prog_units_per_restart(frame, scomps, interleaved):
    """Restart intervals count MCUs when interleaved, blocks otherwise —
    returns blocks-per-unit per scan component structure."""
    if interleaved:
        return sum(c["h"] * c["v"] for _, c in scomps)
    return 1


def _decode_jpeg_progressive(blob: bytes) -> np.ndarray:
    """(h, w, c) uint8 pixels from a PROGRESSIVE JPEG (SOF2, 8-bit,
    Huffman, sampling factors up to 2x2): every scan — DC first/refine,
    AC first/refine with EOB runs, interleaved or single-component,
    restart intervals — accumulates into per-component zigzag
    coefficient planes; dequant + IDCT + upsample + color run once at
    EOI. ValueError on malformed/truncated input (quarantine contract,
    same as the baseline path)."""
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    coefs: list[np.ndarray] = []
    restart = 0
    saw_scan = False
    while True:
        # resync to the next marker (skips fill 0xFFs; never treats the
        # entropy-stuffed FF00 as a marker)
        while True:
            if pos + 2 > len(blob):
                raise ValueError("JPEG truncated before EOI")
            if blob[pos] == 0xFF and blob[pos + 1] not in (0x00, 0xFF):
                break
            pos += 1
        m = blob[pos + 1]
        pos += 2
        if m in (0x01, *range(0xD0, 0xD8)):
            continue
        if m == 0xD9:  # EOI
            break
        if pos + 2 > len(blob):
            raise ValueError("JPEG segment truncated")
        (seg_len,) = struct.unpack(">H", blob[pos : pos + 2])
        if seg_len < 2 or pos + seg_len > len(blob):
            raise ValueError("JPEG segment length out of range")
        body = blob[pos + 2 : pos + seg_len]
        pos += seg_len
        if m == 0xDB:  # DQT
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit JPEG quant tables unsupported")
                if b + 65 > len(body):
                    raise ValueError("JPEG DQT truncated")
                quant[tq] = np.frombuffer(
                    body[b + 1 : b + 65], dtype=np.uint8
                ).astype(np.int32)
                b += 65
        elif m == 0xC4:  # DHT (tables may be redefined between scans)
            b = 0
            while b + 17 <= len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1 : b + 17])
                n = sum(bits)
                vals = list(body[b + 17 : b + 17 + n])
                if len(vals) != n:
                    raise ValueError("JPEG DHT truncated")
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                b += 17 + n
        elif m == 0xDD:  # DRI
            if len(body) != 2:
                raise ValueError("JPEG DRI malformed")
            (restart,) = struct.unpack(">H", body)
        elif m == 0xC2:  # SOF2
            if frame is not None:
                raise ValueError("JPEG multiple frames unsupported")
            if len(body) < 6:
                raise ValueError("JPEG SOF2 truncated")
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if h == 0 or w == 0 or w * h > _MAX_PIXELS:
                raise ValueError(f"JPEG dimensions {w}x{h} out of range")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            if len(body) < 6 + 3 * nc:
                raise ValueError("JPEG SOF2 component list truncated")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                hi, vi = hv >> 4, hv & 0x0F
                if not (1 <= hi <= 2 and 1 <= vi <= 2):
                    raise ValueError(f"unsupported JPEG sampling {hi}x{vi}")
                comps.append({"id": cid, "h": hi, "v": vi, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            coefs = [
                np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
                for c in comps
            ]
        elif m in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                   0xCD, 0xCE, 0xCF):
            raise ValueError(f"mixed-frame JPEG (SOF{m - 0xC0}) unsupported")
        elif m == 0xDA:  # SOS: one progressive scan
            if frame is None:
                raise ValueError("JPEG SOS before SOF2")
            ns = body[0]
            if len(body) != 1 + 2 * ns + 3 or not 1 <= ns <= len(frame["comps"]):
                raise ValueError("JPEG SOS header malformed")
            scomps, sel = [], {}
            for i in range(ns):
                cs, tt = body[1 + 2 * i : 3 + 2 * i]
                matches = [
                    (ci, c) for ci, c in enumerate(frame["comps"]) if c["id"] == cs
                ]
                if not matches:
                    raise ValueError(f"JPEG scan references unknown component {cs}")
                scomps.append(matches[0])
                sel[matches[0][0]] = (tt >> 4, tt & 0x0F)
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            pos = _prog_decode_scan(
                blob, pos, frame, coefs, huff, scomps, sel, ss, se, ah, al, restart
            )
            saw_scan = True
        # APPn/COM: skipped
    if frame is None or not saw_scan:
        raise ValueError("progressive JPEG has no scan")
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = []
    for ci, c in enumerate(comps):
        if c["tq"] not in quant:
            raise ValueError(f"JPEG missing quant table {c['tq']}")
        q = quant[c["tq"]].astype(np.float64)
        bh, bwid, _ = coefs[ci].shape
        zz = coefs[ci].reshape(-1, 64).astype(np.float64) * q
        nat = np.zeros_like(zz)
        nat[:, _ZIGZAG] = zz
        blocks = np.einsum(
            "ij,njk,kl->nil", _DCT_M.T, nat.reshape(-1, 8, 8), _DCT_M
        )
        plane = (
            blocks.reshape(bh, bwid, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bwid * 8)
        )
        planes.append(plane)
    return _finish_planes(planes, comps, frame["w"], frame["h"], hmax, vmax)


def _prog_decode_scan(
    blob, pos, frame, coefs, huff, scomps, sel, ss, se, ah, al, restart
):
    """Decode ONE progressive scan's entropy data into ``coefs``;
    returns the byte offset just past the scan."""
    if ss == 0:
        if se != 0:
            raise ValueError("JPEG DC scan must have Se=0")
    else:
        if len(scomps) != 1:
            raise ValueError("JPEG AC scans must be single-component")
        if not ss <= se <= 63:
            raise ValueError("JPEG spectral band out of range")
    if ah not in (0, al + 1):
        raise ValueError("JPEG successive approximation must step by one bit")
    interleaved = len(scomps) > 1
    # DC-first scans need a DC table per component; AC scans an AC table;
    # DC-refine scans read raw bits only
    for ci, c in scomps:
        td, ta = sel[ci]
        if ss == 0 and ah == 0 and (0, td) not in huff:
            raise ValueError("JPEG missing DC Huffman table")
        if ss > 0 and (1, ta) not in huff:
            raise ValueError("JPEG missing AC Huffman table")
    br = _BitReader(blob[pos:])
    preds = {ci: 0 for ci, _ in scomps}
    eobrun = 0
    blocks_per_unit = _prog_units_per_restart(frame, scomps, interleaved)
    unit = 0
    nblock = 0
    for ci, by, bx in _prog_block_order(frame, scomps, interleaved):
        if nblock % blocks_per_unit == 0:
            if restart and unit and unit % restart == 0:
                br.n = 0
                if (
                    br.pos + 2 > len(br.data)
                    or br.data[br.pos] != 0xFF
                    or not 0xD0 <= br.data[br.pos + 1] <= 0xD7
                ):
                    raise ValueError("JPEG restart marker missing")
                br.pos += 2
                preds = {k: 0 for k in preds}
                eobrun = 0
            unit += 1
        nblock += 1
        coef = coefs[ci][by, bx]
        td, ta = sel[ci]
        if ss == 0:
            if ah == 0:  # DC first
                s = br.huff(huff[(0, td)])
                if s > 11:
                    raise ValueError(f"invalid JPEG DC magnitude {s}")
                diff = _extend(br.receive(s), s) if s else 0
                preds[ci] += diff
                coef[0] = preds[ci] << al
            else:  # DC refine: one appended bit
                if br.bit():
                    coef[0] = int(coef[0]) | (1 << al)
        elif ah == 0:
            eobrun = _ac_first_block(br, coef, huff[(1, ta)], ss, se, al, eobrun)
        else:
            eobrun = _ac_refine_block(br, coef, huff[(1, ta)], ss, se, al, eobrun)
    return pos + br.pos


def _ac_first_block(br, coef, actab, ss, se, al, eobrun):
    """T.81 G.1.2.2 AC first pass for one block: runs, magnitudes shifted
    up by Al, EOB-run accounting."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = br.huff(actab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.receive(r)
            break
        k += r
        if k > se:
            raise ValueError("JPEG AC run past spectral band")
        coef[k] = _extend(br.receive(s), s) << al
        k += 1
    return eobrun


def _ac_refine_block(br, coef, actab, ss, se, al, eobrun):
    """T.81 G.1.2.3 AC refinement for one block: newly-significant
    coefficients arrive as ±1<<Al; already-nonzero coefficients receive
    correction bits (including inside zero-runs and EOB runs)."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = br.huff(actab)
            r, s = rs >> 4, rs & 0x0F
            s_val = 0
            if s == 0:
                if r != 15:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.receive(r)
                    eobrun += 1  # includes THIS block's correction tail
                    break
                # r == 15: sixteen zero-history coefficients skipped
            else:
                if s != 1:
                    raise ValueError("JPEG AC refine magnitude != 1")
                s_val = p1 if br.bit() else m1
            while k <= se:
                if coef[k] != 0:
                    if br.bit() and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s_val and k <= se:
                coef[k] = s_val
            k += 1
    if eobrun > 0:
        while k <= se:
            if coef[k] != 0:
                if br.bit() and (coef[k] & p1) == 0:
                    coef[k] += p1 if coef[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


class _BitWriter:
    """MSB-first bit writer with T.81 0xFF00 byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        # pad the final byte with 1-bits per the spec
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)


def _huff_encode_table(bits: list[int], values: list[int]) -> dict:
    """symbol -> (code, length) for a canonical T.81 table."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[values[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return table


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex K base tables (public formula:
    scale = 5000/q below 50 else 200-2q, clamp each entry to 1..255)."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    ql = np.clip((_QL_BASE * scale + 50) // 100, 1, 255).astype(np.int32)
    qc = np.clip((_QC_BASE * scale + 50) // 100, 1, 255).astype(np.int32)
    return ql, qc


def _encode_block(
    bw: _BitWriter, block: np.ndarray, quant: np.ndarray, dc_tab: dict, ac_tab: dict, pred: int
) -> int:
    f = _DCT_M @ block @ _DCT_M.T
    zz = np.rint(f.reshape(64)[_ZIGZAG] / quant).astype(np.int32)
    diff = int(zz[0]) - pred
    pred = int(zz[0])
    s = int(diff).bit_length() if diff else 0
    code, length = dc_tab[s]
    bw.write(code, length)
    if s:
        bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if k > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_tab[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        s = abs(v).bit_length()
        code, length = ac_tab[(run << 4) | s]
        bw.write(code, length)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, length = ac_tab[0x00]  # EOB
        bw.write(code, length)
    return pred


_SUBSAMPLING = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}


def _prep_jpeg_planes(pixels, quality, subsampling):
    """Shared encoder front-end: validate, color-convert, box-downsample
    chroma, edge-pad every plane to its MCU-aligned block grid. Returns
    (planes, qtabs, sampling, mcux, mcuy, h, w, nc, ql, qc) — used by the
    baseline and progressive encoders so both produce IDENTICAL
    quantized coefficients for the same input."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nc = arr.shape
    if nc not in (1, 3):
        raise ValueError(f"encode_jpeg needs 1 or 3 channels, got {nc}")
    if subsampling not in _SUBSAMPLING:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    hy, vy = _SUBSAMPLING[subsampling] if nc == 3 else (1, 1)
    ql, qc = _quality_tables(quality)
    p = arr.astype(np.float64)
    if nc == 3:
        r, g, b = p[:, :, 0], p[:, :, 1], p[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
        qtabs = [ql, qc, qc]
        sampling = [(hy, vy), (1, 1), (1, 1)]
    else:
        planes = [p[:, :, 0]]
        qtabs = [ql]
        sampling = [(1, 1)]
    # MCU grid is set by the max factors; each plane is downsampled by
    # (hmax/h_i, vmax/v_i) box mean, then edge-padded to its block grid
    mcux = -(-w // (8 * hy))
    mcuy = -(-h // (8 * vy))
    prepped = []
    for pl, (hi, vi) in zip(planes, sampling):
        fy, fx = vy // vi, hy // hi
        if fy > 1 or fx > 1:
            # pad to factor multiples, then box-average
            py_, px_ = -(-pl.shape[0] // fy) * fy, -(-pl.shape[1] // fx) * fx
            q = np.pad(
                pl, ((0, py_ - pl.shape[0]), (0, px_ - pl.shape[1])), mode="edge"
            )
            pl = q.reshape(py_ // fy, fy, px_ // fx, fx).mean(axis=(1, 3))
        th, tw = mcuy * vi * 8, mcux * hi * 8
        prepped.append(
            np.pad(
                pl, ((0, th - pl.shape[0]), (0, tw - pl.shape[1])), mode="edge"
            )
            - 128.0
        )
    return prepped, qtabs, sampling, mcux, mcuy, h, w, nc, ql, qc


def encode_jpeg(
    pixels: np.ndarray, quality: int = 85, subsampling: str = "444"
) -> bytes:
    """Baseline sequential JPEG (SOF0, Annex K typical Huffman tables,
    IJG quality-scaled quant tables) from (h, w, 3) RGB or
    (h, w)/(h, w, 1) grayscale uint8. ``subsampling`` picks the luma
    sampling factors — '444' (1x1), '422' (2x1), '420' (2x2, chroma box
    -averaged) — so the decoder's interleaved-MCU paths are testable
    from self-contained fixtures. The counterpart of ``decode_jpeg``
    for roundtrip tests and fixture synthesis."""
    planes, qtabs, sampling, mcux, mcuy, h, w, nc, ql, qc = _prep_jpeg_planes(
        pixels, quality, subsampling
    )

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(ql.astype(np.uint8)))
    if nc == 3:
        out += seg(0xDB, bytes([1]) + bytes(qc.astype(np.uint8)))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for i in range(nc):
        hi, vi = sampling[i]
        sof += bytes([i + 1, (hi << 4) | vi, 0 if i == 0 else 1])
    out += seg(0xC0, sof)
    tabs = [(_DC_L, 0x00), (_AC_L, 0x10)]
    if nc == 3:
        tabs += [(_DC_C, 0x01), (_AC_C, 0x11)]
    for (bits, vals), tid in tabs:
        out += seg(0xC4, bytes([tid]) + bytes(bits) + bytes(vals))
    sos = bytes([nc])
    for i in range(nc):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    dc_l, ac_l = _huff_encode_table(*_DC_L), _huff_encode_table(*_AC_L)
    dc_c, ac_c = _huff_encode_table(*_DC_C), _huff_encode_table(*_AC_C)
    bw = _BitWriter()
    preds = [0] * nc
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(nc):
                hi, vi = sampling[ci]
                dct, act = (dc_l, ac_l) if ci == 0 else (dc_c, ac_c)
                for by in range(vi):
                    for bx in range(hi):
                        y0 = (my * vi + by) * 8
                        x0 = (mx * hi + bx) * 8
                        preds[ci] = _encode_block(
                            bw,
                            planes[ci][y0 : y0 + 8, x0 : x0 + 8],
                            qtabs[ci],
                            dct,
                            act,
                            preds[ci],
                        )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def _plane_coefs(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """(bh, bw, 64) int32 zigzag quantized coefficients for one padded
    plane — the same rint(F/Q) the baseline encoder applies per block,
    vectorized, so progressive and baseline encodings of one input carry
    IDENTICAL coefficient data."""
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    f = np.einsum("ij,nbjk,kl->nbil", _DCT_M, blocks, _DCT_M.T)
    return np.rint(f.reshape(bh, bw, 64)[:, :, _ZIGZAG] / qtab).astype(np.int32)


def _fixed_length_table(symbols: set) -> tuple[list[int], list[int]]:
    """Canonical T.81 table giving every used symbol the same length L
    with one codepoint spare (the all-ones code stays unused, as the
    spec's table-building procedure guarantees). Deterministic: values
    sorted ascending."""
    values = sorted(symbols)
    n = max(1, len(values))
    length = 1
    while (1 << length) - 1 < n:
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    return bits, values


def _shifted_mag(v: int, al: int) -> int:
    """T.81 AC point transform: magnitude shifted toward zero."""
    return abs(int(v)) >> al


class _ScanEvents:
    """Symbol/bit event recorder for one progressive scan: first pass
    collects the Huffman symbol set, second pass writes DHT + SOS +
    entropy-coded data."""

    def __init__(self) -> None:
        self.events: list[tuple] = []
        self.symbols: set[int] = set()

    def sym(self, s: int) -> None:
        self.events.append(("s", s))
        self.symbols.add(s)

    def bits(self, v: int, n: int) -> None:
        if n:
            self.events.append(("b", v, n))

    def rst(self, m: int) -> None:
        self.events.append(("r", m))

    def write(self, bw: "_BitWriter", enc_table: dict | None, out: bytearray) -> None:
        for ev in self.events:
            if ev[0] == "s":
                code, length = enc_table[ev[1]]
                bw.write(code, length)
            elif ev[0] == "b":
                bw.write(ev[1], ev[2])
            else:  # restart: byte-align, emit RSTm, fresh writer state
                bw.flush()
                out += bw.out
                bw.out = bytearray()
                out += bytes([0xFF, 0xD0 + ev[1]])
        bw.flush()
        out += bw.out
        bw.out = bytearray()


def _enc_dc_first_scan(ev, coefs, frame, scomps, al, restart):
    preds = {ci: 0 for ci, _ in scomps}
    blocks_per_unit = _prog_units_per_restart(frame, scomps, len(scomps) > 1)
    unit = nblock = 0
    rst_i = 0
    for ci, by, bx in _prog_block_order(frame, scomps, len(scomps) > 1):
        if nblock % blocks_per_unit == 0:
            if restart and unit and unit % restart == 0:
                ev.rst(rst_i % 8)
                rst_i += 1
                preds = {k: 0 for k in preds}
            unit += 1
        nblock += 1
        val = int(coefs[ci][by, bx, 0]) >> al  # DC: arithmetic shift
        diff = val - preds[ci]
        preds[ci] = val
        s = abs(diff).bit_length()
        ev.sym(s)
        if s:
            ev.bits(diff if diff > 0 else diff + (1 << s) - 1, s)


def _enc_dc_refine_scan(ev, coefs, frame, scomps, al):
    for ci, by, bx in _prog_block_order(frame, scomps, len(scomps) > 1):
        ev.bits((int(coefs[ci][by, bx, 0]) >> al) & 1, 1)


def _enc_ac_first_scan(ev, coefs, frame, scomps, ss, se, al):
    eobrun = 0

    def emit_eobrun():
        nonlocal eobrun
        if eobrun:
            nbits = eobrun.bit_length() - 1
            ev.sym(nbits << 4)
            ev.bits(eobrun - (1 << nbits), nbits)
            eobrun = 0

    for ci, by, bx in _prog_block_order(frame, scomps, False):
        coef = coefs[ci][by, bx]
        vals = [
            (_shifted_mag(coef[k], al) if coef[k] >= 0 else -_shifted_mag(coef[k], al))
            for k in range(ss, se + 1)
        ]
        last_nz = max((i for i, v in enumerate(vals) if v), default=-1)
        if last_nz < 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                emit_eobrun()
            continue
        emit_eobrun()
        r = 0
        for i in range(last_nz + 1):
            v = vals[i]
            if v == 0:
                r += 1
                continue
            while r > 15:
                ev.sym(0xF0)
                r -= 16
            s = abs(v).bit_length()
            ev.sym((r << 4) | s)
            ev.bits(v if v > 0 else v + (1 << s) - 1, s)
            r = 0
        if last_nz < se - ss:
            eobrun += 1
            if eobrun == 0x7FFF:
                emit_eobrun()
    emit_eobrun()


def _enc_ac_refine_scan(ev, coefs, frame, scomps, ss, se, al):
    """libjpeg's encode_mcu_AC_refine event-for-event: correction bits of
    already-nonzero coefficients buffer up and flush after the next
    emitted symbol (ZRL, newly-significant, or the deferred EOBn)."""
    eobrun = 0
    be: list[int] = []  # correction bits pending with the deferred EOBn

    def emit_eobrun():
        nonlocal eobrun, be
        if eobrun:
            nbits = eobrun.bit_length() - 1
            ev.sym(nbits << 4)
            ev.bits(eobrun - (1 << nbits), nbits)
            for b in be:
                ev.bits(b, 1)
            be = []
            eobrun = 0

    for ci, by, bx in _prog_block_order(frame, scomps, False):
        coef = coefs[ci][by, bx]
        absv = [_shifted_mag(coef[k], al) for k in range(ss, se + 1)]
        eob = max((i for i, t in enumerate(absv) if t == 1), default=-1)
        r = 0
        br: list[int] = []  # bits pending with this block's next symbol
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            while r > 15 and i <= eob:
                emit_eobrun()
                ev.sym(0xF0)
                r -= 16
                for b in br:
                    ev.bits(b, 1)
                br = []
            if t > 1:
                br.append(t & 1)
                continue
            emit_eobrun()
            ev.sym((r << 4) | 1)
            ev.bits(1 if coef[ss + i] >= 0 else 0, 1)
            for b in br:
                ev.bits(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            be.extend(br)
            if eobrun == 0x7FFF or len(be) > 900:
                emit_eobrun()
    emit_eobrun()


def encode_jpeg_progressive(
    pixels: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Progressive JPEG (SOF2) with the classic libjpeg-style scan
    script: interleaved DC first at Al=1, spectral-split luma AC (1-5,
    6-63) descending two approximation bits, full-band chroma AC, DC
    refine, then AC refinement scans down to Al=0. Coefficients are the
    SAME rint(F/Q) the baseline encoder produces, so decoding a
    progressive encoding must yield pixels IDENTICAL to the baseline
    encoding of the same input — the roundtrip the tests pin. Each scan
    carries its own fixed-length Huffman table (progressive EOBn symbols
    are not in the Annex K baseline tables). ``restart_interval``
    applies to the DC-first scan (DRI is reset to 0 afterwards)."""
    planes, qtabs, sampling, mcux, mcuy, h, w, nc, ql, qc = _prep_jpeg_planes(
        pixels, quality, subsampling
    )
    coefs = [_plane_coefs(pl, qt) for pl, qt in zip(planes, qtabs)]
    comps = [
        {"id": i + 1, "h": hi, "v": vi, "tq": 0 if i == 0 else 1}
        for i, (hi, vi) in enumerate(sampling)
    ]
    frame = {"w": w, "h": h, "comps": comps}
    all_c = list(enumerate(comps))

    # scan script: (kind, comps, Ss, Se, Ah, Al)
    if nc == 1:
        script = [
            ("dc", all_c, 0, 0, 0, 1),
            ("ac", [all_c[0]], 1, 5, 0, 1),
            ("ac", [all_c[0]], 6, 63, 0, 1),
            ("dcr", all_c, 0, 0, 1, 0),
            ("acr", [all_c[0]], 1, 5, 1, 0),
            ("acr", [all_c[0]], 6, 63, 1, 0),
        ]
    else:
        script = [
            ("dc", all_c, 0, 0, 0, 1),
            ("ac", [all_c[0]], 1, 5, 0, 2),
            ("ac", [all_c[1]], 1, 63, 0, 1),
            ("ac", [all_c[2]], 1, 63, 0, 1),
            ("ac", [all_c[0]], 6, 63, 0, 2),
            ("dcr", all_c, 0, 0, 1, 0),
            ("acr", [all_c[0]], 1, 5, 2, 1),
            ("acr", [all_c[0]], 6, 63, 2, 1),
            ("acr", [all_c[1]], 1, 63, 1, 0),
            ("acr", [all_c[2]], 1, 63, 1, 0),
            ("acr", [all_c[0]], 1, 5, 1, 0),
            ("acr", [all_c[0]], 6, 63, 1, 0),
        ]

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(ql.astype(np.uint8)))
    if nc == 3:
        out += seg(0xDB, bytes([1]) + bytes(qc.astype(np.uint8)))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for c in comps:
        sof += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    out += seg(0xC2, sof)

    dri_active = 0
    for si, (kind, scomps, ss, se, ah, al) in enumerate(script):
        want_dri = restart_interval if kind == "dc" else 0
        if want_dri != dri_active:
            out += seg(0xDD, struct.pack(">H", want_dri))
            dri_active = want_dri
        ev = _ScanEvents()
        if kind == "dc":
            _enc_dc_first_scan(ev, coefs, frame, scomps, al, want_dri)
        elif kind == "dcr":
            _enc_dc_refine_scan(ev, coefs, frame, scomps, al)
        elif kind == "ac":
            _enc_ac_first_scan(ev, coefs, frame, scomps, ss, se, al)
        else:
            _enc_ac_refine_scan(ev, coefs, frame, scomps, ss, se, al)
        enc_table = None
        if ev.symbols:
            tclass = 0 if kind == "dc" else 1
            bits, values = _fixed_length_table(ev.symbols)
            out += seg(
                0xC4, bytes([(tclass << 4) | 0]) + bytes(bits) + bytes(values)
            )
            enc_table = _huff_encode_table(bits, values)
        sos = bytes([len(scomps)])
        for _, c in scomps:
            tt = 0x00 if kind in ("dc", "dcr") else 0x00  # table id 0 both
            sos += bytes([c["id"], tt])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos)
        ev.write(_BitWriter(), enc_table, out)
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# GIF (GIF87a/89a): LZW, single-frame and composited animation paths.
# With PNG and baseline JPEG above this completes the image tier; only
# video remains behind the seam.
# ---------------------------------------------------------------------------


def _gif_lzw_decode(data: bytes, min_code: int, expected: int) -> bytes:
    """Variable-width LSB-first LZW (the GIF dialect: early-change width
    growth, 4096-entry cap, clear/end codes). ValueError on truncation
    or an out-of-range code."""
    if not 2 <= min_code <= 11:
        raise ValueError(f"GIF LZW min code size {min_code} out of range")
    clear, end = 1 << min_code, (1 << min_code) + 1

    def fresh() -> list[bytes | None]:
        t: list[bytes | None] = [bytes([i]) for i in range(clear)]
        t += [None, None]  # clear / end placeholders
        return t

    table = fresh()
    width = min_code + 1
    out = bytearray()
    bitpos = 0
    nbits = 8 * len(data)
    prev: bytes | None = None
    while True:
        if bitpos + width > nbits:
            raise ValueError("GIF LZW stream truncated (no end code)")
        code = 0
        for i in range(width):
            code |= ((data[(bitpos + i) >> 3] >> ((bitpos + i) & 7)) & 1) << i
        bitpos += width
        if code == clear:
            table = fresh()
            width = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table) or table[code] is None:
                raise ValueError("GIF LZW first code out of range")
            entry = table[code]
        else:
            if code < len(table) and table[code] is not None:
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise ValueError("GIF LZW code out of range")
            if len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
        out += entry
        prev = entry
        if len(out) > expected:
            raise ValueError("GIF LZW output overruns image size")
    if len(out) != expected:
        raise ValueError("GIF LZW output short of image size")
    return bytes(out)


_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # interlace start/step


def decode_gif(blob: bytes) -> np.ndarray:
    """(h, w, 3) uint8 RGB of the FIRST image frame of a GIF87a/89a —
    full LZW decode, local/global color tables, interlacing, frames
    placed on the logical screen (uncovered area takes the background
    color). Animation beyond frame one and GCE transparency are out of
    scope for the stats kernels (documented; later frames are ignored,
    transparent pixels keep their palette color). ValueError on any
    malformed shape — the quarantine contract."""
    try:
        return _decode_gif_inner(blob)
    except (IndexError, struct.error) as e:
        # bytes indexing past the end raises IndexError; the kernels
        # catch only ValueError
        raise ValueError(f"truncated GIF: {e}") from e


def _decode_gif_inner(blob: bytes) -> np.ndarray:
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(blob) < 13:
        raise ValueError("GIF header truncated")
    w, h = struct.unpack("<HH", blob[6:10])
    packed, bg = blob[10], blob[11]
    if w == 0 or h == 0 or w * h > _MAX_PIXELS:
        raise ValueError(f"GIF dimensions {w}x{h} out of range")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if pos + 3 * n > len(blob):
            raise ValueError("GIF global color table truncated")
        gct = np.frombuffer(blob, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(blob):
        marker = blob[pos]
        if marker == 0x3B:  # trailer before any image
            raise ValueError("GIF has no image data")
        if marker == 0x21:  # extension: label + sub-blocks
            pos += 2
            while blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
        elif marker == 0x2C:
            left, top, iw, ih = struct.unpack("<HHHH", blob[pos + 1 : pos + 9])
            ipk = blob[pos + 9]
            pos += 10
            ct = gct
            if ipk & 0x80:
                n = 2 << (ipk & 7)
                if pos + 3 * n > len(blob):
                    raise ValueError("GIF local color table truncated")
                ct = np.frombuffer(blob, np.uint8, 3 * n, pos).reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise ValueError("GIF image without any color table")
            if iw == 0 or ih == 0 or left + iw > w or top + ih > h:
                raise ValueError("GIF frame exceeds logical screen")
            min_code = blob[pos]
            pos += 1
            data = bytearray()
            while blob[pos] != 0:
                ln = blob[pos]
                chunk = blob[pos + 1 : pos + 1 + ln]
                if len(chunk) != ln:
                    raise ValueError("GIF image sub-block truncated")
                data += chunk
                pos += 1 + ln
            pos += 1
            idx = np.frombuffer(
                _gif_lzw_decode(bytes(data), min_code, iw * ih), np.uint8
            )
            if int(idx.max(initial=0)) >= len(ct):
                raise ValueError("GIF pixel index outside color table")
            rows = idx.reshape(ih, iw)
            if ipk & 0x40:  # interlaced: rows arrive in 4 passes
                ordered = np.empty_like(rows)
                src = 0
                for start, step in _GIF_PASSES:
                    for y in range(start, ih, step):
                        ordered[y] = rows[src]
                        src += 1
                rows = ordered
            canvas = np.full(
                (h, w, 3),
                ct[bg] if (gct is not None and bg < len(gct)) else 0,
                dtype=np.uint8,
            )
            canvas[top : top + ih, left : left + iw] = ct[rows]
            return canvas
        else:
            raise ValueError(f"unknown GIF block 0x{marker:02X}")
    raise ValueError("GIF stream ended without trailer or image")


def _gif_lzw_encode(data: bytes, min_code: int) -> bytes:
    """GIF-dialect LZW compressor (mirrors _gif_lzw_decode's table
    discipline exactly: early-change width growth, 4096-entry cap,
    leading clear code, trailing end code), packed LSB-first."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    codes: list[tuple[int, int]] = [(clear, min_code + 1)]
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = min_code + 1
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        codes.append((table[cur], width))
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        cur = bytes([b])
    if cur:
        codes.append((table[cur], width))
    codes.append((end, width))
    acc = 0
    nacc = 0
    payload = bytearray()
    for code, cw in codes:
        acc |= code << nacc
        nacc += cw
        while nacc >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    if nacc:
        payload.append(acc & 0xFF)
    return bytes(payload)


# Animation bomb guard (mirrors the PNG zlib-bomb cap): an uncapped
# animated GIF amplifies ~1000x (sub-rect deltas -> full-canvas frames),
# so a crafted multi-MB blob could OOM an executor. Exceeding either
# budget raises ValueError -> quarantine, same contract as _MAX_PIXELS.
_GIF_MAX_FRAMES = 1_000
_GIF_MAX_TOTAL_PIXELS = 1 << 25  # ~96 MB of uint8 RGB canvases


def decode_gif_frames(blob: bytes, max_frames: int | None = None) -> list[np.ndarray]:
    """All composited frames of an (optionally animated) GIF89a as
    (h, w, 3) uint8 canvases — REAL interframe decoding: per-frame
    Graphic Control Extensions drive transparency (transparent pixels
    keep the prior canvas content) and disposal (1/none = leave,
    2 = restore the frame rect to background, 3 = restore to the
    pre-frame canvas). This is the inter-frame delta model animated
    GIFs actually ship (sub-rect frames + transparency = motion deltas),
    so frame sampling over web GIFs composites correctly instead of
    returning torn partial rects. ValueError on malformed/truncated
    input (quarantine contract). Without an explicit ``max_frames``
    decoding is budget-capped (``_GIF_MAX_FRAMES`` frames /
    ``_GIF_MAX_TOTAL_PIXELS`` total canvas pixels) and raises
    ValueError past it — the animation analog of the PNG inflate
    guard; an explicit ``max_frames`` TRUNCATES instead (the sampling
    path, where the caller bounds its own read)."""
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(blob) < 13:
        raise ValueError("GIF header truncated")
    w, h = struct.unpack("<HH", blob[6:10])
    packed, bg = blob[10], blob[11]
    if w == 0 or h == 0 or w * h > _MAX_PIXELS:
        raise ValueError(f"GIF dimensions {w}x{h} out of range")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if pos + 3 * n > len(blob):
            raise ValueError("GIF global color table truncated")
        gct = np.frombuffer(blob, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    bg_rgb = (
        gct[bg] if (gct is not None and bg < len(gct)) else np.zeros(3, np.uint8)
    )
    canvas = np.full((h, w, 3), bg_rgb, dtype=np.uint8)
    frames: list[np.ndarray] = []
    # pending GCE state for the NEXT image descriptor
    disposal, transparent = 0, None
    while pos < len(blob):
        marker = blob[pos]
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension
            if pos + 2 > len(blob):
                raise ValueError("GIF extension truncated")
            label = blob[pos + 1]
            pos += 2
            subs = []
            while pos < len(blob) and blob[pos] != 0:
                ln = blob[pos]
                chunk = blob[pos + 1 : pos + 1 + ln]
                if len(chunk) != ln:
                    raise ValueError("GIF extension sub-block truncated")
                subs.append(chunk)
                pos += 1 + ln
            if pos >= len(blob):
                raise ValueError("GIF extension unterminated")
            pos += 1
            if label == 0xF9 and subs and len(subs[0]) >= 4:
                gpk = subs[0][0]
                disposal = (gpk >> 2) & 0x07
                transparent = subs[0][3] if gpk & 0x01 else None
        elif marker == 0x2C:
            if pos + 10 > len(blob):
                raise ValueError("GIF image descriptor truncated")
            left, top, iw, ih = struct.unpack("<HHHH", blob[pos + 1 : pos + 9])
            ipk = blob[pos + 9]
            pos += 10
            ct = gct
            if ipk & 0x80:
                n = 2 << (ipk & 7)
                if pos + 3 * n > len(blob):
                    raise ValueError("GIF local color table truncated")
                ct = np.frombuffer(blob, np.uint8, 3 * n, pos).reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise ValueError("GIF image without any color table")
            if iw == 0 or ih == 0 or left + iw > w or top + ih > h:
                raise ValueError("GIF frame exceeds logical screen")
            if pos >= len(blob):
                raise ValueError("GIF image data truncated")
            min_code = blob[pos]
            pos += 1
            data = bytearray()
            while pos < len(blob) and blob[pos] != 0:
                ln = blob[pos]
                chunk = blob[pos + 1 : pos + 1 + ln]
                if len(chunk) != ln:
                    raise ValueError("GIF image sub-block truncated")
                data += chunk
                pos += 1 + ln
            if pos >= len(blob):
                raise ValueError("GIF image data unterminated")
            pos += 1
            idx = np.frombuffer(
                _gif_lzw_decode(bytes(data), min_code, iw * ih), np.uint8
            )
            if int(idx.max(initial=0)) >= len(ct):
                raise ValueError("GIF pixel index outside color table")
            rows = idx.reshape(ih, iw)
            if ipk & 0x40:  # interlaced
                ordered = np.empty_like(rows)
                src_row = 0
                for start, step in _GIF_PASSES:
                    for y in range(start, ih, step):
                        ordered[y] = rows[src_row]
                        src_row += 1
                rows = ordered
            saved = (
                canvas[top : top + ih, left : left + iw].copy()
                if disposal == 3
                else None
            )
            rect = canvas[top : top + ih, left : left + iw]
            if transparent is not None:
                opaque = rows != transparent
                rect[opaque] = ct[rows[opaque]]
            else:
                rect[:] = ct[rows]
            frames.append(canvas.copy())
            if max_frames is not None and len(frames) >= max_frames:
                return frames
            if max_frames is None and (
                len(frames) >= _GIF_MAX_FRAMES
                or len(frames) * w * h > _GIF_MAX_TOTAL_PIXELS
            ):
                raise ValueError("GIF decoded-frame budget exceeds decode cap")
            if disposal == 2:
                canvas[top : top + ih, left : left + iw] = bg_rgb
            elif disposal == 3:
                canvas[top : top + ih, left : left + iw] = saved
            disposal, transparent = 0, None
        else:
            raise ValueError(f"unknown GIF block 0x{marker:02X}")
    if not frames:
        raise ValueError("GIF has no image data")
    return frames


def encode_gif_animation(
    frames: list[np.ndarray],
    disposals: list[int] | None = None,
    loop: int = 0,
) -> bytes:
    """Animated GIF89a from a list of (h, w, 3)/(h, w) uint8 frames,
    encoded the way real optimizers do: frame 0 ships the full canvas;
    every later frame ships only the BOUNDING RECT of pixels that
    changed, with unchanged pixels inside the rect marked transparent —
    so decoding requires genuine inter-frame compositing. One global
    palette (<= 255 distinct colors across all frames; one index is
    reserved for transparency). ``disposals`` overrides the per-frame
    disposal method (default 1 = leave); pass 2/3 to exercise the
    restore paths. The roundtrip counterpart of ``decode_gif_frames``."""
    if not frames:
        raise ValueError("encode_gif_animation needs at least one frame")
    arrs = []
    for f in frames:
        a = np.asarray(f, dtype=np.uint8)
        if a.ndim == 2:
            a = a[:, :, None]
        if a.shape[2] == 1:
            a = np.repeat(a, 3, axis=2)
        if a.ndim != 3 or a.shape[2] != 3:
            raise ValueError("frames must be (h,w,3) or grayscale")
        arrs.append(a)
    h, w = arrs[0].shape[:2]
    if any(a.shape[:2] != (h, w) for a in arrs):
        raise ValueError("all frames must share one canvas size")
    colors = np.unique(np.concatenate([a.reshape(-1, 3) for a in arrs]), axis=0)
    if len(colors) > 255:
        raise ValueError(f"GIF animation needs <= 255 colors, got {len(colors)}")
    lut = {tuple(c): i for i, c in enumerate(colors)}
    t_idx = len(colors)  # reserved transparency index
    n_pal = 1
    while (2 << n_pal - 1) < t_idx + 1:
        n_pal += 1
    pal_size = 2 << (n_pal - 1)
    palette = np.zeros((pal_size, 3), np.uint8)
    palette[: len(colors)] = colors
    disposals = disposals or [1] * len(arrs)

    def indices(a):
        flat = a.reshape(-1, 3)
        return np.array([lut[tuple(px)] for px in flat], np.uint8).reshape(
            a.shape[:2]
        )

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (n_pal - 1), 0, 0])  # GCT flag+size, bg=0, no aspect
    out += palette.tobytes()
    # NETSCAPE looping extension
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01" + struct.pack("<H", loop) + b"\x00"
    canvas = None
    for fi, a in enumerate(arrs):
        disp = disposals[fi] if fi < len(disposals) else 1
        if canvas is None or disp in (2, 3):
            left = top = 0
            iw, ih = w, h
            rect_idx = indices(a)
            transparent = None
        else:
            diff = np.any(a != canvas, axis=2)
            if not diff.any():
                # no change: 1x1 fully-transparent rect keeps the frame
                left = top = 0
                iw = ih = 1
                rect_idx = np.full((1, 1), t_idx, np.uint8)
                transparent = t_idx
            else:
                ys, xs = np.where(diff)
                top, left = int(ys.min()), int(xs.min())
                ih, iw = int(ys.max()) - top + 1, int(xs.max()) - left + 1
                sub = a[top : top + ih, left : left + iw]
                unchanged = ~diff[top : top + ih, left : left + iw]
                rect_idx = indices(sub)
                rect_idx[unchanged] = t_idx
                transparent = t_idx
        # GCE: disposal + transparency
        gpk = (disp & 0x07) << 2 | (1 if transparent is not None else 0)
        out += bytes([0x21, 0xF9, 4, gpk, 0, 0, transparent or 0, 0])
        out += bytes([0x2C]) + struct.pack("<HHHH", left, top, iw, ih)
        out += bytes([0])  # no local table, not interlaced
        min_code = max(n_pal, 2)
        out += bytes([min_code])
        lzw = _gif_lzw_encode(rect_idx.reshape(-1).tobytes(), min_code)
        for off in range(0, len(lzw), 255):
            chunk = lzw[off : off + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
        # maintain the reference canvas the way the DECODER will:
        # the shown content is always `a`; disposal then rewrites the rect
        if disp == 2:
            canvas = a.copy()
            canvas[top : top + ih, left : left + iw] = palette[0]
        elif disp == 3:
            if canvas is None:
                canvas = np.full((h, w, 3), palette[0], np.uint8)
            # pre-frame canvas restored: unchanged
        else:
            canvas = a.copy()
    out += b"\x3b"
    return bytes(out)


def encode_gif(pixels: np.ndarray) -> bytes:
    """Lossless GIF89a from (h, w, 3) RGB or (h, w)/(h, w, 1) gray uint8
    with at most 256 distinct colors (ValueError above — GIF is
    palettized; quantization is a policy, not a codec). Single
    non-interlaced frame, global color table, standard LZW."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.shape[2] == 1:
        arr = np.repeat(arr, 3, axis=2)
    h, w, _ = arr.shape
    flat = arr.reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"GIF needs <=256 colors, got {len(colors)}")
    size_field = 0
    while (2 << size_field) < max(len(colors), 2):
        size_field += 1
    n_entries = 2 << size_field
    palette = np.zeros((n_entries, 3), dtype=np.uint8)
    palette[: len(colors)] = colors
    min_code = max(2, size_field + 1)
    payload = _gif_lzw_encode(idx.astype(np.uint8).tobytes(), min_code)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | size_field, 0, 0])  # GCT flag+size, bg 0, aspect 0
    out += palette.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([0, min_code])
    for i in range(0, len(payload), 255):
        block = payload[i : i + 255]
        out += bytes([len(block)]) + block
    out += b"\x00\x3b"
    return bytes(out)


# ---------------------------------------------------------------------------
# Video: RIFF-AVI MJPEG — a demuxer over the JPEG decoder above. Every
# frame is an independent baseline JPEG ('00dc'/'00db' chunks inside the
# 'movi' LIST), so dependency-free decode is honest; interframe codecs
# (H.264/VP9/AV1) are genuinely out of scope without a library and stay
# gated via the unsupported-fourcc ValueError.
# ---------------------------------------------------------------------------

_MAX_FRAMES = 100_000


def mjpeg_frames(blob: bytes) -> list[bytes]:
    """The JPEG payload of every video frame chunk of a RIFF-AVI, in
    stream order — parse only, no pixel decode (callers sample/decode
    per frame). ValueError on non-AVI, truncated chunks, or a stream
    with no video frames (the quarantine contract)."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI blob")
    frames: list[bytes] = []

    # Explicit-stack LIST traversal: a crafted blob with thousands of
    # nested LIST headers must hit the quarantine ValueError, never
    # RecursionError (which would escape the ValueError-only contract
    # and kill the Spark task instead of dropping the row).
    stack: list[tuple[int, int]] = [
        (12, min(len(blob), 8 + struct.unpack("<I", blob[4:8])[0]))
    ]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            tag = blob[pos : pos + 4]
            (length,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
            body_end = pos + 8 + length
            if body_end > end:
                raise ValueError("AVI chunk overruns container")
            if tag == b"LIST":
                # resume this level after the nested list body; stack
                # depth == LIST nesting depth, capped (real RIFF is ~3)
                if len(stack) >= 64:
                    raise ValueError("AVI LIST nesting exceeds depth cap")
                stack.append((body_end + (length & 1), end))
                pos, end = pos + 12, body_end  # skip the 4-byte list type
                continue
            if tag[2:4] in (b"dc", b"db") and tag[:2].isdigit():
                frames.append(blob[pos + 8 : body_end])
                if len(frames) > _MAX_FRAMES:
                    raise ValueError("AVI frame count exceeds decode cap")
            pos = body_end + (length & 1)  # chunks are word-aligned
    if not frames:
        raise ValueError("AVI has no video frame chunks")
    return frames


def decode_avi_mjpeg(blob: bytes) -> list[np.ndarray]:
    """Every frame of an MJPEG AVI as (h, w, c) uint8 — each chunk is a
    standalone baseline JPEG. A non-JPEG frame chunk (an interframe
    codec) raises ValueError, so e.g. an H.264 AVI quarantines instead
    of mis-decoding."""
    return [decode_jpeg(f) for f in mjpeg_frames(blob)]


def encode_avi_mjpeg(
    frames: list[np.ndarray], fps: int = 10, quality: int = 85
) -> bytes:
    """Minimal single-stream MJPEG AVI from uint8 frame arrays (all the
    same shape) — RIFF('AVI ' hdrl(avih, strl(strh, strf)) movi(00dc*)).
    The test-fixture counterpart of ``decode_avi_mjpeg``."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    payloads = []
    for f in frames:
        if f.shape[:2] != (h, w):
            raise ValueError("all frames must share one shape")
        payloads.append(encode_jpeg(f, quality=quality))

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // max(fps, 1),  # us per frame
        0, 0, 0,
        len(payloads), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(payloads), 0, 0, 0, 0)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, w * h * 3, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def video_stats(
    blob: bytes, every_n: int = 1
) -> tuple[int, int, int, list[tuple[int, float]]]:
    """(n_frames, width, height, [(frame_idx, mean_luma_0_1)]) for every
    ``every_n``-th frame of an MJPEG AVI or an ANIMATED GIF (composited
    inter-frame, decode_gif_frames) — the per-blob summary of the
    frames multimodal.sample_frames emits."""
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        gif = decode_gif_frames(blob)
        stats = [
            (idx, float(luma(gif[idx]).mean()) / 255.0)
            for idx in range(0, len(gif), max(every_n, 1))
        ]
        h, w = gif[0].shape[:2]
        return len(gif), w, h, stats
    frames = mjpeg_frames(blob)
    stats = []
    w = h = 0
    for idx in range(0, len(frames), max(every_n, 1)):
        px = decode_jpeg(frames[idx])
        h, w = px.shape[:2]
        stats.append((idx, float(luma(px).mean()) / 255.0))
    return len(frames), w, h, stats

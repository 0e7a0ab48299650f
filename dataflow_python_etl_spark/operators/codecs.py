"""Pure-stdlib/numpy codecs for multimodal containers — the
real-decode integration point behind ``operators.multimodal``'s
kernels (SURVEY.md §2.4 multimodal).

The sandbox has no image/audio libraries, but netpbm (P5/P6), BI_RGB
24-bit BMP, and PCM WAV are plain headers over raw sample arrays —
decodable with ``struct`` + ``numpy`` alone — and PNG's DEFLATE layer
is stdlib ``zlib``, so non-interlaced 8-bit PNG (gray, gray+alpha,
RGB, RGBA, and palette) decodes here too: chunk walk + CRC check,
one ``zlib.decompress``, then numpy scanline unfiltering (filters
0–4 per the W3C PNG spec / RFC 2083 §6). Baseline sequential JPEG
(ITU-T T.81: SOF0/SOF1, 8-bit huffman) is likewise self-contained —
canonical huffman tables from the file's own DHT segments, numpy
IDCT — so it decodes here too. Formats still outside public-spec
reach without a codec library (progressive JPEG, MP3, video) raise
``NotImplementedError``: guessing at their bitstreams would be
silently wrong.

All functions are deterministic and total over their declared formats;
malformed payloads raise ``ValueError`` (loud, per-row inside the
mapInPandas kernels — a corrupt asset should fail the task, not emit
garbage metadata).
"""

from __future__ import annotations

import struct
import zlib
from functools import lru_cache

import numpy as np

_PNM_MAGICS = (b"P5", b"P6")
PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def sniff_format(payload: bytes) -> str | None:
    """Best-effort container sniff by magic bytes. Returns a MIME-ish
    tag for the formats this module can decode, else None."""
    if payload[:2] == b"P6":
        return "image/x-portable-pixmap"
    if payload[:2] == b"P5":
        return "image/x-portable-graymap"
    if payload[:2] == b"BM":
        return "image/bmp"
    if payload[:8] == PNG_SIGNATURE:
        return "image/png"
    if payload[:2] == b"\xff\xd8":
        return "image/jpeg"
    if payload[:6] in _GIF_MAGICS:
        return "image/gif"
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return "image/tiff"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "audio/wav"
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return "video/x-msvideo"
    if payload[:4] == b"fLaC":
        return "audio/flac"
    return None


def _parse_pnm_header(payload: bytes) -> tuple[bytes, int, int, int, int]:
    """(magic, width, height, maxval, raster_offset) for binary netpbm.
    Handles arbitrary whitespace and ``#`` comments in the header."""
    magic = payload[:2]
    if magic not in _PNM_MAGICS:
        raise ValueError(f"not a binary netpbm payload: {magic!r}")
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        while pos < len(payload):
            c = payload[pos : pos + 1]
            if c.isspace():
                pos += 1
            elif c == b"#":  # comment runs to end of line
                nl = payload.find(b"\n", pos)
                if nl < 0:
                    raise ValueError("unterminated netpbm comment")
                pos = nl + 1
            else:
                break
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated netpbm header")
        vals.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte separates maxval from raster
    w, h, maxval = vals
    if maxval <= 0 or maxval > 255:
        raise ValueError(f"unsupported netpbm maxval {maxval} (8-bit only)")
    return magic, w, h, maxval, pos


def decode_pnm(payload: bytes) -> np.ndarray:
    """P6 → (h, w, 3) uint8 RGB; P5 → (h, w) uint8 grayscale."""
    magic, w, h, _maxval, off = _parse_pnm_header(payload)
    ch = 3 if magic == b"P6" else 1
    need = w * h * ch
    if len(payload) - off < need:
        raise ValueError(f"netpbm raster truncated: need {need} bytes")
    arr = np.frombuffer(payload, dtype=np.uint8, count=need, offset=off)
    return arr.reshape(h, w, 3) if ch == 3 else arr.reshape(h, w)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """(h, w, 3) or (h, w) uint8 → binary P6/P5 bytes."""
    if pixels.ndim == 3 and pixels.shape[2] == 3:
        magic = b"P6"
        h, w = pixels.shape[:2]
    elif pixels.ndim == 2:
        magic = b"P5"
        h, w = pixels.shape
    else:
        raise ValueError(f"expected (h,w,3) or (h,w), got {pixels.shape}")
    header = magic + b"\n%d %d\n255\n" % (w, h)
    return header + np.ascontiguousarray(pixels, dtype=np.uint8).tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed (BI_RGB) 24-bit BMP → (h, w, 3) uint8 RGB.

    Handles both bottom-up (positive height, the common case) and
    top-down (negative height) row order, and the 4-byte row padding.
    """
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < 34:  # file header (14) + the BITMAPINFOHEADER
        # fields read below — a shorter buffer is a truncated header
        raise ValueError("BMP header truncated")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    w, h_raw = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP is supported (bpp={bpp}, "
            f"compression={compression})"
        )
    top_down = h_raw < 0
    h = abs(h_raw)
    stride = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    need = stride * h
    if len(payload) - data_offset < need:
        raise ValueError(f"BMP raster truncated: need {need} bytes")
    rows = np.frombuffer(payload, dtype=np.uint8, count=need, offset=data_offset)
    arr = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        arr = arr[::-1]
    return arr[:, :, ::-1]  # BGR on disk → RGB


# PNG color type → samples per pixel (type 3 indexes the PLTE palette
# and expands to RGB after unfiltering).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 interlace passes: (x_start, x_step, y_start, y_step) per the
# PNG spec §8.2 — the raw stream is each pass's filtered scanlines in
# this order.
_PNG_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def _png_chunks(payload: bytes):
    """Yield (type, body) for each chunk, verifying lengths and CRCs.
    Truncation and corruption raise ValueError (loud, per the module
    contract) rather than yielding a partial image."""
    pos = 8
    saw_iend = False
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        if pos + 12 + length > len(payload):
            raise ValueError(
                f"PNG truncated: chunk {ctype!r} declares {length} bytes, "
                f"{len(payload) - pos - 8} remain"
            )
        body = payload[pos + 8 : pos + 8 + length]
        crc = struct.unpack_from(">I", payload, pos + 8 + length)[0]
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        yield ctype, body
        if ctype == b"IEND":
            saw_iend = True
            break
        pos += 12 + length
    if not saw_iend:
        raise ValueError("PNG truncated: missing IEND chunk")


def _paeth_predictor(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor, vectorized over a scanline (spec §6.6)."""
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_unfilter(raw: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    """Reverse per-scanline filtering → (h, w*bpp) uint8.

    Filter 0 (None) and 2 (Up) are whole-row vectorized; 1 (Sub) is a
    per-lane cumulative sum (recon[x] = Σ filt mod 256); 3 (Average)
    and 4 (Paeth) have a true left-neighbor dependency, so they walk
    pixels within the row with numpy ops over the bpp channel lane.
    """
    stride = w * bpp
    if len(raw) != h * (1 + stride):
        raise ValueError(
            f"PNG raster size mismatch: got {len(raw)} bytes, "
            f"expected {h * (1 + stride)}"
        )
    data = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    filters, rows = data[:, 0], data[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f, filt = int(filters[y]), rows[y]
        if f == 0:
            recon = filt.copy()
        elif f == 1:  # Sub: left neighbor, per channel lane
            recon = (
                np.cumsum(filt.reshape(w, bpp).astype(np.uint64), axis=0) % 256
            ).astype(np.uint8).reshape(stride)
        elif f == 2:  # Up: previous scanline, fully vectorized
            recon = filt + prev  # uint8 wraps mod 256 by construction
        elif f == 3:  # Average of left and up, sequential in x
            recon = np.empty(stride, dtype=np.uint8)
            left = np.zeros(bpp, dtype=np.uint16)
            for x in range(0, stride, bpp):
                px = filt[x : x + bpp] + ((left + prev[x : x + bpp]) >> 1).astype(
                    np.uint8
                )
                recon[x : x + bpp] = px
                left = px.astype(np.uint16)
        elif f == 4:  # Paeth, sequential in x
            recon = np.empty(stride, dtype=np.uint8)
            left = np.zeros(bpp, dtype=np.uint8)
            upleft = np.zeros(bpp, dtype=np.uint8)
            for x in range(0, stride, bpp):
                up = prev[x : x + bpp]
                px = filt[x : x + bpp] + _paeth_predictor(left, up, upleft)
                recon[x : x + bpp] = px
                left, upleft = px, up
        else:
            raise ValueError(f"PNG scanline {y}: invalid filter type {f}")
        out[y] = recon
        prev = recon
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """8- or 16-bit PNG, sequential or Adam7-interlaced → pixels:
    gray → (h, w), gray+alpha → (h, w, 2), RGB → (h, w, 3), RGBA →
    (h, w, 4); palette (color type 3, 8-bit) expands through PLTE to
    (h, w, 3). 8-bit depths return uint8, 16-bit return uint16
    (network byte order per spec).

    Pure stdlib ``zlib`` + numpy: chunk walk with CRC verification,
    one decompress of the concatenated IDAT stream, scanline
    unfiltering per the spec (per Adam7 pass when interlaced — each
    pass is its own independently-filtered sub-image). Sub-byte
    packed depths (1/2/4) raise ``NotImplementedError``; corrupt or
    truncated payloads raise ``ValueError``.
    """
    if payload[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG payload")
    ihdr: bytes | None = None
    plte: bytes | None = None
    trns: bytes | None = None
    idat: list[bytes] = []
    for ctype, body in _png_chunks(payload):
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"tRNS":
            trns = body
        elif ctype == b"IDAT":
            idat.append(body)
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("PNG missing or malformed IHDR chunk")
    if not idat:
        raise ValueError("PNG has no IDAT chunks")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if w == 0 or h == 0:
        raise ValueError(f"PNG has empty dimensions {w}x{h}")
    if comp != 0 or filt != 0:
        raise ValueError(
            f"invalid PNG compression/filter method ({comp}/{filt})"
        )
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    if depth not in (8, 16):
        raise NotImplementedError(
            f"only 8/16-bit PNG is supported (depth={depth}; 1/2/4-bit "
            "packed depths remain gated)"
        )
    if color not in _PNG_CHANNELS:
        raise ValueError(f"invalid PNG color type {color}")
    if depth == 16 and color == 3:
        raise ValueError("16-bit palette PNG is not a valid combination")
    channels = _PNG_CHANNELS[color]
    bpp = channels * (depth // 8)  # filter unit is BYTES per pixel
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"PNG IDAT stream corrupt: {e}") from e
    if interlace == 0:
        flat = _png_unfilter(raw, w, h, bpp)
    else:  # Adam7: 7 independently-filtered sub-images, scattered back
        flat = np.zeros((h, w * bpp), dtype=np.uint8)
        off = 0
        for xs, xstep, ys, ystep in _PNG_ADAM7:
            wp = (w - xs + xstep - 1) // xstep if w > xs else 0
            hp = (h - ys + ystep - 1) // ystep if h > ys else 0
            if wp == 0 or hp == 0:
                continue
            nbytes = hp * (1 + wp * bpp)
            sub = _png_unfilter(raw[off : off + nbytes], wp, hp, bpp)
            off += nbytes
            rows = ys + ystep * np.arange(hp)
            cols = xs + xstep * np.arange(wp)
            for ci in range(bpp):
                flat[np.ix_(rows, cols * bpp + ci)] = sub[:, ci::bpp]
        if off != len(raw):
            raise ValueError(
                f"PNG raster size mismatch: got {len(raw)} bytes, "
                f"Adam7 passes consumed {off}"
            )
    if color == 3:
        if plte is None or len(plte) % 3 or not plte:
            raise ValueError("palette PNG missing or malformed PLTE chunk")
        if trns is not None:
            raise NotImplementedError(
                "palette PNG with tRNS transparency is not supported"
            )
        palette = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = flat.reshape(h, w)
        if int(idx.max()) >= len(palette):
            raise ValueError("palette PNG index out of PLTE range")
        return palette[idx]
    if depth == 16:  # network byte order per spec → uint16 samples
        pairs = flat.reshape(h, w, channels, 2).astype(np.uint16)
        vals = (pairs[..., 0] << 8) | pairs[..., 1]
        return vals.reshape(h, w) if channels == 1 else vals
    if channels == 1:
        return flat.reshape(h, w)
    return flat.reshape(h, w, channels)


def encode_png(pixels: np.ndarray) -> bytes:
    """uint8 pixels → non-interlaced 8-bit PNG bytes ((h,w) gray,
    (h,w,2) gray+alpha, (h,w,3) RGB, (h,w,4) RGBA). Deterministic:
    filter 0 on every scanline, fixed zlib level. Fixture generator
    and sink-side sibling of :func:`decode_png` (same role
    :func:`encode_wav` plays for audio)."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        color, bpp = 0, 1
    elif px.ndim == 3 and px.shape[2] in (2, 3, 4):
        color = {2: 4, 3: 2, 4: 6}[px.shape[2]]
        bpp = px.shape[2]
    else:
        raise ValueError(f"expected (h,w[,2|3|4]) uint8, got {px.shape}")
    h, w = px.shape[:2]
    raw = np.zeros((h, 1 + w * bpp), dtype=np.uint8)
    raw[:, 1:] = px.reshape(h, w * bpp)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# JPEG — ITU-T T.81 baseline sequential (SOF0/SOF1), pure stdlib + numpy
# ---------------------------------------------------------------------------

# Zigzag scan: raster index of each coefficient position (T.81 Fig. 5).
_JPEG_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Base quantization tables (T.81 Annex K.1/K.2, the reference visual-
# quality tables every encoder scales), stored in RASTER order.
_JPEG_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64)
_JPEG_QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64)


def _jpeg_dct_matrix() -> np.ndarray:
    """Orthogonal 8×8 DCT-II matrix A with A[u,x] = ½·C(u)·cos((2x+1)uπ/16):
    forward F = A·f·Aᵀ, inverse f = Aᵀ·F·A (T.81 §A.3.3)."""
    a = np.zeros((8, 8))
    for u in range(8):
        c = np.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = 0.5 * c * np.cos((2 * x + 1) * u * np.pi / 16)
    return a


_JPEG_DCT = _jpeg_dct_matrix()


def _huff_canonical(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) per the canonical generation of T.81
    Annex C (codes assigned in value order, doubling per length)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_lut(bits: list[int], vals: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """16-bit-peek decode LUT: sym[peek16], nbits[peek16]. nbits = 0
    marks an invalid prefix (corrupt stream → loud ValueError)."""
    sym = np.zeros(1 << 16, dtype=np.int16)
    nbits = np.zeros(1 << 16, dtype=np.uint8)
    for v, (code, length) in _huff_canonical(bits, vals).items():
        lo = code << (16 - length)
        hi = (code + 1) << (16 - length)
        sym[lo:hi] = v
        nbits[lo:hi] = length
    return sym, nbits


class _JpegBitReader:
    """MSB-first bit reader over a destuffed entropy-coded segment."""

    __slots__ = ("d", "p", "n")

    def __init__(self, data: bytes):
        self.d = data + b"\xff\xff\xff\xff"  # peek padding (1-bits)
        self.p = 0
        self.n = len(data) * 8

    def peek16(self) -> int:
        byte, sh = self.p >> 3, self.p & 7
        chunk = int.from_bytes(self.d[byte : byte + 4], "big")
        return (chunk >> (16 - sh)) & 0xFFFF

    def take(self, k: int) -> int:
        if self.p + k > self.n:
            raise ValueError("JPEG entropy stream truncated")
        v = self.peek16() >> (16 - k) if k else 0
        self.p += k
        return v


def _jpeg_extend(v: int, s: int) -> int:
    """DC/AC magnitude decode (T.81 Fig. F.12): top bit 0 → negative."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _jpeg_segments(payload: bytes):
    """Yield (marker, body) for each header segment up to SOS; then
    ('scan', (header_body, entropy_intervals)) and stop. Entropy data
    is destuffed (FF00 → FF) and split at restart markers."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at byte {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI before any scan
            return
        length = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4 : pos + 2 + length]
        if len(body) != length - 2:
            raise ValueError("JPEG segment truncated")
        if marker == 0xDA:  # SOS: entropy-coded data follows
            intervals: list[bytes] = []
            cur = bytearray()
            p = pos + 2 + length
            while p < len(payload):
                b = payload[p]
                if b != 0xFF:
                    cur.append(b)
                    p += 1
                    continue
                nxt = payload[p + 1] if p + 1 < len(payload) else None
                if nxt == 0x00:  # stuffed FF
                    cur.append(0xFF)
                    p += 2
                elif nxt is not None and 0xD0 <= nxt <= 0xD7:  # RSTn
                    intervals.append(bytes(cur))
                    cur = bytearray()
                    p += 2
                else:  # a real marker ends the scan
                    break
            intervals.append(bytes(cur))
            yield "scan", (body, intervals)
            return
        yield marker, body
        pos += 2 + length
    raise ValueError("JPEG truncated: no SOS/EOI marker")


def decode_jpeg(payload: bytes) -> np.ndarray:
    """See :func:`_decode_jpeg_impl`. This shim only maps low-level
    parse errors on malformed segment bodies (struct bounds, short
    indexes) to the module's loud ``ValueError`` contract."""
    try:
        return _decode_jpeg_impl(payload)
    except (struct.error, IndexError) as e:
        raise ValueError(f"malformed JPEG segment: {e}") from e


def _decode_jpeg_impl(payload: bytes) -> np.ndarray:
    """Baseline sequential JPEG (SOF0/SOF1, 8-bit, huffman) → uint8
    pixels: 1 component → (h, w) gray, 3 components → (h, w, 3) RGB
    (JFIF YCbCr, BT.601 full range). Arbitrary sampling factors
    (4:4:4 / 4:2:2 / 4:2:0 / ...) with pixel-replication chroma
    upsampling; restart intervals honored.

    Pure stdlib + numpy: huffman decode via a 16-bit-peek LUT per
    table, dequantize in zigzag order, orthogonal-matrix IDCT per
    block. Progressive (SOF2), arithmetic coding, 12-bit precision,
    hierarchical modes, and 4-component (CMYK) images raise
    ``NotImplementedError``; corrupt or truncated payloads raise
    ``ValueError``. The slow path is the per-block Python loop — fine
    for the mapInPandas kernels' Arrow-batched fixtures; plug
    libjpeg-turbo here for production raster volume.
    """
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
    sof = None
    restart_interval = 0
    scan = None
    for marker, body in _jpeg_segments(payload):
        if marker == 0xDB:  # DQT — possibly several tables per segment
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                if pq not in (0, 1):
                    raise ValueError(f"invalid DQT precision {pq}")
                n = 64 * (2 if pq else 1)
                raw = body[p + 1 : p + 1 + n]
                if len(raw) != n:
                    raise ValueError("DQT table truncated")
                vals = np.frombuffer(raw, dtype=">u2" if pq else np.uint8)
                qtables[tq] = vals.astype(np.float64)  # zigzag order
                p += 1 + n
        elif marker == 0xC4:  # DHT — possibly several tables
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0xF
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                vals = list(body[p + 17 : p + 17 + n])
                if len(vals) != n:
                    raise ValueError("DHT table truncated")
                htables[(tc, th)] = _huff_decode_lut(bits, vals)
                p += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 ext. seq.
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError(f"only 8-bit JPEG (got {prec}-bit)")
            if nc not in (1, 3):
                raise NotImplementedError(f"{nc}-component JPEG (CMYK?) unsupported")
            comps = []
            for i in range(nc):
                cid, samp, tq = struct.unpack_from(">BBB", body, 6 + 3 * i)
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0xF, "tq": tq})
            sof = (h, w, comps)
        elif marker == 0xC2:
            raise NotImplementedError("progressive JPEG (SOF2) is not supported")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0x{marker:02x} (non-baseline mode) unsupported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == "scan":
            scan = body
        # APPn / COM / others: skipped
    if sof is None or scan is None:
        raise ValueError("JPEG missing SOF or SOS segment")
    h, w, comps = sof
    if h == 0 or w == 0:
        raise ValueError(f"JPEG has empty dimensions {w}x{h}")
    sos_body, intervals = scan
    ns = sos_body[0]
    if ns != len(comps):
        raise NotImplementedError("multi-scan JPEG is not supported")
    tables_for: dict[int, tuple] = {}
    for i in range(ns):
        cs, tt = sos_body[1 + 2 * i], sos_body[2 + 2 * i]
        tables_for[cs] = (tt >> 4, tt & 0xF)

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    for c in comps:
        if c["h"] < 1 or c["v"] < 1:
            raise ValueError("invalid JPEG sampling factors")
        if c["tq"] not in qtables:
            raise ValueError(f"JPEG references undefined quant table {c['tq']}")
        c["plane"] = np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64)
        dc_id, ac_id = tables_for[c["id"]]
        if (0, dc_id) not in htables or (1, ac_id) not in htables:
            raise ValueError("JPEG scan references undefined huffman table")
        c["dc"] = htables[(0, dc_id)]
        c["ac"] = htables[(1, ac_id)]
        # dequant table aligned to zigzag positions, dezigzagged once
        deq = np.zeros(64)
        deq[_JPEG_ZIGZAG] = qtables[c["tq"]]
        c["deq_raster"] = deq

    def _decode_block(r: _JpegBitReader, comp: dict, pred: int) -> tuple[np.ndarray, int]:
        coef = np.zeros(64)
        sym_lut, len_lut = comp["dc"]
        peek = r.peek16()
        nb = int(len_lut[peek])
        if nb == 0:
            raise ValueError("invalid JPEG huffman prefix (DC)")
        r.take(nb)
        s = int(sym_lut[peek])
        diff = _jpeg_extend(r.take(s), s) if s else 0
        pred += diff
        coef[0] = pred
        sym_lut, len_lut = comp["ac"]
        k = 1
        while k < 64:
            peek = r.peek16()
            nb = int(len_lut[peek])
            if nb == 0:
                raise ValueError("invalid JPEG huffman prefix (AC)")
            r.take(nb)
            rs = int(sym_lut[peek])
            run, size = rs >> 4, rs & 0xF
            if size == 0:
                if run == 15:  # ZRL: 16 zeros
                    k += 16
                    continue
                break  # EOB
            k += run
            if k > 63:
                raise ValueError("JPEG AC run overruns block")
            coef[_JPEG_ZIGZAG[k]] = _jpeg_extend(r.take(size), size)
            k += 1
        block = coef.reshape(8, 8) * comp["deq_raster"].reshape(8, 8)
        return _JPEG_DCT.T @ block @ _JPEG_DCT, pred

    total_mcus = mcus_x * mcus_y
    per_interval = restart_interval or total_mcus
    mcu = 0
    for interval in intervals:
        if mcu >= total_mcus:
            break
        r = _JpegBitReader(interval)
        preds = {c["id"]: 0 for c in comps}
        for _ in range(min(per_interval, total_mcus - mcu)):
            my, mx = divmod(mcu, mcus_x)
            for c in comps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        block, preds[c["id"]] = _decode_block(r, c, preds[c["id"]])
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        c["plane"][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu += 1
    if mcu < total_mcus:
        raise ValueError(
            f"JPEG truncated: decoded {mcu} of {total_mcus} MCUs"
        )

    planes = []
    for c in comps:
        p = c["plane"] + 128.0
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        planes.append(p[:h, :w])
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
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


def _jpeg_encode_tables() -> tuple[dict, dict, list, list]:
    """Fixed-length canonical huffman tables for the fixture encoder:
    12 DC categories at 4 bits, all 162 AC symbols at 9 bits. Valid
    prefix codes (the all-ones codeword stays unused), deliberately
    NOT the typo-prone Annex K lists — the decoder reads whatever DHT
    the file carries, so the roundtrip exercises the same generic
    path real-world tables go through."""
    dc_bits = [0, 0, 0, 12] + [0] * 12
    dc_vals = list(range(12))
    ac_vals = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    ac_bits = [0] * 8 + [len(ac_vals)] + [0] * 7
    return (
        _huff_canonical(dc_bits, dc_vals),
        _huff_canonical(ac_bits, ac_vals),
        dc_bits + dc_vals,
        ac_bits + ac_vals,
    )


class _JpegBitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.put(0x7F, 8 - self.nbits)  # pad with 1-bits

    def restart(self, n: int) -> None:
        self.pad_to_byte()
        self.out += bytes([0xFF, 0xD0 + (n & 7)])  # RSTn, not stuffed

    def flush(self) -> bytes:
        self.pad_to_byte()
        return bytes(self.out)


def _jpeg_quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex K tables (raster order)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be in [1, 100], got {quality}")
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (_JPEG_QUANT_LUMA, _JPEG_QUANT_CHROMA):
        t = np.floor((base * scale + 50) / 100)
        out.append(np.clip(t, 1, 255))
    return out[0], out[1]


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """uint8 pixels ((h,w) gray or (h,w,3) RGB) → baseline JPEG bytes.

    Fixture generator and sink-side sibling of :func:`decode_jpeg`
    (the role :func:`encode_png`/:func:`encode_wav` play for their
    formats): Annex-K quant tables at IJG ``quality`` scaling,
    4:4:4 by default or 4:2:0 (``subsample=True``, box-filtered
    chroma), single interleaved scan; ``restart_interval`` > 0 emits
    DRI + RSTn markers every that many MCUs (with the spec's DC
    predictor reset). Deterministic.
    """
    px = np.asarray(pixels)
    if px.dtype != np.uint8:
        raise ValueError(f"expected uint8 pixels, got {px.dtype}")
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError(f"expected (h,w) or (h,w,3), got {px.shape}")
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("cannot encode an empty image")
    qy, qc = _jpeg_quality_tables(quality)
    dc_code, ac_code, dc_spec, ac_spec = _jpeg_encode_tables()

    if gray:
        ycc = px.astype(np.float64)[..., None]
        comps = [{"id": 1, "h": 1, "v": 1, "tq": 0, "q": qy}]
    else:
        f = px.astype(np.float64)
        r, g, b = f[..., 0], f[..., 1], f[..., 2]
        ycc = np.stack(
            [
                0.299 * r + 0.587 * g + 0.114 * b,
                -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
                0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
            ],
            axis=-1,
        )
        cf = 2 if subsample else 1
        comps = [
            {"id": 1, "h": cf, "v": cf, "tq": 0, "q": qy},
            {"id": 2, "h": 1, "v": 1, "tq": 1, "q": qc},
            {"id": 3, "h": 1, "v": 1, "tq": 1, "q": qc},
        ]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    for i, c in enumerate(comps):
        cw, ch = w * c["h"] // hmax, h * c["v"] // vmax
        plane = ycc[..., i]
        if (c["h"], c["v"]) != (hmax, vmax):  # box-filter downsample
            fy, fx = vmax // c["v"], hmax // c["h"]
            py, px_ = -(-h // fy) * fy, -(-w // fx) * fx
            padded = np.pad(plane, ((0, py - h), (0, px_ - w)), mode="edge")
            plane = padded.reshape(py // fy, fy, px_ // fx, fx).mean(axis=(1, 3))
            cw, ch = plane.shape[1], plane.shape[0]
        # pad the plane out to whole MCUs by edge replication
        th, tw = mcus_y * c["v"] * 8, mcus_x * c["h"] * 8
        c["plane"] = np.pad(plane, ((0, th - ch), (0, tw - cw)), mode="edge") - 128.0

    def _cat(v: int) -> int:
        return int(v).bit_length() if v > 0 else int(-v).bit_length()

    wtr = _JpegBitWriter()
    preds = {c["id"]: 0 for c in comps}
    rst = 0
    for mcu in range(mcus_x * mcus_y):
        if restart_interval and mcu and mcu % restart_interval == 0:
            wtr.restart(rst)
            rst += 1
            preds = {c["id"]: 0 for c in comps}
        my, mx = divmod(mcu, mcus_x)
        for c in comps:
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    y0 = (my * c["v"] + by) * 8
                    x0 = (mx * c["h"] + bx) * 8
                    block = c["plane"][y0 : y0 + 8, x0 : x0 + 8]
                    coef = _JPEG_DCT @ block @ _JPEG_DCT.T
                    q = np.round(coef / c["q"].reshape(8, 8)).astype(np.int64)
                    zz = q.reshape(64)[_JPEG_ZIGZAG]
                    diff = int(zz[0]) - preds[c["id"]]
                    preds[c["id"]] = int(zz[0])
                    s = _cat(diff)
                    wtr.put(*dc_code[s])
                    if s:
                        wtr.put(diff if diff > 0 else diff + (1 << s) - 1, s)
                    run = 0
                    nz = np.nonzero(zz[1:])[0]
                    last = int(nz[-1]) + 1 if len(nz) else 0
                    for k in range(1, last + 1):
                        v = int(zz[k])
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            wtr.put(*ac_code[0xF0])
                            run -= 16
                        s = _cat(v)
                        wtr.put(*ac_code[(run << 4) | s])
                        wtr.put(v if v > 0 else v + (1 << s) - 1, s)
                        run = 0
                    if last < 63:
                        wtr.put(*ac_code[0x00])  # EOB

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dqt = bytes([0x00]) + bytes(qy[_JPEG_ZIGZAG].astype(np.uint8))
    if not gray:
        dqt += bytes([0x01]) + bytes(qc[_JPEG_ZIGZAG].astype(np.uint8))
    out += seg(0xDB, dqt)
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for c in comps:
        sof += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    out += seg(0xC0, sof)
    dht = bytes([0x00]) + bytes(dc_spec) + bytes([0x10]) + bytes(ac_spec)
    if not gray:
        dht += bytes([0x01]) + bytes(dc_spec) + bytes([0x11]) + bytes(ac_spec)
    out += seg(0xC4, dht)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([len(comps)])
    for c in comps:
        tid = 0 if c["id"] == 1 else 1
        sos += bytes([c["id"], (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += wtr.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# GIF (GIF87a/GIF89a) — LZW is fully specified in the public spec;
# no external decompressor needed.
# ---------------------------------------------------------------------------

_GIF_MAGICS = (b"GIF87a", b"GIF89a")


@lru_cache(maxsize=None)
def _lzw_base(clear: int) -> tuple[bytes, ...]:
    """The initial LZW table for a given CLEAR code — one shared,
    immutable (tuple of bytes) instance per code size serves every
    decode (rebuilding 256 bytes objects per frame measured ~20% of
    small-frame decode time). Callers copy with ``list(base)``."""
    return tuple(bytes([i]) for i in range(clear)) + (b"", b"")


def _gif_lzw_decode(min_code_size: int, data: bytes, expected: int) -> bytes:
    """GIF-variant LZW (LSB-first variable-width codes, CLEAR/END,
    deferred-clear tolerated) → index stream of ``expected`` pixels.

    Vectorized (optimization r12, guide §4.2): code positions and
    widths are a pure function of the CODE COUNT since the last CLEAR
    (the table grows by one entry per code after the first, so width
    bumps are value-independent), which lets whole same-width runs of
    codes be extracted with numpy in one shot. A run of LITERAL codes
    (< clear — the only codes our fixed-width encoder ever emits, and
    the common case in real GIFs' early segments) is emitted in bulk
    without building table entries at all (entries from an
    all-literal stretch are only ever READ by a later composite code,
    and the table dies at the next CLEAR). The first composite code
    in a segment reconstructs the table from the literal prefix
    (append i is ``bytes([v[i-1], v[i]])``) and drops to the
    spec-faithful scalar loop until the next CLEAR. Output, error
    cases, and tolerance (deferred clears, truncation) are identical
    to the scalar implementation — pinned by the codec fuzz suite and
    the GIF==AVI parity tests."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"invalid GIF LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    base = _lzw_base(clear)
    width0 = min_code_size + 1
    out = bytearray()
    pos, total = 0, len(data) * 8
    pad = np.frombuffer(data + b"\x00\x00\x00", dtype=np.uint8).astype(np.uint32)

    width = width0
    seg_k = 0  # codes processed since the segment (CLEAR) started
    seg_vals: list[np.ndarray] = []  # literal prefix (literal mode only)
    table: list[bytes] | None = None  # None = all-literal so far
    prev: bytes | None = None
    stop = False

    def _k_bump(w: int) -> int:
        # after processing code k (1-based) the table holds
        # clear + 2 + (k - 1) entries; width bumps when that hits 2^w
        return (1 << w) - clear - 1

    while not stop and len(out) < expected:
        # one same-width run: capped by the bits left and the next bump
        m = (total - pos) // width
        if width < 12:
            m = min(m, _k_bump(width) - seg_k)
        if table is None:
            # literal mode: 1 code = 1 output byte, so never extract
            # past what `expected` still needs (the scalar loop stops
            # there too — junk bits past the needed pixels must not
            # raise)
            m = min(m, expected - len(out))
        if m <= 0:
            if m == 0 and width < 12 and _k_bump(width) == seg_k:
                width += 1
                continue
            break  # not enough bits for one more code: truncated
        starts = pos + width * np.arange(m, dtype=np.int64)
        b = starts >> 3
        chunk = pad[b] | (pad[b + 1] << 8) | (pad[b + 2] << 16)
        codes = (chunk >> (starts & 7).astype(np.uint32)) & ((1 << width) - 1)
        if table is None:
            # ---- bulk literal mode ----
            spec = np.flatnonzero(codes >= clear)
            j = int(spec[0]) if spec.size else m
            if j:
                lits = codes[:j]
                out += lits.astype(np.uint8).tobytes()
                seg_vals.append(lits)
                seg_k += j
                pos += j * width
            if spec.size == 0:
                if width < 12 and seg_k == _k_bump(width):
                    width += 1
                continue
            c = int(codes[j])
            if c == clear:
                pos += width
                seg_k, seg_vals, width = 0, [], width0
                continue
            if c == end:
                stop = True
                continue
            # first composite: reconstruct the table from the literal
            # prefix, then fall through to scalar processing below
            if seg_k == 0:
                raise ValueError("GIF LZW stream starts with a composite code")
            vals = (
                np.concatenate(seg_vals)
                if len(seg_vals) > 1
                else seg_vals[0]
            )
            table = list(base)
            n_app = min(len(vals) - 1, 4096 - len(table))
            if n_app > 0:
                pairs = np.stack(
                    [vals[: n_app], vals[1 : n_app + 1]], axis=1
                ).astype(np.uint8)
                table.extend(map(bytes, pairs))
            prev = bytes([int(vals[-1])])
            codes = codes[j:]  # scalar-process from the composite on
            # (pos/seg_k advance per code below)
        # ---- scalar (table) mode: spec-faithful per-code loop ----
        for code in codes.tolist():
            if len(out) >= expected:
                stop = True
                break
            pos += width
            if code == clear:
                seg_k, seg_vals, width = 0, [], width0
                table, prev = None, None
                break  # back to bulk literal mode
            if code == end:
                stop = True
                break
            seg_k += 1
            if prev is None:
                if code >= clear:
                    raise ValueError(
                        "GIF LZW stream starts with a composite code"
                    )
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"corrupt GIF LZW stream (code {code})")
            out += entry
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
    if len(out) < expected:
        raise ValueError(
            f"GIF LZW stream truncated: {len(out)} of {expected} pixels"
        )
    return bytes(out[:expected])


def _gif_subblocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate data sub-blocks starting at ``pos``; returns
    (data, position after the 0-length terminator)."""
    chunks = []
    while True:
        if pos >= len(payload):
            raise ValueError("GIF truncated inside sub-blocks")
        n = payload[pos]
        pos += 1
        if n == 0:
            break
        if pos + n > len(payload):
            raise ValueError("GIF sub-block truncated")
        chunks.append(payload[pos : pos + n])
        pos += n
    return b"".join(chunks), pos


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif_frames(payload: bytes) -> list[np.ndarray]:
    """All frames of a GIF87a/89a → list of (h, w, 3) uint8 RGB (or
    (h, w, 4) RGBA when a frame declares a transparent index).

    Pure stdlib + numpy: LZW per the spec's variable-width LSB-first
    coding, global/local palettes, interlaced row ordering, graphic-
    control transparency. Each frame must cover the full logical
    screen with disposal "none"/"overwrite" (the shape a frame-sample
    pipeline stores); partial-canvas composites raise
    ``NotImplementedError`` rather than compositing incorrectly.
    Corrupt or truncated payloads raise ``ValueError``.
    """
    if payload[:6] not in _GIF_MAGICS:
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("GIF truncated in logical screen descriptor")
    w, h = struct.unpack_from("<HH", payload, 6)
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    frames: list[np.ndarray] = []
    transparent: int | None = None
    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            if pos + 2 > len(payload):
                raise ValueError("GIF truncated in extension header")
            label = payload[pos + 1]
            body, pos = _gif_subblocks(payload, pos + 2)
            if label == 0xF9 and len(body) >= 4:  # graphic control
                disposal = (body[0] >> 2) & 0x7
                if disposal > 2:
                    raise NotImplementedError(
                        "GIF restore-to-previous disposal is not supported"
                    )
                transparent = body[3] if body[0] & 0x01 else None
            continue
        if b == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("GIF truncated in image descriptor")
            left, top, fw, fh = struct.unpack_from("<HHHH", payload, pos + 1)
            ipacked = payload[pos + 9]
            pos += 10
            if (left, top, fw, fh) != (0, 0, w, h):
                raise NotImplementedError(
                    "partial-canvas GIF frames (compositing) are not supported"
                )
            pal = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                pal = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if pal is None:
                raise ValueError("GIF frame has no color table")
            if pos >= len(payload):
                raise ValueError("GIF truncated before LZW data")
            min_code = payload[pos]
            data, pos = _gif_subblocks(payload, pos + 1)
            idx = np.frombuffer(
                _gif_lzw_decode(min_code, data, fw * fh), np.uint8
            ).reshape(fh, fw)
            if ipacked & 0x40:  # interlaced: reorder rows
                order = np.concatenate(
                    [np.arange(start, fh, step) for start, step in _GIF_INTERLACE_PASSES]
                )
                deinter = np.empty_like(idx)
                deinter[order] = idx
                idx = deinter
            if int(idx.max()) >= len(pal):
                raise ValueError("GIF index out of palette range")
            rgb = pal[idx]
            if transparent is not None:
                alpha = np.where(idx == transparent, 0, 255).astype(np.uint8)
                rgb = np.dstack([rgb, alpha])
            frames.append(rgb)
            transparent = None
            continue
        raise ValueError(f"unknown GIF block 0x{b:02x} at byte {pos}")
    if not frames:
        raise ValueError("GIF contains no image frames")
    return frames


def decode_gif(payload: bytes) -> np.ndarray:
    """First frame of a GIF → (h, w, 3|4) uint8 (see
    :func:`decode_gif_frames`)."""
    return decode_gif_frames(payload)[0]


def encode_gif(
    frames: np.ndarray | list[np.ndarray],
    delay_cs: int = 10,
    interlace: bool = False,
) -> bytes:
    """(h, w, 3) uint8 frame(s) with ≤256 distinct colors → GIF89a
    bytes (lossless — the fixture/sink sibling of
    :func:`decode_gif_frames`). Multi-frame input becomes an animated
    GIF with ``delay_cs`` centiseconds per frame. The LZW stream uses
    the spec's CLEAR-before-width-growth idiom (fixed code width —
    compression-free but unconditionally valid), so the decoder's
    table-growth path is still exercised by third-party streams while
    fixtures stay simple and deterministic.
    """
    if isinstance(frames, np.ndarray) and frames.ndim == 3:
        frames = [frames]
    frames = [np.ascontiguousarray(f, dtype=np.uint8) for f in frames]
    h, w = frames[0].shape[:2]
    for f in frames:
        if f.shape != (h, w, 3):
            raise ValueError(f"every frame must be ({h}, {w}, 3), got {f.shape}")
    # one global palette across frames. RGB rows packed big-endian
    # into one int32 so the unique/sort runs 1-D (optimization r12:
    # np.unique(axis=0)'s row lexsort was the single largest cost of
    # a small-frame encode); big-endian packing preserves the exact
    # (R, G, B) lexicographic palette order axis-unique produced.
    flat = np.concatenate([f.reshape(-1, 3) for f in frames])
    packed = (
        (flat[:, 0].astype(np.int32) << 16)
        | (flat[:, 1].astype(np.int32) << 8)
        | flat[:, 2].astype(np.int32)
    )
    pal_packed, inverse = np.unique(packed, return_inverse=True)
    palette = np.stack(
        [(pal_packed >> 16) & 255, (pal_packed >> 8) & 255, pal_packed & 255],
        axis=1,
    ).astype(np.uint8)
    if len(palette) > 256:
        raise ValueError(f"GIF needs <=256 distinct colors, got {len(palette)}")
    pal_bits = max(int(np.ceil(np.log2(max(len(palette), 2)))), 1)
    pal_n = 1 << pal_bits
    pal_bytes = np.zeros((pal_n, 3), dtype=np.uint8)
    pal_bytes[: len(palette)] = palette

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((pal_bits - 1) << 4) | (pal_bits - 1), 0, 0)
    out += pal_bytes.tobytes()

    min_code = max(pal_bits, 2)
    clear, end = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    # emit CLEAR every `span` symbols so the decoder's table never
    # reaches the width-growth point: fixed-width, always-valid LZW
    span = (1 << width) - (clear + 2)

    per_frame = np.split(inverse.astype(np.int64), len(frames))
    for fi, idx in enumerate(per_frame):
        out += b"\x21\xf9" + bytes([4]) + struct.pack("<BHB", 0, delay_cs, 0) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlace else 0x00])
        if interlace:
            rows = idx.reshape(h, w)
            order = np.concatenate(
                [np.arange(start, h, step) for start, step in _GIF_INTERLACE_PASSES]
            )
            idx = rows[order].reshape(-1)
        out += bytes([min_code])
        # vectorized LSB-first bit-packing (optimization r12, guide
        # §4.2): the scalar put() loop paid one Python iteration per
        # PIXEL. All codes share one width, so the stream is: per code
        # its low `width` bits LSB-first, concatenated — exactly
        # np.unpackbits(..., bitorder="little") sliced to `width`
        # bits, then packbits back (final partial byte zero-padded,
        # identical to the old accumulator flush).
        n_codes = len(idx)
        n_clears = (n_codes - 1) // span if n_codes else 0
        codes = np.empty(1 + n_codes + n_clears + 1, dtype=np.uint16)
        codes[0] = clear
        w_at = 1
        for start in range(0, n_codes, span):
            if start:
                codes[w_at] = clear
                w_at += 1
            chunk = idx[start : start + span]
            codes[w_at : w_at + len(chunk)] = chunk
            w_at += len(chunk)
        codes[w_at] = end
        bits = np.unpackbits(
            codes.astype("<u2").view(np.uint8).reshape(-1, 2),
            axis=1,
            bitorder="little",
        )[:, :width]
        stream = np.packbits(bits.ravel(), bitorder="little").tobytes()
        for i in range(0, len(stream), 255):
            block = stream[i : i + 255]
            out += bytes([len(block)]) + bytes(block)
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


# ---------------------------------------------------------------------------
# AVI (RIFF) — MJPEG video streams: every frame is a baseline JPEG, so
# the container walk below reuses decode_jpeg per frame. This makes the
# video tier container-independent (GIF==AVI) the way WAV==FLAC already
# is for audio (VERDICT r9 #2).
# ---------------------------------------------------------------------------

_MJPEG_FOURCCS = (b"MJPG", b"mjpg", b"dmb1")


def _riff_chunks(payload: bytes, pos: int, end: int):
    """Iterate (fourcc, body_start, body_size) over a RIFF chunk run;
    chunk bodies pad to even length (RIFF rule). Truncation raises."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError("AVI truncated in chunk header")
        fourcc = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = pos + 8
        if body + size > end:
            raise ValueError(f"AVI chunk {fourcc!r} overruns container")
        yield fourcc, body, size
        pos = body + size + (size & 1)


def decode_avi_frames(payload: bytes) -> list[np.ndarray]:
    """All frames of an MJPEG AVI → list of uint8 pixel arrays
    ((h, w) gray or (h, w, 3) RGB — whatever each frame's JPEG
    carries; see :func:`decode_jpeg`).

    Pure stdlib + numpy RIFF walk: ``hdrl`` is scanned for the first
    ``vids`` stream and its fourcc/biCompression checked against the
    MJPEG fourccs, then every ``NNdc``/``NNdb`` chunk of that stream
    inside ``movi`` (including ``rec ``-grouped ones) is decoded as a
    standalone baseline JPEG. Non-MJPEG video codecs raise
    ``NotImplementedError`` (the ffmpeg integration point — decoding
    them as JPEG would produce garbage silently); MJPEG variants that
    omit Huffman tables (legal in the AVI wild, the tables are
    "well-known") also raise loudly rather than guessing; corrupt or
    truncated payloads raise ``ValueError``."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    end = min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0])
    stream_no = -1
    vids_no: int | None = None
    need_strf_check = False
    frames: list[np.ndarray] = []

    def walk(pos: int, stop: int, in_movi: bool) -> None:
        nonlocal stream_no, vids_no, need_strf_check
        for fourcc, body, size in _riff_chunks(payload, pos, stop):
            if fourcc == b"LIST":
                if body + 4 > stop:
                    raise ValueError("AVI truncated in LIST type")
                ltype = payload[body : body + 4]
                walk(
                    body + 4,
                    body + size,
                    in_movi or ltype in (b"movi", b"rec "),
                )
                continue
            if fourcc == b"strh" and size >= 8:
                stream_no += 1
                need_strf_check = False
                if payload[body : body + 4] == b"vids" and vids_no is None:
                    handler = payload[body + 4 : body + 8]
                    if handler in _MJPEG_FOURCCS:
                        vids_no = stream_no
                    elif handler == b"\x00\x00\x00\x00":
                        # null handler: biCompression in the strf that
                        # follows is authoritative — defer the check
                        vids_no = stream_no
                        need_strf_check = True
                    else:
                        raise NotImplementedError(
                            f"AVI video codec {handler!r} is not MJPEG — "
                            "plug ffmpeg here for other codecs"
                        )
                continue
            if fourcc == b"strf" and need_strf_check:
                need_strf_check = False
                comp = payload[body + 16 : body + 20] if size >= 20 else b""
                if comp not in _MJPEG_FOURCCS:
                    raise NotImplementedError(
                        f"AVI video biCompression {comp!r} is not MJPEG — "
                        "plug ffmpeg here for other codecs"
                    )
                continue
            if (
                in_movi
                and size > 0
                and fourcc[2:4] in (b"dc", b"db")
                and fourcc[:2].isdigit()
                and vids_no is not None
                and int(fourcc[:2].decode("ascii")) == vids_no
            ):
                frames.append(decode_jpeg(payload[body : body + size]))

    walk(12, end, False)
    if vids_no is None:
        raise ValueError("AVI contains no video ('vids') stream")
    if not frames:
        raise ValueError("AVI video stream contains no frames")
    return frames


def encode_avi(
    frames: np.ndarray | list[np.ndarray],
    fps: int = 10,
    quality: int = 95,
) -> bytes:
    """uint8 frame(s) → minimal MJPEG AVI bytes (the fixture/sink
    sibling of :func:`decode_avi_frames`, as :func:`encode_gif` is to
    the GIF decoder): RIFF/AVI with one ``vids``/``MJPG`` stream whose
    every ``00dc`` chunk is a standalone :func:`encode_jpeg` baseline
    JPEG (tables included, so any spec decoder — including ours —
    reads it back)."""
    if isinstance(frames, np.ndarray) and frames.ndim in (2, 3):
        frames = [frames]
    if not frames:
        raise ValueError("encode_avi needs at least one frame")
    h, w = frames[0].shape[:2]
    blobs = []
    for f in frames:
        if f.shape[:2] != (h, w):
            raise ValueError("all AVI frames must share one size")
        blobs.append(encode_jpeg(f, quality=quality))
    max_blob = max(len(b) for b in blobs)

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<14I",
        1_000_000 // max(fps, 1),  # dwMicroSecPerFrame
        max_blob * fps,            # dwMaxBytesPerSec (advisory)
        0,                         # dwPaddingGranularity
        0,                         # dwFlags: no idx1 written, claim none
        len(blobs), 0, 1, max_blob, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIII", 0, 0, 0, 0, 1, max(fps, 1), 0, len(blobs), max_blob, 0)
        + struct.pack("<I", 0)       # dwSampleSize
        + struct.pack("<4H", 0, 0, w, h)  # rcFrame
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", h * w * 3, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", b) for b in blobs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_video_frames(payload: bytes) -> list[np.ndarray]:
    """Container-independent frame decode: GIF or MJPEG AVI by magic
    (the video twin of :func:`decode_audio`'s WAV/FLAC dispatch).
    Other containers raise ``ValueError`` — every video operator
    routes here, so new containers light up everywhere at once."""
    fmt = sniff_format(payload)
    if fmt == "image/gif":
        return decode_gif_frames(payload)
    if fmt == "video/x-msvideo":
        return decode_avi_frames(payload)
    raise ValueError(f"unsupported video container (sniffed {fmt!r})")


# ---------------------------------------------------------------------------
# TIFF (baseline TIFF 6.0) — uncompressed, PackBits, and LZW strips.
# ---------------------------------------------------------------------------

_TIFF_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}


def _tiff_unpackbits(data: bytes, expected: int) -> bytes:
    """PackBits RLE (TIFF 6.0 §9): signed control byte, literal run or
    repeat run, -128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:  # copy n+1 literals
            if i + n + 1 > len(data):
                raise ValueError("TIFF PackBits strip truncated")
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if i >= len(data):
                raise ValueError("TIFF PackBits strip truncated")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) < expected:
        raise ValueError(
            f"TIFF PackBits strip short: {len(out)} of {expected} bytes"
        )
    return bytes(out[:expected])


def _tiff_lzw(data: bytes, expected: int) -> bytes:
    """TIFF-variant LZW (§13): MSB-first codes, CLEAR=256, EOI=257,
    width grows EARLY (at table size 2^k − 1, unlike GIF)."""
    clear, eoi = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width = 9
    out = bytearray()
    prev: bytes | None = None
    pos, total = 0, len(data) * 8
    pad = data + b"\x00\x00\x00\x00"
    while pos + width <= total and len(out) < expected:
        byte, sh = pos >> 3, pos & 7
        chunk = int.from_bytes(pad[byte : byte + 4], "big")
        code = (chunk >> (32 - sh - width)) & ((1 << width) - 1)
        pos += width
        if code == clear:
            table = list(base)
            width = 9
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= 256:
                raise ValueError("TIFF LZW stream starts with a composite code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt TIFF LZW stream (code {code})")
        out += entry
        prev = entry
        if len(table) == (1 << width) - 1 and width < 12:  # early change
            width += 1
    if len(out) < expected:
        raise ValueError(
            f"TIFF LZW strip short: {len(out)} of {expected} bytes"
        )
    return bytes(out[:expected])


def decode_tiff(payload: bytes) -> np.ndarray:
    """Baseline TIFF 6.0 → uint8 pixels: gray → (h, w) (WhiteIsZero
    inverted per spec), RGB → (h, w, 3|4 with extra samples kept),
    palette expands through the 16-bit ColorMap. Strip-organized,
    chunky planar config, 8-bit samples; compression none (1),
    LZW (5, with the spec's early-change width growth), or
    PackBits (32773). Tiled layout, planar=2, 16-bit samples, and
    other compressions raise ``NotImplementedError``; corrupt or
    truncated payloads raise ``ValueError``.
    """
    if len(payload) < 8 or payload[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF payload")
    bo = "<" if payload[:2] == b"II" else ">"
    magic, ifd_off = struct.unpack_from(bo + "HI", payload, 2)
    if magic != 42:
        raise ValueError("not a TIFF payload (bad magic)")
    try:
        n_entries = struct.unpack_from(bo + "H", payload, ifd_off)[0]
        tags: dict[int, list[int]] = {}
        for k in range(n_entries):
            tag, typ, count = struct.unpack_from(
                bo + "HHI", payload, ifd_off + 2 + 12 * k
            )
            if typ not in _TIFF_TYPE_SIZES:
                continue
            size = _TIFF_TYPE_SIZES[typ] * count
            voff = ifd_off + 2 + 12 * k + 8
            if size > 4:
                voff = struct.unpack_from(bo + "I", payload, voff)[0]
            if voff + size > len(payload):
                raise ValueError(f"TIFF tag {tag} value out of bounds")
            fmt = {1: "B", 3: "H", 4: "I"}.get(typ)
            if fmt is None:
                continue  # rationals etc. — not needed
            tags[tag] = list(
                struct.unpack_from(bo + fmt * count, payload, voff)
            )
    except struct.error as e:
        raise ValueError(f"TIFF IFD truncated: {e}") from e

    def one(tag: int, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    w, h = one(256), one(257)
    if w == 0 or h == 0:
        raise ValueError(f"TIFF has empty dimensions {w}x{h}")
    spp = one(277, 1)
    bits = tags.get(258, [8] * spp)
    if any(b != 8 for b in bits):
        raise NotImplementedError(f"only 8-bit TIFF samples (got {bits})")
    compression = one(259, 1)
    photometric = one(262)
    planar = one(284, 1)
    if planar != 1:
        raise NotImplementedError("planar (non-chunky) TIFF is not supported")
    if 322 in tags or 323 in tags:
        raise NotImplementedError("tiled TIFF layout is not supported")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing strip offsets/byte counts")
    rows_per_strip = one(278, h)

    decomp = {
        1: lambda d, n: (d + b"\x00" * n)[:n] if len(d) < n else d[:n],
        5: _tiff_lzw,
        32773: _tiff_unpackbits,
    }.get(compression)
    if decomp is None:
        raise NotImplementedError(f"TIFF compression {compression} unsupported")

    raster = bytearray()
    rows_left = h
    for off, cnt in zip(offsets, counts):
        if off + cnt > len(payload):
            raise ValueError("TIFF strip out of bounds")
        rows = min(rows_per_strip, rows_left)
        need = rows * w * spp
        strip = payload[off : off + cnt]
        if compression == 1 and len(strip) < need:
            raise ValueError("TIFF uncompressed strip truncated")
        raster += decomp(strip, need)
        rows_left -= rows
    if rows_left > 0:
        raise ValueError(f"TIFF strips cover {h - rows_left} of {h} rows")
    arr = np.frombuffer(bytes(raster), dtype=np.uint8, count=h * w * spp)
    arr = arr.reshape(h, w, spp) if spp > 1 else arr.reshape(h, w)
    if photometric == 0:  # WhiteIsZero
        return (255 - arr) if spp == 1 else 255 - arr
    if photometric == 1:
        return arr
    if photometric == 2:
        if spp < 3:
            raise ValueError("RGB TIFF with fewer than 3 samples")
        return arr
    if photometric == 3:
        cmap = tags.get(320)
        if not cmap or len(cmap) != 3 * 256:
            raise ValueError("palette TIFF missing or malformed ColorMap")
        pal = (np.array(cmap, dtype=np.uint16).reshape(3, 256).T >> 8).astype(
            np.uint8
        )
        return pal[arr.reshape(h, w)]
    raise NotImplementedError(f"TIFF photometric {photometric} unsupported")


def encode_tiff(pixels: np.ndarray, compression: int = 1) -> bytes:
    """uint8 pixels ((h,w) gray or (h,w,3) RGB) → little-endian
    baseline TIFF, one strip; ``compression`` 1 (none) or 32773
    (PackBits, literal-only runs — valid, compression-free). The
    fixture/sink sibling of :func:`decode_tiff`; the LZW and repeat-
    run paths are exercised by independent writers in the tests."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        spp, photometric = 1, 1
    elif px.ndim == 3 and px.shape[2] == 3:
        spp, photometric = 3, 2
    else:
        raise ValueError(f"expected (h,w) or (h,w,3) uint8, got {px.shape}")
    h, w = px.shape[:2]
    raw = px.tobytes()
    if compression == 32773:  # literal PackBits runs of ≤128
        out = bytearray()
        for i in range(0, len(raw), 128):
            block = raw[i : i + 128]
            out += bytes([len(block) - 1]) + block
        strip = bytes(out)
    elif compression == 1:
        strip = raw
    else:
        raise ValueError("encoder supports compression 1 or 32773 only")

    entries = [
        (256, 4, 1, w), (257, 4, 1, h), (259, 3, 1, compression),
        (262, 3, 1, photometric), (273, 4, 1, 0), (277, 3, 1, spp),
        (278, 4, 1, h), (279, 4, 1, len(strip)),
        (258, 3, 3, 0) if spp == 3 else (258, 3, 1, 8),
    ]
    entries.sort()
    header = struct.pack("<2sHI", b"II", 42, 8)
    extra_off = 8 + 2 + 12 * len(entries) + 4
    extra = b""
    patched = []
    for tag, typ, count, val in entries:
        if tag == 258 and spp == 3:  # 3 shorts do not fit inline
            patched.append((tag, typ, count, extra_off + len(extra)))
            extra += struct.pack("<HHH", 8, 8, 8)
        else:
            patched.append((tag, typ, count, val))
    strip_off = extra_off + len(extra)
    ifd = struct.pack("<H", len(patched))
    for tag, typ, count, val in patched:
        ifd += struct.pack(
            "<HHII", tag, typ, count, strip_off if tag == 273 else val
        )
    ifd += struct.pack("<I", 0)
    return header + ifd + extra + strip


def decode_image(payload: bytes) -> tuple[str, np.ndarray]:
    """(format_tag, pixel array) for any decodable image container."""
    fmt = sniff_format(payload)
    if fmt in ("image/x-portable-pixmap", "image/x-portable-graymap"):
        return fmt, decode_pnm(payload)
    if fmt == "image/bmp":
        return fmt, decode_bmp(payload)
    if fmt == "image/png":
        return fmt, decode_png(payload)
    if fmt == "image/jpeg":
        return fmt, decode_jpeg(payload)
    if fmt == "image/gif":
        return fmt, decode_gif(payload)
    if fmt == "image/tiff":
        return fmt, decode_tiff(payload)
    raise NotImplementedError(
        "no pure-numpy decoder for this payload (compressed or unknown "
        "container) — plug Pillow/opencv here"
    )


def resize_nearest(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample to (height, width[, channels])."""
    h, w = pixels.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("cannot resize an empty image")
    # pixel-center sampling: output pixel i maps to floor((i+.5)*in/out)
    ys = np.minimum(((np.arange(height) + 0.5) * h / height).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(width) + 0.5) * w / width).astype(np.int64), w - 1)
    return pixels[ys][:, xs]


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """PCM RIFF/WAVE → (sample_rate, float64 mono samples centered at
    0). 8-bit (unsigned) and 16-bit (signed LE) PCM; multi-channel is
    mixed down by mean — the shape feature extraction wants."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt_body, data_body = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if pos + 8 + size > len(payload):
            # a silently-short slice would decode a fraction of the
            # audio and emit garbage features; fail loudly instead
            raise ValueError(
                f"WAV truncated: chunk {cid!r} declares {size} bytes, "
                f"{len(payload) - pos - 8} remain"
            )
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_body = body
        elif cid == b"data":
            data_body = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt_body is None or data_body is None:
        raise ValueError("WAV missing fmt/data chunk")
    if len(fmt_body) < 16:
        raise ValueError(f"WAV fmt chunk too short: {len(fmt_body)} bytes")
    audio_format, n_channels, sample_rate = struct.unpack_from("<HHI", fmt_body, 0)
    bits = struct.unpack_from("<H", fmt_body, 14)[0]
    if audio_format != 1 or bits not in (8, 16):
        raise NotImplementedError(
            f"only 8/16-bit PCM WAV is supported (format={audio_format}, bits={bits})"
        )
    if bits == 8:
        samples = np.frombuffer(data_body, dtype=np.uint8).astype(np.float64) - 128.0
    else:
        n = len(data_body) // 2
        samples = np.frombuffer(data_body, dtype="<i2", count=n).astype(np.float64)
    if n_channels > 1:
        samples = samples[: (len(samples) // n_channels) * n_channels]
        samples = samples.reshape(-1, n_channels).mean(axis=1)
    return sample_rate, samples


# ---------------------------------------------------------------------------
# FLAC (RFC 9639 / xiph spec) — rice coding + integer predictors are
# fully specified; no external decompressor needed.
# ---------------------------------------------------------------------------

FLAC_MAGIC = b"fLaC"

# Fixed-predictor coefficients, orders 0-4 (RFC 9639 §9.2.2).
_FLAC_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def crc8_flac(data: bytes) -> int:
    """CRC-8 with polynomial x^8+x^2+x+1 (0x07), init 0 — the FLAC
    frame-header CRC."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07 if crc & 0x80 else crc << 1) & 0xFF
    return crc


def crc16_flac(data: bytes) -> int:
    """CRC-16 with polynomial 0x8005, init 0 — the FLAC frame CRC."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005 if crc & 0x8000 else crc << 1) & 0xFFFF
    return crc


class _FlacBitReader:
    """MSB-first bit reader over the frame byte stream."""

    __slots__ = ("d", "p")

    def __init__(self, data: bytes, bit_pos: int = 0):
        self.d = data
        self.p = bit_pos

    def take(self, k: int) -> int:
        if k == 0:
            return 0
        end = self.p + k
        if end > len(self.d) * 8:
            raise ValueError("FLAC bitstream truncated")
        first = self.p >> 3
        last = (end - 1) >> 3
        chunk = int.from_bytes(self.d[first : last + 1], "big")
        v = (chunk >> (((last + 1) << 3) - end)) & ((1 << k) - 1)
        self.p = end
        return v

    def take_signed(self, k: int) -> int:
        v = self.take(k)
        return v - (1 << k) if k and v >= (1 << (k - 1)) else v

    def take_unary(self) -> int:
        n = 0
        while True:
            if self.p >= len(self.d) * 8:
                raise ValueError("FLAC bitstream truncated in unary code")
            bit = (self.d[self.p >> 3] >> (7 - (self.p & 7))) & 1
            self.p += 1
            if bit:
                return n
            n += 1

    def align(self) -> None:
        self.p = (self.p + 7) & ~7


def _flac_utf8_number(r: _FlacBitReader) -> int:
    """The UTF-8-style variable-length frame/sample number."""
    first = r.take(8)
    if first < 0x80:
        return first
    n = 0
    probe = first
    while probe & 0x40:
        n += 1
        probe <<= 1
    if n == 0 or n > 6:
        raise ValueError("invalid FLAC frame-number coding")
    val = first & (0x3F >> n)
    for _ in range(n):
        c = r.take(8)
        if c & 0xC0 != 0x80:
            raise ValueError("invalid FLAC frame-number continuation byte")
        val = (val << 6) | (c & 0x3F)
    return val


_FLAC_BLOCKSIZES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096, 13: 8192, 14: 16384, 15: 32768,
}
_FLAC_SAMPLE_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _flac_residuals(r: _FlacBitReader, blocksize: int, order: int) -> list[int]:
    """Rice-coded residual section (RFC 9639 §9.2.7)."""
    method = r.take(2)
    if method > 1:
        raise ValueError(f"invalid FLAC residual method {method}")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    porder = r.take(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("FLAC partition count does not divide block size")
    out: list[int] = []
    for part in range(nparts):
        n = blocksize // nparts - (order if part == 0 else 0)
        if n < 0:
            raise ValueError("FLAC predictor order exceeds first partition")
        k = r.take(plen)
        if k == escape:  # raw residuals at explicit width
            width = r.take(5)
            out.extend(r.take_signed(width) for _ in range(n))
        else:
            for _ in range(n):
                q = r.take_unary()
                u = (q << k) | r.take(k)
                out.append((u >> 1) ^ -(u & 1))  # zigzag
    return out


def _flac_subframe(r: _FlacBitReader, blocksize: int, bps: int) -> list[int]:
    if r.take(1):
        raise ValueError("invalid FLAC subframe padding bit")
    stype = r.take(6)
    wasted = 0
    if r.take(1):  # wasted-bits flag: unary count - 1
        wasted = r.take_unary() + 1
        bps -= wasted
    if stype == 0:  # CONSTANT
        samples = [r.take_signed(bps)] * blocksize
    elif stype == 1:  # VERBATIM
        samples = [r.take_signed(bps) for _ in range(blocksize)]
    elif 8 <= stype <= 12:  # FIXED, order 0-4
        order = stype - 8
        warm = [r.take_signed(bps) for _ in range(order)]
        res = _flac_residuals(r, blocksize, order)
        coefs = _FLAC_FIXED_COEFS[order]
        samples = list(warm)
        for e in res:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coefs))
            samples.append(e + pred)
    elif stype >= 32:  # LPC, order 1-32
        order = (stype & 31) + 1
        warm = [r.take_signed(bps) for _ in range(order)]
        prec = r.take(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision escape")
        shift = r.take_signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [r.take_signed(prec) for _ in range(order)]
        res = _flac_residuals(r, blocksize, order)
        samples = list(warm)
        for e in res:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coefs)) >> shift
            samples.append(e + pred)
    else:
        raise ValueError(f"reserved FLAC subframe type {stype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_flac(payload: bytes) -> tuple[int, np.ndarray]:
    """FLAC → (sample_rate, float64 mono samples centered at 0) — the
    lossless-audio sibling of :func:`decode_wav` (same return shape:
    multichannel mixes down by mean).

    Pure stdlib + numpy per RFC 9639: STREAMINFO parse, frame-header
    CRC-8 and frame CRC-16 verification, constant/verbatim/fixed/LPC
    subframes, 4- and 5-bit rice partitions with raw escapes, wasted
    bits, and left/right/mid-side stereo decorrelation. Corrupt or
    truncated payloads raise ``ValueError``. The per-sample predictor
    loop is Python — fine for Arrow-batched feature kernels; plug
    libFLAC here for bulk audio volume.
    """
    if payload[:4] != FLAC_MAGIC:
        raise ValueError("not a FLAC payload")
    pos = 4
    streaminfo = None
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + length]
        if len(body) != length:
            raise ValueError("FLAC metadata block truncated")
        if hdr & 0x7F == 0:
            streaminfo = body
        pos += 4 + length
        if hdr & 0x80:
            break
    else:
        raise ValueError("FLAC metadata truncated (no last-block flag)")
    if streaminfo is None or len(streaminfo) != 34:
        raise ValueError("FLAC missing or malformed STREAMINFO")
    si = int.from_bytes(streaminfo[10:18], "big")
    sample_rate = si >> 44
    n_channels = ((si >> 41) & 0x7) + 1
    bps_stream = ((si >> 36) & 0x1F) + 1
    total_samples = si & ((1 << 36) - 1)
    if sample_rate == 0:
        raise ValueError("FLAC STREAMINFO declares sample rate 0")

    channels_out: list[list[int]] = [[] for _ in range(n_channels)]
    got = 0
    while pos < len(payload) and (total_samples == 0 or got < total_samples):
        frame_start = pos
        r = _FlacBitReader(payload, pos * 8)
        sync = r.take(14)
        if sync != 0x3FFE:
            raise ValueError(f"bad FLAC frame sync at byte {pos}")
        r.take(1)  # reserved
        r.take(1)  # blocking strategy
        bs_code = r.take(4)
        sr_code = r.take(4)
        ch_code = r.take(4)
        ss_code = r.take(3)
        r.take(1)  # reserved
        _flac_utf8_number(r)
        if bs_code == 0:
            raise ValueError("reserved FLAC block-size code 0")
        elif bs_code == 6:
            blocksize = r.take(8) + 1
        elif bs_code == 7:
            blocksize = r.take(16) + 1
        else:
            blocksize = _FLAC_BLOCKSIZES[bs_code]
        if sr_code == 12:
            r.take(8)
        elif sr_code in (13, 14):
            r.take(16)
        elif sr_code == 15:
            raise ValueError("invalid FLAC sample-rate code 15")
        bps = _FLAC_SAMPLE_SIZES.get(ss_code, bps_stream if ss_code == 0 else None)
        if bps is None:
            raise ValueError(f"reserved FLAC sample-size code {ss_code}")
        header_len = (r.p + 7) // 8 - frame_start
        expect_crc8 = crc8_flac(payload[frame_start : frame_start + header_len])
        if r.take(8) != expect_crc8:
            raise ValueError("FLAC frame-header CRC-8 mismatch")

        if ch_code <= 7:
            nch = ch_code + 1
            if nch != n_channels:
                raise ValueError("FLAC frame channel count differs from STREAMINFO")
            subs = [_flac_subframe(r, blocksize, bps) for _ in range(nch)]
        elif ch_code in (8, 9, 10):
            if n_channels != 2:
                raise ValueError("FLAC stereo decorrelation in non-stereo stream")
            # the difference channel carries one extra bit
            if ch_code == 8:  # left/side
                left = _flac_subframe(r, blocksize, bps)
                side = _flac_subframe(r, blocksize, bps + 1)
                subs = [left, [l - s for l, s in zip(left, side)]]
            elif ch_code == 9:  # right/side
                side = _flac_subframe(r, blocksize, bps + 1)
                right = _flac_subframe(r, blocksize, bps)
                subs = [[rr + s for rr, s in zip(right, side)], right]
            else:  # mid/side
                mid = _flac_subframe(r, blocksize, bps)
                side = _flac_subframe(r, blocksize, bps + 1)
                left = [(2 * m + (s & 1) + s) >> 1 for m, s in zip(mid, side)]
                subs = [left, [l - s for l, s in zip(left, side)]]
        else:
            raise ValueError(f"reserved FLAC channel assignment {ch_code}")
        r.align()
        body_end = r.p // 8
        expect_crc16 = crc16_flac(payload[frame_start:body_end])
        if r.take(16) != expect_crc16:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = r.p // 8
        for ch, s in zip(channels_out, subs):
            ch.extend(s)
        got += blocksize

    if total_samples and got < total_samples:
        raise ValueError(f"FLAC truncated: {got} of {total_samples} samples")
    arr = np.array(channels_out, dtype=np.float64)
    if total_samples:
        arr = arr[:, :total_samples]
    mono = arr.mean(axis=0) if n_channels > 1 else arr[0]
    return sample_rate, mono


def encode_flac(
    samples: np.ndarray, sample_rate: int = 16_000, block_size: int = 4096
) -> bytes:
    """Mono int16-range samples → FLAC bytes using VERBATIM subframes
    (valid, compression-free — the fixture/sink sibling of
    :func:`decode_flac`, mirroring what :func:`encode_wav` is to
    :func:`decode_wav`; rice/predictor coding paths are exercised by
    independently hand-built frames in the tests)."""
    pcm = np.asarray(samples, dtype=np.int64)
    if pcm.ndim != 1:
        raise ValueError(f"expected mono samples, got shape {pcm.shape}")
    if len(pcm) == 0:
        raise ValueError("cannot encode zero samples")
    if pcm.min() < -(1 << 15) or pcm.max() >= (1 << 15):
        raise ValueError("samples must fit int16")
    bps = 16
    si = (sample_rate << 44) | (0 << 41) | ((bps - 1) << 36) | len(pcm)
    streaminfo = (
        struct.pack(">HH", block_size, block_size)
        + b"\x00\x00\x00" * 2
        + si.to_bytes(8, "big")
        + bytes(16)  # unset MD5 (all-zero = unknown, per spec)
    )
    out = bytearray(FLAC_MAGIC)
    out += bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo

    class W:
        def __init__(self):
            self.buf = bytearray()
            self.acc = 0
            self.n = 0

        def put(self, v: int, k: int):
            self.acc = (self.acc << k) | (v & ((1 << k) - 1))
            self.n += k
            while self.n >= 8:
                self.buf.append((self.acc >> (self.n - 8)) & 0xFF)
                self.n -= 8
            self.acc &= (1 << self.n) - 1

        def align(self):
            if self.n:
                self.put(0, 8 - self.n)

    for fi in range(0, len(pcm), block_size):
        block = pcm[fi : fi + block_size]
        w = W()
        w.put(0x3FFE, 14)
        w.put(0, 1)
        w.put(0, 1)
        w.put(7, 4)  # block size: 16-bit at end of header
        w.put(0, 4)  # sample rate: from STREAMINFO
        w.put(0, 4)  # 1 channel
        w.put(4, 3)  # 16 bps
        w.put(0, 1)
        frame_no = fi // block_size
        if frame_no < 0x80:
            w.put(frame_no, 8)
        else:  # 2-byte UTF-8 form covers fixture sizes
            w.put(0xC0 | (frame_no >> 6), 8)
            w.put(0x80 | (frame_no & 0x3F), 8)
        w.put(len(block) - 1, 16)
        w.align()
        hdr = bytes(w.buf)
        hdr += bytes([crc8_flac(hdr)])
        body = W()
        body.put(0, 1)
        body.put(1, 6)  # VERBATIM
        body.put(0, 1)
        for s in block:
            body.put(int(s), bps)
        body.align()
        frame = hdr + bytes(body.buf)
        frame += crc16_flac(frame).to_bytes(2, "big")
        out += frame
    return bytes(out)


def decode_audio(payload: bytes) -> tuple[int, np.ndarray]:
    """(sample_rate, float64 mono samples) for any decodable audio
    container — the audio dispatcher mirroring :func:`decode_image`."""
    fmt = sniff_format(payload)
    if fmt == "audio/wav":
        return decode_wav(payload)
    if fmt == "audio/flac":
        return decode_flac(payload)
    raise NotImplementedError(
        "no pure-numpy decoder for this audio payload (entropy-coded or "
        "unknown container, e.g. MP3/AAC) — plug ffmpeg/libsndfile here"
    )


def encode_wav(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """Mono 16-bit PCM WAV bytes from an int16-range sample array
    (test-fixture helper; also the shape a synthetic-audio source
    would emit)."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )

"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Convention: a media table carries ``content binary`` plus typed metadata
columns (``media_type string``, ``n_bytes bigint``, …). Decode /
feature-extraction / resize run as Arrow-batched ``mapInPandas`` stages.

Decode kernel tiers: (1) PIL when importable (not in this container);
(2) otherwise a REAL pure-Python header parse for the public
zero-dependency formats — BMP (``BM`` + BITMAPINFOHEADER) and netpbm
P1-P6 (PPM/PGM/PBM) — returning the same (width, height, mode) PIL
would; (3) for payloads in neither format, a clearly-marked
deterministic fake derives dimensions from the byte length (STUB — a
corrupt or exotic payload must yield a row, not kill the stage). The
Spark-side plumbing — output schema, batch iteration, partition
preservation — is identical across tiers; swapping in libvips/ffmpeg
changes only the inner function.

Beyond headers, :func:`decode_pixels` decodes ACTUAL PIXELS — pure
numpy + stdlib, zero deps — for netpbm P2/P3/P5/P6, uncompressed
24/32-bpp BMP, 8-bit non-interlaced PNG, and Huffman JPEG, both
sequential baseline (SOF0/SOF1) and progressive (SOF2, r14 — the two
codings that dominate web image corpora; gray/YCbCr, restart
intervals; lossless/arithmetic payloads take
the labeled fallback): the feature kernel (``kind="luma"``: integer BT.601 luma
histogram) and the resize kernel (nearest-neighbor resample, re-encoded
as P6) are therefore REAL image operators for those formats, with the
byte-level fallback clearly labeled per row (``kind``/``resize_kind``
columns) for payloads only a full imaging library could decode.

Scale notes: ``mapInPandas`` streams Arrow batches — no row-at-a-time
Python, no driver collect; binary payloads never shuffle (decode before
any wide stage and project the bytes away).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from lotad_spark.pipeline._share import share_corpus
from pyspark.sql import functions as F

try:  # real decoder if available; this container has none
    from PIL import Image as _PIL_Image  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False

DECODE_SCHEMA = "width int, height int, mode string"


def _fake_decode(payload: bytes) -> tuple[int, int, str]:
    """Deterministic stand-in for image decoding: dimensions derived from
    the byte length (STUB — replace with PIL/libvips in production)."""
    n = len(payload)
    return (n % 256, (n // 256) % 256 + 1, "STUB")


# PIL-compatible mode strings per netpbm magic (P1/P4 bitmap, P2/P5
# graymap, P3/P6 pixmap) and BMP bits-per-pixel.
_PNM_MODE = {"P1": "1", "P2": "L", "P3": "RGB", "P4": "1", "P5": "L", "P6": "RGB"}
_BMP_MODE = {1: "1", 4: "P", 8: "P", 24: "RGB", 32: "RGBA"}


def _parse_bmp(payload: bytes) -> tuple[int, int, str] | None:
    """REAL decode of a BMP header (public format, zero deps): ``BM``
    magic + BITMAPINFOHEADER width/height/bpp at fixed offsets. Height is
    signed — negative means top-down row order, dimensions unchanged.
    Returns None when the payload is not BMP."""
    if len(payload) < 30 or payload[:2] != b"BM":
        return None
    import struct

    # The width/height/bpp offsets below are BITMAPINFOHEADER layout
    # (DIB header size >= 40). A BITMAPCOREHEADER BMP (size 12, 16-bit
    # width/height at different offsets) would decode to garbage
    # dimensions here — fall through instead of trusting them.
    if struct.unpack_from("<I", payload, 14)[0] < 40:
        return None
    width = struct.unpack_from("<i", payload, 18)[0]
    height = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    if width <= 0 or height == 0:
        return None
    return (width, abs(height), _BMP_MODE.get(bpp, f"BMP{bpp}"))


def _parse_pnm(payload: bytes) -> tuple[int, int, str] | None:
    """REAL decode of a netpbm (P1-P6 PBM/PGM/PPM) header: magic, then
    whitespace-separated width/height (+ maxval for P2/P3/P5/P6) with
    ``#`` comments allowed anywhere in the header — the full public
    spec for the header section. Like PIL, dimensions come from the
    header alone (a truncated PIXEL section fails at load, not open; a
    truncated HEADER is not a netpbm file and falls through). Thin
    wrapper over the one shared scanner (:func:`_pnm_header`) so the
    metadata path and the pixel-decode path can never disagree on what
    parses."""
    hdr = _pnm_header(payload)
    if hdr is None:
        return None
    magic, w, h, _maxval, _off = hdr
    return (w, h, _PNM_MODE[magic])


def _pnm_header(
    payload: bytes,
) -> tuple[str, int, int, int, int] | None:
    """Full netpbm header parse: (magic, width, height, maxval,
    data_offset). Comments (``#`` to end of line) are legal anywhere in
    the header; for the binary formats (P4/P5/P6) exactly ONE whitespace
    byte separates the header from the pixel section (the spec), so
    ``data_offset`` points at the first pixel byte. P1/P4 bitmaps carry
    no maxval (reported as 1). Returns None when not netpbm."""
    magic = payload[:2].decode("ascii", "replace")
    if magic not in _PNM_MODE or (len(payload) > 2 and payload[2:3].isdigit()):
        return None
    need = 2 if magic in ("P1", "P4") else 3
    vals: list[int] = []
    i, n = 2, len(payload)
    while len(vals) < need and i < n:
        c = payload[i : i + 1]
        if c == b"#":
            while i < n and payload[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            j = i
            while j < n and payload[j : j + 1].isdigit():
                j += 1
            vals.append(int(payload[i:j]))
            i = j
        else:
            return None
    if len(vals) < need or vals[0] <= 0 or vals[1] <= 0:
        return None
    if magic in ("P4", "P5", "P6"):
        if i >= n or not payload[i : i + 1].isspace():
            return None
        i += 1
    return (magic, vals[0], vals[1], vals[2] if need == 3 else 1, i)


def decode_pixels(payload: bytes):
    """REAL pixel decode for the public zero-dependency formats:
    (width, height, ndarray[h, w, 3] uint8 RGB) — or None when the
    payload isn't one of them (the caller falls back and SAYS so via a
    ``kind`` column; nothing silently fakes pixels).

    Covered: netpbm P5/P6 (binary gray/RGB, maxval 255), P2/P3 (their
    ASCII twins), uncompressed 24/32-bpp BMP (bottom-up or top-down,
    4-byte row stride, BGR(A) channel order), 8-bit
    PNG, sequential or Adam7-interlaced (gray/truecolor/gray-alpha/
    RGBA; stdlib zlib inflate + all five scanline filters un-applied
    in numpy, per-reduced-image for Adam7 — :func:`_png_pixels`), and
    Huffman JPEG — sequential baseline (SOF0/SOF1) AND progressive
    (SOF2: spectral selection + successive approximation, r14) — 8-bit,
    gray/YCbCr, restart intervals, divisible sampling grids
    (:func:`_jpeg_pixels` / :func:`_jpeg_progressive_pixels`),
    GIF87a/89a (full LZW inflate, global/local color tables,
    4-pass deinterlace, first frame — :func:`_gif_pixels`),
    baseline uncompressed TIFF (II/MM byte order, 8-bit gray/RGB
    strips, WhiteIsZero inversion — :func:`_tiff_pixels`), and
    lossless WebP (VP8L: prefix codes, LZ77 + distance map, color
    cache, entropy image, all four transforms — :func:`_webp_pixels`;
    lossy VP8 stays honest-None) — all per the public specs. Grayscale replicates to RGB and alpha
    drops so downstream kernels see one shape. Anything truncated,
    palette-mapped, 16-bit, lossless/arithmetic-coded JPEG, or with a
    non-255 maxval returns None rather than guessing (PNG interlace is
    Adam7, decoded; GIF interlace is the 4-pass row order, decoded)."""
    import numpy as np

    hdr = _pnm_header(payload)
    if hdr is not None:
        magic, w, h, maxval, off = hdr
        if magic in ("P1", "P4") or maxval != 255:
            return None
        npx = w * h
        if magic == "P6":
            if len(payload) - off < npx * 3:
                return None
            arr = np.frombuffer(payload, np.uint8, npx * 3, off).reshape(
                h, w, 3
            )
            return (w, h, arr)
        if magic == "P5":
            if len(payload) - off < npx:
                return None
            g = np.frombuffer(payload, np.uint8, npx, off).reshape(h, w)
            return (w, h, np.stack([g, g, g], axis=-1))
        # P2 / P3: ASCII sample values, whitespace-separated
        toks = payload[off:].split()
        k = npx * (3 if magic == "P3" else 1)
        if len(toks) < k:
            return None
        try:
            vals = np.array([int(t) for t in toks[:k]], dtype=np.int32)
        except ValueError:
            return None
        if vals.min() < 0 or vals.max() > 255:
            return None
        if magic == "P3":
            return (w, h, vals.astype(np.uint8).reshape(h, w, 3))
        g = vals.astype(np.uint8).reshape(h, w)
        return (w, h, np.stack([g, g, g], axis=-1))
    bmp = _bmp_pixels(payload)
    if bmp is not None:
        return bmp
    png = _png_pixels(payload)
    if png is not None:
        return png
    gif = _gif_pixels(payload)
    if gif is not None:
        return gif
    tiff = _tiff_pixels(payload)
    if tiff is not None:
        return tiff
    webp = _webp_pixels(payload)
    if webp is not None:
        return webp
    return _jpeg_pixels(payload)


def _bmp_pixels(payload: bytes):
    """Pixel section of an uncompressed 24/32-bpp BITMAPINFOHEADER BMP:
    rows are 4-byte aligned, stored bottom-up when height is positive
    (flipped here to top-down), channels are BGR(A) on disk (reordered
    to RGB). None for anything else — palette/compressed BMPs need a
    real imaging library."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    if struct.unpack_from("<I", payload, 14)[0] < 40:
        return None
    data_off = struct.unpack_from("<I", payload, 10)[0]
    width = struct.unpack_from("<i", payload, 18)[0]
    height = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if width <= 0 or height == 0 or compression != 0 or bpp not in (24, 32):
        return None
    h = abs(height)
    bytes_pp = bpp // 8
    stride = ((width * bytes_pp + 3) // 4) * 4
    if data_off < 54 or len(payload) < data_off + stride * h:
        return None
    rows = np.frombuffer(payload, np.uint8, stride * h, data_off).reshape(
        h, stride
    )
    px = rows[:, : width * bytes_pp].reshape(h, width, bytes_pp)
    if height > 0:
        px = px[::-1]
    return (width, h, px[:, :, [2, 1, 0]].copy())


# Uniform decode bound (r17): no per-format pixel decoder allocates
# for more pixels than this, no matter what the header declares — a
# crafted 26-byte IHDR/SOF could otherwise demand gigabytes before any
# data-length check runs. 16 M pixels (the r15 WebP bound) covers any
# plausible crawled image.
_PIXEL_BOUND = 16_000_000

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color types → sample channels (type 3 = palette: honest None)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_PNG_MODE = {0: "L", 2: "RGB", 4: "LA", 6: "RGBA"}


def _png_chunks(payload: bytes):
    """(IHDR tuple, concatenated IDAT bytes) or None when the payload
    is not a structurally-complete PNG (bad signature, truncated
    chunk, missing IHDR/IDAT). CRCs are not verified — corrupt pixel
    data surfaces as a zlib error downstream, which maps to the same
    honest None."""
    import struct

    if len(payload) < 8 or payload[:8] != _PNG_SIG:
        return None
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        ln, typ = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            return None  # truncated chunk
        if typ == b"IHDR":
            if ln != 13:
                return None
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln  # length + type + data + CRC
    if ihdr is None or not idat:
        return None
    return ihdr, b"".join(idat)


def _parse_png(payload: bytes) -> tuple[int, int, str] | None:
    """PNG metadata from IHDR (the chunk walk validates structure, so
    the metadata path and :func:`_png_pixels` can never disagree on
    what parses). Palette (color type 3) still reports its header —
    metadata is header-only, like the PNM/BMP parsers."""
    parsed = _png_chunks(payload)
    if parsed is None:
        return None
    w, h, _d, ctype, _c, _f, _i = parsed[0]
    if w <= 0 or h <= 0:
        return None
    mode = "P" if ctype == 3 else _PNG_MODE.get(ctype)
    if mode is None:
        return None
    return (int(w), int(h), mode)


# Adam7 interlace passes: (x0, y0, dx, dy) per PNG spec 8.2.
_PNG_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_defilter(raw: bytes, pos: int, width: int, height: int, ch: int):
    """Un-apply the five PNG scanline filters over one (sub)image of
    ``height`` rows x ``width`` pixels starting at ``pos`` in the
    inflated stream: ``(rows[h, w*ch] uint8, new_pos)`` or None on a
    truncated stream / invalid filter byte. Filtering restarts per
    call — exactly the spec's rule for each Adam7 reduced image.

    Sub/up filters vectorize (per-lane cumsum mod 256 / row add);
    average/paeth lines fall back to a per-byte loop — correctness
    over speed, and the decode already runs inside an Arrow-batched
    mapInPandas stage."""
    import numpy as np

    stride = width * ch
    if len(raw) - pos < height * (stride + 1):
        return None
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        ftype = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride, pos + 1).astype(
            np.int32
        )
        pos += stride + 1
        if ftype == 0:
            recon = line
        elif ftype == 1:  # sub: recon[x] = line[x] + recon[x-bpp]
            recon = line.copy()
            for lane in range(ch):
                recon[lane::ch] = np.cumsum(line[lane::ch]) % 256
        elif ftype == 2:  # up
            recon = (line + prev) % 256
        elif ftype == 3:  # average (sequential in x)
            recon = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = recon[x - ch] if x >= ch else 0
                recon[x] = (line[x] + (a + prev[x]) // 2) % 256
        elif ftype == 4:  # paeth (sequential in x)
            recon = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = recon[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                recon[x] = (line[x] + pr) % 256
        else:
            return None  # invalid filter byte
        out[y] = recon.astype(np.uint8)
        prev = recon
    return out, pos


def _png_pixels(payload: bytes):
    """REAL pixel decode for the web's dominant lossless format:
    8-bit-depth grayscale (0), truecolor (2), gray+alpha (4) and RGBA
    (6) PNGs, sequential OR Adam7-interlaced — zlib inflate is stdlib,
    the five scanline filters (none/sub/up/average/paeth, PNG spec 9)
    un-apply in numpy (:func:`_png_defilter`, restarted per Adam7
    reduced image exactly as spec 8.2 requires), and interlaced passes
    scatter back by the (x0, y0, dx, dy) grids. Alpha is dropped (the
    luma/resize kernels take RGB); grayscale replicates. Palette (3),
    16-bit, or structurally-broken payloads return None rather than
    guessing — same honesty contract as the PNM/BMP decoders."""
    import zlib

    import numpy as np

    parsed = _png_chunks(payload)
    if parsed is None:
        return None
    (w, h, depth, ctype, comp, filt, inter), idat = parsed
    if (
        w <= 0
        or h <= 0
        or depth != 8
        or comp != 0
        or filt != 0
        or inter not in (0, 1)
    ):
        return None
    ch = _PNG_CHANNELS.get(ctype)
    if ch is None:
        return None
    if w * h > _PIXEL_BOUND:
        return None
    # bounded inflate: the raw stream for these dims is at most
    # h·(w·ch+1) filter-prefixed scanline bytes (Adam7 adds a handful
    # of extra filter bytes) — a crafted IDAT claiming more is a bomb,
    # not an image
    cap = h * (w * ch + 2) + 4096
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(idat, cap + 1)
        if len(raw) > cap or not dec.eof:
            return None
    except zlib.error:
        return None
    if inter == 0:
        got = _png_defilter(raw, 0, w, h, ch)
        if got is None:
            return None
        out = got[0]
    else:
        out = np.zeros((h, w * ch), dtype=np.uint8)
        grid = out.reshape(h, w, ch)
        pos = 0
        for x0, y0, dx, dy in _PNG_ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass for small images: no bytes at all
            got = _png_defilter(raw, pos, pw, ph, ch)
            if got is None:
                return None
            rows, pos = got
            grid[y0::dy, x0::dx] = rows.reshape(ph, pw, ch)
    px = out.reshape(h, w, ch)
    if ctype == 0:
        g = px[:, :, 0]
        return (w, h, np.stack([g, g, g], axis=-1))
    if ctype == 4:
        g = px[:, :, 0]
        return (w, h, np.stack([g, g, g], axis=-1))
    if ctype == 6:
        return (w, h, px[:, :, :3].copy())
    return (w, h, px.copy())


# --- Baseline JPEG (ITU-T T.81 / ISO 10918-1, public spec) -------------
# Zero-dep sequential-baseline decoder: marker walk, canonical Huffman,
# run-length AC, dequant, batched float IDCT, chroma upsample, JFIF
# YCbCr→RGB. Progressive (SOF2) decodes for real since r14
# (_jpeg_progressive_pixels — spectral selection + successive
# approximation). Lossless, arithmetic-coded, 12-bit, 16-bit DQT, and
# non-divisible sampling grids return the same honest None as the
# other decoders — baseline + progressive JFIF covers web corpora.

# Zigzag index k → natural (row-major) position, per T.81 Figure A.6.
_JPEG_ZZ = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# SOFn markers this decoder must refuse (lossless / differential /
# arithmetic): everything in 0xC0-0xCF except C0/C1/C2 (supported —
# C2 progressive since r14), C4 (DHT), C8 (JPG reserved), CC (DAC —
# arithmetic, and its presence implies an unsupported scan anyway).
_JPEG_UNSUPPORTED_SOF = frozenset(
    (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
)


class _JpegBits:
    """MSB-first bit reader over one unstuffed entropy segment."""

    __slots__ = ("d", "i", "b", "n")

    def __init__(self, d: bytes):
        self.d = d
        self.i = 0
        self.b = 0
        self.n = 0

    def bit(self):
        if self.n == 0:
            if self.i >= len(self.d):
                return None
            self.b = self.d[self.i]
            self.i += 1
            self.n = 8
        self.n -= 1
        return (self.b >> self.n) & 1

    def bits(self, k: int):
        v = 0
        for _ in range(k):
            t = self.bit()
            if t is None:
                return None
            v = (v << 1) | t
        return v


def _jpeg_entropy_segments(data: bytes, pos: int):
    """Entropy-coded data from ``pos`` split into unstuffed segments at
    RST markers (0xFF00 byte stuffing removed; any other marker ends
    the scan). Returns (segments, end_index) — ``end_index`` points at
    the terminating marker's 0xFF (or len(data)), so a multi-scan
    (progressive) walk can resume the marker loop there."""
    segs, cur, i = [], bytearray(), pos
    while i < len(data):
        b = data[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        nxt = data[i + 1] if i + 1 < len(data) else None
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
            continue
        if nxt is not None and 0xD0 <= nxt <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
            continue
        break  # real marker (EOI / next header)
    segs.append(bytes(cur))
    return segs, i


def _jpeg_dht_into(seg: bytes, hufftabs: dict) -> bool:
    """Parse a DHT segment (possibly several tables) into ``hufftabs``
    keyed (class, id) → canonical code map. False on malformed input."""
    i = 0
    while i + 17 <= len(seg):
        tc, th = seg[i] >> 4, seg[i] & 15
        counts = seg[i + 1 : i + 17]
        nsym = sum(counts)
        vals = seg[i + 17 : i + 17 + nsym]
        if tc > 1 or len(vals) < nsym:
            return False
        tbl: dict = {}
        code = k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                if code >= 1 << length:
                    return False  # over-full canonical table
                tbl[(length, code)] = vals[k]
                k += 1
                code += 1
            code <<= 1
        hufftabs[(tc, th)] = tbl
        i += 17 + nsym
    return True


def _jpeg_huff_decode(bits: _JpegBits, table: dict):
    code = ln = 0
    while ln < 16:
        b = bits.bit()
        if b is None:
            return None
        code = (code << 1) | b
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    return None


def _jpeg_extend(v: int, t: int) -> int:
    """T.81 EXTEND: map the t received bits to the signed amplitude."""
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


def _jpeg_decode_block(bits, dc_tab, ac_tab, pred):
    """One 8×8 block: (64 zigzag-order coefficients, new DC pred) or
    None on bit exhaustion / malformed codes."""
    t = _jpeg_huff_decode(bits, dc_tab)
    if t is None or t > 15:
        return None
    diff = 0
    if t:
        v = bits.bits(t)
        if v is None:
            return None
        diff = _jpeg_extend(v, t)
    dc = pred + diff
    zz = [0] * 64
    zz[0] = dc
    k = 1
    while k < 64:
        rs = _jpeg_huff_decode(bits, ac_tab)
        if rs is None:
            return None
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            return None
        v = bits.bits(s)
        if v is None:
            return None
        zz[k] = _jpeg_extend(v, s)
        k += 1
    return zz, dc


def _jpeg_headers(payload: bytes):
    """Marker walk up to the FIRST SOS: (qt, hufftabs, sof, dri, scan)
    or None. ``sof`` is (width, height, [[cid, h, v, tq], …], marker);
    ``scan`` is ([(cid, dc_id, ac_id), …], entropy_data_offset, Ss, Se,
    Ah, Al) or None when no SOS was reached (metadata callers don't
    need one). Progressive (SOF2) streams continue past the first scan
    via :func:`_jpeg_progressive_pixels`'s marker loop."""
    import struct

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    qt: dict = {}
    hufftabs: dict = {}
    sof = None
    dri = 0
    scan = None
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        m = payload[pos + 1]
        if m == 0xFF:  # fill byte
            pos += 1
            continue
        if m == 0x01 or 0xD0 <= m <= 0xD7:  # TEM / stray RST
            pos += 2
            continue
        if m == 0xD9:  # EOI before any scan
            break
        if pos + 4 > len(payload):
            return None
        ln = struct.unpack_from(">H", payload, pos + 2)[0]
        seg = payload[pos + 4 : pos + 2 + ln]
        if ln < 2 or len(seg) != ln - 2:
            return None
        if m == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                if pq != 0 or len(seg) < i + 65:
                    return None  # 16-bit tables: unsupported
                qt[tq] = bytes(seg[i + 1 : i + 65])
                i += 65
        elif m in (0xC0, 0xC1, 0xC2):  # baseline / ext. seq. / progressive
            if sof is not None or len(seg) < 6:
                return None
            prec = seg[0]
            h = struct.unpack_from(">H", seg, 1)[0]
            w = struct.unpack_from(">H", seg, 3)[0]
            nc = seg[5]
            if prec != 8 or nc not in (1, 3) or not w or not h:
                return None
            if len(seg) < 6 + 3 * nc:
                return None
            comps = []
            for c in range(nc):
                b0 = 6 + 3 * c
                hv = seg[b0 + 1]
                comps.append([seg[b0], hv >> 4, hv & 15, seg[b0 + 2]])
            sof = (w, h, comps, m)
        elif m in _JPEG_UNSUPPORTED_SOF:
            return None
        elif m == 0xC4:  # DHT (possibly several tables per segment)
            if not _jpeg_dht_into(seg, hufftabs):
                return None
        elif m == 0xDD:  # DRI
            if ln != 4:
                return None
            dri = struct.unpack_from(">H", seg, 0)[0]
        elif m == 0xDA:  # SOS
            if sof is None or not seg:
                return None
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3:
                return None
            smap = [
                (seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                for c in range(ns)
            ]
            b0 = 1 + 2 * ns
            scan = (
                smap,
                pos + 2 + ln,
                seg[b0],  # Ss (spectral selection start)
                seg[b0 + 1],  # Se
                seg[b0 + 2] >> 4,  # Ah (successive approximation high)
                seg[b0 + 2] & 15,  # Al
            )
            break
        pos += 2 + ln
    if sof is None:
        return None
    return qt, hufftabs, sof, dri, scan


def _parse_gif(payload: bytes) -> tuple[int, int, str] | None:
    """GIF metadata from the logical screen descriptor (GIF87a/GIF89a
    — CompuServe 1987/1989 public spec): width/height are the two
    little-endian uint16s after the 6-byte signature. Palette format,
    so mode 'P' (what PIL reports)."""
    import struct

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack_from("<HH", payload, 6)
    if w <= 0 or h <= 0:
        return None
    return (int(w), int(h), "P")


def _gif_lzw_decode(data: bytes, min_code_size: int, npix: int):
    """GIF-variant LZW (LSB-first bit packing, variable 3-12 bit codes,
    CLEAR/EOI control codes, deferred-clear tolerated): the palette
    INDEX stream of one image, or None on any spec violation. Linear
    in the compressed bytes — each code appends one table entry and
    emits one stored byte string."""
    if not (2 <= min_code_size <= 8):
        return None
    clear = 1 << min_code_size
    eoi = clear + 1
    # table is indexed BY CODE: two placeholder slots keep the clear/eoi
    # control codes from shifting every later entry down by two
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(roots)
    code_size = min_code_size + 1
    next_code = eoi + 1
    out = bytearray()
    prev = None
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while len(out) < npix:
        while nbits < code_size:
            if pos >= n:
                return None  # ran out of codes before the pixel count
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = list(roots)
            code_size = min_code_size + 1
            next_code = eoi + 1
            prev = None
            continue
        if code == eoi:
            return None  # EOI before npix pixels: truncated image
        if prev is None:
            if code >= clear:
                return None  # first code after clear must be a root
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]
        else:
            return None
        out += entry
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    return bytes(out[:npix])


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_iter_frames(payload: bytes):
    """Generator over a GIF's image frames in stream order:
    ``(left, top, fw, fh, transparent, rgb[fh, fw, 3])`` per frame —
    block walk (extensions skipped by their sub-block framing, except
    the GCE whose transparency flag is captured for the frame it
    precedes), global/local color table, full LZW inflate
    (:func:`_gif_lzw_decode`), 4-pass deinterlace, palette lookup.
    Raises ValueError on any spec violation (missing table, truncated
    stream, LZW violation, out-of-table index) — callers wrap to the
    honest None."""
    import struct

    import numpy as np

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a gif")
    flags = payload[10]
    pos = 13
    g_palette = None
    if flags & 0x80:
        gct_n = 2 << (flags & 0x07)
        if len(payload) < pos + gct_n * 3:
            raise ValueError("truncated global color table")
        g_palette = np.frombuffer(
            payload, np.uint8, gct_n * 3, pos
        ).reshape(gct_n, 3)
        pos += gct_n * 3

    def skip_subblocks(p: int) -> int:
        while True:
            if p >= len(payload):
                raise ValueError("truncated sub-blocks")
            size = payload[p]
            p += 1
            if size == 0:
                return p
            p += size

    transparent = False
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            return
        if block == 0x21:  # extension: label byte + sub-blocks
            label = payload[pos + 1] if pos + 1 < len(payload) else None
            if label == 0xF9 and pos + 3 < len(payload):
                # GCE: packed field bit 0 = transparency, applies to
                # the NEXT image descriptor
                transparent = bool(payload[pos + 3] & 0x01)
            pos = skip_subblocks(pos + 2)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown block 0x{block:02x}")
        if len(payload) < pos + 10:
            raise ValueError("truncated image descriptor")
        left, top, fw, fh = struct.unpack_from("<HHHH", payload, pos + 1)
        iflags = payload[pos + 9]
        pos += 10
        if fw <= 0 or fh <= 0:
            raise ValueError("empty frame")
        if fw * fh > _PIXEL_BOUND:
            # bound BEFORE the LZW inflate — its output cap is the
            # frame's own pixel count, so a 65535x65535 descriptor
            # would otherwise let a crafted stream produce ~4 GiB
            raise ValueError("frame exceeds pixel bound")
        palette = g_palette
        if iflags & 0x80:  # local color table wins for this frame
            lct_n = 2 << (iflags & 0x07)
            if len(payload) < pos + lct_n * 3:
                raise ValueError("truncated local color table")
            palette = np.frombuffer(
                payload, np.uint8, lct_n * 3, pos
            ).reshape(lct_n, 3)
            pos += lct_n * 3
        if palette is None:
            raise ValueError("no color table")
        if pos >= len(payload):
            raise ValueError("truncated before lzw")
        min_code_size = payload[pos]
        pos += 1
        chunks = []
        while True:
            if pos >= len(payload):
                raise ValueError("truncated pixel sub-blocks")
            size = payload[pos]
            pos += 1
            if size == 0:
                break
            chunks.append(payload[pos : pos + size])
            if len(chunks[-1]) < size:
                raise ValueError("truncated pixel sub-block")
            pos += size
        idx = _gif_lzw_decode(b"".join(chunks), min_code_size, fw * fh)
        if idx is None:
            raise ValueError("lzw violation")
        rows = np.frombuffer(idx, np.uint8).reshape(fh, fw)
        if iflags & 0x40:  # deinterlace: 4 passes back to frame order
            order = [
                y
                for s, step in _GIF_INTERLACE_PASSES
                for y in range(s, fh, step)
            ]
            out = np.empty_like(rows)
            out[order] = rows
            rows = out
        if int(rows.max()) >= len(palette):
            raise ValueError("index outside color table")
        yield (int(left), int(top), int(fw), int(fh), transparent,
               palette[rows].copy())
        transparent = False
    raise ValueError("no trailer")


def _gif_pixels(payload: bytes):
    """First image frame of a GIF, decoded for real (the
    :func:`_gif_iter_frames` walk, stopped after one frame). The frame
    decodes standalone at its OWN dimensions (honest even when it is a
    sub-rectangle of the logical screen); GIF89a transparency maps the
    transparent index to its palette color — a first frame composites
    over an undefined canvas, and inventing a background would be a
    guess. None (never a guess) for a missing color table, a truncated
    stream, or any LZW violation."""
    try:
        for _l, _t, fw, fh, _tr, rgb in _gif_iter_frames(payload):
            return (fw, fh, rgb)
    except ValueError:
        return None
    return None


def _gif_video_frames(payload: bytes, *, every_nth: int = 1):
    """All frames of an ANIMATED GIF under the video-tier honesty
    contract: every frame must be full-canvas (left/top 0, logical
    screen dims) and opaque (no GCE transparency), so each frame fully
    replaces the canvas and no composite state needs inventing —
    sub-rectangle or transparent animation frames make the WHOLE
    payload None (rendering them requires disposal-method compositing,
    a renderer's job, not a decoder's). Returns
    ``(w, h, n_frames_total, [rgb, ...])`` like the AVI path."""
    import struct

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack_from("<HH", payload, 6)
    if w <= 0 or h <= 0:
        return None
    frames = []
    try:
        for left, top, fw, fh, transparent, rgb in _gif_iter_frames(
            payload
        ):
            if left != 0 or top != 0 or fw != w or fh != h or transparent:
                return None
            frames.append(rgb)
    except ValueError:
        return None
    if not frames:
        return None
    return (int(w), int(h), len(frames), frames[::every_nth])


def _tiff_ifd(payload: bytes):
    """Parse the first IFD of a TIFF: ``(byteorder, {tag: [values]})``
    or None when the payload is not TIFF. Handles II/MM byte order,
    BYTE/SHORT/LONG entry types, and values stored inline (≤4 bytes)
    or at an offset — the baseline subset sufficient for uncompressed
    strips."""
    import struct

    if len(payload) < 8:
        return None
    if payload[:2] == b"II":
        bo = "<"
    elif payload[:2] == b"MM":
        bo = ">"
    else:
        return None
    if struct.unpack_from(bo + "H", payload, 2)[0] != 42:
        return None
    ifd_off = struct.unpack_from(bo + "I", payload, 4)[0]
    if len(payload) < ifd_off + 2:
        return None
    n = struct.unpack_from(bo + "H", payload, ifd_off)[0]
    if len(payload) < ifd_off + 2 + n * 12:
        return None
    sizes = {1: 1, 3: 2, 4: 4}
    fmts = {1: "B", 3: "H", 4: "I"}
    tags = {}
    for e in range(n):
        base = ifd_off + 2 + e * 12
        tag, typ = struct.unpack_from(bo + "HH", payload, base)
        cnt = struct.unpack_from(bo + "I", payload, base + 4)[0]
        if typ not in sizes or cnt == 0:
            continue  # rational/ascii tags: irrelevant here, skip
        total = sizes[typ] * cnt
        off = base + 8 if total <= 4 else struct.unpack_from(
            bo + "I", payload, base + 8
        )[0]
        if len(payload) < off + total:
            return None
        tags[tag] = list(
            struct.unpack_from(bo + fmts[typ] * cnt, payload, off)
        )
    return bo, tags


def _parse_tiff(payload: bytes) -> tuple[int, int, str] | None:
    """TIFF metadata from the first IFD (header-only, like the other
    parsers): width/length plus the PIL-style mode for the baseline
    photometrics (gray 'L', RGB 'RGB', palette 'P')."""
    parsed = _tiff_ifd(payload)
    if parsed is None:
        return None
    _bo, tags = parsed
    if 256 not in tags or 257 not in tags:
        return None
    w, h = tags[256][0], tags[257][0]
    if w <= 0 or h <= 0:
        return None
    mode = {0: "L", 1: "L", 2: "RGB", 3: "P"}.get(
        tags.get(262, [None])[0], "TIFF"
    )
    return (int(w), int(h), mode)


def _tiff_pixels(payload: bytes):
    """REAL pixel decode for baseline TIFF (TIFF 6.0 spec, public):
    uncompressed (Compression=1) 8-bit grayscale or RGB strips, either
    byte order, any RowsPerStrip split, chunky planar layout.
    WhiteIsZero (photometric 0) inverts per the spec. Palette,
    predictor, planar=2, other bit depths, or any compression return
    the honest None — swap in a real imaging library for those."""
    import numpy as np

    parsed = _tiff_ifd(payload)
    if parsed is None:
        return None
    _bo, tags = parsed
    try:
        w = int(tags[256][0])
        h = int(tags[257][0])
    except KeyError:
        return None
    if w <= 0 or h <= 0:
        return None
    if w * h > _PIXEL_BOUND:
        return None
    if tags.get(259, [1])[0] != 1:  # Compression: uncompressed only
        return None
    photo = tags.get(262, [1])[0]
    if photo not in (0, 1, 2):
        return None
    spp = tags.get(277, [1])[0]
    if (photo == 2 and spp != 3) or (photo in (0, 1) and spp != 1):
        return None
    if any(b != 8 for b in tags.get(258, [8])):
        return None
    if tags.get(284, [1])[0] != 1:  # PlanarConfiguration: chunky only
        return None
    offs = tags.get(273)
    counts = tags.get(279)
    if not offs or not counts or len(offs) != len(counts):
        return None
    raw = bytearray()
    for o, c in zip(offs, counts):
        if len(payload) < o + c:
            return None
        raw += payload[o : o + c]
    need = w * h * spp
    if len(raw) < need:
        return None
    arr = np.frombuffer(bytes(raw[:need]), np.uint8).reshape(h, w, spp)
    if photo == 0:  # WhiteIsZero: 0 is white — invert to BlackIsZero
        arr = (255 - arr.astype(np.int16)).astype(np.uint8)
    if spp == 1:
        g = arr[:, :, 0]
        return (w, h, np.stack([g, g, g], axis=-1))
    return (w, h, arr.copy())


# --- WebP (RIFF container; VP8L lossless bitstream per the public
# "WebP Lossless Bitstream Specification", now RFC 9649) ---------------
#
# The VP8L short-distance codes 1..120 address a fixed close
# neighborhood of the current pixel. The spec lists the 120 (dx, dy)
# offsets as a literal table; that table is exactly the enumeration of
# dx in [-7, 8], dy in [0, 7] minus the non-causal row-0 cells
# (dy == 0 and dx <= 0) — 16*8 - 8 = 120 cells — ordered by increasing
# Euclidean distance, ties broken by |dx| ascending then positive dx
# first ((0,1), (1,0), (1,1), (-1,1), (0,2), (2,0), (1,2), (-1,2),
# (2,1), (-2,1), ... (8,6), (7,7), (-7,7), (8,7)). Generating it from
# that rule rather than transcribing 120 literals keeps the provenance
# checkable; tests/test_webp.py pins the spec-listed prefix and the
# domain/size invariants.
_WEBP_DIST_MAP = tuple(
    sorted(
        (
            (dx, dy)
            for dy in range(8)
            for dx in range(-7, 9)
            if not (dy == 0 and dx <= 0)
        ),
        key=lambda p: (p[0] * p[0] + p[1] * p[1], abs(p[0]), p[0] < 0),
    )
)

# Code-length-code symbol order (VP8L reuses the Brotli/deflate-style
# RLE alphabet: 0-15 literal lengths, 16 = repeat-previous, 17/18 =
# zero runs), read in this fixed order.
_WEBP_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


class _Vp8lError(Exception):
    """Malformed/unsupported VP8L stream — callers return honest None."""


class _Vp8lBits:
    """LSB-first bit reader (VP8L convention) over one big int —
    payloads are single images, so the one-time int conversion beats a
    per-read byte walk in CPython."""

    __slots__ = ("_acc", "_pos", "_len")

    def __init__(self, data: bytes):
        self._acc = int.from_bytes(data, "little")
        self._pos = 0
        self._len = len(data) * 8

    def read(self, n: int) -> int:
        if self._pos + n > self._len:
            raise _Vp8lError("truncated stream")
        v = (self._acc >> self._pos) & ((1 << n) - 1)
        self._pos += n
        return v


def _vp8l_build_code(lengths):
    """Canonical prefix code from per-symbol code lengths (deflate
    numbering: codes assigned in (length, symbol) order). Returns
    ``("const", sym)`` for a single-symbol code — per the spec such a
    code consumes ZERO bits per read — else ``(table, max_len)`` with
    ``table[(nbits, code)] = symbol`` walked MSB-of-code-first."""
    items = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
    if not items:
        raise _Vp8lError("empty prefix code")
    if len(items) == 1:
        return ("const", items[0][1])
    table = {}
    code = 0
    prev_len = items[0][0]
    for ln, sym in items:
        code <<= ln - prev_len
        prev_len = ln
        table[(ln, code)] = sym
        code += 1
    if code > (1 << prev_len):
        raise _Vp8lError("over-subscribed prefix code")
    return (table, items[-1][0])


def _vp8l_read_sym(bits: _Vp8lBits, code) -> int:
    table, max_len = code
    if table == "const":
        return max_len
    acc = 0
    n = 0
    while n < max_len:
        acc = (acc << 1) | bits.read(1)
        n += 1
        sym = table.get((n, acc))
        if sym is not None:
            return sym
    raise _Vp8lError("invalid prefix code word")


def _vp8l_read_prefix_code(bits: _Vp8lBits, alphabet_size: int):
    """One prefix code: the 'simple' 1/2-symbol form or the normal
    code-length-coded form (with the optional max_symbol read bound and
    the 16/17/18 repeat codes)."""
    if bits.read(1):  # simple code
        num_symbols = bits.read(1) + 1
        s0 = bits.read(8) if bits.read(1) else bits.read(1)
        if num_symbols == 1:
            if s0 >= alphabet_size:
                raise _Vp8lError("bad simple code symbols")
            return ("const", s0)
        s1 = bits.read(8)
        if s0 == s1 or max(s0, s1) >= alphabet_size:
            raise _Vp8lError("bad simple code symbols")
        lengths = [0] * alphabet_size
        lengths[s0] = lengths[s1] = 1
        return _vp8l_build_code(lengths)
    num_cl = 4 + bits.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_WEBP_CL_ORDER[i]] = bits.read(3)
    cl_code = _vp8l_build_code(cl_lengths)
    if bits.read(1):  # explicit bound on the number of length reads
        length_nbits = 2 + 2 * bits.read(3)
        max_reads = 2 + bits.read(length_nbits)
    else:
        max_reads = alphabet_size
    lengths = [0] * alphabet_size
    symbol = 0
    prev_nonzero = 8  # spec default for the first repeat-16
    while symbol < alphabet_size and max_reads > 0:
        max_reads -= 1
        s = _vp8l_read_sym(bits, cl_code)
        if s < 16:
            lengths[symbol] = s
            symbol += 1
            if s:
                prev_nonzero = s
            continue
        if s == 16:
            repeat, val = 3 + bits.read(2), prev_nonzero
        elif s == 17:
            repeat, val = 3 + bits.read(3), 0
        else:
            repeat, val = 11 + bits.read(7), 0
        if symbol + repeat > alphabet_size:
            raise _Vp8lError("repeat overruns alphabet")
        for _ in range(repeat):
            lengths[symbol] = val
            symbol += 1
    return _vp8l_build_code(lengths)


def _vp8l_lz77_value(bits: _Vp8lBits, prefix: int) -> int:
    """LZ77 length/distance prefix symbol -> value (both alphabets use
    the same 2-codes-per-doubling extra-bits layout)."""
    if prefix < 4:
        return prefix + 1
    extra = (prefix - 2) >> 1
    offset = (2 + (prefix & 1)) << extra
    return offset + bits.read(extra) + 1


def _vp8l_decode_image(bits: _Vp8lBits, w: int, h: int, top_level: bool):
    """Decode one entropy-coded VP8L image to a flat list of ARGB ints
    plus the transform list (top-level only). Sub-images (transform
    data, palettes, the entropy image) recurse with top_level=False:
    no transforms, no meta prefix — but a color cache is legal."""
    transforms = []
    cur_w = w
    if top_level:
        seen = set()
        while bits.read(1):
            ttype = bits.read(2)
            if ttype in seen:
                raise _Vp8lError("duplicate transform")
            seen.add(ttype)
            if ttype == 2:  # subtract-green: no payload
                transforms.append((2, None, cur_w))
            elif ttype in (0, 1):  # predictor / color transform
                size_bits = bits.read(3) + 2
                bw = -(-cur_w // (1 << size_bits))
                bh = -(-h // (1 << size_bits))
                sub, _ = _vp8l_decode_image(bits, bw, bh, False)
                transforms.append((ttype, (size_bits, sub), cur_w))
            else:  # color indexing (palette)
                n_colors = bits.read(8) + 1
                if n_colors <= 2:
                    wbits = 3
                elif n_colors <= 4:
                    wbits = 2
                elif n_colors <= 16:
                    wbits = 1
                else:
                    wbits = 0
                raw, _ = _vp8l_decode_image(bits, n_colors, 1, False)
                pal = [raw[0] & 0xFFFFFFFF]
                for p in raw[1:]:  # entries are stored component-delta-coded
                    prev = pal[-1]
                    pal.append(
                        (((prev >> 24) + (p >> 24)) & 0xFF) << 24
                        | ((((prev >> 16) + (p >> 16)) & 0xFF) << 16)
                        | ((((prev >> 8) + (p >> 8)) & 0xFF) << 8)
                        | ((prev + p) & 0xFF)
                    )
                transforms.append((3, (wbits, pal), cur_w))
                cur_w = -(-cur_w // (1 << wbits))
    cache_bits = 0
    if bits.read(1):
        cache_bits = bits.read(4)
        if not 1 <= cache_bits <= 11:
            raise _Vp8lError("bad color-cache size")
    meta = None
    n_groups = 1
    if top_level and bits.read(1):  # entropy image (meta prefix codes)
        hbits = bits.read(3) + 2
        mw = -(-cur_w // (1 << hbits))
        mh = -(-h // (1 << hbits))
        img, _ = _vp8l_decode_image(bits, mw, mh, False)
        idx = [((p >> 16) & 0xFF) << 8 | ((p >> 8) & 0xFF) for p in img]
        n_groups = max(idx) + 1
        meta = (hbits, mw, idx)
    green_alpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    groups = [
        (
            _vp8l_read_prefix_code(bits, green_alpha),
            _vp8l_read_prefix_code(bits, 256),
            _vp8l_read_prefix_code(bits, 256),
            _vp8l_read_prefix_code(bits, 256),
            _vp8l_read_prefix_code(bits, 40),
        )
        for _ in range(n_groups)
    ]
    n = cur_w * h
    pix = [0] * n
    cache = [0] * (1 << cache_bits) if cache_bits else None
    shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    grp = groups[0]
    while pos < n:
        if meta is not None:
            hbits, mw, idx = meta
            y, x = divmod(pos, cur_w)
            grp = groups[idx[(y >> hbits) * mw + (x >> hbits)]]
        g_code, r_code, b_code, a_code, d_code = grp
        s = _vp8l_read_sym(bits, g_code)
        if s < 256:  # literal: G then R, B, A
            red = _vp8l_read_sym(bits, r_code)
            blue = _vp8l_read_sym(bits, b_code)
            alpha = _vp8l_read_sym(bits, a_code)
            p = (alpha << 24) | (red << 16) | (s << 8) | blue
            pix[pos] = p
            if cache is not None:
                cache[((0x1E35A7BD * p) & 0xFFFFFFFF) >> shift] = p
            pos += 1
        elif s < 280:  # LZ77 backward reference
            length = _vp8l_lz77_value(bits, s - 256)
            d_val = _vp8l_lz77_value(bits, _vp8l_read_sym(bits, d_code))
            if d_val > 120:
                dist = d_val - 120
            else:
                dx, dy = _WEBP_DIST_MAP[d_val - 1]
                dist = dy * cur_w + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise _Vp8lError("backref out of range")
            for _ in range(length):
                p = pix[pos - dist]
                pix[pos] = p
                if cache is not None:
                    cache[((0x1E35A7BD * p) & 0xFFFFFFFF) >> shift] = p
                pos += 1
        else:  # color-cache hit
            if cache is None:
                raise _Vp8lError("cache hit without cache")
            pix[pos] = cache[s - 280]
            pos += 1
    return pix, transforms


def _vp8l_avg2(a: int, b: int) -> int:
    """Per-channel (a+b)//2 on packed ARGB without unpacking: SWAR —
    identical to the spec's per-component Average2."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _vp8l_add_px(a: int, b: int) -> int:
    """Per-channel modulo-256 sum of two packed ARGB pixels."""
    return (
        (((a >> 24) + (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) + (b >> 16)) & 0xFF) << 16)
        | ((((a >> 8) + (b >> 8)) & 0xFF) << 8)
        | ((a + b) & 0xFF)
    )


def _vp8l_channels(p: int):
    return ((p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)


def _vp8l_predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    """The 14 VP8L spatial predictors (spec §4.2); all arithmetic
    per-channel on packed ARGB."""
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _vp8l_avg2(_vp8l_avg2(left, tr), top)
    if mode == 6:
        return _vp8l_avg2(left, tl)
    if mode == 7:
        return _vp8l_avg2(left, top)
    if mode == 8:
        return _vp8l_avg2(tl, top)
    if mode == 9:
        return _vp8l_avg2(top, tr)
    if mode == 10:
        return _vp8l_avg2(_vp8l_avg2(left, tl), _vp8l_avg2(top, tr))
    lc, tc, tlc = _vp8l_channels(left), _vp8l_channels(top), _vp8l_channels(tl)
    if mode == 11:  # Select: Manhattan distance to the L+T-TL estimate
        p_l = p_t = 0
        for i in range(4):
            est = lc[i] + tc[i] - tlc[i]
            p_l += abs(est - lc[i])
            p_t += abs(est - tc[i])
        return left if p_l < p_t else top
    if mode == 12:  # ClampAddSubtractFull
        out = 0
        for i in range(4):
            v = lc[i] + tc[i] - tlc[i]
            out = (out << 8) | (0 if v < 0 else 255 if v > 255 else v)
        return out
    if mode == 13:  # ClampAddSubtractHalf (C-truncating division)
        avg = _vp8l_avg2(left, top)
        out = 0
        for i, a in enumerate(_vp8l_channels(avg)):
            d = a - tlc[i]
            v = a + (d // 2 if d >= 0 else -((-d) // 2))
            out = (out << 8) | (0 if v < 0 else 255 if v > 255 else v)
        return out
    raise _Vp8lError("bad predictor mode")


def _vp8l_delta(t: int, c: int) -> int:
    """ColorTransformDelta: int8(t) * int8(c) >> 5 (arithmetic)."""
    if t >= 128:
        t -= 256
    if c >= 128:
        c -= 256
    return (t * c) >> 5


def _vp8l_inverse_transforms(pix, transforms, w: int, h: int):
    """Apply inverse transforms in reverse stream order. Each entry
    carries the image width at its read point, so a palette transform
    (the only width-changer) expands back before earlier-read
    transforms run at their full width."""
    # current (possibly reduced) width from the buffer itself — the
    # palette transform is the only width-changer
    cur_w = (len(pix) // h) if h else w
    for ttype, data, read_w in reversed(transforms):
        if ttype == 3:  # color indexing: expand packed indices
            wbits, pal = data
            npal = len(pal)
            if wbits == 0:
                pix = [
                    pal[(p >> 8) & 0xFF] if ((p >> 8) & 0xFF) < npal else 0
                    for p in pix
                ]
            else:
                bpp = 8 >> wbits
                per = 1 << wbits
                mask = (1 << bpp) - 1
                out = [0] * (read_w * h)
                for y in range(h):
                    row = y * cur_w
                    orow = y * read_w
                    for x in range(read_w):
                        packed = (pix[row + (x >> wbits)] >> 8) & 0xFF
                        i = (packed >> ((x & (per - 1)) * bpp)) & mask
                        out[orow + x] = pal[i] if i < npal else 0
                pix = out
            cur_w = read_w
        elif ttype == 2:  # add green back to red and blue
            pix = [
                (p & 0xFF000000)
                | ((((p >> 16) + (p >> 8)) & 0xFF) << 16)
                | (p & 0x0000FF00)
                | ((p + (p >> 8)) & 0xFF)
                for p in pix
            ]
        elif ttype == 0:  # predictor
            size_bits, sub = data
            tiles_w = -(-cur_w // (1 << size_bits))
            for y in range(h):
                row = y * cur_w
                for x in range(cur_w):
                    i = row + x
                    if x == 0 and y == 0:
                        pred = 0xFF000000
                    elif y == 0:
                        pred = pix[i - 1]
                    elif x == 0:
                        pred = pix[i - cur_w]
                    else:
                        mode = (
                            sub[(y >> size_bits) * tiles_w + (x >> size_bits)]
                            >> 8
                        ) & 0xFF
                        pred = _vp8l_predict(
                            mode,
                            pix[i - 1],
                            pix[i - cur_w],
                            pix[i - cur_w - 1],
                            # right edge: raster-contiguous next cell =
                            # current row's first pixel (already decoded)
                            pix[i - cur_w + 1],
                        )
                    pix[i] = _vp8l_add_px(pix[i], pred)
        elif ttype == 1:  # color transform (cross-channel deltas)
            size_bits, sub = data
            tiles_w = -(-cur_w // (1 << size_bits))
            for y in range(h):
                row = y * cur_w
                for x in range(cur_w):
                    i = row + x
                    t = sub[(y >> size_bits) * tiles_w + (x >> size_bits)]
                    g2r, g2b, r2b = (t & 0xFF), (t >> 8) & 0xFF, (t >> 16) & 0xFF
                    p = pix[i]
                    green = (p >> 8) & 0xFF
                    red = ((p >> 16) + _vp8l_delta(g2r, green)) & 0xFF
                    blue = (
                        p + _vp8l_delta(g2b, green) + _vp8l_delta(r2b, red)
                    ) & 0xFF
                    pix[i] = (p & 0xFF00FF00) | (red << 16) | blue
    return pix


def _webp_chunks(payload: bytes):
    """RIFF chunk walk for a WebP container: yields (fourcc, data)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        return
    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        data = payload[pos + 8 : pos + 8 + size]
        if len(data) < size:
            return
        yield fourcc, data
        pos += 8 + size + (size & 1)


def _vp8l_header(data: bytes):
    """VP8L chunk header: (width, height, alpha_hint, bits) or None."""
    if len(data) < 5 or data[0] != 0x2F:
        return None
    bits = _Vp8lBits(data[1:])
    w = bits.read(14) + 1
    h = bits.read(14) + 1
    alpha = bits.read(1)
    if bits.read(3) != 0:  # version must be 0
        return None
    return (w, h, alpha, bits)


def _parse_webp(payload: bytes) -> tuple[int, int, str] | None:
    """WebP metadata (header-only): VP8L lossless header, VP8X extended
    canvas size, or the lossy VP8 keyframe size — pixels come from
    :func:`_webp_pixels` (VP8L only; lossy stays honest-None)."""
    import struct

    for fourcc, data in _webp_chunks(payload):
        if fourcc == b"VP8L":
            hdr = _vp8l_header(data)
            if hdr is None:
                return None
            return (hdr[0], hdr[1], "RGBA" if hdr[2] else "RGB")
        if fourcc == b"VP8X" and len(data) >= 10:
            w = 1 + int.from_bytes(data[4:7], "little")
            h = 1 + int.from_bytes(data[7:10], "little")
            return (w, h, "RGBA" if data[0] & 0x10 else "RGB")
        if fourcc == b"VP8 " and len(data) >= 10:
            if data[3:6] != b"\x9d\x01\x2a":
                return None
            w = struct.unpack_from("<H", data, 6)[0] & 0x3FFF
            h = struct.unpack_from("<H", data, 8)[0] & 0x3FFF
            return (w, h, "RGB")
    return None


def _webp_pixels(payload: bytes):
    """REAL pixel decode for LOSSLESS WebP (VP8L, per the public
    bitstream spec / RFC 9649): simple and code-length-coded canonical
    prefix codes, LZ77 backrefs with the 120-entry short-distance map,
    the color cache, meta prefix codes (entropy image), and all four
    transforms (predictor with the 14 spatial modes, cross-channel
    color transform, subtract-green, color indexing incl. sub-byte
    pixel bundling). Lossy VP8, animation, or any malformed stream
    returns the honest None — same contract as the other zero-dep
    decoders (and the same constant-factor caveat: pure-Python
    per-pixel work, the right SHAPE for the scan stage but a real
    constant vs native codecs)."""
    import numpy as np

    vp8l = None
    for fourcc, data in _webp_chunks(payload):
        if fourcc == b"VP8L":
            vp8l = data
            break
        if fourcc == b"ANIM":  # animated: first-frame decode not wired
            return None
    if vp8l is None:
        return None
    try:
        hdr = _vp8l_header(vp8l)
        if hdr is None:
            return None
        w, h, _alpha, bits = hdr
        if w * h > _PIXEL_BOUND:  # decompression-bomb bound
            return None
        pix, transforms = _vp8l_decode_image(bits, w, h, True)
        pix = _vp8l_inverse_transforms(pix, transforms, w, h)
    except _Vp8lError:
        return None
    arr = np.array(pix, dtype=np.uint32).reshape(h, w)
    rgb = np.empty((h, w, 3), dtype=np.uint8)
    rgb[:, :, 0] = (arr >> 16) & 0xFF
    rgb[:, :, 1] = (arr >> 8) & 0xFF
    rgb[:, :, 2] = arr & 0xFF
    return (w, h, rgb)


# --- EXIF (the TIFF-structured metadata block carried by JPEG APP1,
# TIFF IFD0, the WebP EXIF chunk, and the PNG eXIf chunk; public spec:
# CIPA DC-008 / TIFF 6.0) -----------------------------------------------

_EXIF_IFD_POINTER = 34665  # IFD0 tag holding the Exif sub-IFD offset
_GPS_IFD_POINTER = 34853  # IFD0 tag holding the GPS IFD offset


def _exif_tags(blob: bytes):
    """Tags from a TIFF-structured EXIF blob: IFD0 merged with the
    Exif sub-IFD (ASCII values as stripped strings, integer types as
    lists). None when the blob is not TIFF-structured. A dedicated
    walker rather than :func:`_tiff_ifd` because EXIF needs ASCII
    (type 2) values and the sub-IFD hop, which the pixel path never
    reads."""
    import struct

    if len(blob) < 8:
        return None
    if blob[:2] == b"II":
        bo = "<"
    elif blob[:2] == b"MM":
        bo = ">"
    else:
        return None
    if struct.unpack_from(bo + "H", blob, 2)[0] != 42:
        return None
    sizes = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
    fmts = {1: "B", 3: "H", 4: "I"}
    out: dict = {}

    def read_ifd(off: int, dest: dict) -> None:
        if off <= 0 or len(blob) < off + 2:
            return
        n = struct.unpack_from(bo + "H", blob, off)[0]
        for e in range(n):
            base = off + 2 + e * 12
            if len(blob) < base + 12:
                return
            tag, typ = struct.unpack_from(bo + "HH", blob, base)
            cnt = struct.unpack_from(bo + "I", blob, base + 4)[0]
            if typ not in sizes or cnt == 0 or cnt > (1 << 20):
                continue  # undefined/signed types: not needed here
            total = sizes[typ] * cnt
            voff = (
                base + 8
                if total <= 4
                else struct.unpack_from(bo + "I", blob, base + 8)[0]
            )
            if len(blob) < voff + total:
                continue
            if typ == 2:
                dest[tag] = (
                    blob[voff : voff + cnt]
                    .split(b"\x00")[0]
                    .decode("latin-1")
                    .strip()
                )
            elif typ == 5:  # unsigned rational: (numerator, denominator)
                dest[tag] = [
                    struct.unpack_from(bo + "II", blob, voff + 8 * i)
                    for i in range(cnt)
                ]
            else:
                dest[tag] = list(
                    struct.unpack_from(bo + fmts[typ] * cnt, blob, voff)
                )

    read_ifd(struct.unpack_from(bo + "I", blob, 4)[0], out)
    sub = out.get(_EXIF_IFD_POINTER)
    if isinstance(sub, list) and sub:
        read_ifd(int(sub[0]), out)
    gps_ptr = out.get(_GPS_IFD_POINTER)
    if isinstance(gps_ptr, list) and gps_ptr:
        gps: dict = {}
        # GPS tag numbers collide with IFD0's low tags, so the GPS IFD
        # lands in its own namespace under the string key "gps"
        read_ifd(int(gps_ptr[0]), gps)
        if gps:
            out["gps"] = gps
    return out or None


def _exif_tiff_blob(payload: bytes):
    """The TIFF-structured EXIF block carried by any supported
    container (JPEG APP1 ``Exif\\0\\0``, bare TIFF, WebP ``EXIF``
    chunk, PNG ``eXIf`` chunk), or None — the ONE container walk the
    metadata and GPS faces share."""
    import struct

    tiff = None
    if payload[:2] == b"\xff\xd8":  # JPEG: segment walk to APP1
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                break
            marker = payload[pos + 1]
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                if marker in (0xD9, 0xDA):
                    break
                pos += 2
                continue
            seglen = struct.unpack_from(">H", payload, pos + 2)[0]
            if seglen < 2:
                break
            seg = payload[pos + 4 : pos + 2 + seglen]
            if marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
                tiff = seg[6:]
                break
            if marker == 0xDA:
                break
            pos += 2 + seglen
    elif payload[:2] in (b"II", b"MM"):
        tiff = payload
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        for fourcc, data in _webp_chunks(payload):
            if fourcc == b"EXIF":
                tiff = data[6:] if data[:6] == b"Exif\x00\x00" else data
                break
    elif payload[:8] == _PNG_SIG:
        pos = 8
        while pos + 8 <= len(payload):
            ln, typ = struct.unpack_from(">I4s", payload, pos)
            if typ == b"eXIf":
                tiff = payload[pos + 8 : pos + 8 + ln]
                break
            pos += 12 + ln
    return tiff or None


def exif_metadata(payload: bytes):
    """EXIF fields from any container that carries the block — JPEG
    (APP1 ``Exif\\0\\0``), TIFF (IFD0 itself), WebP (``EXIF`` chunk),
    PNG (``eXIf`` chunk): ``(orientation, make, model, datetime,
    pixel_w, pixel_h)`` with None for absent fields, or None when the
    payload has no parseable EXIF. Orientation (tag 274, values 1-8)
    is the field image dedup needs: the perceptual hashes are not
    rotation-invariant, so normalizing by the declared orientation
    before hashing collapses rotated re-encodes of the same shot."""
    tiff = _exif_tiff_blob(payload)
    if not tiff:
        return None
    tags = _exif_tags(tiff)
    if tags is None:
        return None

    def first_int(tag):
        v = tags.get(tag)
        return int(v[0]) if isinstance(v, list) and v else None

    def text(tag):
        v = tags.get(tag)
        return v if isinstance(v, str) else None

    orientation = first_int(274)
    if orientation is not None and not 1 <= orientation <= 8:
        orientation = None
    return (
        orientation,
        text(271),  # Make
        text(272),  # Model
        text(306) or text(36867),  # DateTime, else DateTimeOriginal
        first_int(40962),  # PixelXDimension
        first_int(40963),  # PixelYDimension
    )


def extract_exif(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
) -> DataFrame:
    """(id, kind, orientation, make, model, datetime, pixel_w,
    pixel_h) per media row via Arrow-batched mapInPandas — kind='exif'
    when a parseable block exists in any supported container,
    kind='none' when the payload has no EXIF (a normal condition, not
    an error), kind='null' for NULL payloads. Provenance/dedup
    plumbing: orientation feeds rotation-normalized perceptual
    hashing, make/model/datetime feed near-dup heuristics and
    training-data provenance audits."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, kind string, orientation int, "
        "make string, model string, datetime string, "
        "pixel_w int, pixel_h int"
    )

    def exif_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                k: []
                for k in (
                    "kind", "orientation", "make", "model",
                    "datetime", "pixel_w", "pixel_h",
                )
            }
            for b in pdf[content_col]:
                if b is None:
                    vals = ("null", None, None, None, None, None, None)
                else:
                    got = exif_metadata(bytes(b))
                    vals = (
                        ("none", None, None, None, None, None, None)
                        if got is None
                        else ("exif",) + got
                    )
                for k, v in zip(rows, vals):
                    rows[k].append(v)
            yield pd.DataFrame({id_col: pdf[id_col], **rows})

    return df.mapInPandas(exif_batches, schema=out_schema)


def _xmp_creator_tool(xml_text: str):
    """``xmp:CreatorTool`` from an XMP packet (attribute or element
    form, old ``xap:`` prefix accepted) — the Adobe-ecosystem
    software stamp (r18), or None."""
    import re as _re

    m = _re.search(
        r'(?:xmp|xap):CreatorTool[ \t\r\n]*=[ \t\r\n]*["\']([^"\']*)',
        xml_text,
    )
    if m is None:
        m = _re.search(
            r"<(?:xmp|xap):CreatorTool[^>]*>(.*?)"
            r"</(?:xmp|xap):CreatorTool>",
            xml_text,
            _re.S,
        )
    if m:
        got = m.group(1).strip()
        return got or None
    return None


def image_provenance(payload: bytes):
    """(software, comment) provenance strings from any container that
    records them — the curation signal that flags synthetic/generated
    images (generators stamp themselves into exactly these fields) and
    editing-tool provenance:

    * PNG: ``tEXt`` (latin-1 ``keyword\\0text``), ``zTXt`` (zlib,
      bomb-bounded), and uncompressed ``iTXt`` — keywords Software /
      Comment / Description, plus (r18) the reserved
      ``XML:com.adobe.xmp`` keyword whose packet's
      ``xmp:CreatorTool`` fills software;
    * JPEG: the ``COM`` segment (comment), the EXIF Software tag
      (305) via the Exif APP1 block, and (r18) the XMP APP1
      (``http://ns.adobe.com/xap/1.0/`` namespace) CreatorTool;
    * TIFF / WebP: tag 305 from the EXIF structure;
    * SVG (r17): the Adobe ``<!-- Generator: … -->`` comment or the
      ``inkscape:version`` attribute (the two stamps real vector
      editors leave), and ``<desc>`` as the comment field — scanned
      in the first 8 KiB. r18 (ADVICE): the branch gates on the
      prolog-aware root-tag sniff (:func:`_svg_root_tag`), NOT on
      parseable dims — SVGs with ``width="100%"``/em units or no
      dims still yield provenance, and HTML with inline SVG islands
      never takes this path.

    None when the payload records neither field; fields are
    independently None. First occurrence wins per field."""
    import re as _re
    import struct
    import zlib

    software = comment = None
    if _svg_root_tag(payload) is not None:
        head = payload[:8192].decode("utf-8", errors="replace")
        gm = _re.search(r"<!--\s*Generator:\s*(.*?)\s*-->", head, _re.S)
        if gm:
            software = gm.group(1)
        else:
            iv = _re.search(
                r'inkscape:version[ \t\r\n]*=[ \t\r\n]*["\']([^"\']+)',
                head,
            )
            if iv:
                software = "Inkscape " + iv.group(1)
        dm = _re.search(r"<desc[^>]*>(.*?)</desc>", head, _re.S)
        if dm and dm.group(1).strip():
            comment = dm.group(1).strip()
        if software is None and comment is None:
            return None
        return (software, comment)
    if payload[:8] == _PNG_SIG:
        pos = 8
        while pos + 8 <= len(payload):
            ln, typ = struct.unpack_from(">I4s", payload, pos)
            body = payload[pos + 8 : pos + 8 + ln]
            if len(body) < ln:
                break
            key = text = None
            if typ == b"tEXt" and b"\x00" in body:
                key_b, text_b = body.split(b"\x00", 1)
                key, text = key_b.decode("latin-1"), text_b.decode(
                    "latin-1"
                )
            elif typ == b"zTXt" and b"\x00" in body:
                key_b, rest = body.split(b"\x00", 1)
                if len(rest) >= 1 and rest[0] == 0:
                    # Incremental-budget inflate: a few-KB chunk can claim
                    # GBs of output, so cap BEFORE allocating — ask for at
                    # most limit+1 bytes and treat an over-limit or
                    # truncated stream as untagged (the PDF Flate
                    # discipline).
                    try:
                        dec = zlib.decompressobj()
                        text_b = dec.decompress(rest[1:], (1 << 20) + 1)
                        if (
                            len(text_b) <= 1 << 20
                            and not dec.unconsumed_tail
                            and dec.eof
                        ):
                            key = key_b.decode("latin-1")
                            text = text_b.decode("latin-1")
                    except zlib.error:
                        pass
            elif typ == b"iTXt":
                # keyword\0 flag(1) method(1) lang\0 translated\0 text
                n1 = body.find(b"\x00")
                if n1 >= 0 and len(body) >= n1 + 3 and body[n1 + 1] == 0:
                    rest = body[n1 + 3 :]
                    n2 = rest.find(b"\x00")
                    n3 = rest.find(b"\x00", n2 + 1) if n2 >= 0 else -1
                    if n3 >= 0:
                        key = body[:n1].decode("latin-1")
                        text = rest[n3 + 1 :].decode(
                            "utf-8", errors="replace"
                        )
            if key is not None and text is not None:
                if key == "Software" and software is None:
                    software = text
                elif key in ("Comment", "Description") and comment is None:
                    comment = text
                elif key == "XML:com.adobe.xmp" and software is None:
                    # r18: the XMP packet's CreatorTool — the Adobe-
                    # ecosystem software stamp rides PNG iTXt under
                    # this reserved keyword (always uncompressed)
                    software = _xmp_creator_tool(text)
            if typ == b"IEND":
                break
            pos += 12 + ln
    elif payload[:2] == b"\xff\xd8":
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                break
            marker = payload[pos + 1]
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                if marker in (0xD9, 0xDA):
                    break
                pos += 2
                continue
            seglen = struct.unpack_from(">H", payload, pos + 2)[0]
            if seglen < 2:
                break
            seg = payload[pos + 4 : pos + 2 + seglen]
            if marker == 0xFE and comment is None:
                comment = seg.decode("latin-1")
            elif (
                marker == 0xE1
                and software is None
                and seg.startswith(b"http://ns.adobe.com/xap/1.0/\x00")
            ):
                # r18: the XMP APP1 (namespace-prefixed, distinct
                # from the Exif APP1) — CreatorTool is the stamp
                software = _xmp_creator_tool(
                    seg[29:].decode("utf-8", errors="replace")
                )
            if marker == 0xDA:
                break
            pos += 2 + seglen
    if software is None:
        tiff = _exif_tiff_blob(payload)
        if tiff:
            tags = _exif_tags(tiff)
            if tags:
                v = tags.get(305)  # Software
                if isinstance(v, str):
                    software = v
    if software is None and comment is None:
        return None
    return (software, comment)


def extract_image_provenance(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
) -> DataFrame:
    """(id, kind, software, comment) per media row — kind='tagged'
    when either field parses, 'none' otherwise, 'null' for NULL
    payloads. The generated-image triage face: group by software to
    see which generators/editors dominate a crawl and cap or route
    them."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, kind string, software string, "
        "comment string"
    )

    def prov_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for b in pdf[content_col]:
                if b is None:
                    rows.append(("null", None, None))
                    continue
                got = image_provenance(bytes(b))
                rows.append(
                    ("none", None, None) if got is None
                    else ("tagged",) + got
                )
            out = pd.DataFrame(
                rows, columns=("kind", "software", "comment")
            )
            out.insert(0, id_col, pdf[id_col].values)
            yield out

    return df.mapInPandas(prov_batches, schema=out_schema)


def exif_gps(payload: bytes):
    """GPS position from the EXIF GPS IFD (tag 34853) in any carrying
    container: ``(lat_micro_deg, lon_micro_deg, alt_milli_m)`` as
    signed integers, each None when absent/malformed; None when the
    payload carries no GPS IFD at all. DMS rationals fold to
    micro-degrees with PER-TERM floor division on the magnitude —
    ``d·10⁶//dd + m·10⁶//(md·60) + s·10⁶//(sd·3600)``, sign applied
    last from the N/S/E/W ref — an exact integer formula both engines
    replay identically (the gopher_rules micro-unit discipline; ≤2 µ°
    quantization, far below GPS accuracy). The altitude meter-rational
    folds to millimeters: ``num·1000//den``, negated when
    GPSAltitudeRef is 1 (below sea level). Geo signals
    feed region filtering, location-based dedup, and provenance
    audits of image corpora."""
    tiff = _exif_tiff_blob(payload)
    if not tiff:
        return None
    tags = _exif_tags(tiff)
    gps = tags.get("gps") if tags else None
    if not isinstance(gps, dict):
        return None

    def dms_micro(vals, ref, neg_ref):
        if not (isinstance(vals, list) and len(vals) == 3):
            return None
        try:
            (dn, dd), (mn, md), (sn, sd) = vals
        except (TypeError, ValueError):
            return None
        if not (dd and md and sd):
            return None
        mag = (
            (dn * 1_000_000) // dd
            + (mn * 1_000_000) // (md * 60)
            + (sn * 1_000_000) // (sd * 3600)
        )
        if not isinstance(ref, str) or not ref:
            return None
        return -mag if ref[0] == neg_ref else mag

    lat = dms_micro(gps.get(2), gps.get(1), "S")
    lon = dms_micro(gps.get(4), gps.get(3), "W")
    alt = None
    a = gps.get(6)
    if isinstance(a, list) and a:
        try:
            an, ad = a[0]
        except (TypeError, ValueError):
            an = ad = 0
        if ad:
            alt = (an * 1000) // ad
            ref = gps.get(5)
            if isinstance(ref, list) and ref and int(ref[0]) == 1:
                alt = -alt
    if lat is None and lon is None and alt is None:
        return None
    return (lat, lon, alt)


def extract_exif_gps(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
) -> DataFrame:
    """(id, kind, lat_micro_deg, lon_micro_deg, alt_milli_m) per media
    row via Arrow-batched mapInPandas — kind='gps' when a GPS IFD
    parses, 'none' when the payload has no GPS (normal, not an
    error), 'null' for NULL payloads. Same scan-stage shape as
    extract_exif."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, kind string, lat_micro_deg bigint, "
        "lon_micro_deg bigint, alt_milli_m bigint"
    )

    def gps_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for b in pdf[content_col]:
                if b is None:
                    rows.append(("null", None, None, None))
                else:
                    got = exif_gps(bytes(b))
                    rows.append(
                        ("none", None, None, None)
                        if got is None
                        else ("gps",) + got
                    )
            out = pd.DataFrame(
                rows,
                columns=(
                    "kind", "lat_micro_deg", "lon_micro_deg",
                    "alt_milli_m",
                ),
            )
            out.insert(0, id_col, pdf[id_col].values)
            yield out

    return df.mapInPandas(gps_batches, schema=out_schema)


def _parse_jpeg(payload: bytes) -> tuple[int, int, str] | None:
    """JPEG metadata from the SOF frame header (header-only, like the
    PNM/BMP/PNG parsers — an unsupported-coding payload still reports
    its dimensions when the frame header is sequential baseline)."""
    try:
        parsed = _jpeg_headers(payload)
    except (IndexError, ValueError):
        return None
    if parsed is None:
        return None
    w, h, comps, _m = parsed[2]
    mode = {1: "L", 3: "RGB"}.get(len(comps))
    if mode is None:
        return None
    return (int(w), int(h), mode)


def _jpeg_pixels(payload: bytes):
    """REAL pixel decode for the web's dominant lossy format: sequential
    baseline (SOF0/SOF1) Huffman JPEG, 8-bit, grayscale or YCbCr,
    restart intervals supported, sampling factors accepted whenever the
    grid divides (4:4:4 / 4:2:2 / 4:4:0 / 4:2:0 and their 1-component
    face). Returns (w, h, ndarray[h, w, 3] uint8 RGB) or honest None.

    The hot math is vectorized (one batched einsum IDCT over every
    block, numpy upsample/color-convert); the entropy decode is a
    per-bit Python loop — correct first, and the kernel already runs
    inside an Arrow-batched mapInPandas stage. Production swaps in
    libjpeg-turbo via PIL (the `_HAS_PIL` tier); this tier exists so
    the no-dependency container still decodes REAL pixels."""
    import numpy as np

    try:
        parsed = _jpeg_headers(payload)
    except (IndexError, ValueError):  # corrupt data must not kill a job
        return None
    if parsed is None or parsed[4] is None:
        return None
    qt_raw, hufftabs, (w, h, comps, _m), dri, scan0 = parsed
    if w * h > _PIXEL_BOUND:
        return None
    if _m == 0xC2:
        return _jpeg_progressive_pixels(payload, parsed)
    smap, data_pos = scan0[0], scan0[1]
    if len(smap) != len(comps):
        return None  # non-interleaved multi-scan: unsupported
    zz = np.array(_JPEG_ZZ)
    qts = {}
    for tq, raw in qt_raw.items():
        nat = np.zeros(64, np.int32)
        nat[zz] = np.frombuffer(raw, np.uint8)
        qts[tq] = nat.reshape(8, 8)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for c in comps:
        if not c[1] or not c[2] or hmax % c[1] or vmax % c[2]:
            return None
    mx = -(-w // (8 * hmax))
    my = -(-h // (8 * vmax))
    order = []
    for cid, tdc, tac in smap:
        match = [c for c in comps if c[0] == cid]
        if (
            not match
            or match[0][3] not in qts
            or (0, tdc) not in hufftabs
            or (1, tac) not in hufftabs
        ):
            return None
        order.append((match[0], hufftabs[(0, tdc)], hufftabs[(1, tac)]))
    # A lying frame header cannot make us allocate unboundedly: every
    # block consumes ≥2 entropy bits, so blocks ≤ 8·payload bytes.
    total_blocks = mx * my * sum(c[1] * c[2] for c in comps)
    if total_blocks > 8 * len(payload):
        return None
    segs, _end = _jpeg_entropy_segments(payload, data_pos)
    coefs = [
        np.zeros((my * c[2], mx * c[1], 64), np.int32)
        for c, _d, _a in order
    ]
    bits = _JpegBits(segs[0])
    seg_idx = 0
    preds = [0] * len(order)
    for mcu in range(mx * my):
        if dri and mcu and mcu % dri == 0:  # restart: new segment
            seg_idx += 1
            if seg_idx >= len(segs):
                return None
            bits = _JpegBits(segs[seg_idx])
            preds = [0] * len(order)
        r, c0 = divmod(mcu, mx)
        for ci, (comp, dct, act) in enumerate(order):
            _cid, hi, vi, _tq = comp
            for by in range(vi):
                for bx in range(hi):
                    blk = _jpeg_decode_block(bits, dct, act, preds[ci])
                    if blk is None:
                        return None
                    zzvec, preds[ci] = blk
                    nat = np.zeros(64, np.int32)
                    nat[zz] = zzvec
                    coefs[ci][r * vi + by, c0 * hi + bx] = nat
    coefs_by_cid = {
        comp[0]: coefs[ci] for ci, (comp, _d, _a) in enumerate(order)
    }
    return _jpeg_reconstruct(comps, coefs_by_cid, qts, w, h, hmax, vmax)


def _jpeg_reconstruct(comps, coefs_by_cid, qts, w, h, hmax, vmax):
    """Shared dequant → batched IDCT → upsample → color-convert tail
    for the sequential and progressive decoders. ``coefs_by_cid`` maps
    component id → int32 [block_rows, block_cols, 64] NATURAL-order
    coefficient arrays."""
    import numpy as np

    # Orthonormal IDCT basis: A[u, x] = α(u)·cos((2x+1)uπ/16).
    u = np.arange(8)
    A = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16) * np.sqrt(
        2.0 / 8
    )
    A[0] = np.sqrt(1.0 / 8)
    planes = {}
    for comp in comps:
        cid, hi, vi, tq = comp
        arr = coefs_by_cid[cid]
        blocks = arr.reshape(-1, 8, 8).astype(np.float64) * qts[tq]
        spatial = np.einsum("ux,nuv,vy->nxy", A, blocks, A)
        rows, cols = arr.shape[:2]
        plane = (
            spatial.reshape(rows, cols, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(rows * 8, cols * 8)
        )
        plane = np.clip(np.round(plane) + 128, 0, 255)
        plane = plane.repeat(vmax // vi, axis=0).repeat(hmax // hi, axis=1)
        planes[cid] = plane[:h, :w]
    ordered = [planes[c[0]] for c in comps]  # SOF order = Y (Cb Cr)
    if len(ordered) == 1:
        g = ordered[0].astype(np.uint8)
        return (w, h, np.stack([g, g, g], axis=-1))
    y, cb, cr = ordered
    rgb = np.stack(
        [
            y + 1.402 * (cr - 128),
            y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128),
            y + 1.772 * (cb - 128),
        ],
        axis=-1,
    )
    return (w, h, np.clip(np.round(rgb), 0, 255).astype(np.uint8))


def _jpeg_prog_decode_scan(
    payload, scan, hufftabs, dri, comps, cindex, coefs, grids, mx, my
):
    """Decode ONE progressive scan into the zigzag coefficient
    accumulators; returns the payload index of the scan-terminating
    marker, or None on malformed/truncated entropy data.

    T.81 Annex G decode recurrences (the same ones the public libjpeg
    reference decoder documents in jdphuff.c; this implementation is
    original): DC-first stores the running predictor << Al; DC
    refinement ORs one received bit into bit Al; AC-first runs the
    EOBn band coder (EOB run = (1<<r) + r extension bits, covering the
    current block); AC refinement sends ±1<<Al for newly-significant
    coefficients and one correction bit for every nonzero-history
    coefficient crossed — including those under an EOB run. Restart
    intervals reset the DC predictors AND the EOB run."""
    smap, data_pos, ss, se, ah, al = scan
    segs, end = _jpeg_entropy_segments(payload, data_pos)
    bits = _JpegBits(segs[0])
    seg_idx = 0

    if ss == 0:
        # DC scan (spec: Se must be 0); the only kind that interleaves
        if se != 0 or al > 13:
            return None
        order = []
        for cid, tdc, _tac in smap:
            ci = cindex.get(cid)
            if ci is None:
                return None
            tab = hufftabs.get((0, tdc))
            if ah == 0 and tab is None:
                return None
            order.append((ci, tab))
        interleaved = len(order) > 1
        if interleaved:
            nunits = mx * my
        else:
            cbx0, cby0 = grids[order[0][0]]
            nunits = cbx0 * cby0
        preds = [0] * len(order)

        def dc_block(arr, by, bx, oi):
            if ah == 0:
                t = _jpeg_huff_decode(bits, order[oi][1])
                if t is None or t > 15:
                    return False
                diff = 0
                if t:
                    v = bits.bits(t)
                    if v is None:
                        return False
                    diff = _jpeg_extend(v, t)
                preds[oi] += diff
                arr[by, bx, 0] = preds[oi] << al
            else:
                b = bits.bit()
                if b is None:
                    return False
                if b:
                    arr[by, bx, 0] |= 1 << al
            return True

        for unit in range(nunits):
            if dri and unit and unit % dri == 0:
                seg_idx += 1
                if seg_idx >= len(segs):
                    return None
                bits = _JpegBits(segs[seg_idx])
                preds[:] = [0] * len(order)
            if interleaved:
                r0, c0 = divmod(unit, mx)
                for oi, (ci, _t) in enumerate(order):
                    _cid, hi, vi, _tq = comps[ci]
                    for by in range(vi):
                        for bx in range(hi):
                            if not dc_block(
                                coefs[ci], r0 * vi + by, c0 * hi + bx, oi
                            ):
                                return None
            else:
                ci = order[0][0]
                by, bx = divmod(unit, cbx0)
                if not dc_block(coefs[ci], by, bx, 0):
                    return None
        return end

    # AC scan: single component, non-interleaved (T.81 G.2 requires it)
    if len(smap) != 1 or not (1 <= ss <= se <= 63) or al > 13:
        return None
    cid, _tdc, tac = smap[0]
    ci = cindex.get(cid)
    if ci is None:
        return None
    act = hufftabs.get((1, tac))
    if act is None:
        return None
    arr = coefs[ci]
    cbx, cby = grids[ci]
    eobrun = 0
    p1 = 1 << al
    m1 = -p1
    for unit in range(cbx * cby):
        if dri and unit and unit % dri == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                return None
            bits = _JpegBits(segs[seg_idx])
            eobrun = 0
        block = arr[divmod(unit, cbx)]
        if ah == 0:
            # first scan for this band: the EOBn band coder
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = _jpeg_huff_decode(bits, act)
                if rs is None:
                    return None
                r, s = rs >> 4, rs & 15
                if s:
                    k += r
                    if k > se:
                        return None
                    v = bits.bits(s)
                    if v is None:
                        return None
                    block[k] = _jpeg_extend(v, s) << al
                    k += 1
                else:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            v = bits.bits(r)
                            if v is None:
                                return None
                            eobrun += v
                        eobrun -= 1  # the run covers THIS block
                        break
                    k += 16  # ZRL
            continue
        # refinement scan: correction-bit protocol
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = _jpeg_huff_decode(bits, act)
                if rs is None:
                    return None
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            v = bits.bits(r)
                            if v is None:
                                return None
                            eobrun += v
                        break  # the EOB sweep below finishes the block
                    newval = 0  # ZRL: cross 16 zero-history coefficients
                elif s == 1:
                    b = bits.bit()
                    if b is None:
                        return None
                    newval = p1 if b else m1
                else:
                    return None  # refinement sends magnitude 1 only
                # cross r zero-history coefficients; every
                # nonzero-history coefficient passed takes a correction
                # bit (1 = grow the magnitude by 1<<Al)
                while k <= se:
                    if block[k]:
                        b = bits.bit()
                        if b is None:
                            return None
                        if b and not (block[k] & p1):
                            block[k] += p1 if block[k] > 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if s and k <= se:
                    block[k] = newval
                k += 1
        if eobrun > 0:
            # EOB sweep: correction bits for the remaining
            # nonzero-history coefficients of this block
            while k <= se:
                if block[k]:
                    b = bits.bit()
                    if b is None:
                        return None
                    if b and not (block[k] & p1):
                        block[k] += p1 if block[k] > 0 else m1
                k += 1
            eobrun -= 1
    return end


def _jpeg_progressive_pixels(payload: bytes, parsed=None):
    """REAL pixel decode for progressive (SOF2) Huffman JPEG — the
    coding that dominates web corpora alongside baseline (T.81 Annex
    G: spectral selection AND successive approximation, restart
    intervals, gray or YCbCr). Coefficients accumulate across scans in
    zigzag order via :func:`_jpeg_prog_decode_scan`; DHT/DQT/DRI
    segments between scans update the live tables; after the last scan
    the shared :func:`_jpeg_reconstruct` tail (dequant → batched IDCT
    → upsample → color-convert) produces pixels. Returns
    (w, h, ndarray[h, w, 3] uint8 RGB) or honest None on any
    malformed/truncated scan."""
    import struct

    import numpy as np

    try:
        if parsed is None:
            parsed = _jpeg_headers(payload)
    except (IndexError, ValueError):
        return None
    if parsed is None or parsed[4] is None:
        return None
    qt_raw, hufftabs, (w, h, comps, m), dri, scan = parsed
    if w * h > _PIXEL_BOUND:
        return None
    if m != 0xC2:
        return None
    qt_raw = dict(qt_raw)
    hufftabs = dict(hufftabs)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for c in comps:
        if not c[1] or not c[2] or hmax % c[1] or vmax % c[2]:
            return None
    mx = -(-w // (8 * hmax))
    my = -(-h // (8 * vmax))
    # A lying frame header cannot make us allocate unboundedly (the
    # baseline bound: every block costs entropy bits in some scan).
    total_blocks = mx * my * sum(c[1] * c[2] for c in comps)
    if total_blocks > 8 * len(payload):
        return None
    cindex = {c[0]: i for i, c in enumerate(comps)}
    if len(cindex) != len(comps):
        return None
    coefs = [
        np.zeros((my * c[2], mx * c[1], 64), np.int64) for c in comps
    ]
    # non-interleaved scans walk the COMPONENT's own block grid, which
    # can be smaller than the MCU-padded allocation
    grids = []
    for c in comps:
        cw = -(-(w * c[1]) // hmax)
        ch = -(-(h * c[2]) // vmax)
        grids.append((-(-cw // 8), -(-ch // 8)))
    while scan is not None:
        pos = _jpeg_prog_decode_scan(
            payload, scan, hufftabs, dri, comps, cindex, coefs, grids,
            mx, my,
        )
        if pos is None:
            return None
        # marker loop between scans: tables and DRI are LIVE state
        scan = None
        while pos + 2 <= len(payload):
            if payload[pos] != 0xFF:
                return None
            mk = payload[pos + 1]
            if mk == 0xFF:  # fill byte
                pos += 1
                continue
            if mk == 0xD9:  # EOI
                break
            if mk == 0x01 or 0xD0 <= mk <= 0xD7:  # TEM / stray RST
                pos += 2
                continue
            if pos + 4 > len(payload):
                return None
            ln = struct.unpack_from(">H", payload, pos + 2)[0]
            seg = payload[pos + 4 : pos + 2 + ln]
            if ln < 2 or len(seg) != ln - 2:
                return None
            if mk == 0xC4:  # DHT
                if not _jpeg_dht_into(seg, hufftabs):
                    return None
            elif mk == 0xDB:  # DQT
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 15
                    if pq != 0 or len(seg) < i + 65:
                        return None
                    qt_raw[tq] = bytes(seg[i + 1 : i + 65])
                    i += 65
            elif mk == 0xDD:  # DRI
                if ln != 4:
                    return None
                dri = struct.unpack_from(">H", seg, 0)[0]
            elif mk == 0xDA:  # next scan
                ns = seg[0] if seg else 0
                if not seg or len(seg) < 1 + 2 * ns + 3:
                    return None
                smap = [
                    (
                        seg[1 + 2 * c],
                        seg[2 + 2 * c] >> 4,
                        seg[2 + 2 * c] & 15,
                    )
                    for c in range(ns)
                ]
                b0 = 1 + 2 * ns
                scan = (
                    smap,
                    pos + 2 + ln,
                    seg[b0],
                    seg[b0 + 1],
                    seg[b0 + 2] >> 4,
                    seg[b0 + 2] & 15,
                )
                break
            pos += 2 + ln
    zz = np.array(_JPEG_ZZ)
    qts = {}
    for tq, raw in qt_raw.items():
        nat = np.zeros(64, np.int32)
        nat[zz] = np.frombuffer(raw, np.uint8)
        qts[tq] = nat.reshape(8, 8)
    coefs_by_cid = {}
    for ci, c in enumerate(comps):
        if c[3] not in qts:
            return None
        nat = np.zeros_like(coefs[ci])
        nat[..., zz] = coefs[ci]
        coefs_by_cid[c[0]] = nat
    return _jpeg_reconstruct(comps, coefs_by_cid, qts, w, h, hmax, vmax)


# ITU-R BT.601 luma, integer micro-form: (299R + 587G + 114B) // 1000 —
# exact integer arithmetic, so the histogram is bit-reproducible in any
# engine that can index the same bytes (the DuckDB oracle replays it).
def _luma(arr):
    import numpy as np

    a = arr.astype(np.int32)
    return (299 * a[..., 0] + 587 * a[..., 1] + 114 * a[..., 2]) // 1000


def _svg_root_tag(payload: bytes):
    """The root ``<svg …>`` tag of a STANDALONE SVG document, or None.

    Skips an optional UTF-8 BOM, whitespace, the XML declaration,
    comments, and a doctype (including a bracketed internal subset),
    then requires the first real ELEMENT to be ``<svg`` — so HTML
    pages carrying inline SVG islands (whose first element is
    ``<html``/``<body``) never take the SVG path, and a standalone
    SVG is recognized regardless of whether its dimensions parse
    (r18 ADVICE: provenance extraction must not depend on numeric
    dims). Scans the first 4 KiB only."""
    import re as _re

    head = payload[:4096]
    if head[:3] == b"\xef\xbb\xbf":
        head = head[3:]
    if b"<svg" not in head:
        return None
    text = head.decode("utf-8", errors="replace")
    pos, n = 0, len(text)
    while pos < n:
        while pos < n and text[pos] in " \t\r\n":
            pos += 1
        if text.startswith("<svg", pos):
            m = _re.match(r"<svg\b[^>]*>", text[pos:], _re.S)
            return m.group(0) if m else None
        if text.startswith("<!--", pos):
            end = text.find("-->", pos + 4)
            if end < 0:
                return None
            pos = end + 3
        elif text.startswith("<?", pos):
            end = text.find("?>", pos + 2)
            if end < 0:
                return None
            pos = end + 2
        elif text.startswith("<!", pos):
            # doctype; a '[' before the first '>' opens an internal
            # subset whose entity declarations contain '>' — skip to
            # the closing ']>' instead
            gt = text.find(">", pos + 2)
            br = text.find("[", pos + 2)
            if br != -1 and (gt == -1 or br < gt):
                end = text.find("]>", br)
                gt = -1 if end < 0 else end + 1
            if gt < 0:
                return None
            pos = gt + 1
        else:
            return None
    return None


def _parse_svg(payload: bytes):
    """Header-only dims for SVG (r17 — the web's dominant VECTOR
    image format, a large crawled-image fraction the raster parsers
    can't see): locate the root ``<svg …>`` tag via
    :func:`_svg_root_tag` (r18: prolog-aware — HTML with inline SVG
    no longer classifies as SVG), read integer-or-float px/unitless
    width/height attributes (floats floor), falling back to the
    viewBox's width/height. None when the root tag or parseable dims
    are absent; em/%/other units stay None (resolving them needs
    layout context this tier doesn't have). No rasterizer exists in
    the zero-dependency tier, so the pixel path stays honest-None and
    the decode tier is header_only."""
    import re as _re

    tag = _svg_root_tag(payload)
    if tag is None:
        return None

    def dim(name: str):
        dm = _re.search(
            r'(?<![-\w])' + name
            + r'[ \t\r\n]*=[ \t\r\n]*["\']'
            r"([0-9]+(?:\.[0-9]+)?)(?:px)?[\"']",
            tag,
        )
        return int(float(dm.group(1))) if dm else None

    w, h = dim("width"), dim("height")
    if w is None or h is None:
        vb = _re.search(
            r'viewBox[ \t\r\n]*=[ \t\r\n]*["\'][ \t]*-?[0-9.]+'
            r"[ \t,]+-?[0-9.]+[ \t,]+([0-9.]+)[ \t,]+([0-9.]+)",
            tag,
        )
        if vb:
            if w is None:
                w = int(float(vb.group(1)))
            if h is None:
                h = int(float(vb.group(2)))
    if not w or not h or w <= 0 or h <= 0:
        return None
    return (w, h, "SVG")


def _headers_decode(payload: bytes) -> tuple[int, int, str]:
    """No-PIL kernel: real header parse for BMP/netpbm/PNG/JPEG
    payloads (+ SVG root-tag dims, r17), byte-length fake
    (mode='STUB') for anything else."""
    for parse in (_parse_bmp, _parse_pnm, _parse_png, _parse_gif, _parse_tiff, _parse_webp, _parse_jpeg, _parse_svg):
        parsed = parse(payload)
        if parsed is not None:
            return parsed
    return _fake_decode(payload)


def _pil_decode(payload: bytes) -> tuple[int, int, str]:  # pragma: no cover
    """Real decode via PIL when it's installed. A payload PIL can't parse
    decodes to (0, 0, 'ERROR') instead of failing the stage — a corrupt
    image in a 100 TB corpus must not kill the job."""
    import io

    try:
        with _PIL_Image.open(io.BytesIO(payload)) as im:
            return (im.width, im.height, im.mode)
    except Exception:  # noqa: BLE001 — any parse failure is data, not a bug
        return (0, 0, "ERROR")


def with_decoded_metadata(
    df: DataFrame,
    content_col: str = "content",
    *,
    keep_content: bool = False,
) -> DataFrame:
    """Append decode metadata (width/height/mode) to a binary media table
    via an Arrow-batched mapInPandas stage."""
    passthrough = [
        f for f in df.schema.fields
        if keep_content or f.name != content_col
    ]
    # join() so a content-only input (no passthrough columns) yields a
    # valid schema instead of a leading ", "
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in passthrough]
        + [DECODE_SCHEMA]
    )
    pass_names = [f.name for f in passthrough]

    def decode_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = _pil_decode if _HAS_PIL else _headers_decode
        for pdf in batches:
            decoded = pdf[content_col].map(
                lambda b: kernel(bytes(b)) if b is not None else (0, 0, "NULL")
            )
            out = pdf[pass_names].copy()
            out["width"] = decoded.map(lambda t: t[0])
            out["height"] = decoded.map(lambda t: t[1])
            out["mode"] = decoded.map(lambda t: t[2])
            yield out

    return df.mapInPandas(decode_batches, schema=out_schema)


def classify_decode_tier(payload) -> tuple[str, str]:
    """(container, tier) for one media payload — the measurement the
    real-pixel/honest-None split needs to be MANAGEABLE at corpus
    scale (r16): ``tier`` is ``real`` when the zero-dep decoder
    produces actual pixels/samples/frames, ``header_only`` when the
    container parses but the payload falls to the labeled fallback
    (lossy VP8, palette BMP, 16-bit PNG, compressed TIFF/WAV/AVI, …),
    ``fallback`` when no container matches (the byte-histogram path),
    ``null`` for NULL payloads. Containers are detected with the SAME
    header parsers the metadata path uses, and tiers with the SAME
    real decoders — the counter can never disagree with the decode it
    measures."""
    if payload is None:
        return ("null", "null")
    payload = bytes(payload)
    image_parsers = (
        ("pnm", _parse_pnm), ("bmp", _parse_bmp), ("png", _parse_png),
        ("gif", _parse_gif), ("tiff", _parse_tiff),
        ("webp", _parse_webp), ("jpeg", _parse_jpeg),
        ("svg", _parse_svg),
    )
    for name, parse in image_parsers:
        if parse(payload) is not None:
            # GIF is both an image and (animated) video container; a
            # real ANIMATION decode still counts the container as gif
            real = decode_pixels(payload) is not None
            return (name, "real" if real else "header_only")
    if len(payload) >= 12 and payload[:4] == b"RIFF":
        if payload[8:12] == b"WAVE":
            real = decode_audio(payload) is not None
            return ("wav", "real" if real else "header_only")
        if payload[8:12] == b"AVI ":
            real = decode_video_frames(payload) is not None
            return ("avi", "real" if real else "header_only")
    # r17 header-walk containers: stats come off headers alone by
    # design, so their honest tier is header_only (no sample/pixel
    # decode exists for them in this zero-dep path)
    if _mp4_parse(payload) is not None:
        return ("mp4", "header_only")
    if _mp3_scan(payload) is not None:
        return ("mp3", "header_only")
    # r18: the FLAC/OGG stats faces are header walks too
    if _flac_stream_info(payload) is not None:
        return ("flac", "header_only")
    if _ogg_stream_info(payload) is not None:
        return ("ogg", "header_only")
    # PDFs are documents, not media — but lumping them into the
    # unknown/fallback bucket misread the telemetry (r17): name the
    # container and tier it by the SAME extractor the pdf rows run
    # (real = text extraction succeeds, header_only = magic matches
    # but the parse refuses)
    if payload[:5] == b"%PDF-":
        from lotad_spark.pipeline.pdf import pdf_text_pages

        real = pdf_text_pages(payload) is not None
        return ("pdf", "real" if real else "header_only")
    return ("unknown", "fallback")


def decode_tier_counts(
    df: DataFrame,
    content_col: str = "content",
    *,
    sample_fraction: float | None = None,
    seed: int = 7,
) -> DataFrame:
    """Per-(container, tier) payload counts over a binary media table:
    classification runs inside the scan stage (Arrow mapInPandas, one
    pass, embarrassingly parallel), the only exchange carries the
    tiny (container, tier, partial-count) partials — mergeable
    map-side. The output is the decision table for VERDICT-style
    questions like 'how much of this crawl does the lossy-VP8
    fallback cover, and is a VP8 decoder worth building?'.

    Cost note: deciding ``real`` vs ``header_only`` requires actually
    RUNNING the real decoder, so exact mode costs a full decode pass
    over every classifiable payload. At corpus scale pass
    ``sample_fraction`` (seeded Bernoulli row sample pushed below the
    classification) — tier FRACTIONS are what the telemetry decision
    needs, and they converge fast; the oracle row runs exact mode."""
    if sample_fraction is not None:
        df = df.sample(fraction=sample_fraction, seed=seed)

    def classify_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            tiers = pdf[content_col].map(classify_decode_tier)
            out = pd.DataFrame(
                {
                    "container": tiers.map(lambda t: t[0]),
                    "tier": tiers.map(lambda t: t[1]),
                }
            )
            # map-side partial: one row per (container, tier) per batch
            yield out.groupby(
                ["container", "tier"], as_index=False
            ).size().rename(columns={"size": "n"})

    partials = df.mapInPandas(
        classify_batches, schema="container string, tier string, n long"
    )
    return partials.groupBy("container", "tier").agg(
        F.sum("n").alias("n")
    )


def frame_sample_plan(
    df: DataFrame,
    content_col: str = "content",
    *,
    every_nth: int = 10,
) -> DataFrame:
    """Video frame-sampling plumbing: explode a stub frame index per
    payload (byte-length-derived frame count) — the real decoder would
    emit one row per sampled frame with its own binary column."""
    from pyspark.sql import functions as F

    n_frames = (F.octet_length(F.col(content_col)) / 100 + 1).cast("int")
    return df.withColumn(
        "frame_idx",
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_nth))),
    ).drop(content_col)


FEATURE_DIM = 16


def _wav_header(payload: bytes):
    """RIFF/WAVE chunk walk for uncompressed PCM: returns
    ``(n_channels, sample_rate, bits, data_offset, data_len)`` or None
    when the payload is not a structurally-complete PCM WAV (bad
    magic, truncated chunk, missing fmt/data, compressed audio_format,
    or a bit depth other than 8/16). Like the image parsers, the walk
    is the ONE definition the metadata and sample-decode paths share."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, ln = payload[pos : pos + 4], struct.unpack_from(
            "<I", payload, pos
        + 4)[0]
        body = payload[pos + 8 : pos + 8 + ln]
        if len(body) < ln:
            return None  # truncated chunk
        if cid == b"fmt " and ln >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = (pos + 8, ln)
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_format, n_ch, rate, _bps, _align, bits = fmt
    if audio_format != 1 or n_ch < 1 or bits not in (8, 16):
        return None  # compressed / float / exotic depth: honest None
    return (n_ch, rate, bits, data[0], data[1])


def decode_audio(payload: bytes):
    """REAL sample decode for the zero-dependency audio format —
    uncompressed RIFF/WAVE PCM (8-bit unsigned or 16-bit signed
    little-endian, any channel count): returns
    ``(sample_rate, ndarray[n_frames, n_channels] int32)`` with every
    sample normalized to the SIGNED 16-bit range (8-bit input maps
    ``(s − 128)·256``), or None for anything compressed, float-PCM,
    or truncated — the same honesty contract as
    :func:`decode_pixels`. Trailing bytes that don't fill a whole
    frame are dropped (the spec allows a padded data chunk)."""
    import numpy as np

    hdr = _wav_header(payload)
    if hdr is None:
        return None
    n_ch, rate, bits, off, ln = hdr
    bytes_per = bits // 8
    frame = n_ch * bytes_per
    n_frames = ln // frame
    if n_frames == 0:
        return None
    if bits == 16:
        samples = (
            np.frombuffer(payload, np.dtype("<i2"), n_frames * n_ch, off)
            .astype(np.int32)
            .reshape(n_frames, n_ch)
        )
    else:
        samples = (
            (
                np.frombuffer(
                    payload, np.uint8, n_frames * n_ch, off
                ).astype(np.int32)
                - 128
            )
            * 256
        ).reshape(n_frames, n_ch)
    return (rate, samples)


# MPEG audio frame-header tables (ISO/IEC 11172-3 / 13818-3 — public).
# Sample rates by version key (3=MPEG1, 2=MPEG2, 0=MPEG2.5) and the
# 2-bit samplerate index; bitrates in kbps by (version, layer) with
# layer bits 3=Layer I, 2=Layer II, 1=Layer III. Index 0 is "free
# format" (frame size unknowable from the header — the walk stops
# honestly) and 15 is forbidden.
_MP3_RATES = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}
_MP3_BR_V1L1 = (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320,
                352, 384, 416, 448)
_MP3_BR_V1L2 = (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                256, 320, 384)
_MP3_BR_V1L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                224, 256, 320)
_MP3_BR_V2L1 = (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176,
                192, 224, 256)
_MP3_BR_V2L23 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                 144, 160)
_MP3_BITRATES = {
    (3, 3): _MP3_BR_V1L1, (3, 2): _MP3_BR_V1L2, (3, 1): _MP3_BR_V1L3,
    (2, 3): _MP3_BR_V2L1, (2, 2): _MP3_BR_V2L23, (2, 1): _MP3_BR_V2L23,
    (0, 3): _MP3_BR_V2L1, (0, 2): _MP3_BR_V2L23, (0, 1): _MP3_BR_V2L23,
}


def _mp3_scan(payload: bytes):
    """MPEG-audio frame-header walk (r17): ``(sample_rate, n_channels,
    n_sample_frames, duration_ms)`` from headers alone — duration
    without a DCT synthesis, the curation signal crawled MP3 needs.
    Skips a leading ID3v2 tag (syncsafe size), then counts FULLY
    PRESENT frames (a truncated final frame doesn't count — a header
    alone could be payload garbage that happens to sync); stops at the
    first non-sync byte (trailing ID3v1/garbage) and refuses
    free-format frames (size unknowable) and mid-stream sample-rate
    changes. None when no complete frame parses. duration_ms =
    total_samples·1000 // rate, exact integers."""
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        sz = (
            ((payload[6] & 0x7F) << 21)
            | ((payload[7] & 0x7F) << 14)
            | ((payload[8] & 0x7F) << 7)
            | (payload[9] & 0x7F)
        )
        pos = 10 + sz
        if payload[5] & 0x10:  # v2.4 footer: 10 bytes after the tag
            pos += 10
    total = 0
    rate = ch = None
    while pos + 4 <= len(payload):
        b1, b2, b3, b4 = payload[pos : pos + 4]
        if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
            break
        ver = (b2 >> 3) & 3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5, 1=reserved
        layer = (b2 >> 1) & 3  # 3=I, 2=II, 1=III, 0=reserved
        if ver == 1 or layer == 0:
            break
        br_idx = b3 >> 4
        sr_idx = (b3 >> 2) & 3
        pad = (b3 >> 1) & 1
        if br_idx in (0, 15) or sr_idx == 3:
            break
        sr = _MP3_RATES[ver][sr_idx]
        br = _MP3_BITRATES[(ver, layer)][br_idx] * 1000
        if layer == 3:  # Layer I: 384 samples, slot = 4 bytes
            spf = 384
            fsz = (12 * br // sr + pad) * 4
        elif layer == 2:  # Layer II: 1152 samples
            spf = 1152
            fsz = 144 * br // sr + pad
        else:  # Layer III: 1152 (MPEG1) / 576 (MPEG2/2.5) samples
            spf = 1152 if ver == 3 else 576
            fsz = (144 if ver == 3 else 72) * br // sr + pad
        if fsz <= 4 or pos + fsz > len(payload):
            break
        if rate is None:
            rate, ch = sr, 1 if (b4 >> 6) == 3 else 2
        elif sr != rate:
            return None  # mid-stream rate change: refuse, don't guess
        total += spf
        pos += fsz
    if not total or rate is None:
        return None
    return rate, ch, total, total * 1000 // rate


# ID3v2 text-frame ids for the three tags curation uses (title /
# artist / album), per major version: v2.2 uses 3-char ids with
# 3-byte sizes; v2.3/2.4 use 4-char ids with 4-byte sizes (v2.4
# syncsafe). Values decode per the frame's encoding byte.
_ID3_FRAME_KEYS = {
    b"TIT2": "title", b"TPE1": "artist", b"TALB": "album",
    b"TT2": "title", b"TP1": "artist", b"TAL": "album",
}
# RIFF LIST-INFO sub-chunk ids → the same three slots (WAV's metadata
# carrier; values are NUL-terminated latin-1 text)
_RIFF_INFO_KEYS = {b"INAM": "title", b"IART": "artist",
                   b"IPRD": "album"}


def _id3_text(enc: int, raw: bytes):
    """One ID3 text-frame body → str per the encoding byte (0
    latin-1, 1 utf-16 with BOM, 2 utf-16-be, 3 utf-8), trimmed at the
    first terminator; None for an undecodable or unknown form."""
    try:
        if enc == 0:
            return raw.split(b"\x00", 1)[0].decode("latin-1")
        if enc == 1:
            return raw.decode("utf-16").split("\x00", 1)[0]
        if enc == 2:
            return raw.decode("utf-16-be").split("\x00", 1)[0]
        if enc == 3:
            return raw.split(b"\x00", 1)[0].decode("utf-8")
    except UnicodeDecodeError:
        return None
    return None


def _vorbis_comments(data: bytes):
    """The Vorbis-comment block at the START of ``data`` →
    {UPPERKEY: value} (first occurrence wins), or None when
    malformed: u32-LE vendor length + vendor string, u32-LE comment
    count, then per comment u32-LE length + UTF-8 ``key=value``.
    Declared lengths are bounds-checked against bytes PRESENT before
    any slice (the hostile-input rule) and the comment count is
    capped at 1024 — a header block, not a data stream."""
    import struct

    if len(data) < 8:
        return None
    vlen = struct.unpack_from("<I", data, 0)[0]
    pos = 4 + vlen
    if pos + 4 > len(data):
        return None
    count = struct.unpack_from("<I", data, pos)[0]
    if count > 1024:
        return None
    pos += 4
    out: dict = {}
    for _ in range(count):
        if pos + 4 > len(data):
            return None
        clen = struct.unpack_from("<I", data, pos)[0]
        pos += 4
        if pos + clen > len(data):
            return None
        raw = data[pos : pos + clen]
        pos += clen
        eq = raw.find(b"=")
        if eq <= 0:
            continue  # keyless comment: skip, not fatal
        try:
            key = raw[:eq].decode("ascii").upper()
            val = raw[eq + 1 :].decode("utf-8")
        except UnicodeDecodeError:
            continue
        if val:
            out.setdefault(key, val)
    return out


def _flac_vorbis_tags(payload: bytes):
    """('flac', title, artist, album) from a FLAC stream's
    VORBIS_COMMENT metadata block (type 4), or None: 'fLaC' magic,
    then 4-byte block headers (1 flag/type byte + 24-bit big-endian
    length) until the last-block flag."""
    if payload[:4] != b"fLaC":
        return None
    pos = 4
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + blen]
        if len(body) < blen:
            return None  # truncated block: refuse the whole claim
        if hdr & 0x7F == 4:
            tags = _vorbis_comments(body)
            if tags:
                got = _tags_slots(tags)
                if got != (None, None, None):
                    return ("flac",) + got
            return None
        if hdr & 0x80:
            return None  # last block reached without comments
        pos += 4 + blen
    return None


def _ogg_vorbis_tags(payload: bytes):
    """('ogg', title, artist, album) from an OGG stream's comment
    header — Vorbis (``\\x03vorbis`` packet) or Opus (``OpusTags``),
    or None. Pages of the FIRST bitstream serial are walked with real
    lacing (the comment packet legally spans pages), capped at 16
    pages / 1 MiB of packet bytes — comment headers live at the
    front of the stream by spec; media pages never get that far."""
    import struct

    if payload[:4] != b"OggS":
        return None
    serial = None
    buf = bytearray()
    packets: list[bytes] = []
    pos = 0
    pages = 0
    while (
        pos + 27 <= len(payload)
        and pages < 16
        and len(buf) < (1 << 20)
        and len(packets) < 2
    ):
        if payload[pos : pos + 4] != b"OggS":
            break
        nseg = payload[pos + 26]
        seg_table = payload[pos + 27 : pos + 27 + nseg]
        if len(seg_table) < nseg:
            break
        page_serial = struct.unpack_from("<I", payload, pos + 14)[0]
        body = pos + 27 + nseg
        if serial is None:
            serial = page_serial
        if page_serial == serial:
            off = body
            for lace in seg_table:
                chunk = payload[off : off + lace]
                if len(chunk) < lace:
                    return None
                buf += chunk
                off += lace
                if lace < 255:  # packet boundary
                    packets.append(bytes(buf))
                    buf.clear()
                    if len(packets) >= 2:
                        break
        pos = body + sum(seg_table)
        pages += 1
    for pkt in packets[1:2]:  # comment header is packet 2
        tags = None
        if pkt[:7] == b"\x03vorbis":
            tags = _vorbis_comments(pkt[7:])
        elif pkt[:8] == b"OpusTags":
            tags = _vorbis_comments(pkt[8:])
        if tags:
            got = _tags_slots(tags)
            if got != (None, None, None):
                return ("ogg",) + got
    return None


def _tags_slots(tags: dict):
    return (
        tags.get("TITLE"), tags.get("ARTIST"), tags.get("ALBUM")
    )


def audio_tags_payload(payload: bytes):
    """(kind, title, artist, album) metadata tags from an audio
    container, or None when the payload carries neither form (r17):

    * ID3v2.2/2.3/2.4 leading tag on MPEG audio — text frames
      TIT2/TPE1/TALB (TT2/TP1/TAL in v2.2), per-frame encoding byte;
    * RIFF/WAVE ``LIST`` chunk of form ``INFO`` — INAM/IART/IPRD,
      NUL-terminated latin-1;
    * ID3v1 trailing 128-byte ``TAG`` block (r17 — the only tag old
      MP3s carry): 30-byte latin-1 title/artist/album fields, used
      as the FALLBACK when no v2/LIST field resolved (v1 is the
      legacy, lower-fidelity form; the extended ``TAG+`` block is
      not parsed);
    * Vorbis comments (r18): FLAC VORBIS_COMMENT metadata block
      (kind='flac') and OGG Vorbis/Opus comment header packet
      (kind='ogg') — TITLE/ARTIST/ALBUM ``key=value`` pairs, keys
      case-insensitive, real page lacing (the comment packet legally
      spans pages).

    r18: tag-level ID3v2.2/2.3 unsynchronisation is now REVERSED
    (``FF 00`` → ``FF`` over the tag body) and the v2 frames read,
    instead of abandoning them for the v1 block; v2.4 per-frame
    unsync likewise. Compressed/encrypted frames stay skipped.

    The dedup/provenance face for crawled audio (generators and
    rippers stamp exactly these fields — the image_provenance
    analogue). First occurrence wins per field; fields independently
    None; malformed frames are skipped, never fatal."""
    import struct

    title = artist = album = None
    if payload[:3] == b"ID3" and len(payload) >= 10:
        major = payload[3]
        sz = (
            ((payload[6] & 0x7F) << 21)
            | ((payload[7] & 0x7F) << 14)
            | ((payload[8] & 0x7F) << 7)
            | (payload[9] & 0x7F)
        )
        if major == 2 and payload[5] & 0x40:
            # v2.2 "compression" flag: the whole tag body is
            # compressed with an unspecified scheme — unreadable by
            # design, fall to the v1 block
            return _id3v1_tags(payload)
        tag = payload[10 : 10 + sz]
        if payload[5] & 0x80 and major in (2, 3):
            # r18: tag-level unsynchronisation is a trivially
            # reversible FF 00 → FF substitution applied to the whole
            # tag body as the LAST write step (v2.2/2.3) — reverse it
            # and read the real v2 frames instead of abandoning them
            # for the lower-fidelity v1 block. (v2.4 moved unsync to
            # per-frame flags with on-disk frame sizes; handled in
            # the frame loop below.)
            tag = tag.replace(b"\xff\x00", b"\xff")
        pos = 0
        if major in (3, 4) and payload[5] & 0x40:
            # extended header precedes the frames: v2.3 size excludes
            # its own 4 size bytes (plain big-endian); v2.4 size is
            # syncsafe and INCLUDES itself
            if len(tag) >= 4:
                if major == 3:
                    pos = 4 + int.from_bytes(tag[:4], "big")
                else:
                    pos = (
                        ((tag[0] & 0x7F) << 21)
                        | ((tag[1] & 0x7F) << 14)
                        | ((tag[2] & 0x7F) << 7)
                        | (tag[3] & 0x7F)
                    )
        id_len = 3 if major == 2 else 4
        while pos + id_len * 2 <= len(tag):
            fid = tag[pos : pos + id_len]
            if not fid.strip(b"\x00"):
                break  # padding reached
            frame_flags2 = 0
            if major == 2:
                fsz = int.from_bytes(tag[pos + 3 : pos + 6], "big")
                body_off = pos + 6
            else:
                raw_sz = tag[pos + 4 : pos + 8]
                if major >= 4:
                    fsz = (
                        ((raw_sz[0] & 0x7F) << 21)
                        | ((raw_sz[1] & 0x7F) << 14)
                        | ((raw_sz[2] & 0x7F) << 7)
                        | (raw_sz[3] & 0x7F)
                    )
                else:
                    fsz = int.from_bytes(raw_sz, "big")
                frame_flags2 = tag[pos + 9] if pos + 9 < len(tag) else 0
                body_off = pos + 10
            body = tag[body_off : body_off + fsz]
            if len(body) < fsz:
                break
            # per-frame format flags: compressed / encrypted frames
            # would decode to garbage text — skip them (honest
            # absence). v2.3 puts compression 0x80 / encryption 0x40
            # in byte 2; v2.4 uses 0x08 / 0x04. r18: v2.4's per-frame
            # unsync (0x02) is reversed (FF 00 → FF, after stripping
            # the syncsafe data-length indicator 0x01 if present)
            # rather than skipped — frame sizes are on-disk sizes, so
            # the walk itself is unaffected.
            transformed = (
                frame_flags2 & (0xC0 if major == 3 else 0x0C)
                if major in (3, 4)
                else 0
            )
            if major == 4 and not transformed:
                if frame_flags2 & 0x01 and len(body) >= 4:
                    body = body[4:]
                if frame_flags2 & 0x02:
                    body = body.replace(b"\xff\x00", b"\xff")
            key = _ID3_FRAME_KEYS.get(fid)
            if key and len(body) >= 1 and not transformed:
                text = _id3_text(body[0], body[1:])
                if text:
                    if key == "title" and title is None:
                        title = text
                    elif key == "artist" and artist is None:
                        artist = text
                    elif key == "album" and album is None:
                        album = text
            pos = body_off + fsz
        if title is not None or artist is not None or album is not None:
            return ("id3", title, artist, album)
        return _id3v1_tags(payload)
    if (
        len(payload) >= 12
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
    ):
        pos = 12
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            ln = struct.unpack_from("<I", payload, pos + 4)[0]
            body = payload[pos + 8 : pos + 8 + ln]
            if len(body) < ln:
                break
            if cid == b"LIST" and body[:4] == b"INFO":
                sub = 4
                while sub + 8 <= len(body):
                    sid = body[sub : sub + 4]
                    sln = struct.unpack_from("<I", body, sub + 4)[0]
                    sval = body[sub + 8 : sub + 8 + sln]
                    if len(sval) < sln:
                        break
                    key = _RIFF_INFO_KEYS.get(sid)
                    if key:
                        text = sval.split(b"\x00", 1)[0].decode(
                            "latin-1"
                        )
                        if text:
                            if key == "title" and title is None:
                                title = text
                            elif key == "artist" and artist is None:
                                artist = text
                            elif key == "album" and album is None:
                                album = text
                    sub += 8 + sln + (sln & 1)
            pos += 8 + ln + (ln & 1)
        if title is None and artist is None and album is None:
            # WAV with no LIST-INFO fields but a trailing ID3v1 block
            # (real rippers emit this combination): the documented
            # fallback applies here too
            return _id3v1_tags(payload)
        return ("riff", title, artist, album)
    got = _flac_vorbis_tags(payload)
    if got is None:
        got = _ogg_vorbis_tags(payload)
    if got is not None:
        return got
    return _id3v1_tags(payload)


def _id3v1_tags(payload: bytes):
    """The trailing 128-byte ID3v1 ``TAG`` block, or None: 30-byte
    fixed latin-1 fields, NUL/space-padded; empty fields None."""
    if len(payload) < 128:
        return None
    tag = payload[-128:]
    if tag[:3] != b"TAG":
        return None

    def field(b: bytes):
        s = b.split(b"\x00", 1)[0].decode("latin-1").strip()
        return s or None

    title = field(tag[3:33])
    artist = field(tag[33:63])
    album = field(tag[63:93])
    if title is None and artist is None and album is None:
        return None
    return ("id3v1", title, artist, album)


def audio_tags(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
) -> DataFrame:
    """(id, kind, title, artist, album) per media row — the audio
    metadata-tag face (:func:`audio_tags_payload`): kind is 'id3' /
    'riff' / 'id3v1' / 'flac' / 'ogg' (r18) for the carrying forms,
    'none' for tagless payloads, 'null'
    for NULL. Scan-stage Arrow batches like every media face; the
    output is the grouping key for by-artist/by-ripper triage and the
    join key audio dedup wants before any sample decode."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, kind string, title string, "
        "artist string, album string"
    )

    def tag_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for b in pdf[content_col]:
                if b is None:
                    rows.append(("null", None, None, None))
                    continue
                got = audio_tags_payload(bytes(b))
                rows.append(
                    ("none", None, None, None) if got is None else got
                )
            out = pd.DataFrame(
                rows, columns=("kind", "title", "artist", "album")
            )
            out.insert(0, id_col, pdf[id_col].values)
            yield out

    return df.mapInPandas(tag_batches, schema=out_schema)


def audio_fingerprint_payload(payload: bytes, n_bits: int = 32):
    """Energy-contour fingerprint of decoded PCM: the flat sample
    stream splits into ``n_bits + 1`` integer-boundary windows
    (window w covers ``[w·n // (n_bits+1), (w+1)·n // (n_bits+1))``),
    each window's energy is the exact Σ s², and bit w is set when
    ``E[w+1] > E[w]`` — the audio analogue of aHash's
    brighter-than-mean bits: invariant to volume scaling direction
    and robust to re-encoding noise, so near-identical audio collides
    and hamming distance ranks near-dups. None for payloads
    :func:`decode_audio` can't decode (MP3 stays honest-None here —
    a header walk has no samples to contour)."""
    dec = decode_audio(payload)
    if dec is None:
        return None
    import numpy as np

    _rate, samples = dec
    s = samples.astype(np.int64).ravel()
    n = int(s.size)
    k = n_bits + 1
    # _pcm_energy per window: exact Python-int accumulation (a raw
    # whole-window int64 dot would wrap past ~8.6e9 samples and flip
    # contour bits — the same hazard the audio_stats energy fix
    # closed)
    energies = [
        _pcm_energy(s[w * n // k : (w + 1) * n // k]) for w in range(k)
    ]
    fp = 0
    for w in range(n_bits):
        if energies[w + 1] > energies[w]:
            fp |= 1 << (n_bits - 1 - w)
    return fp


def audio_fingerprint(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
    n_bits: int = 32,
) -> DataFrame:
    """(id, kind, fp) per media row — the audio near-dup key
    (:func:`audio_fingerprint_payload`): kind='pcm' with the
    energy-contour fingerprint for decodable audio, 'bytes'/'null'
    with NULL fp otherwise. Pair near-dups downstream exactly like the
    simhash rows: band the fp and hamming-verify within buckets — the
    fingerprint is the value-checked kernel, the join reuses the
    existing banded machinery. Scan-stage Arrow batches."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, kind string, fp bigint"

    def fp_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for b in pdf[content_col]:
                if b is None:
                    rows.append(("null", None))
                    continue
                fp = audio_fingerprint_payload(bytes(b), n_bits)
                rows.append(
                    ("bytes", None) if fp is None else ("pcm", fp)
                )
            out = pd.DataFrame(rows, columns=("kind", "fp"))
            out.insert(0, id_col, pdf[id_col].values)
            yield out

    return df.mapInPandas(fp_batches, schema=out_schema)


def _pcm_energy(flat, block: int = 1 << 24) -> int:
    """Exact Σ s² over a flat int64 PCM sample array as a Python int.

    Per-sample s² ≤ 2³⁰ for 16-bit PCM, so a 2²⁴-element block dot
    product stays ≤ 2⁵⁴ — safe in int64 — and accumulating the block
    sums in a Python int keeps the result exact for arbitrarily long
    audio (a whole-array int64 sum wraps silently past ~8.6e9
    samples). ``block`` exists for tests; callers use the default."""
    import numpy as np

    return sum(
        int(np.dot(blk, blk))
        for blk in (
            flat[i : i + block] for i in range(0, flat.size, block)
        )
    )


def _flac_stream_info(payload: bytes):
    """(sample_rate, n_channels, total_sample_frames, duration_ms)
    from a FLAC STREAMINFO block (type 0 — mandatory first metadata
    block), or None: the 8 bytes at offset 10 pack sample rate
    (20 bits), channels−1 (3), bits-per-sample−1 (5) and total
    samples (36). Header-only by design (r18) — FLAC amplitude would
    need the full residual decode this zero-dependency path refuses
    to fake. A zero total-samples field (streamed FLAC) yields
    honest-NULL frames/duration."""
    if payload[:4] != b"fLaC":
        return None
    pos = 4
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + blen]
        if len(body) < blen:
            return None
        if hdr & 0x7F == 0:
            if blen < 18:
                return None
            packed = int.from_bytes(body[10:18], "big")
            sr = packed >> 44
            ch = ((packed >> 41) & 0x7) + 1
            total = packed & ((1 << 36) - 1)
            if not sr:
                return None
            if total:
                return (sr, ch, total, total * 1000 // sr)
            return (sr, ch, None, None)
        if hdr & 0x80:
            return None  # last block, no STREAMINFO seen
        pos += 4 + blen
    return None


def _ogg_stream_info(payload: bytes):
    """(sample_rate, n_channels, n_sample_frames, duration_ms) for an
    OGG Vorbis or Opus stream, or None (r18): rate/channels from the
    first packet's ID header; length from the LAST page's granule
    position of the same bitstream serial — pages are walked by
    header+lacing arithmetic only, payload bytes are never read, so
    cost is linear in page COUNT, not media bytes. Opus granules run
    at the codec's fixed 48 kHz with the ID header's pre-skip
    subtracted per RFC 7845; -1 granules (no packet completes on the
    page) are skipped. A torn final page ends the walk with the last
    intact granule."""
    import struct

    if payload[:4] != b"OggS":
        return None
    serial = sr = ch = None
    codec = None
    preskip = 0
    last_granule = None
    pos = 0
    while pos + 27 <= len(payload):
        if payload[pos : pos + 4] != b"OggS":
            break
        nseg = payload[pos + 26]
        seg = payload[pos + 27 : pos + 27 + nseg]
        if len(seg) < nseg:
            break
        psn = struct.unpack_from("<I", payload, pos + 14)[0]
        body = pos + 27 + nseg
        size = sum(seg)
        if body + size > len(payload):
            break  # torn page: keep what parsed
        if serial is None:
            serial = psn
            pkt = payload[body : body + size]
            if pkt[:7] == b"\x01vorbis" and len(pkt) >= 16:
                codec = "vorbis"
                ch = pkt[11]
                sr = struct.unpack_from("<I", pkt, 12)[0]
            elif pkt[:8] == b"OpusHead" and len(pkt) >= 12:
                codec = "opus"
                ch = pkt[9]
                preskip = struct.unpack_from("<H", pkt, 10)[0]
                sr = 48000  # Opus granules always run at 48 kHz
        if psn == serial:
            g = struct.unpack_from("<q", payload, pos + 6)[0]
            if g >= 0:
                last_granule = g
        pos = body + size
    if codec is None or not sr:
        return None
    if last_granule is None or last_granule == 0:
        return (sr, ch, None, None)
    nf = max(last_granule - (preskip if codec == "opus" else 0), 0)
    return (sr, ch, nf, nf * 1000 // sr)


def audio_stats(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
) -> DataFrame:
    """(id, kind, sample_rate, n_channels, n_frames, duration_ms,
    peak_abs, energy) per media row — the audio curation signals
    (silence/clipping detection, length stratification) in EXACT
    integer arithmetic so both engines agree bit-for-bit:
    ``duration_ms = n_frames·1000 // rate``, ``peak_abs = max |s|``,
    ``energy = Σ s²`` over all channels (bigint — RMS needs a sqrt,
    so the ENERGY is the stored form and callers derive RMS at
    display time). MP3 payloads (r17) take the header walk
    (:func:`_mp3_scan`): kind='mp3' with sample_rate / n_channels /
    n_frames (total sample frames) / duration_ms from the frame
    headers alone, peak_abs/energy honestly NULL — amplitude stats
    need a full DCT synthesis this zero-dependency path refuses to
    fake. FLAC (r18, kind='flac') reads STREAMINFO
    (:func:`_flac_stream_info`) and OGG Vorbis/Opus (kind='ogg')
    takes rate/channels from the ID packet and length from the last
    page's granule position (:func:`_ogg_stream_info`) — same
    header-only contract, amplitude honestly NULL. Undecodable
    payloads are kind='bytes' with NULL stats; NULL payloads
    kind='null'. Scan-stage Arrow batches like every media face."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, kind string, sample_rate int, "
        "n_channels int, n_frames bigint, duration_ms bigint, "
        "peak_abs int, energy bigint"
    )

    def stat_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for b in pdf[content_col]:
                if b is None:
                    rows.append(("null",) + (None,) * 6)
                    continue
                dec = decode_audio(bytes(b))
                if dec is None:
                    raw = bytes(b)
                    mp3 = _mp3_scan(raw)
                    if mp3 is not None:
                        sr, ch, nf, dur = mp3
                        rows.append(
                            ("mp3", sr, ch, nf, dur, None, None)
                        )
                        continue
                    flac = _flac_stream_info(raw)
                    if flac is not None:
                        sr, ch, nf, dur = flac
                        rows.append(
                            ("flac", sr, ch, nf, dur, None, None)
                        )
                        continue
                    ogg = _ogg_stream_info(raw)
                    if ogg is not None:
                        sr, ch, nf, dur = ogg
                        rows.append(
                            ("ogg", sr, ch, nf, dur, None, None)
                        )
                        continue
                    rows.append(("bytes",) + (None,) * 6)
                    continue
                rate, samples = dec
                s = samples.astype(np.int64)
                n_frames = int(s.shape[0])
                energy = _pcm_energy(s.ravel())
                if energy > (1 << 63) - 1:
                    # Exact value doesn't fit the bigint column: NULL
                    # (loud absence) beats a silently wrapped number.
                    energy = None
                rows.append(
                    (
                        "pcm",
                        int(rate),
                        int(s.shape[1]) if s.ndim == 2 else 1,
                        n_frames,
                        n_frames * 1000 // rate if rate else None,
                        int(np.abs(s).max()) if s.size else 0,
                        energy,
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=(
                    "kind", "sample_rate", "n_channels", "n_frames",
                    "duration_ms", "peak_abs", "energy",
                ),
            )
            out.insert(0, id_col, pdf[id_col].values)
            yield out

    return df.mapInPandas(stat_batches, schema=out_schema)


def extract_audio_hist(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
    dim: int = FEATURE_DIM,
) -> DataFrame:
    """(id, kind, sample_rate, n_frames, hist array<int>) per media row
    via Arrow-batched mapInPandas — the audio sibling of
    ``extract_feature_counts(kind='luma')``: decode REAL PCM samples
    (:func:`decode_audio`), histogram their amplitude into ``dim`` even
    bins over the signed 16-bit range (``(s + 32768) · dim // 65536``
    — pure integer arithmetic summed over channels in frame order, so
    the histogram replays exactly in SQL). Payloads the decoder can't
    handle fall back to the byte histogram with ``kind='bytes'`` and
    ``sample_rate``/``n_frames`` 0 — labeled, never silently faked;
    NULL payloads emit kind='null'. The id column keeps the caller's
    type."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, kind string, sample_rate int, "
        "n_frames bigint, hist array<int>"
    )

    def audio_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            kinds, rates, frames, feats = [], [], [], []
            for b in pdf[content_col]:
                if b is None:
                    kinds.append("null")
                    rates.append(0)
                    frames.append(0)
                    feats.append([0] * dim)
                    continue
                raw = bytes(b)
                dec = decode_audio(raw)
                if dec is not None:
                    rate, samples = dec
                    bins = ((samples + 32768) * dim) // 65536
                    kinds.append("pcm")
                    rates.append(int(rate))
                    frames.append(int(samples.shape[0]))
                    feats.append(
                        np.bincount(
                            bins.ravel(), minlength=dim
                        ).tolist()
                    )
                    continue
                arr = np.frombuffer(raw, dtype=np.uint8) % dim
                kinds.append("bytes")
                rates.append(0)
                frames.append(0)
                feats.append(np.bincount(arr, minlength=dim).tolist())
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "kind": kinds,
                    "sample_rate": rates,
                    "n_frames": frames,
                    "hist": feats,
                }
            )

    return df.mapInPandas(audio_batches, schema=out_schema)


def _ahash_from_pixels(arr) -> tuple[int, int]:
    """64-bit average-hash (aHash — the classic perceptual image
    fingerprint, public) of a decoded ``[h, w, 3]`` RGB array, as TWO
    non-negative 32-bit halves ``(hi, lo)`` so the packing is exact in
    a signed bigint on every engine (one 64-bit int would put grid
    cell 63 in the sign bit). Shared by :func:`image_hashes` and the
    per-frame hashing in :func:`scene_cuts`.

    All-integer pipeline, so the hash replays exactly in SQL: integer
    BT.601 luma → 8×8 nearest-neighbor resample (``src = i·src_dim //
    8``, the :func:`resize_images` index rule) → floor mean over the 64
    cells → bit i set iff cell i > mean (STRICT, so a uniform image
    hashes to all-zero, not all-one). Cell order is row-major; bit i of
    half ``lo`` covers cells 0-31, ``hi`` cells 32-63."""
    h, w = arr.shape[0], arr.shape[1]
    lum = _luma(arr)
    ys = [y * h // 8 for y in range(8)]
    xs = [x * w // 8 for x in range(8)]
    cells = [int(lum[y][x]) for y in ys for x in xs]
    mean = sum(cells) // 64
    lo = hi = 0
    for i, c in enumerate(cells):
        if c > mean:
            if i < 32:
                lo |= 1 << i
            else:
                hi |= 1 << (i - 32)
    return (hi, lo)


def image_hashes(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
    kinds: tuple = ("ahash",),
    normalize_orientation: bool = False,
) -> DataFrame:
    """(id, kind, <k>_hi, <k>_lo per requested kind) via ONE
    Arrow-batched mapInPandas stage: each image decodes ONCE
    (:func:`decode_pixels` — the dominant cost) and the decoded pixels
    feed every requested hash kernel, so running two fingerprint kinds
    (e.g. an aHash band pass verified by pHash) pays one decode, not
    two. Shared contract for the whole trio: NULL payloads emit
    kind='null', undecodable payloads kind='bytes' — both with NULL
    halves (never a fake hash that could collide with a real one) —
    and successful rows carry '+'.join(kinds) (the bare kind name for
    single-kind calls, which is what :func:`image_near_dup_pairs`
    filters on).

    ``normalize_orientation=True`` uprights the decoded pixels by the
    payload's EXIF orientation (:func:`exif_metadata` /
    :func:`_apply_exif_orientation`) BEFORE hashing: none of the
    perceptual hashes is rotation-invariant, so a camera shot stored
    sideways (orientation 6/8 — ubiquitous in phone photos) and its
    upright re-encode only collapse to the same fingerprint when the
    declared orientation is applied first. Payloads without EXIF hash
    as-is."""
    bad = [k for k in kinds if k not in _HASH_KERNELS]
    if bad or not kinds:
        raise ValueError(
            f"image_hashes: kinds must be drawn from "
            f"{sorted(_HASH_KERNELS)}, got {list(kinds)!r}"
        )
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = ", ".join(
        [f"`{id_col}` {id_type}", "kind string"]
        + [f"{k}_hi bigint, {k}_lo bigint" for k in kinds]
    )
    ok_kind = "+".join(kinds)

    def hash_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {id_col: pdf[id_col], "kind": []}
            halves = {k: ([], []) for k in kinds}
            for b in pdf[content_col]:
                if b is None:
                    tag, arr = "null", None
                else:
                    raw = bytes(b)
                    dec = decode_pixels(raw)
                    tag = ok_kind if dec is not None else "bytes"
                    arr = dec[2] if dec is not None else None
                    if arr is not None and normalize_orientation:
                        exif = exif_metadata(raw)
                        if exif is not None and exif[0] is not None:
                            arr = _apply_exif_orientation(arr, exif[0])
                out["kind"].append(tag)
                for k in kinds:
                    hi, lo = (
                        _HASH_KERNELS[k](arr) if arr is not None
                        else (None, None)
                    )
                    halves[k][0].append(hi)
                    halves[k][1].append(lo)
            for k in kinds:
                out[f"{k}_hi"], out[f"{k}_lo"] = halves[k]
            yield pd.DataFrame(out)

    return df.mapInPandas(hash_batches, schema=out_schema)


def image_ahash(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
) -> DataFrame:
    """(id, kind, ahash_hi, ahash_lo) per media row: the perceptual
    fingerprint image dedup runs on — byte-identical images,
    re-encodes of the same pixels (P6 vs PNG vs BMP), and mild
    brightness-preserving edits land on equal or near-equal hashes;
    compare with :func:`image_near_dup_pairs`. One face of the shared
    :func:`image_hashes` stage."""
    return image_hashes(df, content_col, id_col=id_col, kinds=("ahash",))


# Fixed-point DCT-II basis rows for pHash, u ∈ 0..7 over 32 samples:
# _PHASH_DCT14[u][x] = round(cos((2x+1)·u·π/64) · 2^14). Integer
# constants so the WHOLE pHash pipeline is exact int64 arithmetic —
# bit-replayable in any engine that gets the SAME literals (the oracle
# SQL embeds these values verbatim; no engine ever calls cos()).
# Overflow headroom: |T| ≤ 32·255·2¹⁴ ≈ 1.3e8, |C| ≤ 32·|T|·2¹⁴ ≈ 7e13
# — comfortably inside signed 64-bit on both engines.
import math as _math

_PHASH_DCT14 = tuple(
    tuple(
        int(round(_math.cos((2 * x + 1) * u * _math.pi / 64) * 16384))
        for x in range(32)
    )
    for u in range(8)
)


def _phash_from_pixels(arr) -> tuple[int, int]:
    """64-bit pHash (the DCT perceptual fingerprint — public method:
    resize, 2D DCT, median-threshold the low-frequency block) of a
    decoded RGB array, as ``(hi, lo)`` halves.

    All-integer pipeline, so the hash replays exactly in SQL: integer
    BT.601 luma → 32×32 nearest-neighbor resample (the ``src =
    i·src_dim // 32`` index rule shared with aHash/resize) → SEPARABLE
    fixed-point DCT (T = M·L then C = T·Mᵀ with the
    :data:`_PHASH_DCT14` integer basis — integer matmuls, exact) → keep
    the top-left 8×8 of C, drop the DC term → median of the 63 AC
    values = the 32nd smallest (odd count, exact integer order
    statistic) → bit i set iff AC value i > median (STRICT). AC order
    is row-major over (u, v) skipping (0, 0); bit i of ``lo`` covers AC
    values 0-31, ``hi`` values 32-62. Versus aHash (spatial means),
    pHash keys on the spectral envelope, so it survives smooth
    brightness gradients and mild blur that flip aHash bits."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    lum = _luma(arr)
    ys = [y * h // 32 for y in range(32)]
    xs = [x * w // 32 for x in range(32)]
    cells = lum[np.ix_(ys, xs)].astype(np.int64)
    basis = np.array(_PHASH_DCT14, dtype=np.int64)
    coefs = basis @ cells @ basis.T  # exact int64, separable DCT
    ac = coefs.reshape(-1)[1:]  # row-major, DC dropped
    median = int(np.sort(ac)[31])  # 32nd smallest of 63
    lo = hi = 0
    for i, c in enumerate(ac.tolist()):
        if c > median:
            if i < 32:
                lo |= 1 << i
            else:
                hi |= 1 << (i - 32)
    return (hi, lo)


def _dhash_from_pixels(arr) -> tuple[int, int]:
    """64-bit dHash (the difference/gradient perceptual fingerprint —
    public method: resize to 9×8, bit = left pixel brighter than its
    right neighbor) of a decoded RGB array, as ``(hi, lo)`` halves.

    Integer BT.601 luma → 9×8 nearest-neighbor resample (``src =
    i·src_dim // {9,8}``) → bit (row, col) set iff cell[row][col] >
    cell[row][col+1] (STRICT — a uniform image hashes all-zero).
    Row-major bits; ``lo`` covers rows 0-3, ``hi`` rows 4-7. Versus
    aHash (global mean) it keys on LOCAL gradients; versus pHash it is
    far cheaper (no DCT) with coarser invariances."""
    h, w = arr.shape[0], arr.shape[1]
    lum = _luma(arr)
    ys = [y * h // 8 for y in range(8)]
    xs = [x * w // 9 for x in range(9)]
    lo = hi = 0
    for r in range(8):
        for c in range(8):
            if int(lum[ys[r]][xs[c]]) > int(lum[ys[r]][xs[c + 1]]):
                i = r * 8 + c
                if i < 32:
                    lo |= 1 << i
                else:
                    hi |= 1 << (i - 32)
    return (hi, lo)


# pixels -> (hi, lo) kernels behind the shared image_hashes stage
_HASH_KERNELS = {
    "ahash": _ahash_from_pixels,
    "phash": _phash_from_pixels,
    "dhash": _dhash_from_pixels,
}


def _apply_exif_orientation(arr, orientation: int):
    """Upright the decoded ``[h, w, 3]`` array per the EXIF orientation
    value (1-8, CIPA DC-008 semantics: 2 mirror-h, 3 rotate 180,
    4 mirror-v, 5 mirror-h + rotate 270 CW = transpose, 6 rotate 90
    CW, 7 mirror-h + rotate 90 CW = transverse, 8 rotate 270 CW).
    Anything else (incl. 1) returns the array unchanged."""
    import numpy as np

    if orientation == 2:
        return arr[:, ::-1]
    if orientation == 3:
        return arr[::-1, ::-1]
    if orientation == 4:
        return arr[::-1]
    if orientation == 5:
        return arr.transpose(1, 0, 2)
    if orientation == 6:
        return np.rot90(arr, -1)
    if orientation == 7:
        return np.rot90(arr[:, ::-1], -1)
    if orientation == 8:
        return np.rot90(arr, 1)
    return arr


def image_dhash(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
) -> DataFrame:
    """(id, kind, dhash_hi, dhash_lo) per media row — the gradient
    member of the perceptual trio (local horizontal gradients, robust
    to global contrast shifts). One face of the shared
    :func:`image_hashes` stage."""
    return image_hashes(df, content_col, id_col=id_col, kinds=("dhash",))


def image_phash(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
) -> DataFrame:
    """(id, kind, phash_hi, phash_lo) per media row — the spectral
    twin of :func:`image_ahash` (fixed-point DCT envelope, exactly
    invariant to uniform brightness shifts). The two non-negative
    halves pack into the same banding machinery
    (:func:`image_near_dup_pairs`). One face of the shared
    :func:`image_hashes` stage."""
    return image_hashes(df, content_col, id_col=id_col, kinds=("phash",))


def image_near_dup_pairs(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
    max_hamming: int = 7,
    bands: int = 8,
    hash_kind: str = "ahash",
) -> DataFrame:
    """Image near-duplicate PAIRING: (id_a, id_b, hamming) for
    decodable pairs within ``max_hamming`` fingerprint bits, via the
    simhash-style multi-probe banding — the 64-bit fingerprint splits
    into ``bands`` equal slices (``bands`` must divide 64) and
    candidates share at least one (slice_index, slice_value).
    Pigeonhole: recall is EXACT for ``max_hamming ≤ bands − 1``
    (default 7 ≤ 7); verification is exact
    ``bit_count(hi⊕hi) + bit_count(lo⊕lo)`` on bucket-local candidates
    only — never all-pairs, the same scale shape as the text
    SimHash path. Only the hash extraction is Python (Arrow-batched);
    banding, joining, and verification are pure JVM expressions over
    two bigints per image.

    ``hash_kind`` picks the fingerprint: ``"ahash"`` (spatial means —
    cheap, flips under smooth brightness gradients), ``"phash"``
    (r14 — the fixed-point DCT spectral envelope, exactly invariant to
    uniform brightness shifts), or ``"dhash"`` (r14 — local horizontal
    gradients, robust to global contrast shifts); all pack as two
    non-negative bigint halves, so the banding/verify plan is
    identical."""
    if hash_kind == "ahash":
        hashed = image_ahash(df, content_col, id_col=id_col)
        hi_col, lo_col = "ahash_hi", "ahash_lo"
    elif hash_kind == "phash":
        hashed = image_phash(df, content_col, id_col=id_col)
        hi_col, lo_col = "phash_hi", "phash_lo"
    elif hash_kind == "dhash":
        hashed = image_dhash(df, content_col, id_col=id_col)
        hi_col, lo_col = "dhash_hi", "dhash_lo"
    else:
        raise ValueError(
            "image_near_dup_pairs: hash_kind must be 'ahash', "
            f"'phash', or 'dhash', got {hash_kind!r}"
        )
    slices = _ahash_band_slices(bands, "image_near_dup_pairs")
    # Two bigints per decodable image, consumed by BOTH sides of the
    # band self-join: without sharing, the Python image decode stage
    # runs once per reference (2 MapInPandas nodes in the plan).
    # Shared once (share_corpus) so each payload decodes once, feeding
    # the 16-byte/image fingerprints to every consumer.
    hashed = (
        hashed.filter(F.col("kind") == hash_kind)
        .select(
            F.col(id_col),
            F.col(hi_col).alias("ahash_hi"),
            F.col(lo_col).alias("ahash_lo"),
        )
    )
    hashed = share_corpus(hashed)
    stacked = hashed.select(
        F.col(id_col),
        F.col("ahash_hi"),
        F.col("ahash_lo"),
        F.explode(slices).alias("s"),
    ).select(id_col, "ahash_hi", "ahash_lo", "s.band_i", "s.bv")
    a = stacked.select(
        F.col(id_col).alias("id_a"),
        F.col("ahash_hi").alias("_hia"),
        F.col("ahash_lo").alias("_loa"),
        "band_i",
        "bv",
    )
    b = stacked.select(
        F.col(id_col).alias("id_b"),
        F.col("ahash_hi").alias("_hib"),
        F.col("ahash_lo").alias("_lob"),
        "band_i",
        "bv",
    )
    cands = (
        a.join(b, ["band_i", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_hia", "_loa", "_hib", "_lob")
        .distinct()
    )
    ham = F.bit_count(
        F.col("_hia").bitwiseXOR(F.col("_hib"))
    ) + F.bit_count(F.col("_loa").bitwiseXOR(F.col("_lob")))
    return (
        cands.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def scene_cuts(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
    every_nth: int = 1,
    cut_hamming: int = 16,
) -> DataFrame:
    """Scene-cut detection over uncompressed AVI payloads — the
    key-frame selector a video-corpus pipeline runs before expensive
    per-frame featurization: decode every ``every_nth``-th frame
    (:func:`decode_video_frames`), aHash each
    (:func:`_ahash_from_pixels`), and flag frames whose hamming to the
    PREVIOUS sampled frame reaches ``cut_hamming`` as cuts. Returns one
    row per sampled frame:
    ``(id, kind, frame_idx, hamming_prev, is_cut)`` — ``hamming_prev``
    NULL on the first sampled frame (a video's opening frame starts a
    scene by definition, so ``is_cut`` is false there and callers
    treat frame 0 as an implicit scene start). Undecodable payloads
    emit ONE labeled row (kind='bytes', frame_idx NULL); NULL payloads
    kind='null'. All-integer arithmetic, so the oracle replays
    per-frame hashing and consecutive hamming exactly in SQL."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, kind string, frame_idx bigint, "
        "hamming_prev int, is_cut boolean"
    )

    def cut_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, idxs, hams, cuts = [], [], [], [], []
            for mid, b in zip(pdf[id_col], pdf[content_col]):
                if b is None:
                    ids.append(mid)
                    kinds.append("null")
                    idxs.append(None)
                    hams.append(None)
                    cuts.append(False)
                    continue
                dec = decode_video_frames(
                    bytes(b), every_nth=every_nth
                )
                if dec is None:
                    ids.append(mid)
                    kinds.append("bytes")
                    idxs.append(None)
                    hams.append(None)
                    cuts.append(False)
                    continue
                _w, _h, _n, frames = dec
                prev = None
                for i, px in enumerate(frames):
                    hi, lo = _ahash_from_pixels(px)
                    if prev is None:
                        ham = None
                    else:
                        ham = int(
                            bin((hi ^ prev[0])).count("1")
                            + bin((lo ^ prev[1])).count("1")
                        )
                    ids.append(mid)
                    kinds.append("frames")
                    idxs.append(i * every_nth)
                    hams.append(ham)
                    cuts.append(
                        ham is not None and ham >= cut_hamming
                    )
                    prev = (hi, lo)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "kind": kinds,
                    "frame_idx": idxs,
                    "hamming_prev": hams,
                    "is_cut": cuts,
                }
            )

    return df.mapInPandas(cut_batches, schema=out_schema)


def video_frame_hashes(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
    every_nth: int = 1,
) -> DataFrame:
    """(id, kind, frame_idx, ahash_hi, ahash_lo) — the per-frame
    perceptual fingerprints of every ``every_nth``-th frame of an
    uncompressed-AVI payload, the raw material for cross-video
    near-dup (:func:`video_near_dup_pairs`). Only the decode+hash is
    Python (Arrow-batched); everything downstream (scene-start
    selection via lag, banding, pairing) is pure JVM expression.
    Undecodable payloads emit ONE labeled row (kind='bytes', NULL
    halves); NULL payloads kind='null' — the :func:`scene_cuts`
    honesty contract."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, kind string, frame_idx bigint, "
        "ahash_hi bigint, ahash_lo bigint"
    )

    def hash_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, idxs, his, los = [], [], [], [], []
            for mid, b in zip(pdf[id_col], pdf[content_col]):
                if b is None:
                    ids.append(mid)
                    kinds.append("null")
                    idxs.append(None)
                    his.append(None)
                    los.append(None)
                    continue
                dec = decode_video_frames(bytes(b), every_nth=every_nth)
                if dec is None:
                    ids.append(mid)
                    kinds.append("bytes")
                    idxs.append(None)
                    his.append(None)
                    los.append(None)
                    continue
                _w, _h, _n, frames = dec
                for i, px in enumerate(frames):
                    hi, lo = _ahash_from_pixels(px)
                    ids.append(mid)
                    kinds.append("frames")
                    idxs.append(i * every_nth)
                    his.append(hi)
                    los.append(lo)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "kind": kinds,
                    "frame_idx": idxs,
                    "ahash_hi": his,
                    "ahash_lo": los,
                }
            )

    return df.mapInPandas(hash_batches, schema=out_schema)


def _ahash_band_slices(bands: int, caller: str):
    """The 64-bit-fingerprint band machinery shared by
    :func:`image_near_dup_pairs` and :func:`video_near_dup_pairs`:
    validates ``bands`` and returns the exploded
    ``array<struct<band_i, bv>>`` column of equal hash slices.
    ``bands ≥ 2`` keeps every slice inside ONE 32-bit half, so slice
    extraction never straddles the hi/lo boundary."""
    if 64 % bands or bands < 2:
        raise ValueError(
            f"{caller}: bands must divide 64 and be >= 2, got {bands}"
        )
    width = 64 // bands
    mask = (1 << width) - 1

    def slice_expr(b: int):
        # slice b covers bits [b*width, (b+1)*width) of the 64-bit
        # hash; pull from the right half (lo = bits 0-31)
        start = b * width
        src = F.col("ahash_lo") if start < 32 else F.col("ahash_hi")
        return F.shiftright(src, start % 32).bitwiseAND(F.lit(mask))

    return F.array(
        *[
            F.struct(F.lit(b).alias("band_i"), slice_expr(b).alias("bv"))
            for b in range(bands)
        ]
    )


def video_near_dup_pairs(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
    every_nth: int = 1,
    cut_hamming: int = 16,
    max_hamming: int = 7,
    bands: int = 8,
    min_coverage: float = 0.5,
) -> DataFrame:
    """CROSS-video perceptual near-dup — two re-encodes/trims of the
    same clip pair up without all-pairs: each video compresses to its
    SCENE SIGNATURE (the distinct aHashes of its scene-START frames:
    frame 0 plus every frame whose hamming to the previous sampled
    frame reaches ``cut_hamming`` — the :func:`scene_cuts` rule,
    computed here as a JVM lag window over
    :func:`video_frame_hashes`), signatures band-pair exactly like
    :func:`image_near_dup_pairs` (pigeonhole: any scene-hash pair
    within ``max_hamming ≤ bands − 1`` bits IS found, so a pair with
    at least one matching scene is never missed), and candidates are
    verified by symmetric scene coverage. Returns
    ``(id_a, id_b, n_scenes_a, n_scenes_b, n_matched_a, n_matched_b,
    coverage)`` where ``n_matched_x`` counts side-x signature hashes
    with a ≤``max_hamming`` partner on the other side and
    ``coverage = (n_matched_a + n_matched_b) / (n_scenes_a +
    n_scenes_b)`` (exact integer micro-units, 6dp — the
    engine-boundary-proof ratio shape), filtered to
    ``≥ min_coverage``.

    Scale: signatures carry two bigints per SCENE (not per frame, not
    per pixel) — a 2-hour video is a few hundred rows; banding keeps
    candidate volume tracking true-pair density exactly as the image /
    SimHash paths do, and the per-candidate verification join touches
    scene sets, never payloads. ``min_coverage`` must be > 0: a
    zero-threshold would ask for pairs with no matching scene, which
    banding (correctly) never generates."""
    if not 0 < min_coverage <= 1:
        raise ValueError(
            f"video_near_dup_pairs: min_coverage must be in (0, 1], "
            f"got {min_coverage}"
        )
    if max_hamming > bands - 1:
        raise ValueError(
            f"video_near_dup_pairs: exact recall needs max_hamming <= "
            f"bands - 1, got {max_hamming} > {bands - 1}"
        )
    hashed = video_frame_hashes(
        df, content_col, id_col=id_col, every_nth=every_nth
    ).filter(F.col("kind") == "frames")
    w = Window.partitionBy(id_col).orderBy("frame_idx")
    phi = F.lag("ahash_hi").over(w)
    plo = F.lag("ahash_lo").over(w)
    ham_prev = F.bit_count(F.col("ahash_hi").bitwiseXOR(phi)) + F.bit_count(
        F.col("ahash_lo").bitwiseXOR(plo)
    )
    # Scene signatures are two bigints per SCENE, consumed by SIX
    # branches (scene counts, both sides of the band self-join, both
    # sides of the verification join): without sharing, the Python
    # video-decode stage re-runs per branch (24 MapInPandas nodes in
    # the r18-before plan). Shared once (share_corpus): every payload
    # decodes exactly once; all downstream work reads the tiny
    # materialized signature relation.
    sig = share_corpus(
        hashed.withColumn("_hp", ham_prev)
        .filter(F.col("_hp").isNull() | (F.col("_hp") >= cut_hamming))
        .select(id_col, "ahash_hi", "ahash_lo")
        .distinct()
    )
    n_scenes = sig.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    slices = _ahash_band_slices(bands, "video_near_dup_pairs")
    stacked = sig.select(
        F.col(id_col), F.explode(slices).alias("s")
    ).select(id_col, "s.band_i", "s.bv")
    # Candidates feed the verification join AND the final assembly —
    # shared the same way (id-pair rows only, bounded by band-collision
    # volume).
    cands = (
        stacked.select(F.col(id_col).alias("id_a"), "band_i", "bv")
        .join(
            stacked.select(F.col(id_col).alias("id_b"), "band_i", "bv"),
            ["band_i", "bv"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    cands = share_corpus(cands)
    sig_a = sig.select(
        F.col(id_col).alias("id_a"),
        F.col("ahash_hi").alias("_hia"),
        F.col("ahash_lo").alias("_loa"),
    )
    sig_b = sig.select(
        F.col(id_col).alias("id_b"),
        F.col("ahash_hi").alias("_hib"),
        F.col("ahash_lo").alias("_lob"),
    )
    crossed = cands.join(sig_a, "id_a").join(sig_b, "id_b")
    ham = F.bit_count(
        F.col("_hia").bitwiseXOR(F.col("_hib"))
    ) + F.bit_count(F.col("_loa").bitwiseXOR(F.col("_lob")))
    matched_a = (
        crossed.groupBy("id_a", "id_b", "_hia", "_loa")
        .agg(F.min(ham).alias("_mh"))
        .filter(F.col("_mh") <= max_hamming)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_matched_a"))
    )
    matched_b = (
        crossed.groupBy("id_a", "id_b", "_hib", "_lob")
        .agg(F.min(ham).alias("_mh"))
        .filter(F.col("_mh") <= max_hamming)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_matched_b"))
    )
    paired = (
        cands.join(matched_a, ["id_a", "id_b"], "left")
        .join(matched_b, ["id_a", "id_b"], "left")
        .join(
            n_scenes.select(
                F.col(id_col).alias("id_a"), F.col("n").alias("n_scenes_a")
            ),
            "id_a",
        )
        .join(
            n_scenes.select(
                F.col(id_col).alias("id_b"), F.col("n").alias("n_scenes_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "n_scenes_a",
            "n_scenes_b",
            F.coalesce("n_matched_a", F.lit(0))
            .cast("bigint")
            .alias("n_matched_a"),
            F.coalesce("n_matched_b", F.lit(0))
            .cast("bigint")
            .alias("n_matched_b"),
        )
    )
    # round((ma+mb)/(na+nb), 6) in exact integer micro-units (HALF_UP)
    # — the same engine-boundary-proof shape as the text-module ratios.
    num = (
        F.col("n_matched_a") + F.col("n_matched_b")
    ).cast("bigint") * F.lit(1_000_000)
    den = (F.col("n_scenes_a") + F.col("n_scenes_b")).cast("bigint")
    x = F.lit(2) * num + den
    d2 = F.lit(2) * den
    q = ((x - x % d2) / d2).cast("bigint")
    return paired.withColumn(
        "coverage", q.cast("double") / F.lit(1_000_000.0)
    ).filter(F.col("coverage") >= F.lit(float(min_coverage)))


def _avi_parse(payload: bytes):
    """RIFF/AVI chunk walk for UNCOMPRESSED 24-bpp video: returns
    ``(width, height, [frame_bytes, ...])`` or None when the payload
    is not a structurally-complete uncompressed AVI (bad magic,
    truncated chunk, missing avih/strf, compressed stream, or a bit
    depth other than 24). Frames are the raw ``..db`` (device
    independent bitmap) chunks of LIST 'movi' — compressed ``..dc``
    streams are exactly what the honesty contract refuses to fake."""
    import struct

    if (
        len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"AVI "
    ):
        return None
    state = {"w": None, "h": None, "bpp": None, "comp": None,
             "usec": None}
    frames: list[bytes] = []
    compressed_seen = False

    def walk(data: bytes) -> bool:
        nonlocal compressed_seen
        pos = 0
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            ln = struct.unpack_from("<I", data, pos + 4)[0]
            body = data[pos + 8 : pos + 8 + ln]
            if len(body) < ln:
                return False  # truncated chunk
            if cid == b"LIST":
                if not walk(body[4:]):
                    return False
            elif cid == b"avih":
                if ln < 40:
                    return False
                state["usec"] = struct.unpack_from("<I", body, 0)[0]
                state["w"] = struct.unpack_from("<I", body, 32)[0]
                state["h"] = struct.unpack_from("<I", body, 36)[0]
            elif cid == b"strf" and ln >= 20:
                state["bpp"] = struct.unpack_from("<H", body, 14)[0]
                state["comp"] = struct.unpack_from("<I", body, 16)[0]
            elif cid[2:4] == b"db":
                frames.append(body)
            elif cid[2:4] == b"dc":
                compressed_seen = True
            pos += 8 + ln + (ln & 1)  # chunks are word-aligned
        return True

    if not walk(payload[12:]):
        return None
    w, h = state["w"], state["h"]
    if (
        w is None
        or h is None
        or w <= 0
        or h <= 0
        or state["bpp"] != 24
        or state["comp"] != 0
        or compressed_seen
        or not frames
    ):
        return None
    return (int(w), int(h), frames, state["usec"])


_MP4_CONTAINERS = frozenset(
    (b"moov", b"trak", b"mdia", b"minf", b"stbl")
)


def _mp4_parse(payload: bytes):
    """ISO-BMFF (MP4) header-only box walk (r17, ISO/IEC 14496-12):
    ``(width, height, n_frames, usec_per_frame, duration_ms)`` without
    touching a single mdat byte — real crawled video is overwhelmingly
    MP4 and its curation signals live entirely in moov. Reads mvhd
    (movie timescale/duration → ``duration_ms = duration·1000 //
    timescale``, exact), the first trak whose tkhd has non-zero 16.16
    dimensions (the video track; audio traks carry 0×0), that trak's
    mdhd media timescale, and its stts: n_frames = Σ sample counts;
    usec_per_frame = delta·1,000,000 // media_timescale only when stts
    has exactly ONE entry (a variable-rate table has no single frame
    duration — NULL, never an average passed off as truth). None when
    the payload has no ftyp or no parseable mvhd. v0 and v1 mvhd/tkhd
    forms both handled; 64-bit largesize boxes walked."""
    import struct

    if len(payload) < 12:
        return None

    state = {"ts": None, "dur": None}
    # per-trak accumulation: dims from tkhd, mdhd timescale, stts
    traks: list[dict] = []
    cur: dict | None = None

    def walk(data: bytes, depth: int) -> None:
        nonlocal cur
        if depth > 8:
            return
        pos = 0
        while pos + 8 <= len(data):
            size, typ = struct.unpack_from(">I4s", data, pos)
            hdr = 8
            if size == 1:
                if pos + 16 > len(data):
                    return
                size = struct.unpack_from(">Q", data, pos + 8)[0]
                hdr = 16
            elif size == 0:
                size = len(data) - pos
            if size < hdr or pos + size > len(data):
                return  # malformed/truncated box: stop, keep parsed
            body = data[pos + hdr : pos + size]
            if typ == b"trak":
                cur = {"w": 0, "h": 0, "mts": None, "stts": None}
                traks.append(cur)
                walk(body, depth + 1)
                cur = None
            elif typ in _MP4_CONTAINERS:
                walk(body, depth + 1)
            elif typ == b"mvhd" and len(body) >= 4:
                v = body[0]
                if v == 1 and len(body) >= 32:
                    state["ts"] = struct.unpack_from(">I", body, 20)[0]
                    state["dur"] = struct.unpack_from(">Q", body, 24)[0]
                elif v == 0 and len(body) >= 20:
                    state["ts"] = struct.unpack_from(">I", body, 12)[0]
                    state["dur"] = struct.unpack_from(">I", body, 16)[0]
            elif typ == b"tkhd" and cur is not None and len(body) >= 4:
                v = body[0]
                need = 92 if v == 1 else 80
                if len(body) >= need + 4:
                    wq, hq = struct.unpack_from(">II", body, need - 4)
                    cur["w"], cur["h"] = wq >> 16, hq >> 16
            elif typ == b"mdhd" and cur is not None and len(body) >= 4:
                v = body[0]
                off = 20 if v == 1 else 12
                if len(body) >= off + 4:
                    cur["mts"] = struct.unpack_from(">I", body, off)[0]
            elif typ == b"stts" and cur is not None and len(body) >= 8:
                n = struct.unpack_from(">I", body, 4)[0]
                if len(body) >= 8 + 8 * n:
                    cur["stts"] = [
                        struct.unpack_from(">II", body, 8 + 8 * i)
                        for i in range(n)
                    ]
            pos += size

    # top level must carry an ftyp for the mp4 claim (the shared
    # _iso_boxes walk — it also gets the 16-byte largesize header
    # bound right, unlike a bare size<8 check)
    if not any(t == b"ftyp" for t, _b in _iso_boxes(payload)):
        return None
    walk(payload, 0)
    if state["ts"] in (None, 0) or state["dur"] is None:
        return None
    dur_ms = state["dur"] * 1000 // state["ts"]
    video = next((t for t in traks if t["w"] > 0 and t["h"] > 0), None)
    if video is None:
        return None
    n_frames = usec = None
    if video["stts"]:
        n_frames = sum(c for c, _d in video["stts"])
        if len(video["stts"]) == 1 and video["mts"]:
            usec = video["stts"][0][1] * 1_000_000 // video["mts"]
    return (video["w"], video["h"], n_frames, usec, dur_ms)


def _iso_boxes(data: bytes):
    """Yield (type, body) for the ISO-BMFF boxes directly inside
    ``data`` — 64-bit largesize and to-end-of-container sizes handled;
    malformed/truncated boxes end the walk silently (callers keep
    whatever parsed)."""
    import struct

    pos = 0
    while pos + 8 <= len(data):
        size, typ = struct.unpack_from(">I4s", data, pos)
        hdr = 8
        if size == 1:
            if pos + 16 > len(data):
                return
            size = struct.unpack_from(">Q", data, pos + 8)[0]
            hdr = 16
        elif size == 0:
            size = len(data) - pos
        if size < hdr or pos + size > len(data):
            return
        yield typ, data[pos + hdr : pos + size]
        pos += size


# iTunes-style ilst item ids → output slots. ©too is what encoders
# stamp themselves into — the generated/transcoded-video triage key.
_MP4_ILST_KEYS = {
    b"\xa9too": "encoder", b"\xa9nam": "title", b"\xa9ART": "artist",
}


def mp4_tags_payload(payload: bytes):
    """(encoder, title, artist) from an MP4's iTunes-style metadata
    (moov → udta → meta → ilst; each item's ``data`` child carries a
    type indicator — UTF-8 values only, the form every real writer
    emits), or None when the payload is not ISO-BMFF or carries none
    of the three items. The video/audio-container sibling of
    image_provenance: encoders and rippers stamp ``©too``, so
    group-by-encoder is the transcode/generator triage for crawled
    MP4."""
    import struct

    has_ftyp = any(t == b"ftyp" for t, _b in _iso_boxes(payload))
    if not has_ftyp:
        return None
    out = {"encoder": None, "title": None, "artist": None}
    for t, moov in _iso_boxes(payload):
        if t != b"moov":
            continue
        for t2, udta in _iso_boxes(moov):
            if t2 != b"udta":
                continue
            for t3, meta in _iso_boxes(udta):
                if t3 != b"meta" or len(meta) < 4:
                    continue
                # meta is a FULL box: 4 version/flags bytes precede
                # its children
                for t4, ilst in _iso_boxes(meta[4:]):
                    if t4 != b"ilst":
                        continue
                    for item, body in _iso_boxes(ilst):
                        key = _MP4_ILST_KEYS.get(item)
                        if key is None or out[key] is not None:
                            continue
                        for t5, dbody in _iso_boxes(body):
                            if t5 != b"data" or len(dbody) < 8:
                                continue
                            dtype = (
                                struct.unpack_from(">I", dbody, 0)[0]
                                & 0xFFFFFF
                            )
                            if dtype != 1:  # UTF-8 text only
                                continue
                            try:
                                out[key] = dbody[8:].decode("utf-8")
                            except UnicodeDecodeError:
                                pass
                            break
    if all(v is None for v in out.values()):
        return None
    return (out["encoder"], out["title"], out["artist"])


# --- EBML / Matroska / WebM (r18) --------------------------------------
# WebM is the other major crawled video container (the <video> tag's
# royalty-free default); its curation signals live in the Segment's
# Info and Tracks master elements — a header-only varint walk with the
# same contract as _mp4_parse: exact integers, honest NULLs, zero
# cluster (media-data) bytes touched. Element IDs from the public
# Matroska/EBML spec (RFC 8794 + matroska.org), stored WITH their
# length marker as the spec prints them.

_EBML_MAGIC = b"\x1a\x45\xdf\xa3"
_EBML_ID_DOCTYPE = 0x4282
_EBML_ID_SEGMENT = 0x18538067
_EBML_ID_INFO = 0x1549A966
_EBML_ID_TIMESTAMP_SCALE = 0x2AD7B1
_EBML_ID_DURATION = 0x4489
_EBML_ID_TITLE = 0x7BA9
_EBML_ID_MUXING_APP = 0x4D80
_EBML_ID_WRITING_APP = 0x5741
_EBML_ID_TRACKS = 0x1654AE6B
_EBML_ID_TRACK_ENTRY = 0xAE
_EBML_ID_TRACK_TYPE = 0x83
_EBML_ID_DEFAULT_DURATION = 0x23E383
_EBML_ID_VIDEO = 0xE0
_EBML_ID_PIXEL_WIDTH = 0xB0
_EBML_ID_PIXEL_HEIGHT = 0xBA
_EBML_ID_CLUSTER = 0x1F43B675
_EBML_ID_TAGS = 0x1254C367
_EBML_ID_TAG = 0x7373
_EBML_ID_SIMPLE_TAG = 0x67C8
_EBML_ID_TAG_NAME = 0x45A3
_EBML_ID_TAG_STRING = 0x4487


def _ebml_vint(data: bytes, pos: int, *, max_len: int, keep_marker: bool):
    """Read one EBML variable-length integer at ``pos``: returns
    ``(value, n_bytes)`` — value is None for an all-ones 'unknown
    size' — or None when malformed/truncated. IDs keep the length
    marker (the spec's printed form); sizes strip it."""
    if pos >= len(data):
        return None
    first = data[pos]
    if first == 0:
        return None  # length > 8: not emitted by any real muxer
    length, mask = 1, 0x80
    while not (first & mask):
        mask >>= 1
        length += 1
    if length > max_len or pos + length > len(data):
        return None
    raw = int.from_bytes(data[pos : pos + length], "big")
    if keep_marker:
        return raw, length
    value = raw & ((1 << (7 * length)) - 1)
    if value == (1 << (7 * length)) - 1:
        return None, length  # unknown size
    return value, length


def _ebml_children(data: bytes):
    """Yield ``(id, body)`` for the EBML elements directly inside
    ``data``. An unknown-size element (legal for Segment/Cluster)
    takes the rest of the buffer and ends the walk; a truncated
    element ends the walk silently — callers keep whatever parsed."""
    pos, n = 0, len(data)
    while pos < n:
        got = _ebml_vint(data, pos, max_len=4, keep_marker=True)
        if got is None:
            return
        eid, idlen = got
        got = _ebml_vint(data, pos + idlen, max_len=8, keep_marker=False)
        if got is None:
            return
        size, szlen = got
        start = pos + idlen + szlen
        if size is None:
            yield eid, data[start:]
            return
        if start + size > n:
            return
        yield eid, data[start : start + size]
        pos = start + size


def _ebml_uint(body):
    return int.from_bytes(body, "big") if 0 < len(body) <= 8 else None


def _ebml_float(body):
    import struct

    if len(body) == 4:
        return struct.unpack(">f", body)[0]
    if len(body) == 8:
        return struct.unpack(">d", body)[0]
    return None


def _ebml_str(body) -> str:
    return bytes(body).decode("utf-8", errors="replace")


def _mkv_parse(payload: bytes):
    """Header-only Matroska/WebM walk: a dict with ``doctype``
    ('webm'/'matroska'), ``width``/``height`` (first video track's
    PixelWidth/PixelHeight — stored as plain uints, no 16.16 games),
    ``usec_per_frame`` (that track's DefaultDuration ns // 1000, NULL
    when the muxer omitted it — variable-rate WebM usually does),
    ``duration_ms`` (Info Duration float × TimestampScale ns,
    floored to ms; TimestampScale defaults to 1,000,000 per spec),
    ``title``/``writing_app``/``muxing_app`` (Info strings) and
    ``tags`` ({TAGNAME: TagString} from Segment→Tags SimpleTags).
    None when the payload has no EBML magic or a non-Matroska
    DocType. Sized Clusters are SKIPPED by size arithmetic (O(1) per
    cluster, no media byte read — Tags legally follow the clusters,
    so the walk must step over them); an unknown-size Cluster (live-
    streamed WebM) ends the walk with whatever parsed before it.
    n_frames would need the media data and stays honestly absent;
    cost never exceeds bytes PRESENT and reads only header bytes."""
    if payload[:4] != _EBML_MAGIC:
        return None
    payload = memoryview(payload)  # zero-copy slices: a sized cluster
    # is stepped over without ever copying its media bytes
    out = {
        "doctype": None, "width": None, "height": None,
        "usec_per_frame": None, "duration_ms": None, "title": None,
        "writing_app": None, "muxing_app": None, "tags": {},
    }
    scale = None
    dur_f = None
    for eid, body in _ebml_children(payload):
        if eid == int.from_bytes(_EBML_MAGIC, "big"):
            for hid, hbody in _ebml_children(body):
                if hid == _EBML_ID_DOCTYPE:
                    out["doctype"] = bytes(hbody).decode(
                        "ascii", errors="replace"
                    ).rstrip("\x00")
        elif eid == _EBML_ID_SEGMENT:
            for sid, sbody in _ebml_children(body):
                if sid == _EBML_ID_CLUSTER:
                    continue  # media data: stepped over, never read
                if sid == _EBML_ID_INFO:
                    for iid, ibody in _ebml_children(sbody):
                        if iid == _EBML_ID_TIMESTAMP_SCALE:
                            scale = _ebml_uint(ibody)
                        elif iid == _EBML_ID_DURATION:
                            dur_f = _ebml_float(ibody)
                        elif iid == _EBML_ID_TITLE:
                            out["title"] = _ebml_str(ibody)
                        elif iid == _EBML_ID_WRITING_APP:
                            out["writing_app"] = _ebml_str(ibody)
                        elif iid == _EBML_ID_MUXING_APP:
                            out["muxing_app"] = _ebml_str(ibody)
                elif sid == _EBML_ID_TRACKS:
                    for tid, tbody in _ebml_children(sbody):
                        if tid != _EBML_ID_TRACK_ENTRY:
                            continue
                        ttype = w = h = ddur = None
                        for fid, fbody in _ebml_children(tbody):
                            if fid == _EBML_ID_TRACK_TYPE:
                                ttype = _ebml_uint(fbody)
                            elif fid == _EBML_ID_DEFAULT_DURATION:
                                ddur = _ebml_uint(fbody)
                            elif fid == _EBML_ID_VIDEO:
                                for vid, vbody in _ebml_children(fbody):
                                    if vid == _EBML_ID_PIXEL_WIDTH:
                                        w = _ebml_uint(vbody)
                                    elif vid == _EBML_ID_PIXEL_HEIGHT:
                                        h = _ebml_uint(vbody)
                        if (
                            ttype == 1
                            and w and h
                            and out["width"] is None
                        ):
                            out["width"], out["height"] = w, h
                            if ddur:
                                out["usec_per_frame"] = ddur // 1000
                elif sid == _EBML_ID_TAGS:
                    for gid, gbody in _ebml_children(sbody):
                        if gid != _EBML_ID_TAG:
                            continue
                        for mid, mbody in _ebml_children(gbody):
                            if mid != _EBML_ID_SIMPLE_TAG:
                                continue
                            tname = tval = None
                            for kid, kbody in _ebml_children(mbody):
                                if kid == _EBML_ID_TAG_NAME:
                                    tname = _ebml_str(kbody)
                                elif kid == _EBML_ID_TAG_STRING:
                                    tval = _ebml_str(kbody)
                            if tname and tval is not None:
                                out["tags"].setdefault(
                                    tname.upper(), tval
                                )
    if out["doctype"] not in ("webm", "matroska"):
        return None
    if dur_f is not None and dur_f >= 0:
        if scale is None:
            scale = 1_000_000  # spec default, ns per tick
        out["duration_ms"] = int(dur_f * scale) // 1_000_000
    return out


def video_tags(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
) -> DataFrame:
    """(id, kind, encoder, title, artist) per media row — the
    video-container metadata-tag face: kind='mp4' for ISO-BMFF
    payloads carrying at least one of the three iTunes-style items
    (:func:`mp4_tags_payload`), kind='webm'/'mkv' (r18) for Matroska
    payloads carrying Info WritingApp/MuxingApp (the encoder stamp —
    the ``©too`` equivalent), Info Title, or TITLE/ARTIST SimpleTags
    (:func:`_mkv_parse`), 'none' for tagless payloads, 'null' for
    NULL. The image_provenance / audio_tags sibling completing the
    provenance family across all three media kinds. Scan-stage Arrow
    batches."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, kind string, encoder string, "
        "title string, artist string"
    )

    def tag_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for b in pdf[content_col]:
                if b is None:
                    rows.append(("null", None, None, None))
                    continue
                got = mp4_tags_payload(bytes(b))
                if got is not None:
                    rows.append(("mp4",) + got)
                    continue
                mkv = _mkv_parse(bytes(b))
                if mkv is not None:
                    enc = mkv["writing_app"] or mkv["muxing_app"]
                    title = mkv["title"] or mkv["tags"].get("TITLE")
                    artist = mkv["tags"].get("ARTIST")
                    if (enc, title, artist) != (None, None, None):
                        kind = (
                            "webm" if mkv["doctype"] == "webm"
                            else "mkv"
                        )
                        rows.append((kind, enc, title, artist))
                        continue
                rows.append(("none", None, None, None))
            out = pd.DataFrame(
                rows, columns=("kind", "encoder", "title", "artist")
            )
            out.insert(0, id_col, pdf[id_col].values)
            yield out

    return df.mapInPandas(tag_batches, schema=out_schema)


def video_stats(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
) -> DataFrame:
    """(id, kind, width, height, n_frames, usec_per_frame,
    duration_ms) per media row — the video curation signals (length
    stratification, frame-rate sanity filters) from container headers
    alone; ``duration_ms`` in exact integers. Three container faces:
    RIFF/AVI (kind='avi', ``duration_ms = n_frames·usec_per_frame //
    1000``), ISO-BMFF/MP4 (kind='mp4', r17 — :func:`_mp4_parse`,
    mvhd/tkhd/stts header walk, ``duration_ms = mvhd duration·1000 //
    timescale``; real crawled video is overwhelmingly MP4), and
    Matroska/WebM (kind='webm'/'mkv', r18 — :func:`_mkv_parse`, EBML
    varint walk: Info Duration×TimestampScale → duration_ms, Tracks
    PixelWidth/Height, DefaultDuration → usec_per_frame; n_frames
    stays honestly NULL — it lives in the clusters this walk never
    reads). GIF stays
    out by design: its animation timing lives in per-frame GCE blocks
    (no single rate exists) and is covered by the scene-cut face;
    other payloads are kind='bytes' with NULL stats, NULL payloads
    kind='null'."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, kind string, width int, height int, "
        "n_frames int, usec_per_frame bigint, duration_ms bigint"
    )

    def stat_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for b in pdf[content_col]:
                if b is None:
                    rows.append(("null",) + (None,) * 5)
                    continue
                parsed = _avi_parse(bytes(b))
                if parsed is None:
                    mp4 = _mp4_parse(bytes(b))
                    if mp4 is not None:
                        w, h, n, usec, dur_ms = mp4
                        rows.append(("mp4", w, h, n, usec, dur_ms))
                        continue
                    mkv = _mkv_parse(bytes(b))
                    if mkv is not None and mkv["width"]:
                        kind = (
                            "webm" if mkv["doctype"] == "webm"
                            else "mkv"
                        )
                        rows.append((
                            kind, mkv["width"], mkv["height"], None,
                            mkv["usec_per_frame"], mkv["duration_ms"],
                        ))
                    else:
                        rows.append(("bytes",) + (None,) * 5)
                    continue
                w, h, frames, usec = parsed
                n = len(frames)
                rows.append(
                    (
                        "avi", w, h, n,
                        None if usec is None else int(usec),
                        None if usec is None else n * int(usec) // 1000,
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=(
                    "kind", "width", "height", "n_frames",
                    "usec_per_frame", "duration_ms",
                ),
            )
            out.insert(0, id_col, pdf[id_col].values)
            yield out

    return df.mapInPandas(stat_batches, schema=out_schema)


def decode_video_frames(payload: bytes, *, every_nth: int = 1):
    """REAL frame decode for the zero-dependency video formats —
    uncompressed 24-bpp RIFF/AVI, and ANIMATED GIF whose frames are
    full-canvas and opaque (:func:`_gif_video_frames` — the honest
    no-compositing subset): returns
    ``(width, height, n_frames_total, [ndarray[h, w, 3] RGB, ...])``
    for every ``every_nth``-th frame (frame 0 always included), or
    None for anything compressed/truncated/exotic — the
    :func:`decode_pixels` honesty contract extended to video. Each
    frame raster is the BMP pixel-section layout: bottom-up rows,
    4-byte row stride, BGR on disk (flipped and reordered here). A
    frame whose chunk is shorter than the raster makes the WHOLE
    payload None (a half-frame is corruption, not data)."""
    import numpy as np

    if every_nth < 1:
        raise ValueError("decode_video_frames: every_nth must be >= 1")
    parsed = _avi_parse(payload)
    if parsed is None:
        return _gif_video_frames(payload, every_nth=every_nth)
    w, h, frames, _usec = parsed
    stride = ((w * 3 + 3) // 4) * 4
    out = []
    for i in range(0, len(frames), every_nth):
        raw = frames[i]
        if len(raw) < stride * h:
            return None
        rows = np.frombuffer(raw, np.uint8, stride * h).reshape(h, stride)
        px = rows[:, : w * 3].reshape(h, w, 3)[::-1]  # bottom-up flip
        out.append(px[:, :, [2, 1, 0]].copy())  # BGR -> RGB
    return (w, h, len(frames), out)


def extract_video_hist(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
    dim: int = FEATURE_DIM,
    every_nth: int = 2,
) -> DataFrame:
    """(id, kind, n_frames, n_sampled, hist array<int>) per media row —
    the video face of the real-feature kernels: decode every
    ``every_nth``-th frame (:func:`decode_video_frames`), compute the
    integer BT.601 luma per pixel, and histogram ALL sampled frames'
    pixels into one ``dim``-bin relation (pure integer arithmetic —
    the SQL oracle replays byte indexing, luma, and binning exactly).
    Undecodable payloads fall back to the byte histogram with
    ``kind='bytes'`` and frame counts 0; NULL emits kind='null'. The
    frame-sampling knob is the production lever: cost scales with the
    SAMPLED pixel volume, not the stored one."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, kind string, n_frames bigint, "
        "n_sampled bigint, hist array<int>"
    )

    def video_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            kinds, totals, sampled, feats = [], [], [], []
            for b in pdf[content_col]:
                if b is None:
                    kinds.append("null")
                    totals.append(0)
                    sampled.append(0)
                    feats.append([0] * dim)
                    continue
                raw = bytes(b)
                dec = decode_video_frames(raw, every_nth=every_nth)
                if dec is not None:
                    _w, _h, n_total, frames = dec
                    hist = np.zeros(dim, dtype=np.int64)
                    for px in frames:
                        bins = (_luma(px) * dim) // 256
                        hist += np.bincount(
                            bins.ravel(), minlength=dim
                        )
                    kinds.append("frames")
                    totals.append(int(n_total))
                    sampled.append(len(frames))
                    feats.append([int(x) for x in hist])
                    continue
                arr = np.frombuffer(raw, dtype=np.uint8) % dim
                kinds.append("bytes")
                totals.append(0)
                sampled.append(0)
                feats.append(np.bincount(arr, minlength=dim).tolist())
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "kind": kinds,
                    "n_frames": totals,
                    "n_sampled": sampled,
                    "hist": feats,
                }
            )

    return df.mapInPandas(video_batches, schema=out_schema)


def extract_feature_counts(
    df: DataFrame,
    content_col: str = "content",
    *,
    id_col: str = "media_id",
    dim: int = FEATURE_DIM,
    kind: str = "bytes",
) -> DataFrame:
    """(id, kind, hist array<int>) per media row via Arrow-batched
    mapInPandas — INTEGER counts, so the kernel output is exactly
    comparable across engines (the DuckDB oracle recomputes the same
    counts; no float-rendering slack).

    Two kernels, both real:

    * ``kind="luma"`` — a REAL image feature: decode the pixels
      (:func:`decode_pixels` — netpbm P2/P3/P5/P6 and uncompressed
      24/32-bpp BMP, no imaging library needed), compute the integer
      BT.601 luma per pixel, histogram into ``dim`` even bins
      (``luma * dim // 256``). Payloads the pure-Python decoder can't
      handle fall back to the byte histogram and SAY so — the output's
      ``kind`` column reads ``luma`` or ``bytes`` per row, never a
      silent fake.
    * ``kind="bytes"`` (default, the pre-r11 behavior) — a ``dim``-bin
      raw byte histogram: format-agnostic, zero decode cost, the right
      cheap fingerprint for exact-dup grouping of opaque payloads.

    A production deployment swaps in a vision/audio encoder emitting raw
    activations; the batch iteration and output schema stay the
    contract. NULL payloads emit kind='null' with a zero histogram.
    The id column keeps the CALLER'S type (string/uuid media ids work,
    not just bigint — the same derived-schema rule as the ANN serving
    relations)."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, kind string, hist array<int>"

    def feat_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def byte_hist(raw: bytes) -> list[int]:
            arr = np.frombuffer(raw, dtype=np.uint8) % dim
            return np.bincount(arr, minlength=dim).tolist()

        for pdf in batches:
            feats, kinds = [], []
            for b in pdf[content_col]:
                if b is None:
                    feats.append([0] * dim)
                    kinds.append("null")
                    continue
                raw = bytes(b)
                if kind == "luma":
                    dec = decode_pixels(raw)
                    if dec is not None:
                        bins = (_luma(dec[2]) * dim) // 256
                        feats.append(
                            np.bincount(
                                bins.ravel(), minlength=dim
                            ).tolist()
                        )
                        kinds.append("luma")
                        continue
                feats.append(byte_hist(raw))
                kinds.append("bytes")
            yield pd.DataFrame(
                {id_col: pdf[id_col], "kind": kinds, "hist": feats}
            )

    return df.mapInPandas(feat_batches, schema=out_schema)


def resize_images(
    df: DataFrame,
    content_col: str = "content",
    *,
    width: int = 64,
    height: int = 64,
) -> DataFrame:
    """Binary→binary resize stage: same schema out as in, plus
    ``resized_width``/``resized_height``/``resize_kind`` metadata.

    REAL kernel for decodable payloads (:func:`decode_pixels` — netpbm
    and uncompressed BMP): nearest-neighbor resample to width×height
    (source index ``x*src_w // width`` — the same integer arithmetic any
    engine can replay) and re-encode as binary P6 PPM, marked
    ``resize_kind='pixel'``. Payloads the pure-Python decoder can't
    handle keep the pre-r11 deterministic byte truncate/pad (marked
    ``'bytes'`` — plumbing-only, swap in libvips for real decode of
    compressed formats). Payload stays binary through the stage — resize
    BEFORE any wide transform so the big bytes never shuffle."""
    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = (
        f"{fields}, resized_width int, resized_height int, "
        "resize_kind string"
    )
    target = width * height

    def resize_one(b) -> tuple[bytes | None, str]:
        import numpy as np

        if b is None:
            return (None, "null")
        raw = bytes(b)
        dec = decode_pixels(raw)
        if dec is None:
            return ((raw[:target]).ljust(target, b"\0"), "bytes")
        sw, sh, arr = dec
        iy = (np.arange(height) * sh) // height
        ix = (np.arange(width) * sw) // width
        sampled = arr[iy][:, ix]
        header = f"P6\n{width} {height}\n255\n".encode("ascii")
        return (header + sampled.astype(np.uint8).tobytes(), "pixel")

    def resize_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            resized = pdf[content_col].map(resize_one)
            out[content_col] = resized.map(lambda t: t[0])
            out["resized_width"] = width
            out["resized_height"] = height
            out["resize_kind"] = resized.map(lambda t: t[1])
            yield out

    return df.mapInPandas(resize_batches, schema=out_schema)

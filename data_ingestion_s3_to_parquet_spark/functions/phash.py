"""Perceptual image hashing (dHash) — pure integer math over the
repo's from-spec decoders; no codec or imaging library.

The image half of the dedup story: text near-dups get MinHash/SimHash
(``operators/dedup.py``); image near-dups get a 64-bit DIFFERENCE
HASH — gradient signs of an area-averaged 9x8 grayscale thumbnail —
which survives re-encoding (PNG ↔ BMP ↔ GIF bitwise-identical pixels
→ identical hash; JPEG quantization → a few flipped bits), so
near-duplicate detection becomes Hamming distance on int64, and the
SimHash banding machinery applies unchanged.

Determinism: everything is exact integer arithmetic — the grayscale
map is the 299/587/114 fixed-point Rec.601 weights under floor
division, and cell comparisons cross-multiply box SUMS against box
AREAS instead of dividing (``sum_l * area_r > sum_r * area_l``), so
no rounding rule is ever invoked. Two engines (or two library
versions) cannot disagree.

The module also holds what every media operator shares: the format
table :data:`SNIFF` (which format a payload is, from its leading
bytes) and the pixel decoders behind :func:`pixels_of`.
"""

from __future__ import annotations

import re
import struct
import zlib

import numpy as np

from .gif import decode_gif
from .jpeg import decode_jpeg
from .qoi import qoi_pixels
from .tiff import decode_tiff

_GRID_W = 9  # 9 columns → 8 horizontal gradients per row
_GRID_H = 8

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Format detection for every media operator, in match order: a payload
# is the first format whose pattern matches its leading bytes (the
# claimed kind/mime is never trusted — corpora lie). Each rule is the
# format decoder's own header check. ISO-BMFF goes first because its
# ``ftyp`` sits at offset 4, where other formats keep a size field.
SNIFF = [
    (fmt, re.compile(pattern, re.S))
    for fmt, pattern in (
        ("mp4", rb"....ftyp"),
        ("mp3", rb"ID3|\xff[\xe0-\xff]"),  # ID3 tag or a frame sync word
        ("bmp", rb"BM"),
        ("png", re.escape(_PNG_SIG)),
        ("gif", rb"GIF8[79]a"),
        ("avi", rb"RIFF....AVI "),
        ("wav", rb"RIFF....WAVE"),
        ("jpeg", rb"\xff\xd8\xff"),
        ("tiff", rb"II|MM"),
        ("qoi", rb"qoif"),
        ("aiff", rb"FORM....AIF[FC]"),
        ("au", rb"\.snd"),
        ("webp", rb"RIFF....WEBP"),
        ("webm", rb"\x1a\x45\xdf\xa3"),
        ("flac", rb"fLaC"),
        ("ogg", rb"OggS"),
    )
]


def sniff(payload: bytes) -> str | None:
    """The :data:`SNIFF` format name of ``payload``, or None."""
    return next((fmt for fmt, rule in SNIFF if rule.match(payload)), None)


def bmp_pixels(payload: bytes) -> np.ndarray:
    """(h, w, 3) RGB uint8 pixels of an uncompressed 24-bit BMP: header
    parsing (``struct``) and one numpy reshape."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    h = abs(height)
    row = (width * 3 + 3) // 4 * 4  # rows padded to 4 bytes
    raw = np.frombuffer(payload, dtype=np.uint8, count=row * h, offset=data_off)
    bgr = raw.reshape(h, row)[:, : width * 3].reshape(h, width, 3)
    rgb = bgr[:, :, ::-1]
    if height > 0:  # positive height = bottom-up row order
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb)


def png_pixels(payload: bytes) -> tuple[np.ndarray, int]:
    """((h, w, channels) uint8 pixels, color_type) of an 8-bit
    non-interlaced PNG: chunk parsing, zlib inflate, and the full
    scanline un-filtering spec (None/Sub/Up/Average/Paeth) for gray,
    RGB, gray+alpha and RGBA.

    The un-filter walks rows (Sub/Paeth carry a per-pixel left
    dependency, so full vectorization isn't possible); row interiors
    use numpy. Decode runs executor-side over Arrow batches, so the
    per-row Python cost parallelizes with the corpus.
    """
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if depth != 8 or channels is None or comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError(
            f"only 8-bit non-interlaced gray/RGB/GA/RGBA PNG supported "
            f"(depth={depth}, color_type={color}, interlace={interlace})"
        )
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG scanline payload has wrong length")

    bpp = channels  # bytes per pixel at depth 8
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: left-dependent
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0  # left
                b = prev[x]  # up
                if ftype == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (line[x] + (a + b) // 2) & 0xFF
                else:  # Paeth predictor
                    c = prev[x - bpp] if x >= bpp else 0  # up-left
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur

    return out.reshape(height, width, channels), color


def _png_rgb(payload: bytes) -> np.ndarray:
    px, color = png_pixels(payload)
    if color in (2, 6):  # RGB / RGBA (alpha ignored)
        return np.ascontiguousarray(px[:, :, :3])
    return np.repeat(px[:, :, :1], 3, axis=2)  # gray / gray+alpha


# (h, w, 3) RGB uint8 pixels per image format; GIF gives its first frame
IMAGE_PIXELS = {
    "bmp": bmp_pixels,
    "png": _png_rgb,
    "gif": lambda payload: decode_gif(payload)["frames"][0],
    "jpeg": decode_jpeg,
    "tiff": decode_tiff,
    "qoi": qoi_pixels,
}


def pixels_of(payload: bytes) -> np.ndarray:
    """(h, w, 3) RGB uint8 pixels of a BMP / PNG / GIF (first frame) /
    baseline-JPEG / TIFF / QOI payload, by its :func:`sniff` format.
    Raises on anything else (poison rows surface per-row through the
    media operators' ok/err contract)."""
    decode = IMAGE_PIXELS.get(sniff(payload))
    if decode is None:
        raise ValueError(
            "unrecognized image container (BMP/PNG/GIF/JPEG/TIFF/QOI)"
        )
    return decode(payload)


def dhash64(px: np.ndarray) -> int:
    """64-bit difference hash of an (h, w, 3) uint8 RGB array, as a
    SIGNED int64 (two's complement — what a LongType column holds).

    Grayscale by fixed-point Rec.601 (floor), area-average to a 9x8
    grid by exact integer box sums over floor-spaced cell boundaries,
    then bit (r, c) = [cell(r, c) brighter than cell(r, c+1)] compared
    by cross-multiplication (no division anywhere). MSB-first in
    row-major order.
    """
    h, w = px.shape[:2]
    if h < 1 or w < 1:
        raise ValueError("empty image")
    g = (
        px[:, :, 0].astype(np.int64) * 299
        + px[:, :, 1].astype(np.int64) * 587
        + px[:, :, 2].astype(np.int64) * 114
    )  # 1000x fixed-point gray; the common factor cancels in compares
    # exact box sums via the 2-D prefix-sum (integral image)
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    ii[1:, 1:] = g.cumsum(axis=0).cumsum(axis=1)
    rb = [r * h // _GRID_H for r in range(_GRID_H + 1)]
    cb = [c * w // _GRID_W for c in range(_GRID_W + 1)]
    # degenerate dims (h < 8 or w < 9) give zero-height/width cells;
    # widen each empty cell to at least one row/col (clamped)
    rb = _widen(rb, h)
    cb = _widen(cb, w)
    bits = 0
    for r in range(_GRID_H):
        r0, r1 = rb[r], rb[r + 1]
        for c in range(_GRID_W - 1):
            c0, c1 = cb[c], cb[c + 1]
            c2 = cb[c + 2]
            sl = int(ii[r1, c1] - ii[r0, c1] - ii[r1, c0] + ii[r0, c0])
            sr = int(ii[r1, c2] - ii[r0, c2] - ii[r1, c1] + ii[r0, c1])
            al = (r1 - r0) * (c1 - c0)
            ar = (r1 - r0) * (c2 - c1)
            bits = (bits << 1) | (1 if sl * ar > sr * al else 0)
    return bits - (1 << 64) if bits >= 1 << 63 else bits


def _widen(bounds: list[int], limit: int) -> list[int]:
    """Make every cell [b[i], b[i+1]) non-empty by pushing each bound
    to at least one past its predecessor, clamped to ``limit`` (then
    pulled back from the end so the last cells stay valid)."""
    b = list(bounds)
    for i in range(1, len(b)):
        if b[i] <= b[i - 1]:
            b[i] = min(b[i - 1] + 1, limit)
    for i in range(len(b) - 2, -1, -1):
        if b[i] >= b[i + 1]:
            b[i] = max(b[i + 1] - 1, 0)
    return b


def box_resize(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Exact integer area-mean downscale of an (h, w, 3) uint8 array
    to (out_h, out_w, 3) — the thumbnail primitive behind
    :func:`dhash64`'s 9x8 grid, exposed as a standalone transform.

    Cell boundaries are the same floor-spaced, ``_widen``-adjusted
    grid dHash uses; each output pixel is ``floor(channel_sum /
    area)`` over its cell, computed from per-channel integral images —
    no floats anywhere, so two executors (or two rounds) can never
    disagree on a thumbnail byte. Downscale only: thumbnailing is the
    pipeline's use case and upsampling has no area-mean semantics.
    """
    h, w = px.shape[:2]
    if h < 1 or w < 1:
        raise ValueError("empty image")
    if not (1 <= out_h <= h and 1 <= out_w <= w):
        raise ValueError(
            f"box_resize is downscale-only: {h}x{w} -> {out_h}x{out_w}"
        )
    ii = np.zeros((h + 1, w + 1, 3), dtype=np.int64)
    ii[1:, 1:] = px.astype(np.int64).cumsum(axis=0).cumsum(axis=1)
    rb = _widen([r * h // out_h for r in range(out_h + 1)], h)
    cb = _widen([c * w // out_w for c in range(out_w + 1)], w)
    out = np.empty((out_h, out_w, 3), dtype=np.uint8)
    for r in range(out_h):
        r0, r1 = rb[r], rb[r + 1]
        for c in range(out_w):
            c0, c1 = cb[c], cb[c + 1]
            s = ii[r1, c1] - ii[r0, c1] - ii[r1, c0] + ii[r0, c0]
            out[r, c] = s // ((r1 - r0) * (c1 - c0))
    return out


def hamming_int(a: int, b: int) -> int:
    """Hamming distance between two signed-int64 hashes (Python-side
    reference; the engine-side twin is ``hashing.hamming64``)."""
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def build_test_bmp(px: np.ndarray) -> bytes:
    """Hand-compose a 24-bit top-down BMP (negative height) from an
    (h, w, 3) RGB uint8 array — test-vector builder, the image twin of
    ``build_mp3_frames`` / ``build_minimal_mp4``."""
    h, w = px.shape[:2]
    row_size = (w * 3 + 3) // 4 * 4
    bgr = px[:, :, ::-1]
    body = b"".join(
        bgr[r].tobytes() + b"\x00" * (row_size - w * 3) for r in range(h)
    )
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, -h, 1, 24, 0, len(body), 2835, 2835, 0, 0
        )
        + body
    )


def _png_filter_rows(px: np.ndarray) -> bytes:
    """Adaptively filtered scanlines of an (h, w, 3) uint8 array: per
    row, all five PNG filters (None/Sub/Up/Average/Paeth, RFC 2083
    §6) are computed vectorized and the one minimizing the sum of
    absolute signed filtered bytes wins — the standard encoder
    heuristic that makes smooth regions deflate well."""
    h, w = px.shape[:2]
    rows = px.reshape(h, w * 3).astype(np.int64)
    prev = np.zeros(w * 3, dtype=np.int64)
    out = bytearray()
    for r in range(h):
        cur = rows[r]
        left = np.concatenate([np.zeros(3, dtype=np.int64), cur[:-3]])
        upleft = np.concatenate([np.zeros(3, dtype=np.int64), prev[:-3]])
        p = left + prev - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
        paeth = np.where(
            (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
        )
        cands = [
            cur,
            cur - left,
            cur - prev,
            cur - (left + prev) // 2,
            cur - paeth,
        ]
        best, best_cost = 0, None
        for f, v in enumerate(cands):
            b = v & 0xFF
            cost = int(np.minimum(b, 256 - b).sum())  # |signed byte|
            if best_cost is None or cost < best_cost:
                best, best_cost = f, cost
        out.append(best)
        out.extend((cands[best] & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    return bytes(out)


def build_png(px: np.ndarray) -> bytes:
    """Encode an (h, w, 3) RGB uint8 array as an 8-bit truecolor
    non-interlaced PNG — the lossless image WRITE path pairing the
    from-spec reader (:func:`png_pixels`): adaptive per-row
    filtering (:func:`_png_filter_rows`) + stdlib zlib deflate + the
    chunk/CRC framing. Deterministic bytes for given pixels (fixed
    deflate level), so PNG-encoded artifacts dedup exactly."""
    h, w = px.shape[:2]
    if h < 1 or w < 1:
        raise ValueError("empty image")

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    return (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(_png_filter_rows(px), 6))
        + chunk(b"IEND", b"")
    )


def seeded_test_image(seed: int, variant: int = 0, h: int = 12, w: int = 16) -> np.ndarray:
    """Deterministic (h, w, 3) RGB test image from an integer seed —
    md5-driven, no RNG state. ``variant`` perturbs a handful of pixels
    (a planted NEAR-duplicate: same dHash neighborhood, different
    exact hash)."""
    import hashlib

    need = h * w * 3
    buf = bytearray()
    i = 0
    while len(buf) < need:
        buf += hashlib.md5(f"{seed}:{i}".encode()).digest()
        i += 1
    px = np.frombuffer(bytes(buf[:need]), dtype=np.uint8).reshape(h, w, 3).copy()
    if variant:
        for k in range(2):
            d = hashlib.md5(f"{seed}:v{variant}:{k}".encode()).digest()
            r, c = d[0] % h, d[1] % w
            px[r, c] = (d[2], d[3], d[4])
    return px

"""Dependency-free PNG codec (stdlib zlib + NumPy).

Closes the remaining common-format gap in the multimodal decode path
(JPEG landed in ``pipeline/jpeg.py``): PNG is DEFLATE (Python's
built-in ``zlib``) plus per-row byte filters, so a full, LOSSLESS
decoder needs no third-party library. Derived from the public PNG
specification (RFC 2083 / ISO 15948).

Decoder: 8-bit greyscale (0), truecolour (2), indexed/palette (3),
greyscale+alpha (4) and RGBA (6); all five filter types (None, Sub,
Up, Average, Paeth); multi-IDAT streams; tRNS ignored (alpha is
composited over white, matching the usual corpus-prep convention).
16-bit depths and interlacing raise ``NotImplementedError``.

Encoder: filter-0 truecolour/greyscale writer — exists so the decoder
is round-trip testable without fixtures, and because PNG is the
natural LOSSLESS sink twin of the lossy JPEG encoder.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from xsarsea_spark.pipeline._codec import check_dims

__all__ = ["decode_png", "encode_png"]

_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a.astype(np.int64) + b.astype(np.int64) - c.astype(np.int64)
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a,
                    np.where(pb <= pc, b, c)).astype(np.uint8)


from xsarsea_spark.pipeline._codec import normalize_corrupt


@normalize_corrupt("PNG")
def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> (h, w, 3) uint8 RGB (alpha composited over white)."""
    if payload[:8] != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    idat = bytearray()
    plte = None
    while pos + 8 <= len(payload):
        ln, ctype = struct.unpack(">I4s", payload[pos:pos + 8])
        data = payload[pos + 8:pos + 8 + ln]
        pos += 12 + ln                       # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    check_dims("PNG", w, h)
    if depth != 8:
        raise NotImplementedError(f"PNG bit depth {depth} unsupported")
    if interlace:
        raise NotImplementedError("interlaced PNG unsupported")
    if comp or filt:
        raise ValueError("invalid PNG compression/filter method")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if nch is None:
        raise ValueError(f"unknown PNG colour type {color}")

    raw = zlib.decompress(bytes(idat))
    stride = w * nch
    if len(raw) < h * (stride + 1):
        raise ValueError("PNG pixel data truncated")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    p = 0
    for y in range(h):
        ftype = raw[p]
        row = np.frombuffer(raw, dtype=np.uint8,
                            count=stride, offset=p + 1).copy()
        p += stride + 1
        if ftype == 0:
            pass
        elif ftype == 1:                     # Sub: sequential in x
            for x in range(nch, stride):
                row[x] = (int(row[x]) + int(row[x - nch])) & 0xFF
        elif ftype == 2:                     # Up
            row = (row.astype(np.int64) + prev).astype(np.uint8)
        elif ftype == 3:                     # Average
            for x in range(stride):
                left = int(row[x - nch]) if x >= nch else 0
                row[x] = (int(row[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ftype == 4:                     # Paeth
            for x in range(stride):
                left = int(row[x - nch]) if x >= nch else 0
                ul = int(prev[x - nch]) if x >= nch else 0
                row[x] = (int(row[x]) + int(_paeth(
                    np.uint8(left), prev[x], np.uint8(ul)))) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y] = row
        prev = row

    px = out.reshape(h, w, nch)
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        return plte[px[:, :, 0]]
    if color == 0:
        return np.repeat(px, 3, axis=2)
    if color == 2:
        return px
    # alpha variants: composite over white (corpus-prep convention)
    if color == 4:
        g, a = px[:, :, 0].astype(np.float64), px[:, :, 1].astype(np.float64)
        g = g * (a / 255.0) + 255.0 * (1.0 - a / 255.0)
        g = np.clip(np.round(g), 0, 255).astype(np.uint8)[..., None]
        return np.repeat(g, 3, axis=2)
    rgb = px[:, :, :3].astype(np.float64)
    a = (px[:, :, 3:4].astype(np.float64)) / 255.0
    rgb = rgb * a + 255.0 * (1.0 - a)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def encode_png(img: np.ndarray) -> bytes:
    """(h, w, 3) or (h, w) uint8 -> PNG bytes (filter 0, zlib level 6,
    lossless)."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    color = 0 if gray else 2
    body = img.astype(np.uint8).reshape(h, -1)
    raw = b"".join(b"\x00" + body[y].tobytes() for y in range(h))
    return (_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color,
                                          0, 0, 0))
            + _chunk(b"IDAT", zlib.compress(raw, 6))
            + _chunk(b"IEND", b""))

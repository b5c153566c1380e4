"""Dependency-free GIF codec (pure Python LZW + NumPy).

Completes the multimodal decode battery (PPM/BMP/JPEG/PNG landed
earlier): GIF is the one common ANIMATED corpus format, so decoding
it makes the pipeline's frame-sampling path operate on real frames
instead of the deterministic fakes. Derived from the public GIF89a
specification.

Decoder: GIF87a/89a, global + local colour tables, interlaced images
(4-pass row order), graphic-control extensions (transparency index,
disposal methods 0-3 incl. restore-background and restore-previous),
multi-frame compositing onto the logical screen. ``decode_gif`` gives
the first composited frame; ``decode_gif_frames`` the full sequence.

Encoder: real variable-width LZW with dictionary reset at 4096,
optional multi-frame animation from a shared palette — exists so the
decoder round-trips losslessly without fixtures (GIF is palette-exact,
so encode->decode equality is bitwise).
"""

from __future__ import annotations

import struct

import numpy as np

from xsarsea_spark.pipeline._codec import check_dims

__all__ = ["decode_gif", "decode_gif_frames", "encode_gif",
           "sample_frames"]


# ----------------------------------------------------------------------
# LZW
# ----------------------------------------------------------------------


class _LZWReader:
    """Little-endian bit stream over concatenated data sub-blocks."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("GIF LZW stream truncated")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v


def _lzw_decode(data: bytes, min_code: int, n_px: int) -> np.ndarray:
    clear = 1 << min_code
    eoi = clear + 1
    r = _LZWReader(data)
    out = np.empty(n_px, dtype=np.uint8)
    n_out = 0

    def reset():
        return ({i: bytes([i]) for i in range(clear)}, min_code + 1,
                eoi + 1)

    table, width, nxt = reset()
    prev = None
    while n_out < n_px:
        code = r.read(width)
        if code == clear:
            table, width, nxt = reset()
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == nxt:
            entry = prev + prev[:1]          # the KwKwK case
        else:
            raise ValueError("corrupt GIF LZW code")
        take = min(len(entry), n_px - n_out)
        out[n_out:n_out + take] = np.frombuffer(entry[:take],
                                                dtype=np.uint8)
        n_out += take
        if prev is not None and nxt < 4096:
            table[nxt] = prev + entry[:1]
            nxt += 1
            if nxt == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def _lzw_encode(idx: bytes, min_code: int) -> bytes:
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    width = min_code + 1
    nxt = eoi + 1
    emit(clear, width)
    w = b""
    for b in idx:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        if nxt < 4096:
            table[wk] = nxt
            nxt += 1
            # the decoder's table lags the encoder's by one entry at
            # the same code position (it adds on the NEXT code), so
            # the encoder grows one code later than the decoder's
            # nxt == 2^width point — growing at 2^width here desyncs
            # the streams (verified by round-trip)
            if nxt - 1 == (1 << width) and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            width = min_code + 1
            nxt = eoi + 1
        w = bytes([b])
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ----------------------------------------------------------------------
# Decoder
# ----------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


from xsarsea_spark.pipeline._codec import normalize_corrupt


@normalize_corrupt("GIF")
def decode_gif_frames(payload: bytes) -> list[np.ndarray]:
    """GIF -> list of composited (h, w, 3) uint8 RGB frames."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    W, H, flags, bg, _ = struct.unpack("<HHBBB", payload[6:13])
    check_dims("GIF", W, H)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(payload[pos:pos + 3 * n],
                            dtype=np.uint8).reshape(n, 3)
        pos += 3 * n

    canvas = np.full((H, W, 3), 255, dtype=np.uint8)
    frames: list[np.ndarray] = []
    transparent = None
    disposal = 0
    prev_canvas = None
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x3B:                        # trailer
            break
        if b == 0x21:                        # extension
            label = payload[pos]
            pos += 1
            if label == 0xF9:                # graphic control
                sz = payload[pos]
                gflags, _delay, tidx = struct.unpack(
                    "<BHB", payload[pos + 1:pos + 5])
                pos += 1 + sz + 1            # size + data + terminator
                transparent = tidx if gflags & 1 else None
                disposal = (gflags >> 2) & 7
            else:                            # app/comment/plain text
                while True:
                    sz = payload[pos]
                    pos += 1 + sz
                    if sz == 0:
                        break
            continue
        if b != 0x2C:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
        x, y, w, h, iflags = struct.unpack("<HHHHB", payload[pos:pos + 9])
        check_dims("GIF", w, h)
        pos += 9
        ct = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            ct = np.frombuffer(payload[pos:pos + 3 * n],
                               dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF image without colour table")
        min_code = payload[pos]
        pos += 1
        data = bytearray()
        while True:
            sz = payload[pos]
            pos += 1
            if sz == 0:
                break
            data += payload[pos:pos + sz]
            pos += sz
        idx = _lzw_decode(bytes(data), min_code, w * h).reshape(h, w)
        if iflags & 0x40:                    # interlaced: 4-pass rows
            de = np.empty_like(idx)
            src = 0
            for start, step in _INTERLACE_PASSES:
                rows = range(start, h, step)
                for rr in rows:
                    de[rr] = idx[src]
                    src += 1
            idx = de

        if disposal == 3:
            prev_canvas = canvas.copy()
        region = ct[idx]
        if transparent is not None:
            mask = idx != transparent
            sub = canvas[y:y + h, x:x + w]
            canvas[y:y + h, x:x + w] = np.where(mask[..., None],
                                                region, sub)
        else:
            canvas[y:y + h, x:x + w] = region
        frames.append(canvas.copy())
        if disposal == 2:                    # restore to background
            # GIF89a: the background index refers to the GLOBAL colour
            # table, not the active (possibly frame-local) one
            bg_rgb = (gct[bg] if gct is not None and bg < len(gct)
                      else np.array([255, 255, 255], dtype=np.uint8))
            canvas[y:y + h, x:x + w] = bg_rgb
        elif disposal == 3 and prev_canvas is not None:
            canvas = prev_canvas
        transparent = None
        disposal = 0
    if not frames:
        raise ValueError("GIF contains no image data")
    return frames


def decode_gif(payload: bytes) -> np.ndarray:
    """First composited frame as (h, w, 3) uint8 RGB."""
    return decode_gif_frames(payload)[0]


def sample_frames(payload: bytes, k: int) -> list[np.ndarray]:
    """``k`` evenly spaced composited frames (always includes the
    first; the last when k > 1) — the real-decode twin of the
    pipeline's frame-sampling verb."""
    frames = decode_gif_frames(payload)
    n = len(frames)
    if k >= n:
        return frames
    picks = np.unique(np.round(
        np.linspace(0, n - 1, num=k)).astype(np.int64))
    return [frames[i] for i in picks]


# ----------------------------------------------------------------------
# Encoder
# ----------------------------------------------------------------------


def encode_gif(frames: np.ndarray | list[np.ndarray],
               palette: np.ndarray) -> bytes:
    """Index frames + shared palette -> GIF89a bytes.

    ``frames``: (h, w) uint8 palette-index array or a list of them
    (animation); ``palette``: (n<=256, 3) uint8 RGB. Lossless by
    construction — decode returns exactly ``palette[frame]``.
    """
    if isinstance(frames, np.ndarray):
        frames = [frames]
    h, w = frames[0].shape
    n = len(palette)
    depth = max(2, int(np.ceil(np.log2(max(n, 2)))))
    table = np.zeros((1 << depth, 3), dtype=np.uint8)
    table[:n] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += table.tobytes()
    if len(frames) > 1:                      # NETSCAPE loop extension
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for fr in frames:
        if fr.shape != (h, w):
            raise ValueError("all GIF frames must share dimensions")
        out += b"\x21\xf9\x04\x00\x0a\x00\x00\x00"  # GCE, no transp.
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        min_code = max(2, depth)
        out += bytes([min_code])
        z = _lzw_encode(fr.astype(np.uint8).tobytes(), min_code)
        for i in range(0, len(z), 255):
            chunk = z[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)

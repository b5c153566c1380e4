"""Dependency-free baseline JPEG codec (pure NumPy + Python ints).

Un-gates the multimodal pipeline's compressed-image path: real
multimodal corpora are JPEG, and this environment ships no imaging
library, so ``pipeline/multimodal.py`` previously raised for any
non-PPM/BMP magic. Everything here derives from the PUBLIC JPEG
standard (ITU-T T.81): baseline sequential DCT, Huffman entropy
coding, JFIF YCbCr, Annex K example quantization/Huffman tables.

Decoder (``decode_jpeg``): reads EVERY table from the stream (DQT,
DHT, DRI) — interop with real-world baseline JPEGs does not depend on
the encoder tables below. Supports 8-bit baseline SOF0/SOF1,
grayscale and 3-component YCbCr, any sampling factors (4:4:4, 4:2:2,
4:2:0), restart markers, 16-bit quant tables, and raises
``NotImplementedError`` for progressive (SOF2) / arithmetic coding.

Encoder (``encode_jpeg``): standard-table baseline writer (quality
scaling via the public IJG formula, optional 2x2-mean 4:2:0
subsampling, optional restart intervals) — exists so the decoder is
testable end-to-end without any third-party fixture, and as the
multimodal sink twin.

Scale shape: the codec is a per-row kernel invoked inside Arrow
batches (``mapInPandas``) — entropy decode is sequential per image by
nature (bit-serial Huffman), parallelism comes from Spark fanning
images across tasks, exactly like the reference's per-file decode.
"""

from __future__ import annotations

import numpy as np

from xsarsea_spark.pipeline._codec import check_dims

__all__ = ["decode_jpeg", "encode_jpeg"]

# ----------------------------------------------------------------------
# Constants from the public standard
# ----------------------------------------------------------------------


def _zigzag_order() -> np.ndarray:
    """Natural index of the k-th zigzag coefficient (T.81 fig. 5)."""
    order = np.empty(64, dtype=np.int64)
    r = c = 0
    up = True
    for k in range(64):
        order[k] = r * 8 + c
        if up:
            if c == 7:
                r += 1
                up = False
            elif r == 0:
                c += 1
                up = False
            else:
                r -= 1
                c += 1
        else:
            if r == 7:
                c += 1
                up = True
            elif c == 0:
                r += 1
                up = True
            else:
                r += 1
                c -= 1
    return order


_ZZ = _zigzag_order()

# Annex K.1 example quantization tables (zigzag order applied at use)
_Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_Q_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 typical Huffman tables: (BITS counts per code length 1..16,
# HUFFVAL symbol sequence)
_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           list(range(12)))
_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
           list(range(12)))
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
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
     0xF9, 0xFA],
)
_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
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
     0xF9, 0xFA],
)

# orthonormal 8-point DCT-II matrix: forward X = C @ x @ C.T
_C = np.array([
    [(np.sqrt(1 / 8) if u == 0 else 0.5)
     * np.cos((2 * x + 1) * u * np.pi / 16) for x in range(8)]
    for u in range(8)
])


def _canonical_codes(bits: list[int], vals: list[int]) -> dict:
    """symbol -> (code, length) via canonical Huffman assignment
    (T.81 C.2); same routine drives encode and decode tables."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict:
    """(length, code) -> symbol."""
    return {(ln, cd): sym
            for sym, (cd, ln) in _canonical_codes(bits, vals).items()}


# ----------------------------------------------------------------------
# Decoder
# ----------------------------------------------------------------------


class _BitReader:
    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy stream truncated")
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(v: int, t: int) -> int:
    """T.81 F.12: map t received bits to the signed coefficient."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _huff_decode(r: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _entropy_segments(payload: bytes, start: int) -> tuple[list[bytes], int]:
    """Destuffed entropy data split at restart markers; returns
    (segments, index of the terminating marker's 0xFF)."""
    segs: list[bytes] = []
    cur = bytearray()
    j = start
    n = len(payload)
    while j < n:
        b = payload[j]
        if b != 0xFF:
            cur.append(b)
            j += 1
            continue
        nb = payload[j + 1] if j + 1 < n else 0xD9
        if nb == 0x00:
            cur.append(0xFF)
            j += 2
        elif 0xD0 <= nb <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            j += 2
        else:
            break
    segs.append(bytes(cur))
    return segs, j


from xsarsea_spark.pipeline._codec import normalize_corrupt


@normalize_corrupt("JPEG")
def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JPEG -> (h, w, 3) uint8 RGB (grayscale replicated)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart = 0
    scan = None
    i = 2
    n = len(payload)
    while i < n - 1:
        if payload[i] != 0xFF:
            i += 1
            continue
        m = payload[i + 1]
        i += 2
        if m == 0xD9:
            break
        if m == 0x01 or 0xD0 <= m <= 0xD7 or m == 0xFF:
            continue
        ln = int.from_bytes(payload[i:i + 2], "big")
        seg = payload[i + 2:i + ln]
        if m == 0xDB:                       # DQT (maybe several tables)
            p = 0
            while p < len(seg):
                prec, tid = seg[p] >> 4, seg[p] & 15
                p += 1
                if prec:
                    tbl = np.frombuffer(seg[p:p + 128],
                                        dtype=">u2").astype(np.int64)
                    p += 128
                else:
                    tbl = np.frombuffer(seg[p:p + 64],
                                        dtype=np.uint8).astype(np.int64)
                    p += 64
                qt[tid] = tbl                # zigzag order, as stored
        elif m in (0xC0, 0xC1):             # SOF0/1: baseline frames
            prec = seg[0]
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            check_dims("JPEG", w, h)
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                              "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "progressive/extended JPEG not supported (baseline only)")
        elif m == 0xC4:                     # DHT (maybe several tables)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1:p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17:p + 17 + nv])
                if len(bits) < 16 or len(vals) < nv:
                    raise ValueError("truncated JPEG DHT segment")
                huff[(tc, th)] = _decode_table(bits, vals)
                p += 17 + nv
        elif m == 0xDD:                     # DRI
            restart = int.from_bytes(seg[0:2], "big")
        elif m == 0xDA:                     # SOS: entropy data follows
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                scan.append({"id": cs, "td": tt >> 4, "ta": tt & 15})
            segs, i = _entropy_segments(payload, i + ln)
            break
        i += ln
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")

    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    H, W = frame["h"], frame["w"]
    mcx = -(-W // (8 * hmax))
    mcy = -(-H // (8 * vmax))
    by_id = {c["id"]: c for c in comps}
    for s in scan:
        c = by_id[s["id"]]
        c["td"], c["ta"] = s["td"], s["ta"]
        c["plane"] = np.zeros((mcy * c["v"] * 8, mcx * c["h"] * 8))
        c["pred"] = 0

    seg_i = 0
    reader = _BitReader(segs[seg_i])
    for mcu in range(mcx * mcy):
        if restart and mcu and mcu % restart == 0:
            seg_i += 1                      # RST: align + reset preds
            reader = _BitReader(segs[seg_i])
            for c in comps:
                c["pred"] = 0
        my, mx = divmod(mcu, mcx)
        for c in comps:
            dct = huff[(0, c["td"])]
            act = huff[(1, c["ta"])]
            q = qt[c["tq"]]
            for blk in range(c["h"] * c["v"]):
                bv, bh = divmod(blk, c["h"])
                zz = np.zeros(64, dtype=np.int64)
                t = _huff_decode(reader, dct)
                c["pred"] += _extend(reader.receive(t), t)
                zz[0] = c["pred"]
                k = 1
                while k < 64:
                    rs = _huff_decode(reader, act)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r != 15:
                            break
                        k += 16
                        continue
                    k += r
                    zz[k] = _extend(reader.receive(s), s)
                    k += 1
                nat = np.zeros(64)
                nat[_ZZ] = zz * q
                block = _C.T @ nat.reshape(8, 8) @ _C + 128.0
                y0 = (my * c["v"] + bv) * 8
                x0 = (mx * c["h"] + bh) * 8
                c["plane"][y0:y0 + 8, x0:x0 + 8] = block

    planes = []
    for c in comps:
        p = c["plane"]
        p = np.repeat(p, vmax // c["v"], axis=0)
        p = np.repeat(p, hmax // c["h"], axis=1)
        planes.append(p[:H, :W])
    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb,
    ], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ----------------------------------------------------------------------
# Encoder
# ----------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)       # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill pad (T.81 F.1.2.3)


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex K tables scaled by the public IJG quality formula."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    ql = np.clip((_Q_LUM * scale + 50) // 100, 1, 255)
    qc = np.clip((_Q_CHR * scale + 50) // 100, 1, 255)
    return ql, qc


def _mag_bits(v: int) -> tuple[int, int]:
    """(category t, t-bit code) for a signed coefficient (T.81 F.1.4)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


def _encode_block(w: _BitWriter, block: np.ndarray, q: np.ndarray,
                  pred: int, dc_codes: dict, ac_codes: dict) -> int:
    coef = _C @ (block - 128.0) @ _C.T
    zz = np.round(coef.reshape(64)[_ZZ] / q).astype(np.int64)
    t, bits = _mag_bits(int(zz[0]) - pred)
    code, ln = dc_codes[t]
    w.write(code, ln)
    if t:
        w.write(bits, t)
    run = 0
    last = np.flatnonzero(zz[1:])
    last = int(last[-1]) + 1 if len(last) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]       # ZRL
            w.write(code, ln)
            run -= 16
        t, bits = _mag_bits(v)
        code, ln = ac_codes[(run << 4) | t]
        w.write(code, ln)
        w.write(bits, t)
        run = 0
    if last < 63:
        code, ln = ac_codes[0x00]           # EOB
        w.write(code, ln)
    return int(zz[0])


def _pad_to(a: np.ndarray, mult: int) -> np.ndarray:
    ph = (-a.shape[0]) % mult
    pw = (-a.shape[1]) % mult
    return np.pad(a, ((0, ph), (0, pw)), mode="edge")


def encode_jpeg(rgb: np.ndarray, quality: int = 75,
                subsample: str = "444", restart: int = 0) -> bytes:
    """(h, w, 3) or (h, w) uint8 -> baseline JFIF bytes.

    ``subsample``: "444" (no chroma subsampling) or "420" (2x2-mean).
    ``restart`` > 0 emits DRI + RSTn every ``restart`` MCUs.
    """
    gray = rgb.ndim == 2
    H, W = rgb.shape[:2]
    ql, qc = _quality_tables(quality)
    dc_l = _canonical_codes(*_DC_LUM)
    ac_l = _canonical_codes(*_AC_LUM)
    dc_c = _canonical_codes(*_DC_CHR)
    ac_c = _canonical_codes(*_AC_CHR)

    if gray:
        planes = [(_pad_to(rgb.astype(np.float64), 8), ql, dc_l, ac_l)]
        samp = [(1, 1)]
    else:
        r = rgb[:, :, 0].astype(np.float64)
        g = rgb[:, :, 1].astype(np.float64)
        b = rgb[:, :, 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample == "420":
            cb = _pad_to(cb, 2)
            cr = _pad_to(cr, 2)
            cb = (cb[0::2, 0::2] + cb[0::2, 1::2]
                  + cb[1::2, 0::2] + cb[1::2, 1::2]) / 4.0
            cr = (cr[0::2, 0::2] + cr[0::2, 1::2]
                  + cr[1::2, 0::2] + cr[1::2, 1::2]) / 4.0
            y = _pad_to(y, 16)
            cb = _pad_to(cb, 8)
            cr = _pad_to(cr, 8)
            samp = [(2, 2), (1, 1), (1, 1)]
        elif subsample == "444":
            y = _pad_to(y, 8)
            cb = _pad_to(cb, 8)
            cr = _pad_to(cr, 8)
            samp = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unknown subsample mode {subsample!r}")
        planes = [(y, ql, dc_l, ac_l), (cb, qc, dc_c, ac_c),
                  (cr, qc, dc_c, ac_c)]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcx = -(-W // (8 * hmax))
    mcy = -(-H // (8 * vmax))

    out = bytearray(b"\xff\xd8")            # SOI
    out += (b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00"
            b"\x00\x01\x00\x01\x00\x00")    # APP0
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00" \
        + bytes(int(v) for v in ql)
    if not gray:
        out += b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x01" \
            + bytes(int(v) for v in qc)
    nc = 1 if gray else 3
    sof = bytearray()
    sof += (8).to_bytes(1, "big") + H.to_bytes(2, "big") \
        + W.to_bytes(2, "big") + nc.to_bytes(1, "big")
    for ci in range(nc):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1],
                      0 if ci == 0 else 1])
    out += b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
    for tc, th, (bits, vals) in (
            (0, 0, _DC_LUM), (1, 0, _AC_LUM),
            *(() if gray else ((0, 1, _DC_CHR), (1, 1, _AC_CHR)))):
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + (len(body) + 2).to_bytes(2, "big") + body
    if restart:
        out += b"\xff\xdd\x00\x04" + restart.to_bytes(2, "big")
    sos = bytearray([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos

    w = _BitWriter()
    preds = [0] * nc
    rst = 0
    for mcu in range(mcx * mcy):
        if restart and mcu and mcu % restart == 0:
            w.flush()
            out += w.out
            out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            w = _BitWriter()
            preds = [0] * nc
        my, mx = divmod(mcu, mcx)
        for ci in range(nc):
            plane, q, dct, act = planes[ci]
            ch, cv = samp[ci]
            for blk in range(ch * cv):
                bv, bh = divmod(blk, ch)
                y0 = (my * cv + bv) * 8
                x0 = (mx * ch + bh) * 8
                preds[ci] = _encode_block(
                    w, plane[y0:y0 + 8, x0:x0 + 8], q, preds[ci],
                    dct, act)
    w.flush()
    out += w.out
    out += b"\xff\xd9"                      # EOI
    return bytes(out)

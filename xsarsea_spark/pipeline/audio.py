"""Dependency-free WAV (RIFF/PCM) codec + audio feature kernel.

Closes the audio modality the engine brief names next to images and
video: WAV is uncompressed PCM behind a RIFF header, so a full
decoder needs only struct parsing — real audio bytes in, real
samples out, no third-party library. Derived from the public
RIFF/WAVE format description.

Decoder: PCM 8/16-bit, mono or interleaved multi-channel, tolerant
of extra chunks (LIST/fact/cue) before/after ``data``. Encoder:
16-bit PCM writer so round-trips need no fixtures. Errors follow the
image codecs' contract (``pipeline/_codec``): ValueError for corrupt
streams, NotImplementedError for recognized-but-unsupported formats
(compressed codecs, 24/32-bit).

Features (the Arrow-kernel battery): duration, exact integer energy
(sum of squared samples) and zero-crossing count — the standard
cheap audio-quality signals, all integer arithmetic so a SQL oracle
can re-derive them from source bytes.
"""

from __future__ import annotations

import struct

import numpy as np

from xsarsea_spark.pipeline._codec import normalize_corrupt

__all__ = ["decode_wav", "encode_wav", "trig_int",
           "audio_fingerprint", "AFP_FRAME", "AFP_BANDS", "AFP_SCALE"]


@normalize_corrupt("WAV")
def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> (samples (n, channels) int16/uint8-as-int16 array,
    sample_rate)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV (missing RIFF/WAVE)")
    pos = 12
    fmt = None
    data = None
    n = len(payload)
    while pos + 8 <= n:
        cid, sz = struct.unpack("<4sI", payload[pos:pos + 8])
        body = payload[pos + 8:pos + 8 + sz]
        pos += 8 + sz + (sz & 1)             # chunks are word-aligned
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
            if fmt is not None:
                break
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, rate, _br, _ba, bits = fmt
    if audio_fmt != 1:
        raise NotImplementedError(
            f"only PCM WAV supported (format tag {audio_fmt})")
    if channels < 1:
        # must precede the modulo-by-channels slicing below: a corrupt
        # fmt chunk declaring 0 channels would otherwise escape the
        # codec ValueError contract as a ZeroDivisionError
        raise ValueError("WAV with zero channels")
    if bits == 16:
        s = np.frombuffer(
            data[: len(data) - (len(data) % (2 * channels))],
            dtype="<i2").astype(np.int16)
    elif bits == 8:                          # 8-bit PCM is unsigned
        s = (np.frombuffer(
            data[: len(data) - (len(data) % channels)],
            dtype=np.uint8).astype(np.int16) - 128)
    else:
        raise NotImplementedError(f"{bits}-bit PCM unsupported")
    s = s[: (len(s) // channels) * channels]
    return s.reshape(-1, channels), rate


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """(n,) or (n, channels) int16 -> 16-bit PCM WAV bytes."""
    if samples.ndim == 1:
        samples = samples[:, None]
    ch = samples.shape[1]
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


AFP_FRAME = 64          # samples per analysis frame
AFP_BANDS = 16          # DFT bins k = 1..16 -> 15 comparison bits
AFP_SCALE = 128         # trig fixed-point scale (2^7)


def trig_int() -> "tuple":
    """Fixed-point DFT basis: int64 matrices C[k-1, i] =
    round(cos(2*pi*k*i/AFP_FRAME) * AFP_SCALE) and the matching sine
    matrix, k = 1..AFP_BANDS. Integer matmuls against int16 samples are
    EXACT and order-independent (the dct_int precedent), so both
    engines derive identical band energies: |sum| <= frame * 2^15 *
    scale = 2^28, squares sum below 2^57 — no overflow."""

    i = np.arange(AFP_FRAME)
    k = np.arange(1, AFP_BANDS + 1)[:, None]
    ang = 2.0 * np.pi * k * i / AFP_FRAME
    c = np.round(np.cos(ang) * AFP_SCALE).astype(np.int64)
    s = np.round(np.sin(ang) * AFP_SCALE).astype(np.int64)
    return c, s


def audio_fingerprint(samples: "object") -> int:
    """Chromaprint-style spectral fingerprint of a PCM16 stream:
    ``len(samples) // AFP_FRAME`` frames of AFP_FRAME samples, per
    frame the integer-DFT band energies E_k = re^2 + im^2
    (k = 1..16), bit b set iff E_{b+1} > E_{b+2} — 15 bits per frame
    packed LSB-first (60-bit int at the suite's 256-sample docs).
    Exact invariance: scaling all samples by a positive integer
    multiplies every energy by its square, so every comparison —
    hence the fingerprint — is unchanged. The frame count is derived
    from the input (the SQL oracle derives it as _WAV_N // AFP_FRAME)
    so the two can't silently desync if the doc length changes."""

    c, s = trig_int()
    v = np.asarray(samples, dtype=np.int64)
    afp = 0
    for f in range(len(v) // AFP_FRAME):
        fr = v[f * AFP_FRAME:(f + 1) * AFP_FRAME]
        re = c @ fr
        im = s @ fr
        e = re * re + im * im
        for b in range(AFP_BANDS - 1):
            if e[b] > e[b + 1]:
                afp |= 1 << (f * (AFP_BANDS - 1) + b)
    return afp

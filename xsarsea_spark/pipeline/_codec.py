"""Shared codec error contract.

A corrupt byte stream hit inside an Arrow kernel must surface as a
CLEAN, catchable error — at corpus scale the pipeline quarantines bad
payloads rather than crashing a task on a raw ``IndexError`` /
``KeyError`` / ``zlib.error`` escaping from parser internals (found
by truncation/bit-flip fuzzing, tests/test_codec_fuzz.py). The
decoders' contract: ``ValueError`` for malformed input,
``NotImplementedError`` for recognized-but-unsupported features.
"""

from __future__ import annotations

import functools
import struct
import zlib

__all__ = ["normalize_corrupt", "check_dims", "MAX_PIXELS"]


def normalize_corrupt(fmt: str):
    def deco(fn):
        @functools.wraps(fn)
        def run(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            except (ValueError, NotImplementedError):
                raise
            except (IndexError, KeyError, OverflowError,
                    struct.error, zlib.error) as exc:
                raise ValueError(
                    f"corrupt {fmt} stream: "
                    f"{type(exc).__name__}: {exc}") from exc
        return run
    return deco


# Decompression-bomb guard (the PIL MAX_IMAGE_PIXELS precedent): a
# single flipped dimension byte in a corrupt stream can demand a
# multi-GB canvas allocation before any pixel data is validated.
# 2^26 px (~200 MB RGB) is far above any sane corpus image.
MAX_PIXELS = 1 << 26


def check_dims(fmt: str, w: int, h: int) -> None:
    if w <= 0 or h <= 0:
        raise ValueError(f"corrupt {fmt} stream: empty dimensions")
    if w * h > MAX_PIXELS:
        raise ValueError(
            f"{fmt} dimensions {w}x{h} exceed the "
            f"decode-bomb guard ({MAX_PIXELS} px)")

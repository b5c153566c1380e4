"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Payloads stay opaque binary end-to-end (no driver collect); feature
extraction is one Arrow-batched pass with bounded per-batch memory;
metadata lives in a struct column so Parquet keeps it columnar and
prunable.

Decode: this environment ships no imaging library, so
:func:`decode_image` dispatches to dependency-free PUBLIC-spec
decoders — binary PPM (P6, Netpbm spec: magic + whitespace/comment-
separated dims + maxval + raster), 24-bit uncompressed BMP
(BITMAPFILEHEADER/BITMAPINFOHEADER, BGR pixels, 4-byte-padded rows
stored bottom-up), baseline JPEG (``pipeline/jpeg.py``, tables read
from the stream) and PNG (``pipeline/png.py``, stdlib zlib +
unfilter) — all returning an (h, w, 3) uint8 RGB array. Remaining
formats (GIF, WebP, video containers) raise with a clear message.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xsarsea_spark.pipeline.gif import decode_gif
from xsarsea_spark.pipeline.jpeg import _C, decode_jpeg
from xsarsea_spark.pipeline.png import decode_png

__all__ = ["attach_payload", "extract_features", "decode_image",
           "decode_ppm", "decode_bmp", "attach_image_payload",
           "decode_features", "ahash_features", "phash_features",
           "dct_int", "phash_neardup", "phash_pairs"]

N_BINS = 16                    # byte-histogram bins (high nibble)
FRAME_BYTES, FRAME_STRIDE = 256, 2   # sample_frames: frame size, step
GRID_W, GRID_H = 8, 4          # aHash/pHash block grid
# pHash near-dup: bands x bits per band, Hamming cut (< bands)
PND_BANDS, PND_BITS, PND_MAX_HAMMING = 4, 8, 3


def attach_payload(docs: DataFrame) -> DataFrame:
    """Wrap documents as multimodal rows: (doc_id, media_type, payload
    binary, meta struct). Real pipelines read payloads from object
    storage; here the UTF-8 text bytes stand in as the opaque blob."""
    return docs.select(
        "doc_id",
        F.lit("application/octet-stream").alias("media_type"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.length(F.col("text")).alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def _ppm_tokens(buf: bytes, start: int, count: int):
    """Read ``count`` whitespace-separated ASCII integers from a
    Netpbm header, skipping ``#``-to-end-of-line comments. Returns
    (values, offset_after_last_token)."""
    vals = []
    i = start
    while len(vals) < count:
        while i < len(buf) and buf[i:i + 1].isspace():
            i += 1
        if i < len(buf) and buf[i] == 0x23:          # '#' comment
            while i < len(buf) and buf[i] not in (0x0A, 0x0D):
                i += 1
            continue
        j = i
        while j < len(buf) and buf[j:j + 1].isdigit():
            j += 1
        if j == i:
            raise ValueError("malformed PPM header")
        vals.append(int(buf[i:j]))
        i = j
    return vals, i


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) -> (h, w, 3) uint8 RGB array."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    (w, h, maxval), i = _ppm_tokens(payload, 2, 3)
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    # exactly ONE whitespace byte separates maxval from the raster
    raster = payload[i + 1:i + 1 + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP -> (h, w, 3) uint8 RGB array.

    Handles the standard layout: BGR byte order, rows padded to
    4-byte multiples, positive height meaning bottom-up row order.
    """
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, comp={comp})")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    px = np.frombuffer(
        payload[off:off + stride * h], dtype=np.uint8
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        px = px[::-1]
    return px[:, :, ::-1]                            # BGR -> RGB


def decode_image(payload: bytes) -> np.ndarray:
    """Dispatch on magic bytes: P6 PPM, 24-bit BMP, and baseline JPEG
    decode dependency-free (see ``pipeline/jpeg.py`` for the JPEG
    codec); anything else (PNG, progressive JPEG, video containers)
    needs an imaging library that this environment does not ship."""
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    raise NotImplementedError(
        f"no dependency-free decoder for magic {payload[:2]!r}; "
        "this format requires an imaging library"
    )


_FEAT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("byte_entropy", T.DoubleType()),
    T.StructField("byte_hist", T.ArrayType(T.DoubleType())),
    T.StructField("content_digest", T.StringType()),
    T.StructField("fake_width", T.LongType()),
    T.StructField("fake_height", T.LongType()),
])


def extract_features(mm: DataFrame) -> DataFrame:
    """Arrow-batched byte-level feature extraction over the binary
    payload column: length, 16-bin byte histogram (normalized), byte
    entropy, md5 digest, and deterministic fake decode dimensions
    (stand-ins for real width/height until a decoder is plugged in)."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:     # NULL text -> NULL payload
                    continue
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                hist = np.bincount(b >> 4, minlength=N_BINS).astype(
                    np.float64)
                tot = max(len(b), 1)
                p = hist / tot
                # explicit left-to-right fold in ascending bin order,
                # skipping zero bins — the exact op sequence a SQL
                # list_filter/list_reduce oracle performs, so the
                # value is engine-reproducible to the last ulp of log2
                acc = 0.0
                for pv in p:
                    if pv > 0.0:
                        acc += float(pv) * float(np.log2(pv))
                entropy = -acc + 0.0
                digest = hashlib.md5(bytes(payload)).hexdigest()
                # deterministic fake decode dims derived from digest
                w = 32 + int(digest[:4], 16) % 480
                h = 32 + int(digest[4:8], 16) % 480
                rows.append((int(doc_id), int(len(b)), entropy,
                             (hist / tot).tolist(), digest, w, h))
            yield pd.DataFrame(rows, columns=[f.name for f in _FEAT_SCHEMA])

    return mm.select("doc_id", "payload").mapInPandas(
        gen, schema=_FEAT_SCHEMA)


def _bmp_header_hex(w: int, h: int) -> str:
    """Constant 54-byte 24-bpp BMP header (BITMAPFILEHEADER +
    BITMAPINFOHEADER) as hex, for SQL-side payload construction."""
    stride = (w * 3 + 3) // 4 * 4
    img = stride * h
    head = (b"BM" + (54 + img).to_bytes(4, "little") + b"\x00" * 4
            + (54).to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little") + img.to_bytes(4, "little")
            + b"\x00" * 16)
    return head.hex()


_IMG_W, _IMG_H = 16, 8


def attach_image_payload(docs: DataFrame) -> DataFrame:
    """Wrap document text bytes into REAL image containers so the
    decoders have genuine binary inputs: doc_id % 3 == 0 -> 24-bit
    BMP (BGR, bottom-up — a true byte permutation of the source),
    % 3 == 1 -> binary PPM 16x8, % 3 == 2 -> binary PPM 16x4 with a
    comment line in the header (exercises the Netpbm tokenizer).
    The corpus is ASCII, so byte k of the text is its code point —
    which is what lets a SQL oracle re-derive every decoded value
    from the text alone (container-agnostically: the oracle proves
    each decoder inverts its encoding).
    """
    full = _IMG_W * _IMG_H * 3
    # BMP raster byte i -> source byte: bottom-up row flip + BGR swap
    src = (f"(({_IMG_H - 1} - (i div {_IMG_W * 3})) * {_IMG_W * 3}"
           f" + ((i % {_IMG_W * 3}) div 3) * 3"
           f" + (2 - ((i % {_IMG_W * 3}) % 3)) + 1)")
    perm = (f"array_join(transform(sequence(0, {full - 1}),"
            f" i -> char(ascii(substring(text, {src}, 1)))), '')")
    return docs.filter(F.length("text") >= full).selectExpr(
        "doc_id",
        f"""CASE CAST(doc_id % 3 AS INT)
          WHEN 0 THEN concat(unhex('{_bmp_header_hex(_IMG_W, _IMG_H)}'),
                             CAST({perm} AS BINARY))
          WHEN 1 THEN CAST(concat('P6\\n{_IMG_W} {_IMG_H}\\n255\\n',
                           substring(text, 1, {full})) AS BINARY)
          ELSE CAST(concat('P6\\n# t\\n{_IMG_W} {_IMG_H // 2}\\n255\\n',
                    substring(text, 1, {full // 2})) AS BINARY)
        END AS payload""",
        "CASE WHEN doc_id % 3 = 0 THEN 'image/bmp'"
        " ELSE 'image/x-portable-pixmap' END AS media_type",
    )


_DECODE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("mean_r", T.DoubleType()),
    T.StructField("mean_g", T.DoubleType()),
    T.StructField("mean_b", T.DoubleType()),
    T.StructField("px_digest", T.StringType()),
])


def decode_features(mm: DataFrame, on_error: str = "raise") -> DataFrame:
    """Arrow-batched REAL decode: parse each binary payload with
    :func:`decode_image`, then per-channel means (exact int64 sums /
    pixel count — order-independent, one rounding at the division)
    and the md5 of the decoded row-major RGB buffer (byte-exact
    evidence the container was inverted correctly).

    ``on_error``: ``"raise"`` (default — a corrupt payload fails the
    job, the right call when payloads are engine-generated) or
    ``"skip"`` — corrupt/unsupported payloads (the decoders' clean
    ValueError/NotImplementedError contract, see ``pipeline/_codec``)
    are dropped from the output, the production quarantine shape for
    scraped corpora where some fraction of images is always broken.
    """
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be raise|skip, got {on_error!r}")

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    img = decode_image(bytes(payload))
                except (ValueError, NotImplementedError):
                    if on_error == "skip":
                        continue
                    raise
                h, w = img.shape[:2]
                s = img.reshape(-1, 3).astype(np.int64).sum(axis=0)
                n = h * w
                rows.append((
                    int(doc_id), int(w), int(h),
                    float(s[0] / n), float(s[1] / n), float(s[2] / n),
                    hashlib.md5(img.tobytes()).hexdigest(),
                ))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _DECODE_SCHEMA])

    return mm.select("doc_id", "payload").mapInPandas(
        gen, schema=_DECODE_SCHEMA)


_FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.LongType()),
    T.StructField("frame_digest", T.StringType()),
])


def sample_frames(mm: DataFrame) -> DataFrame:
    """Video-style frame sampling over the opaque payload: the blob is
    treated as ``n_bytes // FRAME_BYTES`` fixed-size frames, every
    ``FRAME_STRIDE``-th frame is sliced out in the Arrow batch and reduced
    to its md5 digest (the stand-in for a real decode+thumbnail).

    The kernel IS the production batch shape — binary slicing inside
    mapInPandas, emitted rows bounded by n_frames/stride — while the
    digest arithmetic is exactly re-derivable in SQL (md5 over byte
    substrings), so the operator is value-exact against an oracle
    despite being a Python-side media kernel.
    """

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:     # NULL text -> NULL payload
                    continue
                b = bytes(payload)
                n_frames = len(b) // FRAME_BYTES
                for i in range(0, n_frames, FRAME_STRIDE):
                    fr = b[i * FRAME_BYTES:(i + 1) * FRAME_BYTES]
                    rows.append(
                        (int(doc_id), i,
                         hashlib.md5(fr).hexdigest()))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _FRAME_SCHEMA])

    return mm.select("doc_id", "payload").mapInPandas(
        gen, schema=_FRAME_SCHEMA)


_AHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("ahash", T.LongType()),
])


def _grid_blocks(img: np.ndarray) -> np.ndarray:
    """(GRID_H, GRID_W) int64 gray (r+g+b) block sums of an image whose
    dims divide the grid."""
    h, w = img.shape[:2]
    if h % GRID_H or w % GRID_W:
        raise ValueError(
            f"image {w}x{h} not divisible by grid {GRID_W}x{GRID_H}")
    g = img.astype(np.int64).sum(axis=2)
    return g.reshape(GRID_H, h // GRID_H, GRID_W, w // GRID_W) \
        .sum(axis=(1, 3))


def ahash_features(mm: DataFrame) -> DataFrame:
    """Perceptual average-hash over REAL decoded images, entirely in
    integer arithmetic: per-pixel gray sums (r+g+b, int64), block
    sums over the (GRID_H x GRID_W) partition, and bit k set iff block
    k's mean exceeds the global mean — compared as
    ``block_sum * n_blocks > global_sum`` (exact integers, no
    division, no floats), then packed LSB-first into one BIGINT.

    Integer-only comparisons make the hash bit-reproducible in ANY
    engine — the SQL oracle re-derives it from the source bytes —
    unlike float-mean formulations whose ties depend on rounding.
    Image dims must divide the grid (the attach_image_payload
    containers do: 16x8 and 16x4)."""

    def gen(batches):
        nb = GRID_H * GRID_W
        shifts = np.arange(nb, dtype=np.int64)
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_image(bytes(payload))
                h, w = img.shape[:2]
                blocks = _grid_blocks(img).reshape(-1)
                total = int(blocks.sum())
                bits = (blocks * nb > total).astype(np.int64)
                ah = int((bits << shifts).sum())
                rows.append((int(doc_id), int(w), int(h), ah))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _AHASH_SCHEMA])

    return mm.select("doc_id", "payload").mapInPandas(
        gen, schema=_AHASH_SCHEMA)


PHASH_SCALE = 1 << 14


def dct_int(n: int) -> np.ndarray:
    """Fixed-point orthonormal n-point DCT-II matrix:
    ``round(C * 2**14)`` as int64 — the libjpeg-islow idea of running
    the DCT in scaled-integer arithmetic, so every coefficient
    downstream is an EXACT int64 a SQL oracle re-derives bit-for-bit
    (float DCTs would make hash bits depend on accumulation order).
    For n=8 this quantizes the JPEG codec's own DCT basis
    (``pipeline.jpeg._C``).

    Rounding preserves the cancellation that matters: every AC row of
    the DCT-II matrix is a set of equal-magnitude +/- cosine pairs,
    so the ROUNDED rows still sum to exactly zero — which is what
    makes the pHash provably invariant under uniform brightness
    shifts (only the DC coefficient moves, and it is excluded).
    """
    if n == 8:
        c = _C
    else:
        c = np.array([
            [(np.sqrt(1 / n) if u == 0 else np.sqrt(2 / n))
             * np.cos((2 * x + 1) * u * np.pi / (2 * n))
             for x in range(n)]
            for u in range(n)])
    return np.rint(c * PHASH_SCALE).astype(np.int64)


_PHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("phash", T.LongType()),
])


def phash_features(mm: DataFrame) -> DataFrame:
    """DCT perceptual hash (pHash) over REAL decoded images, entirely
    in exact int64 arithmetic — the image-dedup fingerprint used at
    scale, robust where aHash is weak (uniform brightness shifts and
    positive contrast scaling leave it EXACTLY unchanged, see below).

    Pipeline per image: integer gray block sums on the (GRID_H x
    GRID_W) partition (as aHash), then a 2-D fixed-point DCT
    ``X = C_gh @ B @ C_gw.T`` (:func:`dct_int` int64 matrices —
    integer matmul, order-independent, no floats anywhere), drop the
    DC coefficient, median = the 16th-smallest of the 31 AC
    coefficients (odd count -> a single exact order statistic), and
    bit k = ``X[k] > median`` packed LSB-first at positions 1..31.

    Exact invariances (integer proofs, pytest-pinned): a uniform
    brightness shift moves only the DC coefficient (rounded AC rows
    of the DCT matrix sum to zero — ``dct_int`` docstring), and a
    positive contrast scale multiplies every AC coefficient AND the
    median by the same factor, so all comparisons are unchanged.

    Reference parity: the reference engine has no image surface; this
    extends the engine-brief multimodal family next to
    :func:`ahash_features`. Same grid-divisibility contract as aHash.
    """
    c_h = dct_int(GRID_H)
    c_w = dct_int(GRID_W)
    n_ac = GRID_H * GRID_W - 1
    shifts = np.arange(1, n_ac + 1, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_image(bytes(payload))
                h, w = img.shape[:2]
                x = (c_h @ _grid_blocks(img) @ c_w.T).reshape(-1)
                ac = x[1:]
                med = int(np.sort(ac)[n_ac // 2])
                ph = int(((ac > med).astype(np.int64) << shifts).sum())
                rows.append((int(doc_id), int(w), int(h), ph))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _PHASH_SCHEMA])

    return mm.select("doc_id", "payload").mapInPandas(
        gen, schema=_PHASH_SCHEMA)


def _band_keys(ph: DataFrame) -> DataFrame:
    """(doc_id, phash, b, key): one row per pHash band value."""
    bands = ph.select(
        "doc_id", "phash",
        F.explode(F.expr(f"sequence(0, {PND_BANDS - 1})")).alias("b"))
    return bands.withColumn(
        "key", F.expr(f"shiftright(phash, {PND_BITS} * b)"
                      f" & {(1 << PND_BITS) - 1}"))


def phash_neardup(ph: DataFrame) -> DataFrame:
    """Per-image near-duplicate profile from a pHash frame
    (``phash_features`` output): banded Hamming candidate join +
    exact verify — the image twin of the MinHash-LSH text path.

    The hash splits into ``PND_BANDS`` contiguous ``PND_BITS``-bit
    bands; candidate pairs share at least one band VALUE (an
    equality join on (band, key) — never all-pairs). Pigeonhole
    guarantees recall: ``PND_MAX_HAMMING`` < bands differing bits
    cannot dirty every band, so every pair within the threshold is a
    candidate. Hamming distance is ``bit_count(a ^ b)`` on the
    candidates only.

    Returns one row per input image: (id, phash, n_candidates,
    n_neardups, min_hamming) with min_hamming = -1 when the image
    shares no band with anything — all BIGINT, bit-replicable.

    Scale: the band table is n_images * bands rows of (band, key);
    the join is hash-partitioned on the band key like every LSH
    probe in the engine; verification touches candidates only.
    """
    k = _band_keys(ph)
    a = k.selectExpr("b", "key", "doc_id AS da", "phash AS pa")
    x = k.selectExpr("b", "key", "doc_id AS db", "phash AS pb")
    cand = (a.join(x, on=["b", "key"])
            .filter("da != db")
            .select("da", "db", "pa", "pb").distinct())
    agg = cand.groupBy("da").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_candidates"),
        F.expr(f"CAST(SUM(CASE WHEN bit_count(pa ^ pb)"
               f" <= {PND_MAX_HAMMING} THEN 1 ELSE 0 END) AS BIGINT)")
        .alias("n_neardups"),
        F.expr("CAST(MIN(bit_count(pa ^ pb)) AS BIGINT)")
        .alias("min_hamming"))
    return (ph.select("doc_id", "phash")
            .join(agg.withColumnRenamed("da", "doc_id"),
                  on="doc_id", how="left")
            .selectExpr("doc_id", "phash",
                        "COALESCE(n_candidates, 0L) AS n_candidates",
                        "COALESCE(n_neardups, 0L) AS n_neardups",
                        "COALESCE(min_hamming, -1L) AS min_hamming"))


def phash_pairs(ph: DataFrame) -> DataFrame:
    """Image near-duplicate PAIRS from a pHash frame: the banded
    Hamming candidate join of :func:`phash_neardup`, kept at pair
    grain — (id_a, id_b, hamming) with id_a < id_b and hamming
    within the threshold. Pigeonhole-exact recall like the profile
    variant; candidates dedupe BEFORE the bit_count verify so each
    pair is scored once however many bands it collides in.

    Scale: band table is n_images * bands rows hash-joined on the
    (band, key) pair — the standard LSH probe shape, never all-pairs.
    """
    k = _band_keys(ph)
    a = k.selectExpr("b", "key", "doc_id AS id_a", "phash AS pa")
    x = k.selectExpr("b", "key", "doc_id AS id_b", "phash AS pb")
    cand = (a.join(x, on=["b", "key"])
            .filter("id_a < id_b")
            .select("id_a", "id_b", "pa", "pb").distinct())
    return (cand.selectExpr(
        "id_a", "id_b",
        "CAST(bit_count(pa ^ pb) AS BIGINT) AS hamming")
        .filter(f"hamming <= {PND_MAX_HAMMING}"))

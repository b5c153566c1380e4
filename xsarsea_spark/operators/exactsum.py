"""Exact, order-independent arithmetic: the engine's one home for it.

Numeric determinism conventions (so Spark and DuckDB hash-match):

- floating reductions go through exact DECIMAL sums:
  ``CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)`` (:func:`DSUM`,
  :func:`DAVG`) — per-row casts of identical doubles are
  deterministic, and decimal addition is exact, so the reduction no
  longer depends on partitioning/order;
- outputs of libm functions (exp/log/pow/trig) are truncated to a
  fixed decimal grid at the final projection (:func:`QTRUNC`);
- float literals are emitted in scientific notation so neither engine
  parses them as DECIMAL (see xsarsea_spark.expr);
- every computed column is explicitly aliased identically on both
  sides.

``DSUM`` gets exactness by summing ``DECIMAL(38, s)`` — correct, but
Spark backs precision>18 decimals with per-row JVM ``BigDecimal``
allocations, which costs ~5x over a native long sum (measured: 2.2 s
vs 0.4 s for TPC-H Q1's seven aggregates at sf0.1 on local[32]).

``exact_sum_agg`` gets an exact, order-independent sum with
long-backed arithmetic only:

1. per row, quantize to the scale-``s`` integer grid
   ``v = ROUND(x * 10^s)`` (BIGINT — every financial/quantity input
   is exact on that grid, same assumption DSUM already makes), and
   split ``v = q * 2^20 + r`` with ``r in [0, 2^20)`` (floor split,
   engine-agnostic via the double-mod identity);
2. sum ``q`` and ``r`` as plain BIGINTs — codegen-friendly,
   map-side-combined, no object allocation;
3. recombine once per output group (:func:`recombine_sql`) and cast
   to DOUBLE.

The result equals DSUM's wherever ``ROUND(x * 10^s)`` and
``CAST(x AS DECIMAL(38,s))`` pick the same grid point, which is every
input that does not sit at, or within an ulp of, a grid half-point.
At those the two conventions can differ by one quantum: of 300,000
inputs at or within one ulp of a half-point, at scales 6 and 9,
DuckDB 1.0.0's ``CAST(x AS DECIMAL(38,s))`` put 98,796 (about a
third) on a different grid point than :func:`grid`, while its
``ROUND(x * 1e{s})`` agreed with :func:`grid` on every one. The
suite's oracle tests pin the queries that use exact_sum_agg.

:func:`grid` and :func:`split_qr` are the NumPy twin of steps 1-2, for
Arrow kernels that fold partial sums map-side (``pipeline.linalg`` and
the Lloyd round ``pipeline.pq.lloyd_round`` that ``pipeline.ivf``
trains with): the same int64 quanta, so a kernel's partials recombine
to the value the SQL path gives.

:func:`seq_dot`, :func:`seq_sqdist` and :func:`seq_norm` are the NumPy
twins of the SQL vector folds ``aggregate(zip_with(a, b, f), 0d,
(acc, t) -> acc + t)``: each output element adds its terms in
ascending dimension order from 0.0, one rounding per product and per
add, so an Arrow kernel's dot products, squared distances and norms
equal the SQL fold's (and DuckDB's ``list_reduce``) bit for bit. BLAS
matmul and NumPy's pairwise ``.sum`` use implementation-defined
accumulation trees and do not. Users: the IVF/PQ/IVF-PQ kernels, the
LSH signature kernels (``pipeline.similarity``,
``pipeline.dedup.cosine_neardup``) and the large-k k-means assignment
(``pipeline.clustering``).

Scale safety (the reason for the q/r split): with |x| <= 10^9,
``SUM(r)`` overflows BIGINT only past ~9e12 rows per group and
``SUM(q)`` past ~9e12 rows x 10^6 magnitude — comfortable at 100 TB.
A single un-split ``SUM(v)`` would overflow a 9.2e18 BIGINT at only
~10^8 rows x 10^10 quanta, so the split is not an optimization, it is
the correctness margin. For groups beyond ~10^12 rows, pre-aggregate
per salt bucket first.

Requires |x| * 10^s < 2^51 per row: the conversion is only safe while
``fl(x * 10^s)`` cannot cross a grid midpoint, and near 2^53 that
product carries up to ~2 grid units of rounding error, so the
honestly-safe bound sits two octaves lower. At the default scale 6
that is |x| <= ~2.2e9 — still far above any per-row measure in the
suite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["DSUM", "DAVG", "QTRUNC", "decimal_sum", "recombine_sql",
           "grid", "split_qr", "seq_dot", "seq_sqdist", "seq_norm",
           "QR_BASE", "exact_sum_agg", "ExactSumSpec"]

# q/r split base: v = q * QR_BASE + r, r in [0, QR_BASE)
QR_BASE = 1 << 20


def _nanguard(e: str) -> str:
    """NaN -> NULL so SUM and COUNT agree (CAST(NaN AS DECIMAL) yields
    NULL in Spark but errors in DuckDB; nulling first makes both
    engines skip NaN rows identically — nanmean semantics)."""
    return f"CASE WHEN isnan({e}) THEN NULL ELSE ({e}) END"


def decimal_sum(e: str, scale: int = 6) -> str:
    """Exact (order-independent) sum of the SQL expression ``e``, which
    is spliced in as written: no NaN guard, no added parentheses."""
    return f"CAST(SUM(CAST({e} AS DECIMAL(38,{scale}))) AS DOUBLE)"


def DSUM(e: str, scale: int = 6) -> str:
    """Exact (order-independent) NaN-skipping sum of a double expression."""
    return decimal_sum(f"({_nanguard(e)})", scale)


def QTRUNC(e: str, k: int) -> str:
    """Engine-consistent quantization barrier after libm calls.

    Spark's and DuckDB's exp/log/pow/trig differ by 1 ulp on ~1-10% of
    inputs (sqrt is IEEE-exact), so any libm output that feeds a value
    compared across engines must be truncated to a fixed decimal grid
    first. Floor-truncation is pure arithmetic (multiply, floor,
    divide — all exactly specified by IEEE 754), so identical inputs
    quantize identically in every engine; inputs differing by 1 ulp
    disagree only when they straddle a 1e-k grid line (probability
    ~|x|*2.2e-16*1e^k per value — pick k so that is negligible).

    NaN guard: Spark's FLOOR(double) returns BIGINT (NaN becomes 0)
    while DuckDB's stays DOUBLE (NaN stays NaN) — so NaN bypasses the
    quantizer explicitly. |e| must stay below ~9e18/1e^k (BIGINT range
    of Spark's FLOOR).
    """
    q = f"(CAST(FLOOR(({e}) * 1e{k}) AS DOUBLE) / 1e{k})"
    return f"CASE WHEN isnan({e}) THEN CAST('NaN' AS DOUBLE) ELSE {q} END"


def DAVG(e: str, scale: int = 6) -> str:
    """Exact-sum NaN-skipping average of a double expression."""
    g = _nanguard(e)
    return f"({decimal_sum(f'({g})', scale)} / COUNT({g}))"


def recombine_sql(q: str, r: str, scale: int, n: str | None = None) -> str:
    """DOUBLE value of the grid total ``q * 2^20 + r`` quanta of scale
    ``scale`` — divided by the count ``n`` when given (NULL when n is
    0: an all-NaN group averages to NULL, exactly DuckDB's /0, instead
    of an ANSI DIVIDE_BY_ZERO crash).

    ``q * 2^20`` is a lossless power-of-two scaling; ``+ r``,
    ``/ 10^s`` and ``/ n`` each round once — DuckDB's own
    DECIMAL->DOUBLE cast is the same double(unscaled)/10^s formula.
    """
    v = (f"(CAST({q} AS DOUBLE) * {QR_BASE}e0 + CAST({r} AS DOUBLE))"
         f" / 1e{scale}")
    return v if n is None else f"({v}) / nullif({n}, 0)"


def grid(x, scale: int):
    """int64 quanta of the float64 array ``x`` on the scale-``scale``
    grid: the NumPy twin of SQL ``ROUND(x * 1e{scale})``.

    The product ``fl(x * 10^scale)`` is the double both engines form;
    it rounds half away from zero on its EXACT value — ``y - trunc(y)``
    is exact, so no ``floor(y + 0.5)`` double rounding within an ulp
    of a half-point. Inputs must be finite.
    """
    import numpy as np

    y = x * float(10.0 ** scale)
    t = np.trunc(y)
    return (t + np.copysign(np.abs(y - t) >= 0.5, y)).astype(np.int64)


def split_qr(v):
    """(q, r) of int64 quanta ``v = q * 2^20 + r``, ``r in [0, 2^20)``
    — the split ``exact_sum_agg`` accumulates, as int64 arrays."""
    return v // QR_BASE, v % QR_BASE


def seq_dot(a, b):
    """(n, k) dot products of the rows of ``a`` (n, d) with the rows of
    ``b`` (k, d), each folded left to right over d: the twin of
    ``aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (s, t) -> s + t)``.
    One vectorized add per dimension; ~2-4x slower than BLAS dgemm,
    the price of replicability."""
    import numpy as np

    acc = np.zeros((a.shape[0], b.shape[0]))
    for d in range(a.shape[1]):
        acc += a[:, d, None] * b[None, :, d]
    return acc


def seq_sqdist(a, b):
    """(n, k) squared L2 distances between the rows of ``a`` (n, d) and
    of ``b`` (k, d), folded left to right over d: the twin of
    ``aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0d,
    (s, t) -> s + t)``."""
    import numpy as np

    acc = np.zeros((a.shape[0], b.shape[0]))
    for d in range(a.shape[1]):
        diff = a[:, d, None] - b[None, :, d]
        acc += diff * diff
    return acc


def seq_norm(v):
    """L2 norm of each row of ``v`` (n, d): sqrt of the sum of squares
    folded left to right over d (``sqrt`` is IEEE-exact in every
    engine)."""
    import numpy as np

    acc = np.zeros(v.shape[0])
    for d in range(v.shape[1]):
        acc += v[:, d] * v[:, d]
    return np.sqrt(acc)


class ExactSumSpec:
    """One exact-sum output column: ``name`` <- sum of SQL expr ``e``."""

    def __init__(self, name: str, expr: str, scale: int = 6,
                 avg: bool = False):
        self.name = name
        self.expr = expr
        self.scale = scale
        self.avg = avg


def exact_sum_agg(
    df: DataFrame,
    group_cols: list[str],
    sums: list[ExactSumSpec],
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """Grouped exact sums/averages of double expressions.

    Returns ``df.groupBy(*group_cols)`` with one DOUBLE column per
    spec (the ``DSUM``/``DAVG`` value of the same expression, up to
    the half-point caveat in the module docstring), plus any
    ``extra_aggs`` (e.g. ``F.count(...)``) appended verbatim.
    One shuffle, all long-backed.
    """
    # Dedupe specs that sum the same (expr, scale) — a sum and an avg
    # of the same measure share one quantization + one accumulator
    # pair (Q1: 7 specs -> 5 distinct measures).
    slot: dict[tuple[str, int], int] = {}
    spec_slot: list[int] = []
    for s in sums:
        key = (s.expr, s.scale)
        if key not in slot:
            slot[key] = len(slot)
        spec_slot.append(slot[key])
    m = QR_BASE
    proj = df
    for (expr, scale), i in slot.items():
        v = f"CAST(ROUND(({_nanguard(expr)}) * 1e{scale}) AS BIGINT)"
        proj = proj.withColumn(f"__v{i}", F.expr(v))
        proj = proj.withColumn(
            f"__r{i}", F.expr(f"((__v{i} % {m}) + {m}) % {m}")
        )
    need_count = {
        spec_slot[j] for j, s in enumerate(sums) if s.avg
    }
    aggs: list[Column] = []
    for i in range(len(slot)):
        aggs.append(
            F.expr(f"SUM(CAST((__v{i} - __r{i}) / {m} AS BIGINT))")
            .alias(f"__q{i}")
        )
        aggs.append(F.expr(f"SUM(__r{i})").alias(f"__rs{i}"))
        if i in need_count:
            aggs.append(F.expr(f"COUNT(__v{i})").alias(f"__n{i}"))
    grouped = proj.groupBy(*group_cols).agg(*aggs, *(extra_aggs or []))
    out_cols: list[Column] = [F.col(c) for c in group_cols]
    for j, s in enumerate(sums):
        # a query converted to exact_sum_agg must keep its
        # oracle-parity test (see the module docstring)
        i = spec_slot[j]
        val = recombine_sql(f"__q{i}", f"__rs{i}", s.scale,
                            f"__n{i}" if s.avg else None)
        out_cols.append(F.expr(val).alias(s.name))
    passthrough = [
        c for c in grouped.columns
        if not c.startswith("__") and c not in group_cols
    ]
    out_cols += [F.col(c) for c in passthrough]
    return grouped.select(*out_cols)

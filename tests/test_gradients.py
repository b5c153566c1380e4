"""Tile+halo stencil framework: distributed result must be bit-equal
to the whole-image NumPy chain (halo >= total pyramid reach)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from xsarsea_spark.operators.gradients import (
    CIRC_KERNEL,
    circ_smooth,
    local_gradients,
    local_gradients_numpy,
    streak_direction,
)


def test_tile_halo_bit_exact(spark):
    NL, NS = 120, 168
    rng = np.random.default_rng(7)
    img = rng.uniform(0.01, 0.05, (NL, NS))
    pdf = pd.DataFrame({
        "line": np.repeat(np.arange(NL), NS),
        "sample": np.tile(np.arange(NS), NL),
        "sigma0": img.ravel(),
    })
    px = spark.createDataFrame(pdf)
    out = (
        local_gradients(px, NL, NS, tile=48, halo=24)
        .toPandas()
        .sort_values(["line4", "sample4"])
        .reset_index(drop=True)
    )
    ref = local_gradients_numpy(img)
    h, w = NL // 4, NS // 4
    assert len(out) == h * w
    for k in ("g2_re", "g2_im", "g3", "c"):
        got = out[k].to_numpy().reshape(h, w)
        assert np.array_equal(got, ref[k][:h, :w]), k


def test_circ_kernel_properties():
    # composed kernel preserves mass and symmetry
    assert abs(CIRC_KERNEL.sum() - 1.0) < 1e-12
    assert np.allclose(CIRC_KERNEL, CIRC_KERNEL[::-1])
    assert len(CIRC_KERNEL) == 31


# sparse histograms: (win_line, win_sample) -> {bin: weight}. Integer
# weights times the k/256 taps are exact in doubles and in DECIMAL(38,9),
# so the NumPy sums below equal the engine's exact ones bit for bit.
_SPARSE_HIST = {
    (0, 0): {0: 3.0, 1: 1.0, 71: 2.0},          # straddles the 0/71 wrap
    (0, 1): {70: 4.0, 2: 4.0},                   # 70, 71, 0, 1, 2 tie
    (1, 0): {10: 5.0, 20: 5.0},                  # 10, 15, 20 tie
    (1, 1): {30: np.nan, 33: 2.0, 40: 1.0},      # a NaN weight is skipped
    (2, 0): {50: np.nan},                        # only NaN: every bin NULL
    (2, 1): {36: 7.0},                           # a single bin
}


def _sparse_reference(n_angles: int = 72) -> dict:
    """31-tap circular smoothing restricted to the bins some non-zero tap
    reaches: (keys) -> {bin: weight or None}; NaN products are skipped
    and a bin with none left is None, as the engine's NaN-skipping
    DECIMAL sum gives NULL."""
    half = len(CIRC_KERNEL) // 2
    out = {}
    for key, bins in _SPARSE_HIST.items():
        acc: dict = {}
        for b, w in bins.items():
            for i, tap in enumerate(CIRC_KERNEL):
                if tap == 0.0:
                    continue
                dst = (b + i - half) % n_angles
                acc.setdefault(dst, None)
                if not np.isnan(w * tap):
                    acc[dst] = (acc[dst] or 0.0) + w * tap
        out[key] = acc
    return out


def _sparse_hist_df(spark):
    return spark.createDataFrame(
        [(wl, ws, b, float(w)) for (wl, ws), bins in _SPARSE_HIST.items()
         for b, w in bins.items()],
        "win_line BIGINT, win_sample BIGINT, angle_idx INT, weight DOUBLE")


def test_circ_smooth_sparse_histogram(spark):
    """Sparse input: exactly the reached bins come out, each with the
    NumPy 31-tap circular sum (NULL where every product was NaN)."""
    got = {
        (r.win_line, r.win_sample, r.angle_idx): r.weight
        for r in circ_smooth(_sparse_hist_df(spark)).collect()
    }
    want = {(*key, b): w for key, acc in _sparse_reference().items()
            for b, w in acc.items()}
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k] == w, k


def test_streak_direction_sparse_histogram(spark):
    """Peak of the sparse smoothed histogram: same argmax bin (ties to
    the lowest bin, NULL weights last) and the same peak weight as the
    NumPy reference."""
    n = 72
    start = float(-np.pi / 2 + (np.pi / n) / 2.0)
    bstep = float(np.pi / n)
    got = {
        (r.win_line, r.win_sample): (r.streak_angle, r.peak_weight)
        for r in streak_direction(_sparse_hist_df(spark), n_angles=n)
        .collect()
    }
    want = {}
    ties = 0
    for key, acc in _sparse_reference(n).items():
        vals = [w for w in acc.values() if w is not None]
        peak = max(vals) if vals else None
        top = sorted(b for b, w in acc.items() if w == peak)
        ties += peak is not None and len(top) > 1
        want[key] = (start + top[0] * bstep, peak)
    assert ties == 2                    # both tie windows still tie
    assert got == want


def test_rain_mask_tile_bit_exact(spark):
    import pandas as pd

    from xsarsea_spark.operators.gradients import (
        filtering_parameters,
        filtering_parameters_numpy,
    )

    NL, NS = 120, 160
    rng = np.random.default_rng(23)
    img = rng.uniform(0.005, 0.08, (NL, NS))
    pdf = pd.DataFrame({
        "line": np.repeat(np.arange(NL), NS),
        "sample": np.tile(np.arange(NS), NL),
        "sigma0": img.ravel(),
    })
    px = spark.createDataFrame(pdf)
    out = (
        filtering_parameters(px, NL, NS, tile=56)
        .toPandas().sort_values(["line4", "sample4"]).reset_index(drop=True)
    )
    ref = filtering_parameters_numpy(img)
    h, w = NL // 4, NS // 4
    assert len(out) == h * w
    for k in ("f1", "f2", "f3", "f4", "F"):
        assert np.array_equal(out[k].to_numpy().reshape(h, w),
                              ref[k][:h, :w]), k


def test_minimum_halo_bitexact(spark):
    """halo=20 (the minimum multiple of 4 covering the pyramid's
    18-px stencil reach, and the default) must be bit-identical to a
    generous halo=32 across tile sizes — halo only replicates, never
    changes interior outputs."""
    import numpy as np

    from xsarsea_spark.operators.gradients import local_gradients

    rng = np.random.default_rng(5)
    n = 128
    vals = rng.uniform(0.01, 1.0, size=(n, n))
    rows = [(int(i), int(j), float(vals[i, j]))
            for i in range(n) for j in range(n)]
    px = spark.createDataFrame(rows, "line int, sample int, sigma0 double")
    ref = local_gradients(px, n, n, tile=64, halo=32).orderBy(
        "line4", "sample4").collect()
    for tile in (32, 64):
        got = local_gradients(px, n, n, tile=tile, halo=20).orderBy(
            "line4", "sample4").collect()
        assert got == ref

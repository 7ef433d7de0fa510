"""Kalman kernel + smoothing operator parity tests.

The Spark UDF and these tests import the SAME kernel module
(functions/kalman.py) — single source of truth, like the reference
sharing kernels across NRT_BRDF_* variants.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ecov003_l2t_stars_spark.functions.kalman import (
    KalmanParams,
    kalman_filter_batch,
    kalman_filter_scalar,
)
from ecov003_l2t_stars_spark.operators.gapfill import gap_fill
from ecov003_l2t_stars_spark.operators.rollup import (
    normalize,
    rollup_tier,
    with_latency,
)
from ecov003_l2t_stars_spark.operators.smooth import smooth_tier
from ecov003_l2t_stars_spark.sources.transcripts import GenSpec, generate_transcripts


def test_scalar_vs_batch_bitexact():
    rng = np.random.default_rng(7)
    lengths = np.array([1, 5, 40, 200, 17])
    n, tmax = len(lengths), int(lengths.max())
    y = np.full((n, tmax), np.nan)
    for i, k in enumerate(lengths):
        s = rng.normal(0.5, 0.2, size=k)
        s[rng.random(k) < 0.3] = np.nan  # missing buckets
        y[i, :k] = s
    pm = rng.normal(0.1, 0.05, n)
    pv = np.abs(rng.normal(1e-4, 1e-5, n))
    bm = np.zeros(n)
    bv = np.full(n, 1e-6)
    params = KalmanParams(q_level=1e-4, q_bias=1e-6, r_obs=1e-2)

    bmraw = kalman_filter_batch(y, lengths, pm, pv, bm, bv, params)
    for i, k in enumerate(lengths):
        sc = kalman_filter_scalar(y[i, :k], pm[i], pv[i], bm[i], bv[i], params)
        for a, b in zip(bmraw, sc):
            got, exp = a[i, :k], b
            assert np.array_equal(got, exp, equal_nan=True), f"series {i}"


def test_clamp():
    y = np.array([5.0, 5.0, 5.0])
    params = KalmanParams(r_obs=1e-6, clamp_lo=0.0, clamp_hi=1.0)
    mean, *_ = kalman_filter_scalar(y, params=params)
    assert (mean <= 1.0).all() and (mean >= 0.0).all()


def test_converges_to_signal():
    y = np.full(300, 2.5)
    mean, sd, bias, _ = kalman_filter_scalar(y)
    assert abs((mean[-1] + bias[-1]) - 2.5) < 1e-6
    assert sd[-1] < sd[0] + 1.0  # bounded uncertainty


@pytest.fixture(scope="module")
def smoothed_pair(spark):
    pdf = generate_transcripts(GenSpec(n_convs=120))
    sdf = spark.createDataFrame(pdf)
    tier = rollup_tier(with_latency(normalize(sdf)), "1h")
    filled = gap_fill(tier, "1h", ("latency_p50",), method="locf")
    sm = smooth_tier(filled, "1h", n_groups=8)
    return sm.toPandas()


def test_smooth_tier_matches_scalar_oracle(smoothed_pair):
    out = smoothed_pair
    params = KalmanParams()
    for conv, g in out.groupby("conv_id"):
        g = g.sort_values("bucket_start")
        y = np.where(
            g["n_latency"].to_numpy() > 0,
            g["latency_sum"].to_numpy(dtype=np.float64)
            / g["n_latency"].to_numpy(dtype=np.float64),
            np.nan,
        )
        mean, sd, bias, bias_sd = kalman_filter_scalar(y, params=params)
        assert np.array_equal(g["smooth_mean"].to_numpy(), mean, equal_nan=True)
        assert np.array_equal(g["smooth_sd"].to_numpy(), sd, equal_nan=True)
        assert np.array_equal(g["smooth_bias"].to_numpy(), bias, equal_nan=True)
        assert np.array_equal(
            g["smooth_bias_sd"].to_numpy(), bias_sd, equal_nan=True
        )


def test_smooth_dense_output_complete(smoothed_pair):
    assert smoothed_pair["smooth_mean"].notna().all()
    assert smoothed_pair["smooth_sd"].notna().all()


def test_smooth_rejects_sparse_input(spark):
    """Non-dense input must fail fast, not silently compress time gaps
    (ADVICE r1 #5): a missing bucket would otherwise skip Kalman predict
    steps."""
    from ecov003_l2t_stars_spark.operators.wls import wls_tier

    pdf = generate_transcripts(GenSpec(n_convs=30))
    sdf = spark.createDataFrame(pdf)
    tier = rollup_tier(with_latency(normalize(sdf)), "1h")  # NOT gap-filled

    # the synthetic corpus always has at least one conv with a gap at 1h
    import pytest as _pytest

    with _pytest.raises(Exception, match="not dense"):
        smooth_tier(tier, "1h", n_groups=4).collect()
    with _pytest.raises(Exception, match="not dense"):
        wls_tier(tier, "1h", n_groups=4).collect()


def test_smooth_grouping_invariance(spark):
    """Per-conv results are independent of the (hash, length-bucket)
    grouping: n_groups=1 and n_groups=7 produce bit-identical output —
    the property the length-bucketed batching relies on."""
    pdf = generate_transcripts(GenSpec(n_convs=60))
    sdf = spark.createDataFrame(pdf)
    filled = gap_fill(
        rollup_tier(with_latency(normalize(sdf)), "1h"), "1h",
        ("latency_p50",), method="locf",
    )
    a = smooth_tier(filled, "1h", n_groups=1).toPandas() \
        .sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    b = smooth_tier(filled, "1h", n_groups=7).toPandas() \
        .sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    for c in ("smooth_mean", "smooth_sd", "smooth_bias", "smooth_bias_sd"):
        assert np.array_equal(a[c].to_numpy(), b[c].to_numpy(),
                              equal_nan=True), c


def test_length_bands_bound_padding():
    """One very long conv lands in its own band: series in a band are
    within 2x of each other, so the dense-matrix padding a 3000-bucket
    series would force onto 10-bucket series never happens, every series
    appears exactly once, and per-band padding stays < 50%."""
    from ecov003_l2t_stars_spark.operators.smooth import _length_bands

    lengths = np.array([10, 12, 3000, 11, 600, 19, 21])
    bands = list(_length_bands(lengths))
    seen = np.sort(np.concatenate(bands))
    assert np.array_equal(seen, np.arange(len(lengths)))
    for band in bands:
        bl = lengths[band]
        assert bl.max() <= bl.min() * 2          # 2x width
        pad = 1 - bl.sum() / (len(bl) * bl.max())
        assert pad < 0.5
    # the 3000-series is alone; the shorts share one band
    assert any(set(lengths[b]) == {3000} for b in bands)
    assert any({10, 11, 12, 19} <= set(lengths[b]) for b in bands)

"""Kalman (Bayesian) smoothing kernel with a bias channel.

NumPy re-derivation of the computational semantics of the reference's
STARS fusion kernel call
(``/root/reference/ECOv003_L2T_STARS/process_ECOSTRESS_data_fusion_distributed_bias.jl:350-393``):
per independent series, advance a Gaussian state day-by-day (here:
bucket-by-bucket), update with observations where present, carry a
additive-bias channel (the reference's coarse-bias estimation, its
``bias_mean``/``bias_var`` inputs, jl:42-47), and leave pure-predict
steps on missing observations (the all-NaN missing-date slices,
jl:163-171). Default priors mirror jl:42-47: mean 0.12, sd 0.01,
bias 0.0, bias sd 0.001. Posterior clamping mirrors the ``clamp!``
post-pass (jl:398-402).

State model (frozen; the test oracle and the Spark UDF import THESE
functions — single source of truth, the way the reference shares kernels
between its ``NRT_BRDF_*`` variants, ``VNP43NRT_jl/src/VNP43NRT.jl``):

    x_t = x_{t-1} + w,   w ~ N(0, q_level)      (level random walk)
    b_t = b_{t-1} + u,   u ~ N(0, q_bias)       (bias random walk)
    y_t = x_t + b_t + e, e ~ N(0, r_obs)        (observation)

Forward filter; the emitted posterior at each bucket is conditioned on
observations up to that bucket, matching the reference's evaluation of
the fusion posterior at target times (jl:258-259, 363).

The scalar recurrence is written once, in :func:`kalman_steps`, and has
one vectorized twin with identical floating-point operation order:

- :func:`kalman_steps` — one series from a given state, plain loop,
  returning the final state too. The streaming step
  (``streaming.rollup_stream.make_kalman_update``) calls it with the
  ``(x, b, pxx, pxb, pbb)`` it carries in ``GroupState``.
- :func:`kalman_filter_scalar` — :func:`kalman_steps` from the priors
  (cross-covariance 0). This is the single-node oracle (SURVEY §5.2).
- :func:`kalman_filter_batch` — vectorized across many series (time loop,
  conv-vectorized), used inside the batch grouped pandas UDF
  (``operators.smooth.smooth_tier``). Bit-identical to the scalar path
  because every step evaluates the same expressions elementwise in
  float64 (tested).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

DEFAULT_PRIOR_MEAN = 0.12
DEFAULT_PRIOR_VAR = 0.01 ** 2
DEFAULT_BIAS_MEAN = 0.0
DEFAULT_BIAS_VAR = 0.001 ** 2


@dataclass(frozen=True)
class KalmanParams:
    q_level: float = 1e-4
    q_bias: float = 1e-6
    r_obs: float = 1e-2
    clamp_lo: float | None = None
    clamp_hi: float | None = None


def kalman_steps(
    y: np.ndarray,
    state: tuple[float, float, float, float, float],
    params: KalmanParams = KalmanParams(),
) -> tuple[tuple[np.ndarray, ...], tuple[float, ...]]:
    """The scalar recurrence: advance ``state = (x, b, pxx, pxb, pbb)``
    over ``y`` (NaN = missing). Returns the per-step
    ``(mean, sd, bias, bias_sd)`` and the final state, so a caller that
    carries the state between calls (the streaming step) continues the
    same series bit-for-bit."""
    x, b, pxx, pxb, pbb = state
    y = np.asarray(y, dtype=np.float64)
    T = y.size
    mean = np.empty(T)
    sd = np.empty(T)
    bias = np.empty(T)
    bias_sd = np.empty(T)

    for t in range(T):
        # predict
        pxx = pxx + params.q_level
        pbb = pbb + params.q_bias
        if not np.isnan(y[t]):
            # update: H = [1, 1]
            s = pxx + 2.0 * pxb + pbb + params.r_obs
            kx = (pxx + pxb) / s
            kb = (pxb + pbb) / s
            v = y[t] - (x + b)
            x = x + kx * v
            b = b + kb * v
            hp_x = pxx + pxb  # (H P)_x
            hp_b = pxb + pbb  # (H P)_b
            pxx = pxx - kx * hp_x
            pxb = pxb - kx * hp_b
            pbb = pbb - kb * hp_b
        if params.clamp_lo is not None:
            x = max(x, params.clamp_lo)
        if params.clamp_hi is not None:
            x = min(x, params.clamp_hi)
        mean[t] = x
        sd[t] = np.sqrt(pxx)
        bias[t] = b
        bias_sd[t] = np.sqrt(pbb)
    return (mean, sd, bias, bias_sd), (x, b, pxx, pxb, pbb)


def kalman_filter_scalar(
    y: np.ndarray,
    prior_mean: float = DEFAULT_PRIOR_MEAN,
    prior_var: float = DEFAULT_PRIOR_VAR,
    bias_mean: float = DEFAULT_BIAS_MEAN,
    bias_var: float = DEFAULT_BIAS_VAR,
    params: KalmanParams = KalmanParams(),
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Reference (oracle) implementation: one series, NaN = missing."""
    state = (prior_mean, bias_mean, prior_var, 0.0, bias_var)
    return kalman_steps(y, tuple(map(np.float64, state)), params)[0]


def kalman_filter_batch(
    y: np.ndarray,
    lengths: np.ndarray,
    prior_mean: np.ndarray,
    prior_var: np.ndarray,
    bias_mean: np.ndarray,
    bias_var: np.ndarray,
    params: KalmanParams = KalmanParams(),
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized twin: ``y`` is (n_series, T_max), NaN-padded.

    ``lengths[i]`` is series i's true length; outputs beyond it are NaN.
    The per-step expressions are literally those of the scalar path,
    evaluated elementwise, so results are bit-identical.
    """
    y = np.asarray(y, dtype=np.float64)
    n, T = y.shape
    mean = np.full((n, T), np.nan)
    sd = np.full((n, T), np.nan)
    bias = np.full((n, T), np.nan)
    bias_sd = np.full((n, T), np.nan)

    x = np.asarray(prior_mean, dtype=np.float64).copy()
    b = np.asarray(bias_mean, dtype=np.float64).copy()
    pxx = np.asarray(prior_var, dtype=np.float64).copy()
    pxb = np.zeros(n)
    pbb = np.asarray(bias_var, dtype=np.float64).copy()

    lengths = np.asarray(lengths)
    for t in range(T):
        live = lengths > t
        pxx = np.where(live, pxx + params.q_level, pxx)
        pbb = np.where(live, pbb + params.q_bias, pbb)
        obs = live & ~np.isnan(y[:, t])
        if obs.any():
            s = pxx + 2.0 * pxb + pbb + params.r_obs
            kx = (pxx + pxb) / s
            kb = (pxb + pbb) / s
            v = np.where(obs, y[:, t] - (x + b), 0.0)
            x = np.where(obs, x + kx * v, x)
            b = np.where(obs, b + kb * v, b)
            hp_x = pxx + pxb
            hp_b = pxb + pbb
            pxx = np.where(obs, pxx - kx * hp_x, pxx)
            pxb = np.where(obs, pxb - kx * hp_b, pxb)
            pbb = np.where(obs, pbb - kb * hp_b, pbb)
        if params.clamp_lo is not None:
            x = np.maximum(x, params.clamp_lo)
        if params.clamp_hi is not None:
            x = np.minimum(x, params.clamp_hi)
        mean[live, t] = x[live]
        sd[live, t] = np.sqrt(pxx[live])
        bias[live, t] = b[live]
        bias_sd[live, t] = np.sqrt(pbb[live])
    return mean, sd, bias, bias_sd

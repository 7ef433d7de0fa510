"""Kalman smoothing pass over dense tier series (grouped pandas UDF).

The Spark face of :mod:`ecov003_l2t_stars_spark.functions.kalman` — the
engine's analog of the reference's Julia fusion stage
(``process_STARS_product.py:219-262`` →
``process_ECOSTRESS_data_fusion_distributed_bias.jl:350-393``), with the
process-boundary subprocess replaced by an Arrow-batched
``applyInPandas``:

- groups are HASH BUCKETS of conv_ids, not single conversations — each
  pandas batch carries many series and the kernel vectorizes the filter
  across all of them (time loop, conv-vectorized), exactly the "batched
  per-pixel matrix" strategy of the reference's BRDF kernel
  (``VNP43NRT_jl/src/VNP43NRT.jl:310-340``: "rows are separate locations,
  columns are separate times"). No per-row Python.
- every conv starts from the default prior (fusion jl:42-47). The batch
  job keeps no state table between runs: each run smooths a conv's
  FULL history, and a stored posterior has already absorbed that
  history, so using it as the next run's prior would count every
  observation twice. The reference's reload of the previous product as
  the prior (``load_prior.py:14-250``) belongs to a run that smooths
  only the new day; the engine's twin of that is the streaming
  smoother, which carries (x, b, pxx, pxb, pbb) in Spark's state store
  (``streaming.rollup_stream``).

Input must be DENSE per conversation (run :func:`gapfill.gap_fill`
first); gap buckets participate as pure-predict steps, the reference's
all-NaN missing-date slices (fusion jl:163-171).

Scale: one shuffle (the groupBy); per-group memory is
(convs/group × longest series in group) float64 matrices — tune
``n_groups`` so batches stay inside executor memory. Hot conversations
are spread across groups by the hash, and AQE skew handling covers the
residual. Inside each batch, the dense matrices are built per 2×-length
band (:func:`_length_bands`), so one very long conversation bounds only
its own band's padding (< 50% waste) and can never inflate the whole
batch — without changing the shuffle or shrinking the vectorization
width. Non-dense input (gaps or duplicate buckets) fails fast instead
of silently compressing time gaps.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ecov003_l2t_stars_spark import TIER_SECONDS
from ecov003_l2t_stars_spark.functions.kalman import (
    DEFAULT_BIAS_MEAN,
    DEFAULT_BIAS_VAR,
    DEFAULT_PRIOR_MEAN,
    DEFAULT_PRIOR_VAR,
    KalmanParams,
    kalman_filter_batch,
)
from ecov003_l2t_stars_spark.session import prune_zip_importers

SMOOTH_COLS = ("smooth_mean", "smooth_sd", "smooth_bias", "smooth_bias_sd")
KALMAN = KalmanParams()


def _series_bounds(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(starts, lengths) of each conv's slice in a (conv_id, _idx)-sorted
    batch, failing fast if any series is non-dense.

    The matrix builders place observations by position within each conv,
    which is only valid when ``_idx`` is contiguous (dense, no duplicate
    buckets). A gap would silently compress time — i.e. drop Kalman
    predict steps / corrupt WLS window contents — so sparse input is an
    error: run ``gapfill.gap_fill`` first (ADVICE r1 #5).
    """
    _, starts = np.unique(pdf["conv_id"].to_numpy(), return_index=True)
    starts = np.sort(starts)
    bounds = np.append(starts, len(pdf))
    lengths = np.diff(bounds)
    idx = pdf["_idx"].to_numpy(dtype=np.int64)
    if len(idx) > 1:
        step = np.diff(idx)
        interior = np.ones(len(idx) - 1, dtype=bool)
        interior[starts[1:] - 1] = False  # conv boundaries exempt
        if not np.all(step[interior] == 1):
            bad_pos = np.nonzero(interior & (step != 1))[0][0]
            raise ValueError(
                "smooth/wls input is not dense per conversation: "
                f"conv_id={pdf['conv_id'].iloc[bad_pos]!r} jumps from "
                f"_idx={idx[bad_pos]} to {idx[bad_pos + 1]} — run "
                "gap_fill before smoothing (gap buckets become "
                "pure-predict steps, they cannot be skipped)"
            )
    return starts, lengths


def _length_bands(lengths: np.ndarray):
    """Yield index arrays of series whose lengths lie within a 2× band
    (ascending). The dense (n_series, T_max) matrices are then built PER
    BAND inside each pandas batch, so one very long conversation bounds
    only its own band's padding (< 50% waste) instead of inflating the
    whole batch — while the batch composition (hash groups) and
    therefore the shuffle and the vectorization width stay exactly as
    they were. (A first cut grouped by length at the SHUFFLE level,
    which concentrated the few long series into thin batches and cost
    0.9 → 0.7 scaling efficiency at 2→8 cores; banding inside the batch
    keeps the memory bound without the straggler.)"""
    order = np.argsort(lengths, kind="mergesort")
    i = 0
    n = len(order)
    while i < n:
        hi = lengths[order[i]] * 2
        j = i
        while j < n and lengths[order[j]] <= hi:
            j += 1
        yield order[i:j]
        i = j


def smooth_tier(
    filled_df: DataFrame,
    tier: str,
    n_groups: int | None = None,
) -> DataFrame:
    """Append smooth_mean/sd/bias/bias_sd to a dense tier table.

    The observation is the bucket's mean latency ``latency_sum /
    n_latency`` (NULL when no latency obs → pure predict), filtered
    under :data:`KALMAN`, the default :class:`KalmanParams`.
    """
    if n_groups is None:
        n_groups = int(filled_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    df = filled_df.withColumn(
        "_y",
        F.when(
            F.col("n_latency") > 0, F.col("latency_sum") / F.col("n_latency")
        ),
    ).withColumn(
        "_grp", F.pmod(F.xxhash64("conv_id"), F.lit(n_groups))
    ).withColumn(
        "_idx", (F.unix_seconds("bucket_start") / TIER_SECONDS[tier]).cast("long")
    )

    out_schema = StructType(
        [f for f in df.schema.fields if f.name != "_grp"]
        + [StructField(c, DoubleType()) for c in SMOOTH_COLS]
    )
    in_cols = [f.name for f in df.schema.fields if f.name != "_grp"]

    def run_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        prune_zip_importers()
        pdf = pdf.sort_values(["conv_id", "_idx"], kind="mergesort").reset_index(
            drop=True
        )
        starts, lengths = _series_bounds(pdf)
        yv = pdf["_y"].to_numpy(dtype=np.float64)

        flat = {c: np.empty(len(pdf)) for c in SMOOTH_COLS}
        for band in _length_bands(lengths):
            bl = lengths[band]
            nb, tmax = len(band), int(bl.max())
            col_idx = np.concatenate([np.arange(k) for k in bl])
            row_idx = np.repeat(np.arange(nb), bl)
            flat_pos = np.concatenate(
                [np.arange(starts[s], starts[s] + lengths[s]) for s in band]
            )
            y = np.full((nb, tmax), np.nan)
            y[row_idx, col_idx] = yv[flat_pos]
            mean, sd, bias, bias_sd = kalman_filter_batch(
                y, bl,
                np.full(nb, DEFAULT_PRIOR_MEAN), np.full(nb, DEFAULT_PRIOR_VAR),
                np.full(nb, DEFAULT_BIAS_MEAN), np.full(nb, DEFAULT_BIAS_VAR),
                KALMAN,
            )
            flat["smooth_mean"][flat_pos] = mean[row_idx, col_idx]
            flat["smooth_sd"][flat_pos] = sd[row_idx, col_idx]
            flat["smooth_bias"][flat_pos] = bias[row_idx, col_idx]
            flat["smooth_bias_sd"][flat_pos] = bias_sd[row_idx, col_idx]

        res = pdf[in_cols].copy()
        for c in SMOOTH_COLS:
            res[c] = flat[c]
        return res

    return (
        df.groupBy("_grp")
        .applyInPandas(run_batch, out_schema)
        .drop("_idx", "_y")
    )


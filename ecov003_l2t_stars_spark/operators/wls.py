"""Trailing-window WLS operator over dense tier series.

Spark face of :mod:`ecov003_l2t_stars_spark.functions.wls` — the engine's
analog of the reference's ``VNP43NRT`` sub-pipeline (17-day trailing
window of observations per pixel → WLS with exponential recency weights →
trend/uncertainty layers, ``VNP43NRT/VNP43NRT.py:344-567`` +
``VNP43NRT_jl/src/VNP43NRT.jl:310-394``). Used as a smoothing diagnostic:
appends trend/level/se/r2 columns for the chosen signal.

Same batching strategy as :mod:`smooth`: hash-bucket groups → one Arrow
batch carries many conversations → the kernel regresses
(series × target bucket) in one vectorized shot. Input must be dense per
conv (gap_fill first); missing buckets count as missing observations
inside the window, gated by ``min_obs`` (jl:345: ``nt < 7``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ecov003_l2t_stars_spark import TIER_SECONDS
from ecov003_l2t_stars_spark.functions.wls import (
    DEFAULT_MIN_OBS,
    DEFAULT_SCALE,
    DEFAULT_WINDOW,
    wls_trailing,
    wls_trailing_rank3,
)
from ecov003_l2t_stars_spark.session import prune_zip_importers

WLS_COLS = ("wls_trend", "wls_level", "wls_se", "wls_r2")
_FIELD_OF = {
    "wls_trend": "trend",
    "wls_level": "level",
    "wls_se": "se",
    "wls_r2": "r2",
    "wls_curv": "curv",
}


def wls_tier(
    filled_df: DataFrame,
    tier: str,
    signal_col: str | None = None,
    window: int = DEFAULT_WINDOW,
    scale: float = DEFAULT_SCALE,
    min_obs: int = DEFAULT_MIN_OBS,
    n_groups: int | None = None,
    design: str = "rank2",
) -> DataFrame:
    """Append wls_trend/level/se/r2 (+ wls_n) to a dense tier table.

    ``design="rank3"`` uses the [1, x, x^2] kernel (the reference's
    3-parameter normal-equations analog, VNP43NRT.jl:365-369) and
    additionally appends ``wls_curv``.
    """
    if design not in ("rank2", "rank3"):
        raise ValueError(f"unknown design {design!r}")
    kernel = wls_trailing if design == "rank2" else wls_trailing_rank3
    out_cols = list(WLS_COLS) + (["wls_curv"] if design == "rank3" else [])
    spark = filled_df.sparkSession
    if n_groups is None:
        n_groups = int(spark.conf.get("spark.sql.shuffle.partitions"))

    df = filled_df
    if signal_col is None:
        df = df.withColumn(
            "_y",
            F.when(
                F.col("n_latency") > 0, F.col("latency_sum") / F.col("n_latency")
            ),
        )
    else:
        df = df.withColumn("_y", F.col(signal_col))

    from ecov003_l2t_stars_spark.operators.smooth import (
        _length_bands,
        _series_bounds,
    )

    df = df.withColumn(
        "_grp", F.pmod(F.xxhash64("conv_id"), F.lit(n_groups))
    ).withColumn(
        "_idx", (F.unix_seconds("bucket_start") / TIER_SECONDS[tier]).cast("long")
    )

    out_schema = StructType(
        [f for f in df.schema.fields if f.name != "_grp"]
        + [StructField(c, DoubleType()) for c in out_cols]
        + [StructField("wls_n", LongType())]
    )
    in_cols = [f.name for f in df.schema.fields if f.name != "_grp"]

    def run_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        prune_zip_importers()
        pdf = pdf.sort_values(["conv_id", "_idx"], kind="mergesort").reset_index(
            drop=True
        )
        starts, lengths = _series_bounds(pdf)
        yv = pdf["_y"].to_numpy(dtype=np.float64)

        flat_f = {c: np.empty(len(pdf)) for c in out_cols}
        flat_n = np.empty(len(pdf), dtype=np.int64)
        # per-band dense matrices: one long series bounds only its own
        # band's padding (see smooth._length_bands)
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
            res = kernel(y, window=window, scale=scale, min_obs=min_obs)
            for c in out_cols:
                flat_f[c][flat_pos] = res[_FIELD_OF[c]][row_idx, col_idx]
            flat_n[flat_pos] = res["n_obs"][row_idx, col_idx]

        out = pdf[in_cols].copy()
        for c in out_cols:
            out[c] = flat_f[c]
        out["wls_n"] = flat_n
        return out

    return (
        df.groupBy("_grp")
        .applyInPandas(run_batch, out_schema)
        .drop("_idx", "_y")
    )

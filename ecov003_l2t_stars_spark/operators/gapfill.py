"""Gap-fill: dense bucket grid + locf / linear interpolation.

Spark re-expression of the reference's dense-calendar alignment
(``/root/reference/ECOv003_L2T_STARS/process_ECOSTRESS_data_fusion_distributed_bias.jl:146-179``):
the daily axis ``dates = [start + Day(d-1) ...]`` with missing dates
becoming all-NaN slices (jl:163-171) becomes gap rows exploded from each
consecutive-observation pair (lead + ``sequence``) unioned under the
observations — no dense-grid join. A fixed ``grid_start``/``grid_end``
job window (which introduces leading/trailing gaps) runs on the same
generator: two NULL sentinel rows per conv just outside the window
bracket its in-window observations. The observation-path "skip +
observed index" variant (jl:185-219) is the ``fill_method`` flag.

Fill semantics (frozen, mirrored by the test oracle — SURVEY §7.2):

- count columns (``n_turns``, per-role counts): 0 on gap rows — a bucket
  with no observations truly has zero turns.
- value columns (percentiles, smoothing inputs):
  - ``locf``: last observation carried forward; NULL before the first
    observation (leading gap → NULL + flag, the analog of the reference's
    prior-flag for pixels with no observations, fusion jl:288-312).
  - ``linear``: interpolate between bracketing observations; trailing
    gaps fall back to locf; leading gaps NULL.
- ``gap_filled`` boolean and ``fill_method`` ∈ {obs, locf, linear, NULL}.

Scale notes: the grid is generated per conversation bounded by that
conversation's observed span at the tier's granularity (never a global
cross-join); a conversation's 1m grid over its own activity window is
bounded by retention policy. ``sequence``/``explode`` runs inside the same
partition as the subsequent windows (one shuffle on conv_id for the whole
stage). ``max_buckets_per_conv`` guards runaway spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark import TIER_SECONDS

COUNT_COLS = ("n_turns", "n_user", "n_assistant", "n_system", "n_tool", "n_latency")


def dense_grid(
    tier_df: DataFrame,
    tier: str,
    max_buckets_per_conv: int = 2_000_000,
    grid_start=None,
    grid_end=None,
) -> DataFrame:
    """Per-conv dense (conv_id, bucket_start) grid spanning min..max bucket.

    ``grid_start``/``grid_end`` override the per-conv span with a fixed
    job window, as in :func:`gap_fill`; a conv whose window is empty
    gets no rows. :func:`gap_fill` never materializes this grid — the
    grid ⟕ obs formulation is its test reference.
    """
    n = TIER_SECONDS[tier]
    spans = tier_df.groupBy("conv_id").agg(
        F.min("bucket_start").alias("_lo"), F.max("bucket_start").alias("_hi")
    )
    if grid_start is not None:
        spans = spans.withColumn("_lo", F.lit(grid_start).cast("timestamp"))
    if grid_end is not None:
        spans = spans.withColumn("_hi", F.lit(grid_end).cast("timestamp"))
    spans = spans.where(F.col("_lo") <= F.col("_hi")).where(
        (F.unix_seconds("_hi") - F.unix_seconds("_lo")) / n
        < F.lit(max_buckets_per_conv)
    )
    return spans.select(
        "conv_id",
        F.explode(
            F.sequence(
                F.unix_seconds("_lo"),
                F.unix_seconds("_hi"),
                F.lit(n),
            )
        ).alias("_bs"),
    ).select("conv_id", F.timestamp_seconds("_bs").alias("bucket_start"))


def gap_fill(
    tier_df: DataFrame,
    tier: str,
    value_cols: tuple[str, ...] = ("latency_p50", "latency_p90", "latency_p99"),
    method: str = "locf",
    max_buckets_per_conv: int = 2_000_000,
    grid_start=None,
    grid_end=None,
) -> DataFrame:
    """Densify one tier table and fill ``value_cols`` by ``method``.

    Returns the tier schema + ``gap_filled`` + ``fill_method``; value
    columns come back as double.

    The grid is each conv's own observed span unless ``grid_start`` /
    ``grid_end`` (python datetimes or timestamp strings, bucket starts
    of ``tier``) fix one or both ends to a job window, the way the
    reference densifies over the full [start_date, end_date] regardless
    of per-pixel observations (fusion jl:146-153). Under a window,
    observations outside it are dropped, leading gaps are NULL with a
    NULL ``fill_method``, trailing gaps are locf under both methods, a
    conv with no observation inside the window emits the whole window
    as NULL gap rows, a conv whose window is empty (a one-sided bound
    past its span) emits nothing, and the span guard applies to the
    window span.
    """
    if method not in ("locf", "linear"):
        raise ValueError(f"unknown fill method: {method}")
    n = TIER_SECONDS[tier]
    idx = (F.unix_seconds("bucket_start") / n).cast("long")

    # NO dense-grid join and NO windows over the densified table: gap
    # rows are generated from each consecutive-row pair (lead +
    # sequence-explode), and because the generating pair already
    # brackets every gap bucket, the fill values attach AT EXPLODE
    # TIME — the carried-value windows run over the OBSERVATION table
    # only (~10× fewer rows than the densified output, which is merely
    # unioned together at the end). Same row set and identical fill
    # arithmetic as the grid ⟕ obs + windows formulation (equivalence
    # pinned in tests/test_gapfill.py). The span guard rides the same
    # conv_id partitioning (whole-partition min/max frame — not the
    # banned ordered unbounded-following class).
    obs = tier_df.withColumn("_idx", idx)
    w_all = Window.partitionBy("conv_id")
    windowed = grid_start is not None or grid_end is not None
    if windowed:
        # a job window brackets each conv's in-window observations with
        # two NULL sentinel rows at lo-1 and hi+1: the pair generator
        # then emits the leading and trailing gaps (and the whole window
        # of a conv with no observation in it) like any interior gap.
        # Sentinels emit no row; a gap whose previous row is a sentinel
        # is a leading gap
        def _bound(b, own):
            if b is None:
                return own.over(w_all)
            ts = F.lit(b).cast("timestamp")
            return (F.unix_seconds(ts) / n).cast("long")

        scoped = (
            obs.withColumn("_lo", _bound(grid_start, F.min("_idx")))
            .withColumn("_hi", _bound(grid_end, F.max("_idx")))
            .where(F.col("_lo") <= F.col("_hi"))
            .where(F.col("_hi") - F.col("_lo") < max_buckets_per_conv)
        )
        obs = scoped.where(
            F.col("_idx").between(F.col("_lo"), F.col("_hi"))
        ).select(*tier_df.columns, "_idx", F.lit(False).alias("_sent"))
        sentinels = (
            scoped.select("conv_id", "_lo", "_hi")
            .dropDuplicates(["conv_id"])
            .select(
                "conv_id",
                F.explode(
                    F.array(F.col("_lo") - 1, F.col("_hi") + 1)
                ).alias("_idx"),
                F.lit(True).alias("_sent"),
            )
        )
        rows = obs.unionByName(sentinels, allowMissingColumns=True)
    else:
        obs = (
            obs.withColumn(
                "_span",
                F.max("_idx").over(w_all) - F.min("_idx").over(w_all),
            )
            .where(F.col("_span") < max_buckets_per_conv)
            .drop("_span")
        )
        rows = obs

    w_lead = Window.partitionBy("conv_id").orderBy("_idx")
    w_fwd = (
        Window.partitionBy("conv_id")
        .orderBy("_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_bwd = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("_idx").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # carried values as of each row: last non-null looking back (for
    # prev_v) and forward (for next_v) — running frames both ways, per
    # the O(n²)-frame ban; NULL-valued sentinels carry nothing
    carried = rows
    for c in value_cols:
        carried = carried.withColumn(
            f"_cf_{c}", F.last(c, ignorenulls=True).over(w_fwd)
        ).withColumn(
            f"_cb_{c}", F.last(c, ignorenulls=True).over(w_bwd)
        )
    pairs = carried.select(
        "conv_id",
        F.col("_idx").alias("_prev"),
        F.lead("_idx").over(w_lead).alias("_nxt"),
        *[F.col(f"_cf_{c}").alias(f"_pv_{c}") for c in value_cols],
        *[
            F.lead(f"_cb_{c}").over(w_lead).alias(f"_nv_{c}")
            for c in value_cols
        ],
        *(
            [
                F.col("_sent").alias("_prev_sent"),
                F.lead("_sent").over(w_lead).alias("_nxt_sent"),
            ]
            if windowed
            else []
        ),
    ).where(F.col("_nxt") > F.col("_prev") + 1)
    gaps = pairs.select(
        "conv_id",
        "_prev",
        "_nxt",
        *[f"_pv_{c}" for c in value_cols],
        *[f"_nv_{c}" for c in value_cols],
        *(["_prev_sent", "_nxt_sent"] if windowed else []),
        F.explode(
            F.sequence(F.col("_prev") + 1, F.col("_nxt") - 1)
        ).alias("_idx"),
    )

    def _filled(c: str):
        prev_v = F.col(f"_pv_{c}")
        if method == "locf":
            return prev_v
        # identical expression tree to the window formulation: int
        # subtraction → cast double → divide. A leading gap's prev_v
        # is NULL, so it interpolates to NULL
        frac = (
            (F.col("_idx") - F.col("_prev")).cast("double")
            / (F.col("_nxt") - F.col("_prev")).cast("double")
        )
        linear = prev_v + (F.col(f"_nv_{c}") - prev_v) * frac
        if windowed:
            # trailing gap (next row is the hi sentinel) → locf
            return F.when(F.col("_nxt_sent"), prev_v).otherwise(linear)
        return linear

    def _out_col(c: str, gap: bool):
        dt_ = tier_df.schema[c].dataType
        if c in ("conv_id",):
            return F.col("conv_id")
        if c == "bucket_start":
            return (
                F.timestamp_seconds(F.col("_idx") * n).alias(c)
                if gap
                else F.col(c)
            )
        if c in COUNT_COLS:
            return (
                F.lit(0).cast(dt_).alias(c)
                if gap
                else F.coalesce(F.col(c), F.lit(0)).alias(c)
            )
        if c in value_cols:
            # common-type widening matches the when/otherwise form
            # of the window path (numeric value col → double)
            return (
                _filled(c).cast("double").alias(c)
                if gap
                else F.col(c).cast("double").alias(c)
            )
        return (
            F.lit(None).cast(dt_).alias(c) if gap else F.col(c)
        )

    gap_method = F.lit(method)
    if windowed:
        gap_method = F.when(
            ~F.col("_prev_sent"), gap_method
        ).otherwise(F.lit(None).cast("string"))
    obs_rows = obs.select(
        *[_out_col(c, gap=False) for c in tier_df.columns],
        F.lit(False).alias("gap_filled"),
        F.lit("obs").alias("fill_method"),
    )
    gap_rows = gaps.select(
        *[_out_col(c, gap=True) for c in tier_df.columns],
        F.lit(True).alias("gap_filled"),
        gap_method.alias("fill_method"),
    )
    return (
        obs_rows.unionByName(gap_rows)
        .withColumn(
            "bucket_end",
            F.timestamp_seconds(
                F.unix_seconds("bucket_start") + F.lit(n)
            ),
        )
        .withColumn("tier", F.lit(tier))
    )


def missing_buckets(
    tier_df: DataFrame,
    tier: str,
    max_buckets_per_conv: int = 2_000_000,
) -> DataFrame:
    """Expected-vs-observed anti-join: buckets in the dense grid with no
    observed row — the watermark-violation check, mirroring the
    reference's missing-date accumulation + ``AuxiliaryLatency`` raise
    (``generate_STARS_inputs.py:220-231``, ``L2T_STARS.py:357-379``).

    ``max_buckets_per_conv`` mirrors the dense-grid guard the join-free
    rewrite replaced: one pathological timestamp (a huge span) would
    otherwise make ``F.sequence`` generate the whole gap — past Spark's
    max array length it errors the job, below it it blows task memory.
    Guarded gaps are silently skipped, matching the old behavior of
    excluding runaway convs from the grid.
    """
    # the missing set is exactly the interior of each
    # consecutive-observation pair — generated by lead + explode with no
    # dense grid and no anti-join (per-conv spans make endpoints
    # observed, so grid ∖ obs ≡ these interiors)
    n = TIER_SECONDS[tier]
    idx = (F.unix_seconds("bucket_start") / n).cast("long")
    w_lead = Window.partitionBy("conv_id").orderBy("_idx")
    gap_ok = (F.col("_nxt") > F.col("_idx") + 1) & (
        F.col("_nxt") - F.col("_idx") < F.lit(max_buckets_per_conv)
    )
    return (
        tier_df.select("conv_id", idx.alias("_idx"))
        .select(
            "conv_id", "_idx", F.lead("_idx").over(w_lead).alias("_nxt")
        )
        .where(gap_ok)
        .select(
            "conv_id",
            F.explode(
                F.sequence(F.col("_idx") + 1, F.col("_nxt") - 1)
            ).alias("_m"),
        )
        .select(
            "conv_id",
            F.timestamp_seconds(F.col("_m") * n).alias("bucket_start"),
        )
    )

"""Gap-fill semantics: golden gappy case, leading gaps, idempotence."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark.operators.gapfill import (
    dense_grid,
    gap_fill,
    missing_buckets,
)
from ecov003_l2t_stars_spark.operators.rollup import (
    normalize,
    rollup_tier,
    with_latency,
)
from ecov003_l2t_stars_spark.sources.transcripts import GenSpec, generate_transcripts

T0 = dt.datetime(2025, 1, 1)


@pytest.fixture(scope="module")
def tiny_tier(spark):
    """Hand-built 1h tier rows: conv X observed at hours 0 and 3 (gap 1,2),
    conv Y observed only at hour 2."""
    rows = [
        ("X", T0, 4, 10.0),
        ("X", T0 + dt.timedelta(hours=3), 2, 40.0),
        ("Y", T0 + dt.timedelta(hours=2), 1, 7.0),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, bucket_start timestamp, n_turns long, "
        "latency_p50 double"
    )


def _by_key(df):
    return {
        (r.conv_id, r.bucket_start.hour): r for r in df.collect()
    }


def test_locf_golden(tiny_tier):
    out = _by_key(gap_fill(tiny_tier, "1h", ("latency_p50",), method="locf"))
    assert len(out) == 5  # X: hours 0-3, Y: hour 2
    assert out[("X", 0)].fill_method == "obs" and not out[("X", 0)].gap_filled
    g1, g2 = out[("X", 1)], out[("X", 2)]
    assert g1.gap_filled and g1.fill_method == "locf"
    assert g1.latency_p50 == 10.0 and g2.latency_p50 == 10.0
    assert g1.n_turns == 0  # counts are true zeros on gap rows
    assert out[("X", 3)].latency_p50 == 40.0


def test_linear_golden(tiny_tier):
    out = _by_key(gap_fill(tiny_tier, "1h", ("latency_p50",), method="linear"))
    assert out[("X", 1)].latency_p50 == pytest.approx(20.0, abs=0)
    assert out[("X", 2)].latency_p50 == pytest.approx(30.0, abs=0)
    assert out[("X", 1)].fill_method == "linear"


def test_leading_and_trailing_gaps(tiny_tier, spark):
    """Fixed job window produces leading gaps (NULL + flag) and trailing
    gaps (locf fallback under linear)."""
    out = gap_fill(
        tiny_tier, "1h", ("latency_p50",), method="linear",
        grid_start=T0, grid_end=T0 + dt.timedelta(hours=4),
    )
    y = {r.bucket_start.hour: r for r in out.where(F.col("conv_id") == "Y").collect()}
    assert len(y) == 5
    # leading gap: hours 0,1 → NULL value, NULL method, flagged
    for h in (0, 1):
        assert y[h].gap_filled and y[h].fill_method is None
        assert y[h].latency_p50 is None
    assert y[2].fill_method == "obs"
    # trailing gap: hours 3,4 → locf fallback value, flagged linear-method row
    for h in (3, 4):
        assert y[h].gap_filled and y[h].latency_p50 == 7.0


def test_idempotence(tiny_tier):
    """Gap-filling an already-dense table is the identity on values and
    introduces no new gap rows (SURVEY §5.2 property test)."""
    once = gap_fill(tiny_tier, "1h", ("latency_p50",), method="locf")
    dense = once.drop("gap_filled", "fill_method", "bucket_end", "tier")
    twice = gap_fill(dense, "1h", ("latency_p50",), method="locf")
    assert twice.where(F.col("gap_filled")).count() == 0
    a = once.select("conv_id", "bucket_start", "latency_p50", "n_turns")
    b = twice.select("conv_id", "bucket_start", "latency_p50", "n_turns")
    assert a.join(b, ["conv_id", "bucket_start"]).where(
        (~(a.latency_p50.eqNullSafe(b.latency_p50))) | (a.n_turns != b.n_turns)
    ).count() == 0


def test_missing_buckets_on_generated(spark):
    pdf = generate_transcripts(GenSpec(n_convs=200))
    sdf = spark.createDataFrame(pdf)
    tier = rollup_tier(with_latency(normalize(sdf)), "1h")
    miss = missing_buckets(tier, "1h")
    grid_n = dense_grid(tier, "1h").count()
    assert miss.count() == grid_n - tier.count()
    # gappy convs exist by construction (GenSpec gappy_frac)
    assert miss.count() > 0


def _legacy_gap_fill(
    tier_df, method, value_cols=("latency_p50",),
    max_buckets_per_conv=2_000_000, grid_start=None, grid_end=None,
):
    """The grid ⟕ obs formulation gap_fill replaced, kept as its
    reference: a dense per-conv grid (own span, or the fixed job window)
    left-joined to the observations, filled by running windows over the
    densified table."""
    from pyspark.sql import Window

    from ecov003_l2t_stars_spark.operators.gapfill import (
        COUNT_COLS,
        TIER_SECONDS,
    )

    n = TIER_SECONDS["1h"]
    grid = dense_grid(
        tier_df, "1h", max_buckets_per_conv, grid_start, grid_end
    )
    obs = tier_df.withColumn("_obs", F.lit(True))
    joined = grid.join(obs, ["conv_id", "bucket_start"], "left")
    idx = (F.unix_seconds("bucket_start") / n).cast("long")
    joined = joined.withColumn("_idx", idx)
    w_prev = (
        Window.partitionBy("conv_id").orderBy("_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("conv_id").orderBy(F.col("_idx").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_obs = F.col("_obs").isNotNull()
    prev_obs_idx = F.last(
        F.when(is_obs, F.col("_idx")), ignorenulls=True
    ).over(w_prev)
    next_obs_idx = F.last(
        F.when(is_obs, F.col("_idx")), ignorenulls=True
    ).over(w_next)
    out = joined
    for c in COUNT_COLS:
        if c in tier_df.columns:
            out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    for c in value_cols:
        prev_v = F.last(
            F.when(is_obs, F.col(c)), ignorenulls=True
        ).over(w_prev)
        if method == "locf":
            filled = prev_v
        else:
            next_v = F.last(
                F.when(is_obs, F.col(c)), ignorenulls=True
            ).over(w_next)
            frac = (
                (F.col("_idx") - prev_obs_idx).cast("double")
                / (next_obs_idx - prev_obs_idx).cast("double")
            )
            filled = F.when(
                next_obs_idx.isNotNull() & prev_obs_idx.isNotNull(),
                prev_v + (next_v - prev_v) * frac,
            ).otherwise(prev_v)
        out = out.withColumn(
            c, F.when(is_obs, F.col(c)).otherwise(filled)
        )
    return (
        out.withColumn("gap_filled", ~is_obs)
        .withColumn(
            "fill_method",
            F.when(is_obs, F.lit("obs"))
            .when(prev_obs_idx.isNotNull(), F.lit(method))
            .otherwise(F.lit(None).cast("string")),
        )
        .select(
            "conv_id", "bucket_start", *value_cols, "n_turns",
            "gap_filled", "fill_method",
        )
    )


def test_union_path_equals_grid_join_path(spark):
    """The default lead+explode+union gap-fill is ROW-IDENTICAL to the
    legacy dense-grid ⟕ obs formulation on generated gappy data, for
    both methods, including NULL-valued observed buckets."""
    sdf = spark.createDataFrame(
        generate_transcripts(GenSpec(n_convs=60, gappy_frac=0.5, seed=7))
    )
    tier = rollup_tier(with_latency(normalize(sdf)), "1h")

    for method in ("locf", "linear"):
        new = (
            gap_fill(tier, "1h", value_cols=("latency_p50",), method=method)
            .select(
                "conv_id", "bucket_start", "latency_p50", "n_turns",
                "gap_filled", "fill_method",
            )
        )
        a = sorted(map(tuple, new.collect()))
        b = sorted(map(tuple, _legacy_gap_fill(tier, method).collect()))
        assert a == b


def test_windowed_gap_fill_matches_grid_join(spark):
    """A fixed job window (one or both bounds) on the join-free
    generator is row-identical to the grid ⟕ obs formulation: random
    windows before, inside, after and straddling conv spans, both
    methods, NULL-valued observations, with and without a span guard
    that drops some convs."""
    import random

    sdf = spark.createDataFrame(
        generate_transcripts(GenSpec(n_convs=30, gappy_frac=0.5, seed=11))
    )
    tier = rollup_tier(with_latency(normalize(sdf)), "1h").persist()
    # NULL-valued observed buckets must be in play
    assert tier.where(F.col("latency_p50").isNull()).count() > 0
    spans = sorted(
        (r.lo, r.hi)
        for r in tier.groupBy("conv_id")
        .agg(F.min("bucket_start").alias("lo"),
             F.max("bucket_start").alias("hi"))
        .collect()
    )
    rng = random.Random(5)
    hour = dt.timedelta(hours=1)
    value_cols = ("latency_p50", "latency_p99")
    cols = (
        "conv_id", "bucket_start", *value_cols, "n_turns",
        "gap_filled", "fill_method",
    )
    kinds = ("before", "inside", "after", "straddle")
    cases = []
    for i in range(8):
        lo, hi = rng.choice(spans)
        width = int((hi - lo) / hour)
        kind = kinds[i % len(kinds)]
        if kind == "before":
            b = lo - rng.randint(1, 6) * hour
            a = b - rng.randint(0, 6) * hour
        elif kind == "after":
            a = hi + rng.randint(1, 6) * hour
            b = a + rng.randint(0, 6) * hour
        elif kind == "inside":
            a = lo + rng.randint(0, width) * hour
            b = a + rng.randint(0, max(width - int((a - lo) / hour), 0)) * hour
        else:
            a = lo - rng.randint(1, 6) * hour
            b = hi + rng.randint(1, 6) * hour
        # one-sided bounds: keep only the start or only the end
        bounds = ((a, b), (a, None), (None, b))[i % 3]
        guard = (2_000_000, 48)[i % 2]
        cases.append((bounds, guard))

    for (start, end), guard in cases:
        for method in ("locf", "linear"):
            new = gap_fill(
                tier, "1h", value_cols=value_cols, method=method,
                max_buckets_per_conv=guard, grid_start=start, grid_end=end,
            ).select(*cols)
            ref = _legacy_gap_fill(
                tier, method, value_cols, guard, start, end
            )
            a = sorted(map(tuple, new.collect()))
            b = sorted(map(tuple, ref.collect()))
            assert a == b, (start, end, guard, method)
    tier.unpersist()

"""Tier rollup: tumbling-window continuous aggregates per conversation.

This is the engine's core operator family, the Spark re-expression of the
reference's per-tile/per-date aggregation loop
(``/root/reference/ECOv003_L2T_STARS/process_STARS_product.py:219-262`` and
the dense-calendar stacking in
``process_ECOSTRESS_data_fusion_distributed_bias.jl:146-179``):

- dedup of exact duplicate observations — ``VIIRS/VNP09GA.py:1138``
  (``drop_duplicates(subset=["date_UTC","tile"])``)
- NULL-skipping counts along time — fusion jl:262 (``sum(.!isnan.(...))``)
- per-key inter-observation latency via ``lag`` over the stable
  ``(ts, turn_idx)`` ordering — the reference sorts filenames for the same
  stable-order reason (fusion jl:133)
- exact percentiles (JVM-side ``percentile``, linear interpolation) —
  the reference's display percentile-cut analog (``VIIRS/VNP09GA.py:184``)
  promoted to an exact first-class statistic per SURVEY §2.4 A10

Scale notes (100 TB / 10^12 turns):

- Each tier is ONE shuffle: ``groupBy(conv_id, window(ts, tier))`` with all
  statistics (counts, sums, max, exact percentiles) in a single aggregate.
  Partial aggregation (map-side combine) applies to the decomposable stats
  automatically; ``percentile`` buffers per-group values — bounded by
  per-conv-per-bucket activity, not table size.
- ``tool_counts`` (map column) needs a key-level pre-aggregate, so it is
  its own two-shuffle operator (the ``tool_counts_1h`` driver query), not
  a column of the tier rollup.
- No ``collect``; no per-row Python anywhere in this module (everything is
  whole-stage-codegen-able column expressions + JVM aggregates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark import TIER_SECONDS
from ecov003_l2t_stars_spark.functions.percentiles import (
    pct_from_sorted,
    sorted_vals,
    var_from_sorted,
)

ROLES = ("user", "assistant", "system", "tool")
# the raw columns normalize → with_latency → a tier reads; a plan prunes
# to these before its exchange and persist (caching defeats Catalyst
# column pruning, CLAUDE.md rule 23)
TURN_COLS = ("conv_id", "turn_idx", "role", "ts")
# the FIXTURES.md §2 tier columns (rollup_tier, rollup_tier_salted)
TIER_COLS = (
    "conv_id", "tier", "bucket_start", "bucket_end", "n_turns",
    "n_user", "n_assistant", "n_system", "n_tool",
    "latency_p50", "latency_p90", "latency_p99",
    "latency_max", "latency_sum", "latency_var", "n_latency",
)


def normalize(df: DataFrame) -> DataFrame:
    """Ingest normalization: drop exact duplicate turns.

    Duplicates are exact row copies (FIXTURES.md), so any survivor carries
    identical values — ``dropDuplicates`` on the key is deterministic in
    effect. Mirrors the reference's catalog dedup
    (``VIIRS/VNP09GA.py:1138``).
    """
    return df.dropDuplicates(["conv_id", "turn_idx"])


def with_latency(df: DataFrame) -> DataFrame:
    """Inter-turn latency in seconds (double), NULL for each conv's first turn.

    Stable ordering is ``(ts, turn_idx)`` per the BASELINE.json input_hint;
    computed from integer microseconds so the double division is
    bit-reproducible across engines.
    """
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.lag(us).over(w)
    return df.withColumn(
        "latency_s", (us - prev_us).cast("double") / F.lit(1000000.0)
    )


def bucket_start(ts: Column, tier: str) -> Column:
    """Tumbling-window bucket start, epoch-anchored (origin 1970-01-01).

    Equivalent to ``F.window(ts, interval).start`` for these tiers; written
    as integer epoch arithmetic so the DuckDB oracle can reproduce it
    verbatim (`to_timestamp(floor(epoch(ts)/N)*N)`).
    """
    n = TIER_SECONDS[tier]
    return F.timestamp_seconds(
        F.floor(F.unix_micros(ts.cast("timestamp")) / F.lit(n * 1_000_000))
        * F.lit(n)
    )


def turn_counts() -> list[Column]:
    """Per-bucket turn and per-role counts over turn rows — the count
    aggregates of every tier built from turns (batch, salted partial,
    streaming)."""
    return [
        F.count(F.lit(1)).alias("n_turns"),
        *[
            F.count(F.when(F.col("role") == r, F.lit(1))).alias(f"n_{r}")
            for r in ROLES
        ],
    ]


def latency_aggs(digest: Column) -> list[Column]:
    """Per-bucket latency aggregates over ``latency_s`` rows: the digest
    (``digest``, an aggregate of ``latency_s`` — sorted for a finished
    tier, unsorted for a salted partial), max and non-NULL count."""
    return [
        digest.alias("lat_digest"),
        F.max("latency_s").alias("latency_max"),
        F.count("latency_s").alias("n_latency"),
    ]


def finish_tier(df: DataFrame, tier: str) -> DataFrame:
    """The finish of every digest tier: ``bucket_end``, the
    order-sensitive statistics of the sorted ``lat_digest`` and the
    ``tier`` label.

    ``latency_sum`` is a LEFT FOLD over the ASCENDING-sorted values — a
    frozen reduction order (SURVEY §7.2), so the salted two-stage path,
    the plain path, and the NumPy oracle all produce bit-identical sums
    regardless of partition layout.
    """
    n = TIER_SECONDS[tier]
    arr = F.col("_lat_sorted")
    return (
        df.withColumn(
            "bucket_end",
            F.timestamp_seconds(F.unix_seconds("bucket_start") + F.lit(n)),
        )
        .withColumn("_lat_sorted", F.col("lat_digest"))
        .withColumn("latency_p50", pct_from_sorted(arr, 0.5))
        .withColumn("latency_p90", pct_from_sorted(arr, 0.9))
        .withColumn("latency_p99", pct_from_sorted(arr, 0.99))
        .withColumn(
            "latency_sum",
            F.when(
                F.size(arr) > 0,
                F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x),
            ),
        )
        .withColumn(
            "_lat_mean",
            F.when(
                F.size(arr) > 0,
                F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)
                / F.size(arr).cast("double"),
            ),
        )
        .withColumn("latency_var", var_from_sorted(arr, F.col("_lat_mean")))
        .drop("_lat_sorted", "_lat_mean")
        .withColumn("tier", F.lit(tier))
    )


def rollup_tier(df_lat: DataFrame, tier: str) -> DataFrame:
    """One retention tier in a single shuffle.

    ``df_lat`` must be the output of :func:`with_latency` (already
    normalized). Returns the FIXTURES.md §2 rollup schema minus the
    gap-fill / smoothing / payload columns (added by later stages).
    """
    return rollup_tier_with_digest(df_lat, tier).select(*TIER_COLS)


def rollup_tier_salted(
    df_lat: DataFrame,
    tier: str,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-resistant two-stage rollup (BASELINE.json north_rule:
    "explicit salting of hot conversations").

    Stage 1 groups by (conv_id, bucket, salt) where
    ``salt = pmod(xxhash64(conv_id, turn_idx), n_salts)`` — a hot
    conversation's bucket spreads across ``n_salts`` reducers. Stage 2
    merges the partials: counts/max sum/combine exactly; the latency
    arrays are flattened and re-sorted so the order-sensitive statistics
    (percentiles, folded sum) are computed from the identical sorted
    sequence the unsalted path sees — salting invariance is bit-exact
    (property-tested), mirroring SURVEY §4.2's "salting must not break
    per-conv stable ordering: salt only the partial-agg stage".

    The reference has no skew handling (fixed tile sizes, SURVEY §4.2);
    this is engine-new, required at 10^12-turn scale where 0.1% of convs
    carry 1000x turns.
    """
    b = bucket_start(F.col("ts"), tier)
    salt = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_salts))

    partial = (
        df_lat.groupBy(
            F.col("conv_id"), b.alias("bucket_start"), salt.alias("_salt")
        )
        .agg(*turn_counts(), *latency_aggs(F.collect_list("latency_s")))
    )
    # stage 2 is the digest cascade's merge: an aligned bucket_start is
    # its own bucket, and flatten + array_sort orders the partials
    return cascade_with_digest(partial, tier).select(*TIER_COLS)


def tool_counts(df: DataFrame, tier: str) -> DataFrame:
    """``map<tool, count>`` per (conv_id, bucket) — two-level aggregate.

    Sorted entries before ``map_from_entries`` keep the map bytes
    deterministic across shuffles (SURVEY §7.2 exact-point-match rule).
    """
    b = bucket_start(F.col("ts"), tier)
    per_tool = (
        df.where(F.col("tool").isNotNull())
        .groupBy(F.col("conv_id"), b.alias("bucket_start"), F.col("tool"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return per_tool.groupBy("conv_id", "bucket_start").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("tool", "cnt")))
        ).alias("tool_counts")
    )


def rollup_tier_with_digest(df_lat: DataFrame, tier: str) -> DataFrame:
    """Tier rollup that keeps the sorted latency array (``lat_digest``).

    The digest makes the tier CASCADABLE for order statistics: merging
    children's sorted multisets yields exactly the parent bucket's sorted
    multiset, so :func:`cascade_with_digest` computes exact percentiles
    for coarser tiers without rescanning raw turns — the engine's answer
    to SURVEY §7.2 "percentiles don't compose". Digest size is bounded by
    per-conv-per-bucket latency count (the same bound the plain rollup's
    aggregation buffer already carries).
    """
    b = bucket_start(F.col("ts"), tier)
    agg = df_lat.groupBy(F.col("conv_id"), b.alias("bucket_start")).agg(
        *turn_counts(), *latency_aggs(sorted_vals(F.col("latency_s")))
    )
    return finish_tier(agg, tier)


def cascade_with_digest(finer: DataFrame, tier: str) -> DataFrame:
    """Exact full cascade (counts, max, folded sum, variance, AND
    percentiles) from a finer tier's digests — no raw rescan.

    ``array_sort(flatten(collect_list(lat_digest)))`` reproduces the
    parent bucket's ascending latency sequence exactly, so every
    order-sensitive statistic matches the direct-from-raw rollup
    bit-for-bit (property-tested). This is the scale path for coarse
    tiers: the 30d tier reads the 1h tier (~1/50th the rows of raw).
    """
    b = bucket_start(F.col("bucket_start"), tier)
    agg = finer.groupBy(F.col("conv_id"), b.alias("bucket_start")).agg(
        F.sum("n_turns").alias("n_turns"),
        *[F.sum(f"n_{r}").alias(f"n_{r}") for r in ROLES],
        F.array_sort(F.flatten(F.collect_list("lat_digest"))).alias(
            "lat_digest"
        ),
        F.max("latency_max").alias("latency_max"),
        F.sum("n_latency").alias("n_latency"),
    )
    return finish_tier(agg, tier)


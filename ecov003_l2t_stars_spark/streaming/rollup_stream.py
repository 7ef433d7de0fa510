"""Structured Streaming mode: incremental tier rollup + stateful smoothing.

The reference is an incremental daily pipeline in batch clothes
(SURVEY §2.9): it advances day-by-day, tolerates late granules up to
``VIIRS_GIVEUP_DAYS = 4`` (``constants.py:27``, enforced at
``generate_STARS_inputs.py:220-231``), and carries prior/posterior state
between runs (``load_prior.py``). This module is the same semantics on
``readStream``:

- tumbling-window aggregation per (conv_id, 1m window) with
  ``withWatermark(ts, '4 days')`` — the engine's allowed-lateness twin of
  the give-up constant; buckets finalize (append mode) once the watermark
  passes, late rows beyond it are dropped.
- the streaming 1m tier carries the sorted latency digest, so its
  finalized buckets hold the exact percentiles of the batch tier, and
  coarser tiers merge digests (``operators.rollup.cascade_with_digest``)
  instead of rescanning raw turns. ``latency_s`` comes from a stateful
  per-conv annotation query chained in front of it
  (:func:`streaming_with_latency`).
- per-conv Kalman state lives in ``applyInPandasWithState``: the same
  :mod:`functions.kalman` scalar kernel stepped incrementally, state =
  (x, b, pxx, pxb, pbb). This is the engine's only prior/posterior
  loop: the batch job smooths each conv's full history from the default
  prior and keeps no state table (``operators.smooth``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ecov003_l2t_stars_spark.functions.kalman import (
    DEFAULT_BIAS_MEAN,
    DEFAULT_BIAS_VAR,
    DEFAULT_PRIOR_MEAN,
    DEFAULT_PRIOR_VAR,
    KalmanParams,
    kalman_steps,
)
from ecov003_l2t_stars_spark.functions.percentiles import sorted_vals
from ecov003_l2t_stars_spark.operators.rollup import (
    finish_tier,
    latency_aggs,
    turn_counts,
)

WATERMARK = "4 days"


def streaming_dedup(
    stream: DataFrame,
    keys: tuple = ("conv_id", "turn_idx"),
    watermark: str = WATERMARK,
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival of each key, drop
    re-deliveries that land within the watermark horizon.

    The streaming twin of the batch ``exact_dedup`` (at-least-once
    upstream delivery is the norm for the manifest-gated ingestion
    path — ``plans/ingest.py`` dedups batches at file granularity, this
    dedups rows inside a live stream). ``dropDuplicatesWithinWatermark``
    keys state by ``keys`` and expires it once the event-time watermark
    passes, so state is bounded by (arrival rate × watermark horizon),
    never by stream history — the scale-correct alternative to an
    unbounded ``dropDuplicates`` on a stream.
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def streaming_sessions(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = WATERMARK,
) -> DataFrame:
    """Append-mode streaming sessionization via the state-store-backed
    native ``session_window``: sessions merge across micro-batches while
    open and finalize once the watermark passes their close (the
    streaming twin of ``operators.sessions.session_window_agg``, which
    tests cross-check against the gaps-and-islands batch construction).
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.col("conv_id"), F.session_window(F.col("ts"), gap))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_turns",
        )
    )


LATENCY_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("last_turn_idx", LongType()),
        StructField("n_late_dropped", LongType()),
    ]
)

LATENCY_OUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", LongType()),
        StructField("role", StringType()),
        StructField("ts", TimestampType()),
        StructField("latency_s", DoubleType()),
    ]
)


def make_latency_annotate():
    """Stateful per-conv inter-turn latency for ``applyInPandasWithState``.

    The streaming twin of :func:`operators.rollup.with_latency`: state
    carries the newest processed ``(ts_us, turn_idx)`` so the first row
    of each micro-batch gets its latency against the PREVIOUS batch's
    last turn — identical arithmetic (int64 micro diff, one IEEE divide)
    to the batch ``lag`` path, so the annotated stream matches the batch
    lineage bit-for-bit on in-order data. Whole-batch concat + one clock
    application (same cross-chunk discipline as the Kalman state).
    Rows at/behind the persisted clock are dropped and counted, mirroring
    the watermark give-up semantics.
    """
    import numpy as np

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        no_clock = -(1 << 62)
        if state.exists:
            last_ts_us, last_idx, n_late = state.get
        else:
            last_ts_us, last_idx, n_late = no_clock, -1, 0

        chunks = [p for p in pdfs if len(p)]
        frames = []
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values(["ts", "turn_idx"], kind="mergesort")
            ts_us = (
                pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
            )
            idx = pdf["turn_idx"].to_numpy()
            fresh = (ts_us > last_ts_us) | (
                (ts_us == last_ts_us) & (idx > last_idx)
            )
            n_late += int((~fresh).sum())
            pdf = pdf[fresh]
            ts_us = ts_us[fresh]
            if len(pdf) > 0:
                prev = np.empty(len(ts_us), dtype=np.int64)
                prev[0] = last_ts_us
                prev[1:] = ts_us[:-1]
                # same op order as the batch lag path: int64 diff,
                # cast double, one IEEE division by 1e6
                lat = pd.array(
                    (ts_us - prev).astype(np.float64) / 1_000_000.0,
                    dtype="Float64",
                )
                if last_ts_us == no_clock:
                    lat[0] = pd.NA  # conv's first-ever turn: NULL latency
                res = pdf[["conv_id", "role", "ts"]].copy()
                res["turn_idx"] = pdf["turn_idx"].astype("int64")
                res["latency_s"] = lat
                frames.append(
                    res[["conv_id", "turn_idx", "role", "ts", "latency_s"]]
                )
                last_ts_us = int(ts_us[-1])
                last_idx = int(pdf["turn_idx"].iloc[-1])

        state.update((int(last_ts_us), int(last_idx), int(n_late)))
        yield from frames

    return update


def streaming_with_latency(stream: DataFrame) -> DataFrame:
    """Annotate a turn stream with per-conv ``latency_s`` (stateful).

    ``applyInPandasWithState`` must be the LAST stateful operator in a
    query (Spark's multi-stateful-operator rule), so the digest rollup
    runs as a CHAINED query over this one's sink — the standard
    file/Kafka-chained topology.
    """
    return (
        stream.select(
            "conv_id",
            F.col("turn_idx").cast("long").alias("turn_idx"),
            "role",
            "ts",
        )
        .groupBy("conv_id")
        .applyInPandasWithState(
            make_latency_annotate(),
            outputStructType=LATENCY_OUT_SCHEMA,
            stateStructType=LATENCY_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_rollup_1m_digest(
    lat_stream: DataFrame, watermark: str = WATERMARK
) -> DataFrame:
    """Append-mode 1m tier WITH the sorted latency digest.

    Input must carry ``latency_s`` (see :func:`streaming_with_latency`).
    Each finalized bucket emits ``lat_digest`` =
    ``array_sort(collect_list(latency_s))`` plus the exact
    order-statistics finish, so batch compaction derives coarse-tier
    percentiles by DIGEST MERGE (``operators.rollup.cascade_with_digest``)
    instead of rescanning raw turns — the reference's late-product
    recompute done incrementally. Finalized stream buckets are
    bit-identical to ``rollup_tier_with_digest`` over the same rows
    (asserted in tests), closing the stream/batch percentile latency gap.
    """
    agg = (
        lat_stream.withWatermark("ts", watermark)
        .groupBy(F.col("conv_id"), F.window("ts", "1 minute").alias("w"))
        .agg(*turn_counts(), *latency_aggs(sorted_vals(F.col("latency_s"))))
    )
    return finish_tier(
        agg.select(
            "conv_id", F.col("w.start").alias("bucket_start"), *agg.columns[2:]
        ),
        "1m",
    )


STATE_SCHEMA = StructType(
    [
        StructField("x", DoubleType()),
        StructField("b", DoubleType()),
        StructField("pxx", DoubleType()),
        StructField("pxb", DoubleType()),
        StructField("pbb", DoubleType()),
        StructField("n_seen", LongType()),
        # state clock: unix micros of the newest processed observation;
        # later micro-batches drop rows at/behind it (the stateful twin
        # of the rollup path's watermark) so posteriors are never
        # conditioned out of time order
        StructField("last_ts_us", LongType()),
        StructField("n_late_dropped", LongType()),
    ]
)

SMOOTH_OUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("y", DoubleType()),
        StructField("smooth_mean", DoubleType()),
        StructField("smooth_sd", DoubleType()),
        StructField("smooth_bias", DoubleType()),
        StructField("smooth_bias_sd", DoubleType()),
    ]
)


def make_kalman_update(params: KalmanParams = KalmanParams()):
    """Stateful per-conv Kalman step for ``applyInPandasWithState``.

    Processes each micro-batch's observations for one conv in (ts) order,
    carrying the full 2x2 covariance in GroupState and advancing it with
    the shared scalar recurrence (``functions.kalman.kalman_steps``,
    the body of the ``kalman_filter_scalar`` oracle).

    Out-of-order protection: the state carries the newest processed
    observation time; a row arriving in a later micro-batch with
    ``ts <= last_ts`` is DROPPED (counted in ``n_late_dropped``), never
    filtered against state that already advanced past it — mirroring the
    rollup path's watermark semantics, where a late row beyond the
    watermark is discarded rather than applied out of order."""
    import numpy as np

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        no_clock = -(1 << 62)  # sentinel: no observation processed yet
        if state.exists:
            x, b, pxx, pxb, pbb, n_seen, last_ts_us, n_late = state.get
        else:
            x, b = DEFAULT_PRIOR_MEAN, DEFAULT_BIAS_MEAN
            pxx, pxb, pbb = DEFAULT_PRIOR_VAR, 0.0, DEFAULT_BIAS_VAR
            n_seen = 0
            last_ts_us = no_clock
            n_late = 0

        # applyInPandasWithState splits one group's rows for a SINGLE
        # micro-batch across multiple Arrow chunks with no cross-chunk ts
        # ordering: the clock must therefore be applied ONCE against the
        # persisted state, on the concatenated + sorted batch — advancing
        # it per chunk would silently drop same-batch rows that landed in
        # a later chunk with an earlier ts. Memory is bounded by this
        # group's share of one micro-batch (the semantic unit the filter
        # must order anyway).
        chunks = [pdf for pdf in pdfs if len(pdf)]
        frames = []
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values("ts", kind="mergesort")
            if last_ts_us != no_clock:
                ts_us = (
                    pdf["ts"].astype("datetime64[us]").astype("int64")
                )
                fresh = (ts_us > last_ts_us).to_numpy()
                n_late += int((~fresh).sum())
                pdf = pdf[fresh]
        if chunks and len(pdf) > 0:
            (mean, sd, bias, bias_sd), (x, b, pxx, pxb, pbb) = kalman_steps(
                pdf["y"].to_numpy(dtype=np.float64),
                (x, b, pxx, pxb, pbb),
                params,
            )
            n_seen += len(pdf)
            last_ts_us = int(
                pdf["ts"].astype("datetime64[us]").astype("int64").iloc[-1]
            )
            res = pdf[["conv_id", "ts", "y"]].copy()
            res["smooth_mean"] = mean
            res["smooth_sd"] = sd
            res["smooth_bias"] = bias
            res["smooth_bias_sd"] = bias_sd
            frames.append(res)

        # one clock advance per micro-batch, after the concat+filter
        state.update((float(x), float(b), float(pxx), float(pxb),
                      float(pbb), int(n_seen), int(last_ts_us),
                      int(n_late)))
        yield from frames

    return update


def streaming_kalman(
    stream: DataFrame, params: KalmanParams = KalmanParams()
) -> DataFrame:
    """stream of (conv_id, ts, y) → smoothed stream with per-conv state."""
    return stream.groupBy("conv_id").applyInPandasWithState(
        make_kalman_update(params),
        outputStructType=SMOOTH_OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

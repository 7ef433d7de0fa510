"""Structured Streaming: incremental rollup, watermark lateness, state."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark.functions.kalman import (
    kalman_filter_scalar,
)
from ecov003_l2t_stars_spark.streaming.rollup_stream import (
    streaming_kalman,
    streaming_rollup_1m_digest,
)

T0 = dt.datetime(2025, 1, 1)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
# the annotated turns the digest tier reads (streaming_with_latency's
# output)
LATENCY_SCHEMA = (
    "conv_id string, turn_idx long, role string, ts timestamp, "
    "latency_s double"
)


def _write_batch(spark, path, rows, part, schema=SCHEMA):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_streaming_rollup_counts_and_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    # batch 1: two turns in one minute bucket
    _write_batch(spark, src, [
        ("S", 0, "user", T0, None),
        ("S", 1, "assistant", T0 + dt.timedelta(seconds=30), 30.0),
        # a second conv 10 days later moves the watermark far past T0
        ("T", 0, "user", T0 + dt.timedelta(days=10), None),
    ], 1, LATENCY_SCHEMA)

    stream = spark.readStream.schema(LATENCY_SCHEMA).parquet(src)
    ck = str(tmp_path / "ck")
    sink = str(tmp_path / "sink")

    def run_once():
        q = (
            streaming_rollup_1m_digest(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    out = spark.read.parquet(sink)
    first = out.where(F.col("conv_id") == "S").collect()
    # S bucket is older than watermark (10 days behind max ts) → finalized
    assert len(first) == 1
    assert first[0].n_turns == 2 and first[0].n_user == 1
    assert list(first[0].lat_digest) == [30.0]

    # batch 2: a LATE row for S, ~10 days behind the checkpointed
    # watermark → dropped (the engine's VIIRS_GIVEUP_DAYS analog)
    _write_batch(spark, src, [
        ("S", 2, "user", T0 + dt.timedelta(seconds=40), 10.0),
        ("T", 1, "assistant", T0 + dt.timedelta(days=10, seconds=5), 5.0),
    ], 2, LATENCY_SCHEMA)
    run_once()  # same checkpoint: watermark persists across restarts
    out2 = spark.read.parquet(sink)
    s_rows = out2.where(F.col("conv_id") == "S").collect()
    # the late S row must not re-open or duplicate the finalized bucket
    assert len(s_rows) == 1 and s_rows[0].n_turns == 2
    assert list(s_rows[0].lat_digest) == [30.0]


def test_streaming_kalman_state_survives_restart(spark, tmp_path):
    """GroupState (x, b, full 2x2 covariance) persists across query
    restarts: two runs over two file batches produce the same posterior
    sequence as one batch filter over the full series (≙ the reference's
    prior reload between daily runs, load_prior.py)."""
    src = str(tmp_path / "rsrc")
    ys = [1.0, 2.0, 1.5, 3.0, 2.5, 2.0, 4.0, 3.5]
    rows = [("R", T0 + dt.timedelta(minutes=i), float(y))
            for i, y in enumerate(ys)]
    sch = "conv_id string, ts timestamp, y double"
    ck = str(tmp_path / "rck")
    sink = str(tmp_path / "rsink")

    def run_once():
        stream = spark.readStream.schema(sch).parquet(src)
        q = (
            streaming_kalman(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(rows[:4], sch).coalesce(1).write.mode(
        "append").parquet(src)
    run_once()
    spark.createDataFrame(rows[4:], sch).coalesce(1).write.mode(
        "append").parquet(src)
    run_once()  # restart from the same checkpoint

    got = spark.read.parquet(sink).orderBy("ts").toPandas()
    exp_mean, exp_sd, exp_bias, _ = kalman_filter_scalar(np.array(ys))
    assert len(got) == len(ys)
    assert np.array_equal(got["smooth_mean"].to_numpy(), exp_mean)
    assert np.array_equal(got["smooth_sd"].to_numpy(), exp_sd)
    assert np.array_equal(got["smooth_bias"].to_numpy(), exp_bias)


def test_streaming_kalman_matches_batch_kernel(spark, tmp_path):
    src = str(tmp_path / "ksrc")
    ys = [1.0, 2.0, 1.5, 3.0, 2.5, 2.0]
    rows = [
        ("K", T0 + dt.timedelta(minutes=i), float(y)) for i, y in enumerate(ys)
    ]
    # two separate files → two groups of data within one availableNow run
    spark.createDataFrame(rows[:3], "conv_id string, ts timestamp, y double") \
        .coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows[3:], "conv_id string, ts timestamp, y double") \
        .coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "conv_id string, ts timestamp, y double"
    ).parquet(src)
    q = (
        streaming_kalman(stream)
        .writeStream.format("memory")
        .queryName("ksm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "kck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT * FROM ksm ORDER BY ts").toPandas()
    )
    exp_mean, exp_sd, exp_bias, exp_bias_sd = kalman_filter_scalar(
        np.array(ys)
    )
    assert np.array_equal(got["smooth_mean"].to_numpy(), exp_mean)
    assert np.array_equal(got["smooth_sd"].to_numpy(), exp_sd)
    assert np.array_equal(got["smooth_bias"].to_numpy(), exp_bias)


def test_streaming_kalman_clamp_matches_batch(spark, tmp_path):
    """Clamped KalmanParams give the SAME posteriors in streaming as in
    the batch scalar kernel (ADVICE r1 #2: the clamp step used to be
    silently ignored in streaming)."""
    from ecov003_l2t_stars_spark.functions.kalman import KalmanParams

    params = KalmanParams(clamp_lo=1.4, clamp_hi=2.2)
    src = str(tmp_path / "csrc")
    ys = [1.0, 2.0, 1.5, 3.0, 2.5, 2.0]
    rows = [
        ("C", T0 + dt.timedelta(minutes=i), float(y))
        for i, y in enumerate(ys)
    ]
    sch = "conv_id string, ts timestamp, y double"
    spark.createDataFrame(rows, sch).coalesce(1).write.mode(
        "append").parquet(src)
    stream = spark.readStream.schema(sch).parquet(src)
    q = (
        streaming_kalman(stream, params)
        .writeStream.format("memory")
        .queryName("kclamp")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM kclamp ORDER BY ts").toPandas()
    exp_mean, exp_sd, _, _ = kalman_filter_scalar(np.array(ys),
                                                  params=params)
    assert np.array_equal(got["smooth_mean"].to_numpy(), exp_mean)
    assert got["smooth_mean"].max() <= 2.2
    assert got["smooth_mean"].min() >= 1.4


def test_streaming_kalman_drops_out_of_order_rows(spark, tmp_path):
    """A row older than the state clock arriving in a later micro-batch
    is dropped, not conditioned out of time order: the emitted posterior
    sequence equals the batch filter over the IN-ORDER rows only."""
    src = str(tmp_path / "lsrc")
    sch = "conv_id string, ts timestamp, y double"
    ck = str(tmp_path / "lck")
    sink = str(tmp_path / "lsink")

    def run_once():
        stream = spark.readStream.schema(sch).parquet(src)
        q = (
            streaming_kalman(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    in_order = [1.0, 2.0, 1.5, 3.0]
    rows1 = [("L", T0 + dt.timedelta(minutes=i), float(y))
             for i, y in enumerate(in_order)]
    spark.createDataFrame(rows1, sch).coalesce(1).write.mode(
        "append").parquet(src)
    run_once()

    # batch 2: one LATE row (behind the clock) + one fresh row
    late = ("L", T0 + dt.timedelta(minutes=1, seconds=30), 99.0)
    fresh = ("L", T0 + dt.timedelta(minutes=10), 2.5)
    spark.createDataFrame([late, fresh], sch).coalesce(1).write.mode(
        "append").parquet(src)
    run_once()

    got = spark.read.parquet(sink).orderBy("ts").toPandas()
    # the late 99.0 row is absent from the output entirely
    assert len(got) == 5
    assert 99.0 not in set(got["y"])
    exp_mean, _, _, _ = kalman_filter_scalar(np.array(in_order + [2.5]))
    assert np.array_equal(got["smooth_mean"].to_numpy(), exp_mean)


def test_streaming_digest_cascade_matches_batch(spark, tmp_path):
    """VERDICT r2 #3 done-criterion: finalized streaming 1m buckets carry
    the sorted latency digest, and digest-merging them
    (cascade_with_digest) equals the batch rollup_tier_with_digest
    BIT-FOR-BIT — exact coarse percentiles with no raw rescan."""
    from ecov003_l2t_stars_spark.operators.rollup import (
        cascade_with_digest,
        normalize,
        rollup_tier_with_digest,
        with_latency,
    )
    from ecov003_l2t_stars_spark.streaming.rollup_stream import (
        streaming_rollup_1m_digest,
        streaming_with_latency,
    )

    src = str(tmp_path / "dsrc")
    mid = str(tmp_path / "dmid")
    sink = str(tmp_path / "dsink")
    ck_a = str(tmp_path / "dcka")
    ck_b = str(tmp_path / "dckb")

    def run_annotate():
        q = (
            streaming_with_latency(
                spark.readStream.schema(SCHEMA).parquet(src)
            )
            .writeStream.format("parquet")
            .option("path", mid)
            .option("checkpointLocation", ck_a)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def run_digest():
        lat_schema = (
            "conv_id string, turn_idx long, role string, "
            "ts timestamp, latency_s double"
        )
        q = (
            streaming_rollup_1m_digest(
                spark.readStream.schema(lat_schema).parquet(mid),
                watermark="1 minute",
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck_b)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    rows1 = [
        ("A", 0, "user", "t", None, T0),
        ("A", 1, "assistant", "t", None, T0 + dt.timedelta(seconds=30)),
        ("A", 2, "user", "t", None, T0 + dt.timedelta(seconds=90)),
        ("A", 3, "assistant", "t", None, T0 + dt.timedelta(seconds=100)),
        ("B", 0, "user", "t", None, T0 + dt.timedelta(seconds=10)),
        ("B", 1, "assistant", "t", None, T0 + dt.timedelta(seconds=70)),
    ]
    _write_batch(spark, src, rows1, 1)
    run_annotate()
    run_digest()
    # batch 2 advances the watermark far past batch 1 → finalize
    _write_batch(
        spark, src, [("Z", 0, "user", "t", None, T0 + dt.timedelta(days=2))], 2
    )
    run_annotate()
    run_digest()

    cols = [
        "conv_id", "tier", "bucket_start", "bucket_end", "n_turns",
        "n_user", "n_assistant", "n_system", "n_tool", "lat_digest",
        "latency_p50", "latency_p90", "latency_p99",
        "latency_max", "latency_sum", "latency_var", "n_latency",
    ]

    def rows_of(df):
        return [
            tuple(r[c] for c in cols)
            for r in df.select(*cols)
            .orderBy("conv_id", "bucket_start")
            .collect()
        ]

    streamed = spark.read.parquet(sink).where(
        F.col("conv_id").isin("A", "B")
    )
    lat = with_latency(
        normalize(spark.createDataFrame(rows1, SCHEMA))
    )
    assert rows_of(streamed) == rows_of(rollup_tier_with_digest(lat, "1m"))
    # digest MERGE of the finalized stream buckets == batch 1h tier
    assert rows_of(cascade_with_digest(streamed, "1h")) == rows_of(
        rollup_tier_with_digest(lat, "1h")
    )


def test_stream_job_cli_once(spark, tmp_path, monkeypatch):
    """jobs/stream.py --once drains the source through both chained
    queries; a second invocation finalizes earlier buckets (checkpoints
    persist across runs). Reuses the test session via get_spark's
    getOrCreate."""
    import jobs.stream as stream_job

    src = str(tmp_path / "jsrc")
    out = str(tmp_path / "jout")
    _write_batch(spark, src, [
        ("J", 0, "user", "t", None, T0),
        ("J", 1, "assistant", "t", None, T0 + dt.timedelta(seconds=30)),
    ], 1)

    def run():
        monkeypatch.setattr("sys.argv", [
            "stream.py", "--source", src, "--out", out,
            "--watermark", "1 minute", "--once",
        ])
        # keep the shared test session alive across job runs
        monkeypatch.setattr(stream_job, "main", stream_job.main)
        import ecov003_l2t_stars_spark.session as sess
        real_stop = spark.stop
        monkeypatch.setattr(type(spark), "stop", lambda self: None)
        try:
            stream_job.main()
        finally:
            monkeypatch.setattr(type(spark), "stop", real_stop)

    run()
    # watermark hasn't passed J's bucket yet → nothing finalized
    _write_batch(spark, src, [
        ("K", 0, "user", "t", None, T0 + dt.timedelta(days=2)),
    ], 2)
    run()
    got = spark.read.parquet(f"{out}/rollup_1m_stream").where(
        F.col("conv_id") == "J"
    ).collect()
    assert len(got) == 1
    assert got[0].n_turns == 2
    assert got[0].lat_digest == [30.0]


def test_kalman_update_no_false_lates_across_chunks():
    """ADVICE r2 (medium): applyInPandasWithState may split ONE
    micro-batch's rows for a group across multiple Arrow chunks with no
    cross-chunk ts ordering. Rows in a later chunk with ts <= an earlier
    chunk's max are SAME-BATCH rows, not late — none may be dropped, and
    the posteriors must equal the batch kernel over the full sorted
    batch."""
    import pandas as pd

    from ecov003_l2t_stars_spark.streaming.rollup_stream import (
        make_kalman_update,
    )

    class FakeState:
        exists = False

        def update(self, row):
            self.row = row

    def pdf(minutes, ys):
        return pd.DataFrame(
            {
                "conv_id": ["C"] * len(ys),
                "ts": [T0 + dt.timedelta(minutes=m) for m in minutes],
                "y": ys,
            }
        )

    # chunk 2 holds ts BEHIND chunk 1's max (65536-row chunking split)
    chunk1 = pdf([0, 3], [1.0, 3.0])
    chunk2 = pdf([1, 2], [2.0, 1.5])
    state = FakeState()
    update = make_kalman_update()
    out = pd.concat(
        list(update(("C",), iter([chunk1, chunk2]), state)),
        ignore_index=True,
    )
    assert len(out) == 4  # nothing dropped
    assert state.row[7] == 0  # n_late_dropped
    exp_mean, _, _, _ = kalman_filter_scalar(
        np.array([1.0, 2.0, 1.5, 3.0])
    )
    got = out.sort_values("ts")["smooth_mean"].to_numpy()
    assert np.array_equal(got, exp_mean)

    # a genuinely late row (behind the PERSISTED clock) is still dropped
    class FakeState2:
        exists = True
        get = tuple(state.row)

        def update(self, row):
            self.row = row

    s2 = FakeState2()
    out2 = list(update(("C",), iter([pdf([1], [99.0])]), s2))
    assert out2 == []
    assert s2.row[7] == 1  # counted as late


def test_streaming_sessions_merge_and_finalize(spark, tmp_path):
    """Native session_window in streaming: a second micro-batch within
    the gap EXTENDS the open session (one merged row), a row beyond the
    gap opens a new session, and sessions finalize (append mode) once
    the watermark passes; output matches the batch twin exactly."""
    from ecov003_l2t_stars_spark.operators.sessions import (
        session_window_agg,
    )
    from ecov003_l2t_stars_spark.streaming.rollup_stream import (
        streaming_sessions,
    )

    src = str(tmp_path / "ssrc")
    sch = "conv_id string, ts timestamp"
    ck = str(tmp_path / "sck")
    sink = str(tmp_path / "ssink")

    def run_once():
        stream = spark.readStream.schema(sch).parquet(src)
        q = (
            streaming_sessions(stream, gap="30 minutes")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two turns 10 min apart (one session, still open)
    rows1 = [("S", T0), ("S", T0 + dt.timedelta(minutes=10))]
    spark.createDataFrame(rows1, sch).coalesce(1).write.mode(
        "append").parquet(src)
    run_once()

    # batch 2: +20 min (extends the session), then a turn 2 hours later
    # (new session), then a far-future row to push the watermark past
    # both so they finalize
    rows2 = [
        ("S", T0 + dt.timedelta(minutes=30)),
        ("S", T0 + dt.timedelta(hours=3)),
        ("Z", T0 + dt.timedelta(days=30)),
    ]
    spark.createDataFrame(rows2, sch).coalesce(1).write.mode(
        "append").parquet(src)
    run_once()
    run_once()  # one more cycle so the watermark advance emits finals

    got = (
        spark.read.parquet(sink)
        .where(F.col("conv_id") == "S")
        .orderBy("session_start")
        .collect()
    )
    assert [r.n_turns for r in got] == [3, 1]  # merged 3-turn + single

    # exact agreement with the batch twin over the same rows
    batch = (
        session_window_agg(
            spark.createDataFrame(rows1 + rows2[:2], sch), ts="ts"
        )
        .where(F.col("conv_id") == "S")
        .orderBy("session_start")
        .collect()
    )
    assert [(r.session_start, r.session_end, r.n_turns) for r in got] == [
        (r.session_start, r.session_end, r.n_turns) for r in batch
    ]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Re-delivered (conv_id, turn_idx) rows inside the watermark horizon
    are dropped; state expires with the watermark (bounded, not
    history-sized)."""
    from ecov003_l2t_stars_spark.streaming.rollup_stream import (
        streaming_dedup,
    )

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    sink = str(tmp_path / "sink")
    _write_batch(spark, src, [
        ("D", 0, "user", "t", None, T0),
        ("D", 0, "user", "t", None, T0),  # same-batch duplicate
        ("D", 1, "assistant", "t", None, T0 + dt.timedelta(seconds=10)),
    ], 1)

    stream = spark.readStream.schema(SCHEMA).parquet(src)

    def run_once():
        q = (
            streaming_dedup(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(sink)
    assert got.count() == 2  # duplicate dropped
    # redelivery in a later micro-batch, still within the watermark
    _write_batch(spark, src, [
        ("D", 0, "user", "t", None, T0),
        ("D", 2, "user", "t", None, T0 + dt.timedelta(seconds=20)),
    ], 2)
    run_once()
    got = spark.read.parquet(sink).select("conv_id", "turn_idx")
    rows = sorted((r.conv_id, r.turn_idx) for r in got.collect())
    assert rows == [("D", 0), ("D", 1), ("D", 2)]

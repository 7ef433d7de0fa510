"""Ingestion manifest + availability/latency gating (S4 analog)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark.plans.ingest import (
    backlog,
    ingest,
    read_manifest,
    record_attempt,
    retry_candidates,
)
from ecov003_l2t_stars_spark.plans.pipeline import (
    CHECKPOINT_SCHEMA,
    CODE_VERSION,
    RollupConfig,
    RollupJob,
)
from ecov003_l2t_stars_spark.plans.table_format import (
    CommitConflictError,
    ParquetFormat,
)
from ecov003_l2t_stars_spark.sources.transcripts import (
    GenSpec,
    write_transcripts_parquet,
)

T_ARRIVE = dt.datetime(2025, 2, 1)
N_BUCKETS = 4


def _bucketed(spark, path):
    return spark.read.parquet(path).withColumn(
        "conv_bucket",
        F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS)).cast("int"),
    )


def test_ingest_is_idempotent_and_bucketed(spark, tmp_path):
    src = str(tmp_path / "alpha.parquet")
    write_transcripts_parquet(src, GenSpec(n_convs=40))
    mdir = str(tmp_path / "m")

    r1 = ingest(spark, src, mdir, "alpha", "b1", N_BUCKETS, T_ARRIVE)
    assert not r1["skipped"]
    assert r1["rows_ingested"] == spark.read.parquet(src).count()
    assert r1["buckets"] == N_BUCKETS

    # granule-dedup: re-delivery of the same (source, batch_id) is a no-op
    r2 = ingest(spark, src, mdir, "alpha", "b1", N_BUCKETS, T_ARRIVE)
    assert r2["skipped"]
    m = read_manifest(spark, mdir)
    assert m.count() == N_BUCKETS  # one row per conv_bucket, not doubled

    # per-bucket row counts match the data's own bucketing exactly
    got = {r.conv_bucket: r.rows_ingested for r in m.collect()}
    exp = {
        r.conv_bucket: r["count"]
        for r in _bucketed(spark, src).groupBy("conv_bucket").count().collect()
    }
    assert got == exp


def test_retry_bookkeeping(spark, tmp_path):
    mdir = str(tmp_path / "m")
    t = dt.datetime(2025, 2, 1)
    record_attempt(spark, mdir, "beta", "b7", ok=False, error="http 503",
                   attempted_at=t)
    record_attempt(spark, mdir, "beta", "b7", ok=False, error="timeout",
                   attempted_at=t + dt.timedelta(minutes=5))
    record_attempt(spark, mdir, "beta", "b8", ok=True,
                   attempted_at=t)
    record_attempt(spark, mdir, "gamma", "b9", ok=False, error="dns",
                   attempted_at=t)

    cands = {
        (r.source, r.batch_id): (r.attempts, r.last_error)
        for r in retry_candidates(spark, mdir, max_attempts=3).collect()
    }
    # b7 failed twice (latest error wins), b8 succeeded, b9 failed once
    assert cands == {("beta", "b7"): (2, "timeout"),
                     ("gamma", "b9"): (1, "dns")}

    # a third failure hits max_attempts → no longer a candidate
    record_attempt(spark, mdir, "beta", "b7", ok=False, error="http 500",
                   attempted_at=t + dt.timedelta(minutes=10))
    left = {r.batch_id for r in
            retry_candidates(spark, mdir, max_attempts=3).collect()}
    assert left == {"b9"}

    # a batch that was eventually manifested is excluded even if its
    # last attempt row says failed
    src = str(tmp_path / "g.parquet")
    write_transcripts_parquet(src, GenSpec(n_convs=5))
    ingest(spark, src, mdir, "gamma", "b9", N_BUCKETS, T_ARRIVE)
    assert retry_candidates(spark, mdir, max_attempts=3).count() == 0


def test_double_delivery_cannot_double_count(spark, tmp_path):
    """ADVICE r2: the already-ingested check is read-then-append with no
    atomicity — two concurrent deliveries of one (source, batch_id) can
    both land. Reads must dedup defensively so rows_ingested never
    double-counts."""
    src = str(tmp_path / "alpha.parquet")
    write_transcripts_parquet(src, GenSpec(n_convs=40))
    mdir = str(tmp_path / "m")
    r1 = ingest(spark, src, mdir, "alpha", "b1", N_BUCKETS, T_ARRIVE)

    # simulate the racing second writer: append the same manifest rows
    # again (bypassing the check, as a concurrent ingest would)
    fmt = ParquetFormat()
    dup = fmt.read(spark, f"{mdir}/manifest").withColumn(
        "arrived_at", F.col("arrived_at") + F.expr("INTERVAL 1 MINUTE")
    )
    fmt.append(dup, f"{mdir}/manifest")

    m = read_manifest(spark, mdir)
    assert m.count() == N_BUCKETS  # one row per (source,batch,bucket)
    total = m.agg(F.sum("rows_ingested")).collect()[0][0]
    assert total == r1["rows_ingested"]  # not doubled
    bl = backlog(spark, mdir, str(tmp_path / "nojob"), "j", ["alpha"],
                 as_of=T_ARRIVE)
    assert (
        bl.agg(F.sum("rows_ingested")).collect()[0][0]
        == r1["rows_ingested"]
    )


def test_compact_bookkeeping(spark, tmp_path):
    """Per-batch appends land one tiny file each; compaction rewrites
    the bookkeeping tables without changing their contents."""
    from pathlib import Path

    from ecov003_l2t_stars_spark.plans.ingest import compact_bookkeeping

    mdir = str(tmp_path / "m")
    t = dt.datetime(2025, 2, 1)
    for i in range(5):
        record_attempt(spark, mdir, "beta", "b7", ok=False, error=f"e{i}",
                       attempted_at=t + dt.timedelta(minutes=i))
        # each call adds exactly one file
        assert len(list(Path(mdir, "attempts").glob("*.parquet"))) == i + 1
    src = str(tmp_path / "g.parquet")
    write_transcripts_parquet(src, GenSpec(n_convs=5))
    ingest(spark, src, mdir, "alpha", "a1", N_BUCKETS, T_ARRIVE)

    from ecov003_l2t_stars_spark.plans.ingest import read_attempts

    def attempts_set():
        return {
            (r.source, r.batch_id, r.attempt, r.error)
            for r in read_attempts(spark, mdir).collect()
        }

    before = attempts_set()
    assert {a for (_, _, a, _) in before} == {1, 2, 3, 4, 5}  # derived
    n_manifest = read_manifest(spark, mdir).count()
    counts = compact_bookkeeping(spark, mdir)
    assert counts == {"manifest": n_manifest, "attempts": 5}
    assert len(list(Path(mdir, "attempts").glob("*.parquet"))) == 1
    # the replaced per-append files and their snapshots are expired
    assert len(ParquetFormat().snapshots(spark, f"{mdir}/attempts")) == 1
    assert attempts_set() == before


def test_backlog_classification(spark, tmp_path):
    """done / processable / pending / gave_up over real pipeline
    checkpoints (the L2T_STARS availability+latency scan)."""
    full = str(tmp_path / "full.parquet")
    write_transcripts_parquet(full, GenSpec(n_convs=60))
    mdir = str(tmp_path / "m")

    # source alpha covers every bucket; source beta only buckets {0, 1}
    partial = str(tmp_path / "partial.parquet")
    _bucketed(spark, full).where(F.col("conv_bucket") < 2).drop(
        "conv_bucket"
    ).write.mode("overwrite").parquet(partial)
    ingest(spark, full, mdir, "alpha", "a1", N_BUCKETS, T_ARRIVE)
    ingest(spark, partial, mdir, "beta", "b1", N_BUCKETS, T_ARRIVE)

    data_max = spark.read.parquet(full).agg(F.max("ts")).collect()[0][0]
    # the pending/gave_up clock runs against each bucket's NEWEST data;
    # anchor the "pending" case on the stalest bucket so every
    # incomplete bucket is inside the 4-day give-up window
    min_newest = (
        _bucketed(spark, full)
        .groupBy("conv_bucket")
        .agg(F.max("ts").alias("m"))
        .agg(F.min("m"))
        .collect()[0][0]
    )

    # no checkpoints yet: {0,1} processable; {2,3} miss beta —
    # pending inside the give-up window...
    soon = backlog(spark, mdir, str(tmp_path / "nojob"), "rollup",
                   ["alpha", "beta"],
                   as_of=min_newest + dt.timedelta(days=3))
    got = {r.conv_bucket: r.status for r in soon.collect()}
    assert got == {0: "processable", 1: "processable",
                   2: "pending", 3: "pending"}

    # ...and gave_up beyond it
    late = backlog(spark, mdir, str(tmp_path / "nojob"), "rollup",
                   ["alpha", "beta"],
                   as_of=data_max + dt.timedelta(days=10))
    got = {r.conv_bucket: r.status for r in late.collect()}
    assert got == {0: "processable", 1: "processable",
                   2: "gave_up", 3: "gave_up"}

    # run the real rollup job → its checkpoints flip buckets to done
    out = str(tmp_path / "out")
    RollupJob(spark, RollupConfig(full, out, n_buckets=N_BUCKETS,
                                  job_id="ingjob")).run()
    done = backlog(spark, mdir, out, "ingjob", ["alpha", "beta"],
                   as_of=data_max + dt.timedelta(days=1))
    assert {r.status for r in done.collect()} == {"done"}


def test_availability_gated_rollup(spark, tmp_path):
    """End-to-end ingestion gate: the rollup job runs only the buckets
    whose required sources all arrived; a later delivery flips the rest
    to processable and the next run completes them (the reference's
    availability-gated tile loop)."""
    full = str(tmp_path / "full.parquet")
    write_transcripts_parquet(full, GenSpec(n_convs=60))
    mdir = str(tmp_path / "m")
    out = str(tmp_path / "out")

    partial = str(tmp_path / "partial.parquet")
    _bucketed(spark, full).where(F.col("conv_bucket") < 2).drop(
        "conv_bucket"
    ).write.mode("overwrite").parquet(partial)
    ingest(spark, full, mdir, "alpha", "a1", N_BUCKETS, T_ARRIVE)
    ingest(spark, partial, mdir, "beta", "b1", N_BUCKETS, T_ARRIVE)

    data_max = spark.read.parquet(full).agg(F.max("ts")).collect()[0][0]
    as_of = data_max + dt.timedelta(days=1)

    def processable():
        return sorted(
            r.conv_bucket
            for r in backlog(spark, mdir, out, "gated", ["alpha", "beta"],
                             as_of=as_of).collect()
            if r.status == "processable"
        )

    job = RollupJob(spark, RollupConfig(full, out, n_buckets=N_BUCKETS,
                                        job_id="gated"))
    assert processable() == [0, 1]
    m1 = job.run(buckets=processable())
    assert m1["buckets_processed"] == 2
    assert job.completed_buckets() == {0, 1}

    # beta's second delivery covers the remaining buckets
    rest = str(tmp_path / "rest.parquet")
    _bucketed(spark, full).where(F.col("conv_bucket") >= 2).drop(
        "conv_bucket"
    ).write.mode("overwrite").parquet(rest)
    ingest(spark, rest, mdir, "beta", "b2", N_BUCKETS, T_ARRIVE)

    assert processable() == [2, 3]
    m2 = job.run(buckets=processable())
    assert m2["buckets_processed"] == 2
    assert job.completed_buckets() == {0, 1, 2, 3}

    # every deduped input turn landed in the tiers across the two gated
    # runs (normalize drops exact duplicate (conv_id, turn_idx) rows)
    n_rolled = spark.read.parquet(f"{out}/rollup_1m").agg(
        F.sum("n_turns")
    ).collect()[0][0]
    n_input = spark.read.parquet(full).dropDuplicates(
        ["conv_id", "turn_idx"]
    ).count()
    assert n_rolled == n_input


def test_compaction_enforced_across_many_appends(spark, tmp_path, monkeypatch):
    """The small-file rule keeps bookkeeping file counts bounded: 50
    attempt appends + periodic ingests never leave more than
    the bound + a batch of fragments on disk, and no rows are lost."""
    from pathlib import Path

    from ecov003_l2t_stars_spark.plans import table_format
    from ecov003_l2t_stars_spark.plans.ingest import read_attempts

    max_files = 8
    monkeypatch.setattr(table_format, "BOOKKEEPING_MAX_FILES", max_files)
    src = str(tmp_path / "src.parquet")
    write_transcripts_parquet(src, GenSpec(n_convs=10))
    mdir = str(tmp_path / "m")
    ingest(spark, src, mdir, "alpha", "b0", N_BUCKETS, T_ARRIVE)
    for i in range(50):
        record_attempt(spark, mdir, "alpha", f"b{i}", ok=(i % 3 == 0),
                       error=None if i % 3 == 0 else "latency",
                       attempted_at=T_ARRIVE)
        # the small-file rule, run after the append, enforces the bound
        table_format.maybe_compact_table(
            spark, ParquetFormat(), f"{mdir}/attempts"
        )
        n_files = sum(
            1 for _ in (Path(mdir) / "attempts").glob("*.parquet")
        )
        assert 1 <= n_files <= max_files + 1
    att = read_attempts(spark, mdir)
    assert att.count() == 50
    # ordinals survive compaction: re-deliveries of the same batch keep
    # distinct attempt numbers
    assert att.where(F.col("attempt") != 1).count() == 0


def test_stale_code_version_checkpoint_is_not_done(spark, tmp_path):
    """One rule for a completed bucket: a checkpoint written under
    another code version counts neither for the job's restart skip nor
    for the ingestion gate, so the gate hands that bucket to the run
    that reruns it."""
    src = str(tmp_path / "src.parquet")
    write_transcripts_parquet(src, GenSpec(n_convs=40))
    mdir = str(tmp_path / "m")
    out = str(tmp_path / "out")
    ingest(spark, src, mdir, "alpha", "a1", N_BUCKETS, T_ARRIVE)
    now = dt.datetime(2025, 2, 2)
    ParquetFormat().append(
        spark.createDataFrame(
            [
                ("j", 0, 0, None, None, 1, src, CODE_VERSION, now),
                ("j", 1, 1, None, None, 1, src, "0.0.0-stale", now),
            ],
            CHECKPOINT_SCHEMA,
        ),
        f"{out}/checkpoints",
    )
    job = RollupJob(spark, RollupConfig(src, out, n_buckets=N_BUCKETS,
                                        job_id="j"))
    assert job.completed_buckets() == {0}
    got = {
        r.conv_bucket: r.status
        for r in backlog(spark, mdir, out, "j", ["alpha"],
                         as_of=T_ARRIVE).collect()
    }
    assert got == {0: "done", 1: "processable", 2: "processable",
                   3: "processable"}


def test_compaction_race_keeps_concurrent_append(spark, tmp_path, monkeypatch):
    """An attempt appended between compaction's read and its publish is
    never lost. The compaction commits only on top of the snapshot it
    read, so it loses the race: the small-file rule returns None (the
    ingest that ran it must not fail) and the explicit compaction
    raises CommitConflictError, and the table still holds every row.
    An append that lands after the compaction's publish sits on top of
    the compacted file and survives its expiry."""
    from ecov003_l2t_stars_spark.plans import table_format
    from ecov003_l2t_stars_spark.plans.ingest import (
        compact_bookkeeping,
        read_attempts,
    )

    mdir = str(tmp_path / "m")
    appended: list[str] = []

    def append_attempt():
        i = len(appended)
        appended.append(f"e{i}")
        record_attempt(spark, mdir, "beta", "b7", ok=False, error=f"e{i}",
                       attempted_at=T_ARRIVE + dt.timedelta(minutes=i))

    def errors():
        return sorted(r.error for r in read_attempts(spark, mdir).collect())

    def racing(method):
        """``ParquetFormat.method`` with one attempt appended first, the
        first time it runs on the attempts table."""
        real = getattr(ParquetFormat, method)
        armed = [True]

        def wrapped(self, *args, **kwargs):
            path = next(a for a in args if isinstance(a, str))
            if armed[0] and path.endswith("attempts"):
                armed[0] = False
                append_attempt()
            return real(self, *args, **kwargs)

        return wrapped

    for _ in range(3):
        append_attempt()
    monkeypatch.setattr(table_format, "BOOKKEEPING_MAX_FILES", 0)
    # after compaction's read: before the rewrite starts, and at its
    # publish (its part files already staged)
    for method in ("rewrite", "_publish"):
        monkeypatch.setattr(ParquetFormat, method, racing(method))
        assert table_format.maybe_compact_table(
            spark, ParquetFormat(), f"{mdir}/attempts"
        ) is None
        assert errors() == sorted(appended)
        monkeypatch.setattr(ParquetFormat, method, racing(method))
        with pytest.raises(CommitConflictError):
            compact_bookkeeping(spark, mdir)
        assert errors() == sorted(appended)
        monkeypatch.undo()
        monkeypatch.setattr(table_format, "BOOKKEEPING_MAX_FILES", 0)

    # after the publish: the append lands on top of the compacted file
    monkeypatch.setattr(
        ParquetFormat, "expire_snapshots", racing("expire_snapshots")
    )
    n = len(appended)
    assert compact_bookkeeping(spark, mdir) == {"manifest": 0, "attempts": n}
    assert errors() == sorted(appended) and len(appended) == n + 1
    # the compacted file plus the racing append's, in one snapshot; the
    # lost compactions left no file behind (the one stale on entry
    # staged none, the one that lost its publish unlinked its own)
    fmt, p = ParquetFormat(), f"{mdir}/attempts"
    assert len(fmt.read(spark, p).inputFiles()) == 2
    assert len(fmt.snapshots(spark, p)) == 1
    assert len(fmt._list_files(p)) == 2

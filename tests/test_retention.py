"""Retention/downsample enforcement tests."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark.plans.pipeline import RollupConfig, RollupJob, read_tier
from ecov003_l2t_stars_spark.plans.retention import (
    RetentionPolicy,
    compact_tier,
    downsample_then_expire,
    enforce_retention,
)
from ecov003_l2t_stars_spark.plans.table_format import (
    ParquetFormat,
)
from ecov003_l2t_stars_spark.sources.transcripts import (
    GenSpec,
    write_transcripts_parquet,
)


@pytest.fixture(scope="module")
def job_out(spark, tmp_path_factory):
    inp = tmp_path_factory.mktemp("rin") / "t.parquet"
    write_transcripts_parquet(str(inp), GenSpec(n_convs=150))
    out = str(tmp_path_factory.mktemp("rout"))
    cfg = RollupConfig(str(inp), out, n_buckets=4, job_id="ret")
    RollupJob(spark, cfg).run()
    return out


def test_policy_validation():
    RetentionPolicy().validate()
    bad = RetentionPolicy(
        keep={"1m": dt.timedelta(days=30), "1h": dt.timedelta(days=7),
              "1d": None, "30d": None}
    )
    with pytest.raises(ValueError):
        bad.validate()


def test_enforce_and_idempotence(spark, job_out):
    # generator window starts 2025-01-01; as_of a week in → expire most 1m
    as_of = dt.datetime(2025, 1, 25)
    policy = RetentionPolicy(
        keep={"1m": dt.timedelta(days=7), "1h": dt.timedelta(days=90),
              "1d": None, "30d": None}
    )
    before_1m = read_tier(spark, job_out, "1m").count()
    before_1h = read_tier(spark, job_out, "1h").count()

    dropped = enforce_retention(spark, job_out, as_of, policy)
    assert dropped["1m"] > 0
    assert dropped["1h"] == 0  # inside its 90d window

    after = read_tier(spark, job_out, "1m")
    cutoff = as_of - dt.timedelta(days=7)
    assert after.where(F.col("bucket_end") <= F.lit(cutoff)).count() == 0
    assert after.count() == before_1m - dropped["1m"]
    assert read_tier(spark, job_out, "1h").count() == before_1h

    # idempotent: second run drops nothing
    again = enforce_retention(spark, job_out, as_of, policy)
    assert again["1m"] == 0


def test_downsample_coverage_audit(spark, job_out):
    """Every expiring 1m row is covered by an existing 1h bucket."""
    as_of = dt.datetime(2025, 1, 25)
    uncovered = downsample_then_expire(
        spark, job_out, "1m", "1h", as_of,
        RetentionPolicy(keep={"1m": dt.timedelta(days=7),
                              "1h": dt.timedelta(days=90),
                              "1d": None, "30d": None}),
    )
    assert uncovered.count() == 0


def test_compaction_preserves_rows(spark, job_out):
    t = read_tier(spark, job_out, "1h")
    before = t.count()
    compact_tier(spark, job_out, "1h")
    after = read_tier(spark, job_out, "1h")
    assert after.count() == before
    # one file per partition dir (plus _SUCCESS etc. at root), once the
    # expiry of the pre-compaction snapshot has removed its files
    import glob
    from pathlib import Path

    ParquetFormat().expire_snapshots(f"{job_out}/rollup_1h")
    parts = glob.glob(f"{job_out}/rollup_1h/conv_bucket=*/")
    assert parts
    for p in parts:
        files = [f for f in Path(p).iterdir() if f.suffix == ".parquet"]
        assert len(files) == 1, p


def test_fully_expired_partition_is_removed(spark, tmp_path):
    """A conv_bucket whose rows are ALL expired must be removed from disk
    (a partition overwrite alone never rewrites a partition absent from
    the output — ADVICE r1 #1; the snapshot expiry after the delete
    reclaims its files), the dropped count must reflect actual removal,
    and the rerun must be a no-op."""
    from pathlib import Path

    from ecov003_l2t_stars_spark.plans.pipeline import RollupConfig, RollupJob

    inp = tmp_path / "t.parquet"
    write_transcripts_parquet(str(inp), GenSpec(n_convs=40))
    out = str(tmp_path / "out")
    RollupJob(spark, RollupConfig(str(inp), out, n_buckets=4,
                                  job_id="exp")).run()

    # as_of far enough out that EVERY 1m row is expired
    as_of = dt.datetime(2026, 1, 1)
    policy = RetentionPolicy(
        keep={"1m": dt.timedelta(days=7), "1h": None, "1d": None,
              "30d": None}
    )
    before = read_tier(spark, out, "1m").count()
    assert before > 0
    dropped = enforce_retention(spark, out, as_of, policy)
    assert dropped["1m"] == before

    # every partition dir is gone from disk
    parts = list(Path(out).glob("rollup_1m/conv_bucket=*"))
    assert parts == [], parts

    # rerun: no error on the now-empty tier dir, nothing re-reported
    again = enforce_retention(spark, out, as_of, policy)
    assert again["1m"] == 0


def test_payload_segments_expire_whole_span_only(spark, tmp_path):
    """Payload segment tables expire under the same policy, on the
    segment's stored ``segment_end``: a segment whose last bucket ends
    exactly at the cutoff is dropped, one that straddles the cutoff is
    kept whole, and a later segment is kept."""
    as_of = dt.datetime(2025, 6, 1)
    keep = dt.timedelta(days=7)
    cutoff = as_of - keep
    minute = dt.timedelta(minutes=1)
    # (conv_id, segment_start, segment_end): segment_end is the last
    # bucket's START, so that bucket ends one tier step later
    segs = [
        ("ends_at_cutoff", cutoff - 10 * minute, cutoff - minute),
        ("straddles", cutoff - 10 * minute, cutoff),
        ("later", as_of, as_of + 10 * minute),
    ]
    rows = [(c, "1m", s, e, 10, bytearray(b"x"), i, i % 2)
            for i, (c, s, e) in enumerate(segs)]
    schema = ("conv_id string, tier string, segment_start timestamp, "
              "segment_end timestamp, n_points long, payload binary, "
              "crc32 long, conv_bucket int")
    base = str(tmp_path / "out")
    fmt = ParquetFormat()
    fmt.overwrite_partitions(spark.createDataFrame(rows, schema),
                             f"{base}/payload_1m", "conv_bucket")
    # rollup tables absent: their delete is a no-op 0
    policy = RetentionPolicy(keep={"1m": keep, "1h": None, "1d": None,
                                   "30d": None})
    d = enforce_retention(spark, base, as_of, policy=policy)
    assert d["payload_1m"] == 1
    left = {r.conv_id for r in
            fmt.read(spark, f"{base}/payload_1m").collect()}
    assert left == {"straddles", "later"}
    assert enforce_retention(spark, base, as_of, policy=policy)[
        "payload_1m"] == 0


def test_compact_tier_through_snapshot_format(spark, tmp_path):
    """Compaction routed through the contract: the manifests survive,
    rows are preserved, and the pre-compaction snapshot still
    time-travels."""
    import datetime as dt

    from ecov003_l2t_stars_spark.plans.retention import compact_tier

    fmt = ParquetFormat()
    base = str(tmp_path / "out")
    path = f"{base}/rollup_1h"
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (f"c{i}", i % 3, t0 + dt.timedelta(hours=i), float(i))
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, conv_bucket int, bucket_start timestamp, "
        "mean double",
    )
    # two appends → multiple small files per partition
    fmt.overwrite_partitions(df, path, "conv_bucket")
    fmt.append(df.where(F.col("conv_bucket") == 99), path)  # no-op rows
    pre = fmt.current_snapshot(spark, path)
    compact_tier(spark, base, "1h", fmt=fmt)
    assert fmt.read(spark, path).count() == 12
    assert fmt.read_as_of(spark, path, pre).count() == 12
    man = fmt._load(path, fmt.current_snapshot(spark, path))
    per_dir: dict = {}
    for f in man["files"]:
        per_dir.setdefault(f.split("/", 1)[0], []).append(f)
    assert all(len(v) == 1 for v in per_dir.values())

"""Retention + downsample enforcement over tier tables.

The "retention" third of the engine (BASELINE.json north_star): each
tier keeps a bounded trailing window of buckets; expired fine-tier rows
are dropped only after the coarser tier covering them exists (downsample
before delete — the engine twin of the reference's cleanup pass, which
removes staged inputs only after the product is written,
``process_STARS_product.py:468-507``).

Default policy (configurable):

    1m  → 7 days      1h → 90 days     1d → 730 days     30d → forever

Physical strategy: expiry is one table-format ``delete_where`` per
table (:mod:`plans.table_format`), the tiers' expiries running
concurrently, each followed by ``expire_snapshots`` on that table. The
default ``ParquetFormat`` rewrites ONLY the conv_buckets that contain
expired rows (one aggregate pass finds them — a partition holding no
expired data is never rewritten) and publishes a manifest without the
partitions left with zero kept rows; the snapshot expiry then deletes
the files the delete (and any earlier MERGE) replaced. On Iceberg the
same verb is a metadata-level ``DELETE WHERE bucket_end <= cutoff`` —
no data rewrite; the contract is exercised against the
snapshot-isolated in-memory format in tests/test_table_format.py (an
actual Iceberg runtime still cannot run in this sandbox — no jar, no
network).

Safety invariant (tested): a fine bucket is only expirable if the
covering coarse bucket is closed, i.e. cutoff_fine <= cutoff of what the
coarse tier retains. ``validate_policy`` rejects policies that would
drop data never downsampled.
"""

from __future__ import annotations

import datetime as dt
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark import TIER_SECONDS, TIERS
from ecov003_l2t_stars_spark.plans.table_format import ParquetFormat

FOREVER = None


@dataclass
class RetentionPolicy:
    keep: dict = field(
        default_factory=lambda: {
            "1m": dt.timedelta(days=7),
            "1h": dt.timedelta(days=90),
            "1d": dt.timedelta(days=730),
            "30d": FOREVER,
        }
    )

    def cutoff(self, tier: str, as_of: dt.datetime) -> dt.datetime | None:
        k = self.keep.get(tier)
        return None if k is None else as_of - k

    def validate(self) -> None:
        """Coarser tiers must retain at least as long as finer ones —
        otherwise expiry would destroy data before downsampling covers it."""
        prev = None
        for tier in TIERS:
            k = self.keep.get(tier)
            if prev is not None and k is not None and k < prev:
                raise ValueError(
                    f"tier {tier} retains {k} < finer tier's {prev}: "
                    "coarse tiers must outlive the fine tiers they cover"
                )
            if k is not None:
                prev = k


def expired_row_filter(tier: str, cutoff: dt.datetime):
    return F.col("bucket_end") <= F.lit(cutoff).cast("timestamp")


def expired_segment_filter(tier: str, cutoff: dt.datetime):
    """A payload segment is expirable when its LAST point's bucket is
    past the cutoff: ``segment_end`` is stored by ``encode_payloads``
    (the actual last bucket_start present), so the rule is exact at any
    ``segment_buckets`` configuration — no assumed span (r4 ADVICE: an
    under-estimated span could expire segments whose tail buckets were
    still inside the window). A segment straddling the cutoff is kept
    whole; per-point trimming would force a decode + re-encode for
    marginal savings. The bucket itself spans TIER_SECONDS, so expiry
    compares the bucket END like :func:`expired_row_filter`."""
    return (
        F.unix_seconds(F.col("segment_end").cast("timestamp"))
        + TIER_SECONDS[tier]
    ) <= F.unix_seconds(F.lit(cutoff).cast("timestamp"))


def enforce_retention(
    spark: SparkSession,
    output_dir: str,
    as_of: dt.datetime,
    policy: RetentionPolicy | None = None,
    fmt=None,
) -> dict[str, int]:
    """Drop expired rows per tier. Returns rows dropped per tier.

    Idempotent: re-running with the same as_of is a no-op.

    The expiry is the table-format DELETE WHERE verb
    (:meth:`plans.table_format.TableFormat.delete_where`): one predicate
    delete per table, then ``expire_snapshots`` on it (on every tier's
    tables, kept-forever tiers included), so the files the table's
    replaced snapshots held (this delete's, and every MERGE's since the
    last pass) are reclaimed and disk use stays bounded. The
    default format rewrites only the partitions holding expired rows;
    an Iceberg-class format does the same as a single metadata delete
    (contract-tested against the in-memory snapshot format).

    The tiers' tables are independent, so each tier's expiry (its
    rollup table, then its payload table) runs on a driver pool, one
    worker per tier (CLAUDE.md rule 24b); the first failure is
    re-raised once every worker has finished.
    """
    fmt = fmt or ParquetFormat()
    policy = policy or RetentionPolicy()
    policy.validate()

    def delete(table: str, predicate) -> int:
        path = str(Path(output_dir) / table)
        n = fmt.delete_where(spark, path, predicate, partition_col="conv_bucket")
        fmt.expire_snapshots(path)
        return n

    def expire(tier: str) -> dict[str, int]:
        cutoff = policy.cutoff(tier, as_of)
        if cutoff is None:
            # kept forever: nothing to delete, but the files replaced
            # snapshots held are still reclaimed
            for table in (f"rollup_{tier}", f"payload_{tier}"):
                fmt.expire_snapshots(str(Path(output_dir) / table))
            return {tier: 0}
        # the pipeline's compressed payload twin expires under the same
        # policy on its exact segment_end rule; no-op 0 when the job was
        # configured without payload tables
        return {
            tier: delete(f"rollup_{tier}", expired_row_filter(tier, cutoff)),
            f"payload_{tier}": delete(
                f"payload_{tier}", expired_segment_filter(tier, cutoff)
            ),
        }

    with ThreadPoolExecutor(max_workers=len(TIERS)) as pool:
        futures = [pool.submit(expire, tier) for tier in TIERS]
        return {k: v for f in futures for k, v in f.result().items()}


def compact_tier(
    spark: SparkSession, output_dir: str, tier: str, fmt=None,
) -> None:
    """Small-file compaction: rewrite each conv_bucket partition into
    one sorted file per partition (the maintenance job an Iceberg
    ``rewrite_data_files`` procedure runs; here explicit).

    Routed through the TableFormat contract like every other
    maintenance verb (r4 ADVICE): a raw read + overwrite on a manifest
    table deletes files its manifests still reference. ``overwrite_partitions`` hash-clusters on
    conv_bucket (one task per bucket at write → one file per partition
    in the new snapshot); the old files stay readable for time travel
    until the next ``expire_snapshots``."""
    fmt = fmt or ParquetFormat()
    path = str(Path(output_dir) / f"rollup_{tier}")
    if not fmt.exists(spark, path):
        return
    fmt.overwrite_partitions(
        fmt.read(spark, path), path, "conv_bucket",
        sort_cols=("conv_id", "bucket_start"),
    )


def downsample_then_expire(
    spark: SparkSession,
    output_dir: str,
    fine_tier: str,
    coarse_tier: str,
    as_of: dt.datetime,
    policy: RetentionPolicy | None = None,
    fmt=None,
) -> DataFrame:
    """Audit helper: fine-tier rows about to expire that are NOT covered
    by an existing coarse bucket (must be empty before enforcement —
    left-anti, the watermark-check shape, SURVEY §2.3 J4)."""
    policy = policy or RetentionPolicy()
    cutoff = policy.cutoff(fine_tier, as_of)
    fmt = fmt or ParquetFormat()
    fine = fmt.read(spark, str(Path(output_dir) / f"rollup_{fine_tier}"))
    coarse = fmt.read(spark, str(Path(output_dir) / f"rollup_{coarse_tier}"))
    n = TIER_SECONDS[coarse_tier]
    expiring = fine.where(expired_row_filter(fine_tier, cutoff)).withColumn(
        "_coarse_bucket",
        F.timestamp_seconds(
            F.floor(F.unix_seconds("bucket_start") / n) * n
        ),
    )
    return expiring.join(
        coarse.select(
            "conv_id", F.col("bucket_start").alias("_coarse_bucket")
        ),
        ["conv_id", "_coarse_bucket"],
        "left_anti",
    )


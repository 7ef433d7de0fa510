"""Incremental / late-data updates: conv-granular tier recomputation.

The reference re-runs a tile-date when late granules arrive (retry after
``AuxiliaryLatency``, ``L2T_STARS.py:356-388``) and advances its input
window from the previous product's date (W5 prior-aware range start,
``L2T_STARS.py:328-335``). The engine twin: raw batches are appended to
a raw area; an incremental update recomputes tiers ONLY for the
conversations present in the new batch and merges them into the tier
tables by overwriting just the affected conv_bucket partitions.

Correctness: per-conv statistics depend only on that conversation's
rows, so recomputing a conv from its full raw history (old ∪ new) and
replacing its tier rows is exactly equivalent to a full recompute —
property-tested in tests/test_late_data.py. Late rows inside the
watermark therefore repair closed buckets exactly; the streaming path
(watermark) drops them instead, and the batch MERGE is the repair
mechanism (SURVEY §2.9 T2 "late rows MERGE into open buckets").

Scale: the recompute is O(affected convs' history), but the write is
not. The MERGE rewrites every ``conv_bucket`` partition the batch
touches, whole, and there are only ``n_buckets`` of them: a batch of
more than a few × ``n_buckets`` convs touches nearly all, so each
update rewrites nearly the whole tier table however few convs it
holds (the late-repair benchmark measures 21.9 rows rewritten per row
replaced, ``merge_replace_keys.carry_ratio``). Writing only the
recomputed rows needs merge-on-read deletes: ROADMAP Direction 5.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark import conv_bucket
from ecov003_l2t_stars_spark.operators.rollup import (
    TURN_COLS,
    normalize,
    rollup_tier,
    with_latency,
)
from ecov003_l2t_stars_spark.plans.table_format import (
    ParquetFormat,
    TableFormat,
)


class IncrementalRollup:
    """Raw-append + conv-granular tier refresh.

    raw/        append-only batches of transcript rows
    rollup_<t>/ tier tables partitioned by conv_bucket

    The repair is the table-format MERGE verb
    (:meth:`TableFormat.merge_replace_keys`): replace every affected
    conv's tier rows with the recompute from its full raw history.
    Default format is ``ParquetFormat`` (manifest commits over immutable
    parquet files); the contract tests run this class against the
    snapshot-isolated in-memory format too. The files a MERGE replaces
    stay on disk until ``enforce_retention`` expires the old snapshots.
    """

    def __init__(self, spark: SparkSession, base_dir: str,
                 tiers: tuple[str, ...] = ("1m", "1h"),
                 n_buckets: int = 32,
                 fmt: TableFormat | None = None) -> None:
        self.spark = spark
        self.base = Path(base_dir)
        self.tiers = tiers
        self.n_buckets = n_buckets
        self.fmt = fmt or ParquetFormat()

    @property
    def raw_dir(self) -> str:
        return str(self.base / "raw")

    def ingest(self, batch: DataFrame) -> None:
        self.fmt.append(batch, self.raw_dir)

    def refresh(self, batch: DataFrame) -> dict[str, int]:
        """Recompute tiers for the convs present in ``batch`` (which must
        already be ingested). Returns refreshed row counts per tier.

        The write is one MERGE per tier: the format replaces the
        affected convs' rows and keeps everything else (``ParquetFormat``
        carries the unaffected convs of each touched partition into its
        replacement files; an Iceberg-class format does it as a
        snapshot-isolated metadata MERGE).

        The tiers' rollup + MERGE chains are independent and run on a
        driver pool, one worker per tier (CLAUDE.md rule 24b): both read
        the persisted ``lat``, whose blocks the concurrent first
        consumers share. The counts come from an Observation on each
        tier frame, with no count job of their own. Cached frames are
        released on failure as well as on success.
        """
        # persisted like lat: the semi-join below and every tier's MERGE
        # broadcast it, and each would otherwise re-run the distinct
        convs = batch.select("conv_id").distinct().persist()
        # pruned before the exchange and the persist, as in RollupJob.run:
        # text and tool would otherwise be shuffled and cached unread
        raw = self.fmt.read(self.spark, self.raw_dir).select(*TURN_COLS)
        affected = raw.join(F.broadcast(convs), "conv_id", "left_semi")
        affected = affected.repartition(self.n_buckets, "conv_id")
        lat = with_latency(normalize(affected)).persist()

        def merge_tier(tier: str) -> int:
            obs = Observation()
            tier_df = rollup_tier(lat, tier).withColumn(
                "conv_bucket", conv_bucket(self.n_buckets)
            ).persist()
            try:
                self.fmt.merge_replace_keys(
                    self.spark,
                    str(self.base / f"rollup_{tier}"),
                    tier_df.observe(obs, F.count(F.lit(1)).alias("rows")),
                    convs,
                    key_col="conv_id",
                    partition_col="conv_bucket",
                    sort_cols=("conv_id", "bucket_start"),
                )
            finally:
                tier_df.unpersist()
            return int(obs.get["rows"])

        try:
            with ThreadPoolExecutor(max_workers=len(self.tiers)) as pool:
                futures = {t: pool.submit(merge_tier, t) for t in self.tiers}
                # joined in tier order: the first failure is re-raised
                # once every worker has finished
                return {t: f.result() for t, f in futures.items()}
        finally:
            lat.unpersist()
            convs.unpersist()

    def update(self, batch: DataFrame) -> dict[str, int]:
        self.ingest(batch)
        return self.refresh(batch)

    def read_tier(self, tier: str) -> DataFrame:
        return self.fmt.read(self.spark, str(self.base / f"rollup_{tier}"))

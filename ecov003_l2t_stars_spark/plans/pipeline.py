"""End-to-end rollup job: scan → normalize → tiers → gap-fill → smooth →
payload → idempotent partitioned write + per-partition checkpoints.

The engine's equivalent of the reference's PGE main flow
(``L2T_STARS.py:113-503`` — parse config, plan date ranges, load prior,
stage, fuse, write product, record completion) with the reference's
filesystem-keyed resumability (``VNP43NRT/VNP43NRT.py:390-397``,
``L2T_STARS.py:134-143``: every artifact keyed and skipped if present)
re-expressed as a checkpoints table over conv-hash partitions:

- work unit = ``conv_bucket = pmod(xxhash64(conv_id), n_buckets)`` — the
  analog of the reference's per-tile unit. All turns of a conversation
  live in exactly one bucket, so every per-conv computation (latency lag,
  series smoothing) is partition-local after one repartition.
- a completed bucket writes its tier partitions (partition overwrite →
  idempotent re-runs) and then appends a checkpoint row
  (job_id, partition, bucket range, rows_processed, lineage). Restart
  skips checkpointed buckets (FIXTURES.md §4).
- tiers form a digest cascade: only the finest tier aggregates raw turns
  (1m by default, so its groups are bounded per conversation-minute);
  every coarser tier merges the sorted latency digests of the tier before
  it. That bounds hot-conversation skew, and AQE covers the rest. The salted two-stage
  rollup (``operators.rollup.rollup_tier_salted``) is a library twin
  the tests compare against; this job does not run it.
- outputs are tables partitioned by ``conv_bucket`` — the layout an
  Iceberg ``bucket(N, conv_id)`` partition spec produces. Every table
  write and read goes through the :mod:`plans.table_format` contract
  (``overwrite_partitions`` / ``delete_where`` / ``merge_replace_keys``
  — Iceberg's ``overwritePartitions()``, metadata ``DELETE WHERE``, and
  snapshot-isolated ``MERGE``). The default implementation,
  ``ParquetFormat``, commits each write as a manifest over immutable
  parquet files; the contract is EXERCISED against a snapshot-isolated
  in-memory format in tests/test_table_format.py (pipeline, retention,
  and late-data repair produce identical tables under both). An actual
  Iceberg runtime still cannot run here (no iceberg-spark-runtime jar,
  no network); wiring one in means implementing TableFormat with
  ``writeTo`` calls.

Scale: the job never collects data rows; the only driver-side state is
the checkpoint bookkeeping (n_buckets rows).
"""

from __future__ import annotations

import datetime as dt
import json
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark import TIER_SECONDS, TIERS, conv_bucket
from ecov003_l2t_stars_spark.operators.gapfill import gap_fill
from ecov003_l2t_stars_spark.operators.payload import encode_payloads
from ecov003_l2t_stars_spark.operators.rollup import (
    TURN_COLS,
    cascade_with_digest,
    normalize,
    rollup_tier_with_digest,
    with_latency,
)
from ecov003_l2t_stars_spark.operators.smooth import smooth_tier
from ecov003_l2t_stars_spark.plans.table_format import (
    ParquetFormat,
    maybe_compact_table,
)
from ecov003_l2t_stars_spark.session import codegen_compiles

CODE_VERSION = "0.1.0"

CHECKPOINT_SCHEMA = (
    "job_id string, partition_id int, conv_bucket int, "
    "bucket_range_start timestamp, bucket_range_end timestamp, "
    "rows_processed long, input_snapshot string, code_version string, "
    "completed_at timestamp"
)


# Sink jobs (rollup/payload writes) and the stats pass overlap on
# a driver pool of this width while the main thread plans the next tier
# (guide §2.6: submit independent jobs so the next job's tasks back-fill
# executors freed by the current job's tail). Tier BUILDS stay
# sequential; the shared lineage is persisted, and concurrent
# first-consumers dedup block computation via BlockManager locking.
# Measured at sf1.0 (10.7M turns, local[32], interleaved reps):
# sequential ~39-44 s, 2 workers ~27-30, 4 ~24-26, 6 ~23-26 — 4 keeps
# the guide's "2-3 jobs in flight" posture with the win.
SINK_POOL_WORKERS = 4

# the smoothed tiers' gap-filled columns, and the column each tier's
# payload segments encode
FILL_COLS = ("latency_p50", "latency_p90", "latency_p99")
PAYLOAD_COL = "latency_sum"


@dataclass
class RollupConfig:
    input_path: str
    output_dir: str
    tiers: tuple[str, ...] = TIERS
    n_buckets: int = 32
    fill_method: str = "locf"
    # Densify + smooth only these tiers. The finest tier stays SPARSE on
    # purpose: a dense per-minute grid over each conv's span is a row
    # explosion at 10^12-turn scale (43200 rows/conv/month of zeros); the
    # reference likewise densifies only the axis its smoothing pass
    # consumes (fusion jl:146-153).
    smooth_tiers: tuple[str, ...] = ("1h", "1d")
    job_id: str = "rollup"

    def __post_init__(self) -> None:
        # a coarse tier cascaded from a coarser one would silently hold
        # the coarser buckets (1h from 1d = one row per day)
        secs = [TIER_SECONDS.get(t) for t in self.tiers]
        if None in secs or any(a >= b for a, b in zip(secs, secs[1:])):
            raise ValueError(
                f"tiers must be distinct, known ({', '.join(TIER_SECONDS)})"
                f" and ordered fine to coarse; got {tuple(self.tiers)}"
            )


def _ckpt_path(output_dir) -> str:
    return str(Path(output_dir) / "checkpoints")


def completed_bucket_frame(spark, output_dir, job_id, fmt) -> DataFrame:
    """The conv_buckets job ``job_id`` checkpointed under ``output_dir``
    with the CURRENT :data:`CODE_VERSION` (a version bump reruns a
    bucket): the one completed-bucket rule, for the job's restart skip
    and the ingestion gate (``plans.ingest.backlog``)."""
    if not fmt.exists(spark, _ckpt_path(output_dir)):
        return spark.createDataFrame([], "conv_bucket int")
    return fmt.read(spark, _ckpt_path(output_dir)).where(
        (F.col("job_id") == job_id) & (F.col("code_version") == CODE_VERSION)
    ).select("conv_bucket").distinct()


class RollupJob:
    def __init__(
        self, spark: SparkSession, cfg: RollupConfig, fmt=None
    ) -> None:
        self.spark = spark
        self.cfg = cfg
        self.out = Path(cfg.output_dir)
        self.fmt = fmt or ParquetFormat()

    # -- checkpoint bookkeeping -------------------------------------------
    def completed_buckets(self) -> set[int]:
        # answered here for an absent table: collecting the frame's
        # empty stand-in would run a Spark job
        if not self.fmt.exists(self.spark, _ckpt_path(self.out)):
            return set()
        done = completed_bucket_frame(
            self.spark, self.out, self.cfg.job_id, self.fmt
        )
        return {r.conv_bucket for r in done.collect()}

    # -- main --------------------------------------------------------------
    def run(self, buckets: list[int] | None = None) -> dict:
        """Process all not-yet-checkpointed conv buckets; returns metrics.

        ``buckets`` restricts the run to an explicit set — the
        availability gate: pass the ``processable`` conv_buckets from
        ``plans.ingest.backlog`` so the job only touches buckets whose
        required sources have all arrived (the reference's
        availability-gated tile loop, ``L2T_STARS.py:343-388``). Buckets
        that become processable later are picked up by the next run via
        the same checkpoint-skip.

        The metrics written to ``metrics/<job_id>.json`` include
        ``codegen_compiles``, the Janino compilations during the run.
        The counter is JVM-wide: queries that run concurrently in the
        same JVM are counted too.
        """
        cfg = self.cfg
        compiles0 = codegen_compiles(self.spark)
        done = self.completed_buckets()
        universe = range(cfg.n_buckets) if buckets is None else buckets
        remaining = [b for b in universe if b not in done]
        if not remaining:
            return {"buckets_processed": 0, "rows_processed": 0}

        raw = self.spark.read.parquet(cfg.input_path)
        # prune to the columns the rollup branches consume BEFORE the
        # repartition exchange and the persist (rule 23: caching defeats
        # Catalyst column pruning, so an unpruned persist would carry —
        # and the exchange would shuffle — the ~300 B/row text payload
        # that no tier statistic reads: ~3.2 GB of dead shuffle+cache
        # bytes at sf1.0). normalize()'s dropDuplicates key survives the
        # prune (duplicates are exact row copies, FIXTURES.md), and
        # turn_idx stays for the latency ordering.
        bucketed = raw.select(*TURN_COLS).withColumn(
            "conv_bucket", conv_bucket(cfg.n_buckets)
        ).where(F.col("conv_bucket").isin(remaining))

        # ONE upfront hash repartition by conv_id serves every downstream
        # stage shuffle-free: HashPartitioning(conv_id) satisfies the
        # dedup's ClusteredDistribution(conv_id, turn_idx), the latency
        # window's (conv_id), and each tier's groupBy(conv_id, bucket) —
        # the grouping keys are supersets of the partitioning key. That
        # holds for an un-persisted lineage (tests/test_plans.py checks
        # it with explain), not for this one: under AQE a cached frame
        # reports unknown partitioning until it is materialized, so the
        # 1m digest build, the 3 cascades and the 4 gap_fill windows
        # each re-shuffle by conv_id, 8 exchanges per run (ROADMAP
        # Direction 3(a)).
        n_part = max(
            cfg.n_buckets,
            int(self.spark.conf.get("spark.sql.shuffle.partitions")),
        )
        bucketed = bucketed.repartition(n_part, "conv_id")
        lat = with_latency(normalize(bucketed)).persist()

        # one pass serves both the row count and the per-bucket
        # checkpoint stats (no separate count() job). It is the first job
        # on the pool, so the ~seconds of lat materialization + stats
        # aggregation run concurrently with the first tier's build/sinks
        # (the first consumer to reach a lat partition computes it, the
        # rest read the cached block); the result is only joined right
        # before the checkpoint rows are built, the first point that
        # needs it.
        def _collect_stats():
            return (
                lat.groupBy("conv_bucket")
                .agg(
                    F.count(F.lit(1)).alias("rows_processed"),
                    F.min("ts").alias("bucket_range_start"),
                    F.max("ts").alias("bucket_range_end"),
                )
                .collect()
            )

        # sinks partition by conv_bucket: a pure function of conv_id,
        # derived, never joined
        bucket = conv_bucket(cfg.n_buckets)

        persisted = [lat]

        def tier_sinks(tier: str, tier_df: DataFrame) -> list:
            """Plan the tier's derived frames; return its write jobs."""
            out_df = tier_df
            if tier in cfg.smooth_tiers:
                filled = gap_fill(
                    tier_df,
                    tier,
                    value_cols=FILL_COLS,
                    method=cfg.fill_method,
                )
                out_df = smooth_tier(filled, tier)

            def _write_rollup(out_df=out_df, tier=tier):
                self.fmt.overwrite_partitions(
                    out_df.withColumn("conv_bucket", bucket),
                    str(self.out / f"rollup_{tier}"),
                    partition_col="conv_bucket",
                    sort_cols=("conv_id", "bucket_start"),
                )

            def _write_payload(tier_df=tier_df, tier=tier):
                segs = encode_payloads(tier_df, tier, PAYLOAD_COL)
                self.fmt.overwrite_partitions(
                    segs.withColumn("conv_bucket", bucket),
                    str(self.out / f"payload_{tier}"),
                    partition_col="conv_bucket",
                )

            return [_write_rollup, _write_payload]

        try:
            # builds stay sequential on this thread; every sink lands
            # before the checkpoint below (futures joined in FIFO order,
            # first error re-raised). Leaving the with-block waits for
            # every submitted job, so the finally never unpersists a
            # frame a sink is still reading.
            with ThreadPoolExecutor(max_workers=SINK_POOL_WORKERS) as pool:
                stats_f = pool.submit(_collect_stats)
                futures = []
                digest = None
                for tier in cfg.tiers:
                    # persisted: gap_fill consumes the tier twice (grid
                    # spans + observations), the payload encoder a third
                    # time, and the next tier's digest merge a fourth
                    digest = (
                        rollup_tier_with_digest(lat.drop("conv_bucket"), tier)
                        if digest is None
                        else cascade_with_digest(digest, tier)
                    ).persist()
                    persisted.append(digest)
                    futures += map(
                        pool.submit, tier_sinks(tier, digest.drop("lat_digest"))
                    )
                for f in futures:
                    f.result()
                stats = stats_f.result()

            total_rows = sum(r.rows_processed for r in stats)
            # checkpoint rows: one per processed bucket, written AFTER the
            # tier partitions land (write-then-checkpoint = at-least-once,
            # idempotent because partition overwrite is deterministic).
            # Reuses the stats pass — no second scan of lat.
            by_bucket = {r.conv_bucket: r for r in stats}
            now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
            ckpt_rows = [
                (
                    self.cfg.job_id,
                    b,
                    b,
                    by_bucket[b].bucket_range_start if b in by_bucket else None,
                    by_bucket[b].bucket_range_end if b in by_bucket else None,
                    by_bucket[b].rows_processed if b in by_bucket else 0,
                    cfg.input_path,
                    CODE_VERSION,
                    now,
                )
                for b in remaining
            ]
            # one slice, so one file: a local list is split into
            # defaultParallelism slices that would each land one, and
            # coalescing them would convert the slices one after another
            # (twice the time of this append)
            self.fmt.append(
                self.spark.createDataFrame(
                    self.spark.sparkContext.parallelize(ckpt_rows, 1),
                    CHECKPOINT_SCHEMA,
                ),
                _ckpt_path(self.out),
            )
        finally:
            for df_ in persisted:
                df_.unpersist()
        # the table gains a file per run: the small-file rule bounds it
        maybe_compact_table(self.spark, self.fmt, _ckpt_path(self.out))

        metrics = {
            "buckets_processed": len(remaining),
            "rows_processed": total_rows,
            "codegen_compiles": codegen_compiles(self.spark) - compiles0,
        }
        (self.out / "metrics").mkdir(parents=True, exist_ok=True)
        with open(self.out / "metrics" / f"{cfg.job_id}.json", "w") as f:
            json.dump(metrics, f)
        return metrics


def read_tier(spark: SparkSession, output_dir: str, tier: str) -> DataFrame:
    """The current snapshot of a tier table a :class:`RollupJob` wrote."""
    return ParquetFormat().read(spark, str(Path(output_dir) / f"rollup_{tier}"))

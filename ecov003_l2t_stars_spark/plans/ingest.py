"""Ingestion manifest + availability/latency gating (SURVEY §2.1 S4 analog).

The reference's biggest subsystem is granule ingestion: discover what
upstream has published, dedup against what was already staged, and gate
processing on availability + lateness (``VIIRS/VNP09GA.py:1034-1138``
listing → dedup, ``VIIRSDataPool.py:218-274`` retrieve-with-retry,
``L2T_STARS.py:343-388`` the availability/latency scan that decides which
tile-dates are processable and when to give up —
``constants.py:27`` VIIRS_GIVEUP_DAYS = 4).

The engine twin over transcript batches:

- :func:`ingest` — register one upstream batch (a parquet drop from one
  ``source``) into the manifest table: one row per ``conv_bucket`` with
  ``(source, batch_id, arrived_at, rows_ingested, min_ts, max_ts)``.
  Idempotent: a (source, batch_id) already present is skipped — the
  granule-dedup step (``VNP09GA.py:1138``).
- :func:`record_attempt` / :func:`retry_candidates` — per-(source,
  batch_id) retry bookkeeping: failed attempts are retried until
  ``max_attempts`` (the data-pool retry loop, ``VNP09GA.py:1140-1211``).
- :func:`backlog` — join manifest vs the rollup job's checkpoints and
  classify every conv_bucket:

  - ``done``         checkpointed by the rollup job (current code version)
  - ``processable``  all required sources arrived, not yet processed
  - ``pending``      sources missing, newest arrived data younger than
                     the give-up window
  - ``gave_up``      sources missing beyond the give-up window

  (the L2T_STARS availability+latency scan as one DataFrame plan — no
  driver-side loops; the only collect is the caller's).

The manifest and attempt tables (``<manifest_dir>/manifest``,
``/attempts``) are :class:`ParquetFormat` tables like the engine's
own: each ingest or attempt is one ``append`` commit, and a directory
without a ``_snapshots/`` manifest reads as absent.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark import conv_bucket
from ecov003_l2t_stars_spark.plans.pipeline import completed_bucket_frame
from ecov003_l2t_stars_spark.plans.table_format import (
    ParquetFormat,
    compact_table,
    maybe_compact_table,
)

GIVEUP = dt.timedelta(days=4)  # reference VIIRS_GIVEUP_DAYS analog

MANIFEST_SCHEMA = (
    "source string, conv_bucket int, batch_id string, "
    "arrived_at timestamp, rows_ingested long, "
    "min_ts timestamp, max_ts timestamp"
)

# stored attempt log: append-only, NO attempt counter — the number is
# derived at read time (row_number over attempted_at), so recording an
# attempt never scans the table first (VERDICT r2 #7)
ATTEMPT_LOG_SCHEMA = (
    "source string, batch_id string, ok boolean, "
    "error string, attempted_at timestamp"
)
# shape read_attempts exposes (attempt derived)
ATTEMPT_SCHEMA = (
    "source string, batch_id string, ok boolean, "
    "error string, attempted_at timestamp, attempt int"
)

_FMT = ParquetFormat()
_TABLES = ("manifest", "attempts")


def _table(manifest_dir: str, name: str) -> str:
    return str(Path(manifest_dir) / name)


def read_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Manifest with DEFENSIVE key dedup: the writer's already-ingested
    check is read-then-append with no atomicity, so two concurrent
    deliveries of the same (source, batch_id) can both land (ADVICE r2).
    Reads keep the newest row per (source, batch_id, conv_bucket) so
    re-delivered rows can never double-count ``rows_ingested``; the
    intended deployment is still single-writer-per-source."""
    from pyspark.sql import Window

    p = _table(manifest_dir, "manifest")
    if not _FMT.exists(spark, p):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    w = Window.partitionBy("source", "batch_id", "conv_bucket").orderBy(
        F.col("arrived_at").desc()
    )
    return (
        _FMT.read(spark, p)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def read_attempts(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Attempt log with the ``attempt`` ordinal DERIVED at read time —
    one window over the log instead of a full-table scan per append."""
    from pyspark.sql import Window

    p = _table(manifest_dir, "attempts")
    if not _FMT.exists(spark, p):
        return spark.createDataFrame([], ATTEMPT_SCHEMA)
    w = Window.partitionBy("source", "batch_id").orderBy("attempted_at")
    return _FMT.read(spark, p).withColumn("attempt", F.row_number().over(w))


def ingest(
    spark: SparkSession,
    batch_path: str,
    manifest_dir: str,
    source: str,
    batch_id: str,
    n_buckets: int = 32,
    arrived_at: dt.datetime | None = None,
) -> dict:
    """Register one upstream batch in the manifest. Idempotent.

    Returns ``{"skipped": True}`` when (source, batch_id) is already
    manifested (re-delivery of the same granule), else per-batch stats.
    The manifest write is a per-conv_bucket aggregate of the batch — no
    data rows reach the driver — and observes its own stats. Then runs
    the small-file rule (``table_format.maybe_compact_table``) on both
    bookkeeping tables.
    """
    arrived_at = arrived_at or dt.datetime.now(dt.timezone.utc).replace(
        tzinfo=None
    )
    existing = read_manifest(spark, manifest_dir)
    already = (
        existing.where(
            (F.col("source") == source) & (F.col("batch_id") == batch_id)
        )
        .limit(1)
        .count()
    )
    if already:
        return {"skipped": True, "source": source, "batch_id": batch_id}

    df = spark.read.parquet(batch_path).withColumn(
        "conv_bucket", conv_bucket(n_buckets)
    )
    manifest = (
        df.groupBy("conv_bucket")
        .agg(
            F.count(F.lit(1)).alias("rows_ingested"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .select(
            F.lit(source).alias("source"),
            "conv_bucket",
            F.lit(batch_id).alias("batch_id"),
            F.lit(arrived_at).cast("timestamp").alias("arrived_at"),
            "rows_ingested",
            "min_ts",
            "max_ts",
        )
    )
    obs = Observation()
    _FMT.append(
        manifest.observe(
            obs,
            F.sum("rows_ingested").alias("rows"),
            F.count(F.lit(1)).alias("buckets"),
        ),
        _table(manifest_dir, "manifest"),
    )
    stats = obs.get
    for name in _TABLES:
        maybe_compact_table(spark, _FMT, _table(manifest_dir, name))
    return {
        "skipped": False,
        "source": source,
        "batch_id": batch_id,
        "rows_ingested": stats["rows"],
        "buckets": stats["buckets"],
    }


def record_attempt(
    spark: SparkSession,
    manifest_dir: str,
    source: str,
    batch_id: str,
    ok: bool,
    error: str | None = None,
    attempted_at: dt.datetime | None = None,
) -> None:
    """Append one retrieval attempt (the data-pool retry bookkeeping).

    Blind append: the attempt ordinal is derived at read time
    (:func:`read_attempts`), and the commit reads only the head
    manifest, never table rows — O(1) in table size.
    """
    attempted_at = attempted_at or dt.datetime.now(
        dt.timezone.utc
    ).replace(tzinfo=None)
    row = [(source, batch_id, ok, error, attempted_at)]
    # one slice, so one file, as in RollupJob.run's checkpoint append:
    # coalescing a local frame's defaultParallelism slices converts them
    # one after another
    _FMT.append(
        spark.createDataFrame(
            spark.sparkContext.parallelize(row, 1), ATTEMPT_LOG_SCHEMA
        ),
        _table(manifest_dir, "attempts"),
    )


def compact_bookkeeping(
    spark: SparkSession, manifest_dir: str
) -> dict[str, int]:
    """Small-file maintenance: rewrite each bookkeeping table into one
    file (``table_format.compact_table``: committed only on top of the
    snapshot it read, then the replaced files expire). A concurrent
    append is never lost: it lands on top of the rewrite, or the rewrite
    raises ``CommitConflictError``. Returns row counts per table."""
    out: dict[str, int] = {}
    for name in _TABLES:
        p = _table(manifest_dir, name)
        out[name] = (
            compact_table(spark, _FMT, p) if _FMT.exists(spark, p) else 0
        )
    return out


def retry_candidates(
    spark: SparkSession, manifest_dir: str, max_attempts: int = 3
) -> DataFrame:
    """(source, batch_id, attempts, last_error) whose LAST attempt failed
    and attempts < max_attempts — the batches the next ingestion sweep
    should re-fetch (``VNP09GA.py:1140-1211``). A batch that later
    succeeded (or was manifested) is excluded."""
    att = read_attempts(spark, manifest_dir)
    last = (
        att.groupBy("source", "batch_id")
        .agg(
            F.max("attempt").alias("attempts"),
            F.max_by("ok", "attempt").alias("last_ok"),
            F.max_by("error", "attempt").alias("last_error"),
        )
        .where(~F.col("last_ok") & (F.col("attempts") < max_attempts))
    )
    manifested = read_manifest(spark, manifest_dir).select(
        "source", "batch_id"
    ).distinct()
    return last.join(manifested, ["source", "batch_id"], "left_anti").select(
        "source", "batch_id", "attempts", "last_error"
    )


def backlog(
    spark: SparkSession,
    manifest_dir: str,
    output_dir: str,
    job_id: str,
    required_sources: list[str],
    as_of: dt.datetime,
    giveup: dt.timedelta = GIVEUP,
) -> DataFrame:
    """Availability + latency gate: classify every manifested conv_bucket.

    One DataFrame plan: manifest rollup per bucket, left join against the
    job's completed buckets (``done``, the job's own rule:
    :func:`plans.pipeline.completed_bucket_frame`), completeness against
    the required-source set (``processable``), and the give-up clock on
    the newest arrived data (``pending`` / ``gave_up``).
    """
    m = read_manifest(spark, manifest_dir)
    per_bucket = m.groupBy("conv_bucket").agg(
        F.countDistinct("source").alias("n_sources"),
        F.sum("rows_ingested").alias("rows_ingested"),
        F.max("arrived_at").alias("latest_arrival"),
        F.max("max_ts").alias("newest_data"),
    )

    done = completed_bucket_frame(
        spark, output_dir, job_id, _FMT
    ).withColumn("_done", F.lit(True))

    n_req = len(required_sources)
    give_up_before = F.lit(as_of - giveup).cast("timestamp")
    return (
        per_bucket.join(F.broadcast(done), "conv_bucket", "left")
        .withColumn(
            "status",
            F.when(F.col("_done"), F.lit("done"))
            .when(F.col("n_sources") >= n_req, F.lit("processable"))
            .when(F.col("newest_data") >= give_up_before, F.lit("pending"))
            .otherwise(F.lit("gave_up")),
        )
        .select(
            "conv_bucket", "status", "n_sources", "rows_ingested",
            "latest_arrival",
        )
    )

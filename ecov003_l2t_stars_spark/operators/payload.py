"""Tier payload encoding: Gorilla segments as BinaryType columns.

Packages each conversation's tier series into compressed binary segments
(``(conv_id, tier, segment_start, n_points, payload)``), the engine's
storage analog of the reference's per-(variable, date, tile) GeoTIFF
layer files (``generate_filename.py:8-37`` — the filename schema IS the
reference's segment key). Encoding runs in ``applyInPandas`` over hash
buckets of conversations — one Python call per batch of many segments,
never per row.

``decode_payloads`` is the verification inverse: explodes segments back
into (conv_id, bucket_ts, value) rows for round-trip testing
(encode∘decode = id, SURVEY §5.2).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ecov003_l2t_stars_spark import TIER_SECONDS
from ecov003_l2t_stars_spark.functions.codec import decode_segment, encode_segment
from ecov003_l2t_stars_spark.session import prune_zip_importers

SEGMENT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("tier", StringType()),
        StructField("segment_start", TimestampType()),
        # last bucket_start actually present — retention filters on THIS
        # (exact at any segment_buckets), not an assumed max span that
        # under-estimates when a pipeline encodes with larger segments
        # (r4 ADVICE: data loss in the unsafe direction)
        StructField("segment_end", TimestampType()),
        StructField("n_points", LongType()),
        StructField("payload", BinaryType()),
        # integrity checksum (SURVEY §2.1 S11: the reference's POSIX
        # cksum manifest, cksum.py:9-66)
        StructField("crc32", LongType()),
    ]
)

POINT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("tier", StringType()),
        StructField("bucket_start", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


def encode_payloads(
    tier_df: DataFrame,
    tier: str,
    value_col: str,
    segment_buckets: int = 4096,
    n_groups: int | None = None,
) -> DataFrame:
    """Compress (bucket_start, value) series into per-conv segments.

    ``segment_buckets`` bounds points per segment (and so decode memory);
    segment boundaries are aligned to absolute bucket index so re-runs
    produce identical segmentation (idempotent writes, mirrors the
    reference's keyed-artifact skip, ``VNP43NRT/VNP43NRT.py:390-397``).
    """
    spark = tier_df.sparkSession
    if n_groups is None:
        n_groups = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = TIER_SECONDS[tier]
    seg_span = segment_buckets * n

    df = tier_df.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("bucket_start"),
        F.col(value_col).cast("double").alias("_v"),
        (F.floor(F.unix_seconds("bucket_start") / seg_span) * seg_span).alias(
            "_seg"
        ),
        F.pmod(F.xxhash64(F.col("conv_id").cast("string")), F.lit(n_groups)).alias(
            "_grp"
        ),
    )

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        prune_zip_importers()
        # integer factorization + lexsort + array-built output: the
        # readable sort_values/to_records/per-segment-tuple form spent
        # more wall time on pandas object plumbing than on the codec
        codes, uniq = pd.factorize(pdf["conv_id"])
        segv = pdf["_seg"].to_numpy(dtype=np.int64)
        ts_ns = pdf["bucket_start"].to_numpy()
        order = np.lexsort((ts_ns, segv, codes))
        ts_us_all = ts_ns[order].astype("datetime64[us]").view("int64")
        vals_all = pdf["_v"].to_numpy(dtype=np.float64)[order]
        cc, ss = codes[order], segv[order]
        bounds = np.flatnonzero(
            np.concatenate(
                ([True], (cc[1:] != cc[:-1]) | (ss[1:] != ss[:-1]), [True])
            )
        )
        payloads = []
        crcs = []
        for a, b in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
            p = encode_segment(ts_us_all[a:b], vals_all[a:b])
            payloads.append(p)
            crcs.append(zlib.crc32(p))
        heads = bounds[:-1]
        return pd.DataFrame(
            {
                "conv_id": np.asarray(uniq)[cc[heads]],
                "tier": tier,
                "segment_start": pd.to_datetime(ss[heads], unit="s"),
                "segment_end": pd.to_datetime(
                    ts_us_all[bounds[1:] - 1], unit="us"
                ),
                "n_points": np.diff(bounds),
                "payload": payloads,
                "crc32": np.array(crcs, dtype=np.int64),
            }
        )

    return df.groupBy("_grp").applyInPandas(enc, SEGMENT_SCHEMA)


def decode_payloads(segments: DataFrame) -> DataFrame:
    """Explode segments back into (conv_id, tier, bucket_start, value).

    One ``mapInPandas`` pass: per Arrow batch, each segment's CRC is
    checked and :func:`decode_segment` decodes it (the scalar body for
    segments of up to 128 points, the NumPy body above), and the batch
    yields one output frame. Like every engine kernel, ``dec`` first
    calls :func:`prune_zip_importers`, so the reused Python worker does
    not re-read ``pyspark.zip`` before its next task."""
    # prune to the columns the kernel reads BEFORE the Arrow boundary:
    # segment_start/segment_end/n_points are retention/bookkeeping
    # metadata the decode never touches, and mapInPandas serializes
    # every input column it is handed
    segments = segments.select("conv_id", "tier", "payload", "crc32")

    def dec(it):
        prune_zip_importers()
        for pdf in it:
            if len(pdf) == 0:
                continue
            crcs = pdf["crc32"].tolist()
            convs = pdf["conv_id"].tolist()
            tiers = pdf["tier"].tolist()
            ts_parts = []
            val_parts = []
            lens = []
            for i, payload in enumerate(pdf["payload"]):
                payload = bytes(payload)
                if zlib.crc32(payload) != crcs[i]:
                    raise ValueError(
                        f"payload corruption: crc mismatch for "
                        f"{convs[i]}/{tiers[i]}"
                    )
                ts_us, vals = decode_segment(payload)
                ts_parts.append(ts_us)
                val_parts.append(vals)
                lens.append(len(ts_us))
            # ONE output frame per Arrow batch (a frame per segment +
            # concat cost ~0.5 ms/segment of pure pandas overhead)
            reps = np.array(lens)
            yield pd.DataFrame(
                {
                    "conv_id": np.repeat(np.asarray(convs, dtype=object), reps),
                    "tier": np.repeat(np.asarray(tiers, dtype=object), reps),
                    "bucket_start": np.concatenate(ts_parts).view(
                        "datetime64[us]"
                    ),
                    "value": np.concatenate(val_parts),
                }
            )

    return segments.mapInPandas(dec, POINT_SCHEMA)

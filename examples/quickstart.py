"""Quickstart: the full engine surface in one script.

    python examples/quickstart.py

Generates a small deterministic transcript table, runs the checkpointed
rollup job (4 tiers + gap-fill + Kalman smoothing + Gorilla payloads),
then demonstrates reads, gap-filled series, session windows, retention,
and an incremental late-data update.
"""

from __future__ import annotations

import datetime as dt
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from ecov003_l2t_stars_spark.operators.payload import decode_payloads  # noqa: E402
from ecov003_l2t_stars_spark.operators.sessions import session_stats  # noqa: E402
from ecov003_l2t_stars_spark.plans.pipeline import (  # noqa: E402
    RollupConfig,
    RollupJob,
    read_tier,
)
from ecov003_l2t_stars_spark.plans.retention import (  # noqa: E402
    RetentionPolicy,
    enforce_retention,
)
from ecov003_l2t_stars_spark.plans.table_format import ParquetFormat  # noqa: E402
from ecov003_l2t_stars_spark.session import get_spark  # noqa: E402
from ecov003_l2t_stars_spark.sources.transcripts import (  # noqa: E402
    GenSpec,
    write_transcripts_parquet,
)


def main() -> None:
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = Path(tempfile.mkdtemp(prefix="quickstart_"))

    # 1. input: deterministic transcripts (conv_id, turn_idx, role, text,
    #    tool, ts) — swap for your own Iceberg/parquet table
    inp = work / "transcripts.parquet"
    n = write_transcripts_parquet(str(inp), GenSpec(n_convs=300))
    print(f"input: {n} turns")

    # 2. the checkpointed rollup job
    out = str(work / "tiers")
    cfg = RollupConfig(str(inp), out, n_buckets=8, job_id="demo")
    print("job metrics:", RollupJob(spark, cfg).run())
    print("resume is a no-op:", RollupJob(spark, cfg).run())

    # 3. read a tier: per-conv continuous aggregates
    h1 = read_tier(spark, out, "1h")
    h1.select("conv_id", "bucket_start", "n_turns", "n_tool",
              "latency_p50", "smooth_mean", "gap_filled").show(5)

    # 4. payload round-trip (Gorilla-compressed series)
    segs = ParquetFormat().read(spark, f"{out}/payload_1h")
    print("payload segments:", segs.count(),
          "bytes:", segs.agg(F.sum(F.length("payload"))).collect()[0][0])
    decode_payloads(segs.limit(2)).show(4)

    # 5. session windows over raw turns
    raw = spark.read.parquet(str(inp))
    session_stats(raw, timeout_s=1800).orderBy(
        F.col("duration_s").desc()
    ).show(3)

    # 6. retention: expire 1m buckets older than 7 days
    dropped = enforce_retention(
        spark, out, dt.datetime(2025, 1, 25), RetentionPolicy()
    )
    print("retention dropped:", dropped)

    # 7. ingestion manifest + availability gate: register the batch,
    #    then ask which conv_buckets are processable vs pending
    from ecov003_l2t_stars_spark.plans.ingest import backlog, ingest

    mdir = str(work / "manifest")
    print("ingest:", ingest(spark, str(inp), mdir, source="demo",
                            batch_id="b1", n_buckets=8,
                            arrived_at=dt.datetime(2025, 1, 20)))
    backlog(spark, mdir, out, "demo", ["demo"],
            as_of=dt.datetime(2025, 1, 21)).show(8)

    # 8. approximate nearest neighbors over an embedding column
    #    (hyperplane LSH and IVF k-means cells; exact brute force is the
    #    guarded verification path)
    from ecov003_l2t_stars_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf_topk(emb, k=3, n_centroids=6, n_probe=3).show(5)

    # 9. dedup family on the documents corpus: MinHash+LSH near-dups and
    #    embedding-cosine near-dup pairs (bucketed scale paths)
    from ecov003_l2t_stars_spark.operators.dedup import minhash_lsh_dedup
    from ecov003_l2t_stars_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    minhash_lsh_dedup(docs).show(3)
    embedding_near_dup_lsh(emb, threshold=0.42, k=20, n_tables=16,
                           n_bits=6).show(3)

    # 10. REAL multimodal decode through the pluggable seam: PPM images
    #     and PCM-16 WAV parse with stdlib + NumPy alone
    from ecov003_l2t_stars_spark.operators.multimodal import (
        extract_features,
        media_decoder,
        synthetic_real_media,
    )

    extract_features(
        synthetic_real_media(spark, n=6), dim=4, decoder=media_decoder
    ).show(6, truncate=60)

    spark.stop()
    print("done; outputs in", work)


if __name__ == "__main__":
    main()

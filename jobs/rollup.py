"""spark-submit entrypoint for the checkpointed rollup job.

On a real cluster (BASELINE.json north_rule):

    spark-submit --py-files engine.zip jobs/rollup.py \
        --input s3://bucket/transcripts --output s3://bucket/tiers \
        --tiers 1m,1h,1d,30d --n-buckets 1024 --fill locf --job-id daily

Locally:

    python jobs/rollup.py --input .bench_cache/transcripts_40000.parquet \
        --output /tmp/tiers --n-buckets 32

Build engine.zip with:  cd <repo> && zip -r engine.zip ecov003_l2t_stars_spark
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--tiers", default="1m,1h,1d,30d")
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--fill", choices=["locf", "linear"], default="locf")
    p.add_argument("--smooth-tiers", default="1h,1d")
    p.add_argument("--job-id", default="rollup")
    p.add_argument("--master", default=None)
    # availability gate: only run conv_buckets whose required sources
    # have all arrived per the ingestion manifest (plans/ingest.backlog)
    p.add_argument("--gate-manifest", default=None,
                   help="manifest dir; enables the availability gate")
    p.add_argument("--required-sources", default=None,
                   help="comma list of sources that must have arrived")
    p.add_argument("--gate-as-of", default=None,
                   help="ISO timestamp for the give-up clock (default now)")
    args = p.parse_args()

    # validate BEFORE booting a JVM: an empty required set would degrade
    # the gate to "any one source arrived" (n_req counts the empty
    # string) — refuse
    required = None
    if args.gate_manifest:
        required = [
            s for s in (args.required_sources or "").split(",") if s
        ]
        if not required:
            p.error("--gate-manifest requires --required-sources "
                    "(comma list of sources that must have arrived)")

    from ecov003_l2t_stars_spark.plans.pipeline import RollupConfig, RollupJob
    from ecov003_l2t_stars_spark.session import get_spark

    try:
        cfg = RollupConfig(
            input_path=args.input,
            output_dir=args.output,
            tiers=tuple(args.tiers.split(",")),
            n_buckets=args.n_buckets,
            fill_method=args.fill,
            smooth_tiers=tuple(
                t for t in args.smooth_tiers.split(",") if t
            ),
            job_id=args.job_id,
        )
    except ValueError as e:
        p.error(str(e))
    spark = get_spark(app_name=f"rollup-{args.job_id}", master=args.master)
    buckets = None
    if args.gate_manifest:
        import datetime as dt

        from ecov003_l2t_stars_spark.plans.ingest import backlog

        as_of = (
            dt.datetime.fromisoformat(args.gate_as_of)
            if args.gate_as_of
            else dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        )
        buckets = sorted(
            r.conv_bucket
            for r in backlog(spark, args.gate_manifest, args.output,
                             args.job_id, required, as_of).collect()
            if r.status == "processable"
        )
    metrics = RollupJob(spark, cfg).run(buckets=buckets)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()

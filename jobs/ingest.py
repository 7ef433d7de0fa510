"""spark-submit entrypoint for ingestion-manifest operations (S4 analog).

On a real cluster:

    spark-submit --py-files engine.zip jobs/ingest.py ingest \
        --batch s3://drops/alpha/2025-02-01.parquet --manifest s3://m \
        --source alpha --batch-id 2025-02-01 --n-buckets 1024

    spark-submit --py-files engine.zip jobs/ingest.py backlog \
        --manifest s3://m --output s3://bucket/tiers --job-id daily \
        --required-sources alpha,beta --as-of 2025-02-05T00:00:00

    spark-submit --py-files engine.zip jobs/ingest.py retries \
        --manifest s3://m --max-attempts 3

Exit code of ``backlog`` is 0 when nothing is pending/gave_up, 3 when
buckets gave up (alerting hook), mirroring the reference PGE's exit-code
contract (``L2T_STARS.py`` constants).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest")
    pi.add_argument("--batch", required=True)
    pi.add_argument("--manifest", required=True)
    pi.add_argument("--source", required=True)
    pi.add_argument("--batch-id", required=True)
    pi.add_argument("--n-buckets", type=int, default=32)

    pb = sub.add_parser("backlog")
    pb.add_argument("--manifest", required=True)
    pb.add_argument("--output", required=True)
    pb.add_argument("--job-id", required=True)
    pb.add_argument("--required-sources", required=True)
    pb.add_argument("--as-of", default=None,
                    help="ISO timestamp; default = now UTC")
    pb.add_argument("--giveup-days", type=float, default=4.0)

    pr = sub.add_parser("retries")
    pr.add_argument("--manifest", required=True)
    pr.add_argument("--max-attempts", type=int, default=3)

    pc = sub.add_parser("compact",
                        help="rewrite each bookkeeping table into one file")
    pc.add_argument("--manifest", required=True)

    args = p.parse_args()

    from ecov003_l2t_stars_spark.plans import ingest as ing
    from ecov003_l2t_stars_spark.session import get_spark

    spark = get_spark(app_name=f"ingest-{args.cmd}", master=args.master)
    rc = 0
    try:
        if args.cmd == "ingest":
            res = ing.ingest(spark, args.batch, args.manifest, args.source,
                             args.batch_id, args.n_buckets)
            print(json.dumps(res))
        elif args.cmd == "backlog":
            as_of = (
                dt.datetime.fromisoformat(args.as_of)
                if args.as_of
                else dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
            )
            rows = ing.backlog(
                spark, args.manifest, args.output, args.job_id,
                args.required_sources.split(","), as_of,
                giveup=dt.timedelta(days=args.giveup_days),
            ).collect()
            out = [r.asDict() for r in rows]
            for r in out:
                r["latest_arrival"] = str(r["latest_arrival"])
            print(json.dumps(out))
            if any(r["status"] == "gave_up" for r in out):
                rc = 3
        elif args.cmd == "retries":
            rows = ing.retry_candidates(
                spark, args.manifest, args.max_attempts
            ).collect()
            print(json.dumps([r.asDict() for r in rows]))
        else:  # compact
            print(json.dumps(ing.compact_bookkeeping(spark, args.manifest)))
    finally:
        spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())

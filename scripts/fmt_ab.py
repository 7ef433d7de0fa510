"""Interleaved A/B of the two on-disk table formats on the late-data path.

    python3 scripts/fmt_ab.py [--seed 1] [--batches 12] [--warmup 2]

Builds the ``late_repair`` benchmark input (``benchmark/inputs.py``:
2000 conversations, late batches of 50 whole conversations), then runs
the same program against one table tree per format, ``ParquetFormat``
and ``SnapshotParquetFormat``:

- the initial ``IncrementalRollup.update`` of the remainder (untimed);
- per late batch, one timed ``update`` (the refresh: append + MERGE of
  the 1m and 1h tiers) and one timed ``enforce_retention`` with the
  as-of date advanced by a day.

The formats alternate their order from batch to batch, so neither
always runs first. After ``--warmup`` batches it prints each format's
median refresh and retention seconds and the batches the snapshot
format won. Retention must drop the same rows in both trees after
every batch, and the final raw and tier tables must be identical
(row count plus an order-free multiset hash); the script exits non-zero
otherwise.

One local[4] session runs both formats, as the benchmark does.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT), str(ROOT / "benchmark")]

CORES = 4
RAW_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
FIRST_AS_OF = dt.datetime(2025, 1, 20)
TABLES = ("raw", "rollup_1m", "rollup_1h")


def fingerprint(fmt, spark, path: str) -> tuple[int, int]:
    """(rows, sum of per-row xxhash64): equal for equal multisets."""
    from pyspark.sql import functions as F

    df = fmt.read(spark, path)
    cols = sorted(df.columns)
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--batches", type=int, default=12)
    p.add_argument("--warmup", type=int, default=2)
    args = p.parse_args(argv)

    from ecov003_l2t_stars_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    spark = get_spark(app_name="fmt-ab", master=f"local[{CORES}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    work = Path(tempfile.mkdtemp(prefix="fmt_ab-"))
    try:
        return run(spark, work, args)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def run(spark, work: Path, args) -> int:
    import inputs
    from ecov003_l2t_stars_spark.plans.late_data import IncrementalRollup
    from ecov003_l2t_stars_spark.plans.retention import enforce_retention
    from ecov003_l2t_stars_spark.plans.table_format import (
        ParquetFormat,
        SnapshotParquetFormat,
    )

    pdf = inputs.transcripts(2000, args.seed, 0)
    rest, batches = inputs.late_split(pdf, args.seed, args.batches, 50)
    fmts = {"parquet": ParquetFormat(), "snapshot": SnapshotParquetFormat()}
    incs = {
        name: IncrementalRollup(spark, str(work / name), tiers=("1m", "1h"),
                                n_buckets=CORES, fmt=fmt)
        for name, fmt in fmts.items()
    }
    for inc in incs.values():
        inc.update(spark.createDataFrame(rest, RAW_SCHEMA))

    times = {name: {"refresh": [], "retention": []} for name in fmts}
    as_of = FIRST_AS_OF
    for i, b in enumerate(batches):
        sdf = spark.createDataFrame(b, RAW_SCHEMA)
        order = list(fmts) if i % 2 == 0 else list(fmts)[::-1]
        dropped = {}
        for name in order:
            inc = incs[name]
            t0 = time.perf_counter()
            inc.update(sdf)
            t1 = time.perf_counter()
            dropped[name] = enforce_retention(spark, str(inc.base), as_of,
                                              fmt=fmts[name])
            t2 = time.perf_counter()
            if i >= args.warmup:
                times[name]["refresh"].append(t1 - t0)
                times[name]["retention"].append(t2 - t1)
        if dropped["parquet"] != dropped["snapshot"]:
            print(f"batch {i}: retention diverged: {dropped}")
            return 1
        if i >= args.warmup:
            print(f"batch {i} refresh/retention: " + "  ".join(
                f"{n} {times[n]['refresh'][-1]:.2f}/"
                f"{times[n]['retention'][-1]:.2f} s" for n in fmts
            ), flush=True)
        as_of += dt.timedelta(days=1)

    print(f"\nmedians over {len(batches) - args.warmup} batches "
          f"(seed {args.seed}, local[{CORES}]):")
    print(f"{'op':<10} {'parquet_s':>10} {'snapshot_s':>11} {'ratio':>6} "
          f"{'snap_won':>8}")
    for op in ("refresh", "retention"):
        a, b = times["parquet"][op], times["snapshot"][op]
        won = sum(y < x for x, y in zip(a, b))
        ma, mb = statistics.median(a), statistics.median(b)
        print(f"{op:<10} {ma:>10.2f} {mb:>11.2f} {mb / ma:>6.2f} "
              f"{won:>4}/{len(a)}")

    same = True
    for t in TABLES:
        fp = {n: fingerprint(fmts[n], spark, str(incs[n].base / t))
              for n in fmts}
        same &= fp["parquet"] == fp["snapshot"]
        print(f"final {t}: {fp['parquet'][0]} rows, "
              f"{'identical' if fp['parquet'] == fp['snapshot'] else fp}")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

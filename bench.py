"""Benchmark harness. Prints ONE JSON line with per-query seconds.

Runs (a) every driver oracle query against $SPARK_GRAFT_SF_DIR and
(b) the full transcript tier pipeline (rollup → gap-fill → smooth →
payload across 1m/1h/1d/30d) on a deterministic seed-42 transcript table
sized to the sf (cached under .bench_cache/). The headline metric is
rolled-up points/sec across all tiers (BASELINE.json).

Usage: python bench.py  [--master local[N]]  (defaults to
local[$SPARK_GRAFT_CPUS]).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# n=3 medians de-noise single-run scheduler jitter (VERDICT r2 #6);
# override with SPARK_GRAFT_BENCH_REPS=1 for quick local iteration
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def _transcripts_path(n_convs: int) -> str:
    cache = REPO / ".bench_cache"
    cache.mkdir(exist_ok=True)
    p = cache / f"transcripts_{n_convs}.parquet"
    if not p.exists():
        from ecov003_l2t_stars_spark.sources.transcripts import (
            GenSpec,
            write_transcripts_parquet,
        )

        write_transcripts_parquet(str(p), GenSpec(n_convs=n_convs))
    return str(p)


def main() -> None:
    master = None
    if "--master" in sys.argv:
        master = sys.argv[sys.argv.index("--master") + 1]

    from ecov003_l2t_stars_spark.plans.driver_queries import QUERIES
    from ecov003_l2t_stars_spark.plans.pipeline import (
        RollupConfig,
        RollupJob,
        read_tier,
    )
    from ecov003_l2t_stars_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        master=master or f"local[{CPUS}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    import duckdb

    sf_lineitem = duckdb.connect().execute(
        f"SELECT count(*) FROM '{SF_DIR}/lineitem.parquet'"
    ).fetchone()[0]
    sf = sf_lineitem / 6_000_000  # TPC-H lineitem ≈ 6M rows at sf1
    n_convs = max(200, int(sf_lineitem / 15))

    timings: dict[str, float] = {}

    # quadratic-by-design verification paths (their LSH scale twins are
    # benchmarked instead); still correctness-checked at sf0.01
    # dedup_corpus re-runs dup_clusters' entire pair+component pipeline
    # plus one anti-join — benching both would double-count the same work
    bench_skip = {
        "ngram_jaccard_pairs",
        "cosine_topk",
        "embed_near_pairs",
        "dedup_corpus",
    }
    # curate_corpus overlaps dup_clusters' work but is the flagship
    # end-to-end curation composition (VERDICT r4 #3) — timed anyway.

    # --- driver oracle queries over the sf tables -------------------------
    from ecov003_l2t_stars_spark.plans.driver_queries_text import (
        QUERIES_TEXT,
        q_ann_ivf_pq_topk_raw,
        q_ann_ivf_topk_raw,
        q_embed_dup_lsh_raw,
    )

    all_queries = {**QUERIES, **QUERIES_TEXT}
    # the driver-adjudicated forms of these fold in their quadratic
    # exact twins (containment + recall-floor verification, sf0.01-sized
    # by design); bench times the approximate SCALE paths themselves
    all_queries["ann_ivf_topk"] = q_ann_ivf_topk_raw
    all_queries["ann_ivf_pq_topk"] = q_ann_ivf_pq_topk_raw
    all_queries["embed_dup_lsh"] = q_embed_dup_lsh_raw
    timings_min: dict[str, float] = {}
    for name, fn in all_queries.items():
        if name in bench_skip:
            continue
        runs = []
        for _ in range(REPS):  # fresh plan per rep: no reuse flattery
            # drop cached tables too: persist() inside a query would be
            # canonical-plan-matched by the CacheManager across reps,
            # turning later reps into cache reads — and the accumulated
            # caches squeeze the heap under the pipeline runs below
            spark.catalog.clearCache()
            # fn() inside the timer: plan construction is ms for lazy
            # queries, but iterative operators (dup_clusters) do their
            # eager per-round work at build time and must be charged
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(_median(runs), 4)
        timings_min[name] = round(min(runs), 4)
    spark.catalog.clearCache()

    # --- transcript tier pipeline -----------------------------------------
    tpath = _transcripts_path(n_convs)
    pipe_runs = []
    total_points = 0
    turns = 0
    # rep -1 is an UNTIMED warmup: the first pipeline run in a JVM pays
    # HotSpot compilation of the big codegen stages (measured 45-50s vs
    # a ~31s steady state that holds from rep 3 on) — the warmup makes
    # the recorded median measure the engine, not the JIT
    for rep in range(-1, REPS):
        out_dir = tempfile.mkdtemp(prefix="bench_rollup_")
        try:
            cfg = RollupConfig(
                input_path=tpath,
                output_dir=out_dir,
                n_buckets=int(CPUS),
                job_id="bench",
            )
            t0 = time.perf_counter()
            metrics = RollupJob(spark, cfg).run()
            if rep >= 0:
                pipe_runs.append(time.perf_counter() - t0)
            if rep == 0:
                for tier in cfg.tiers:
                    total_points += read_tier(spark, out_dir, tier).count()
                turns = metrics["rows_processed"]
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    pipeline_s = _median(pipe_runs)
    timings["tiers_pipeline"] = round(pipeline_s, 4)
    timings_min["tiers_pipeline"] = round(min(pipe_runs), 4)

    total = round(sum(timings.values()), 4)
    result = {
        "metric": "rolled-up points/sec across 1m/1h/1d/30d tiers",
        "value": round(total_points / pipeline_s, 2),
        "unit": "points/sec",
        "queries": timings,
        "queries_min": timings_min,
        "reps": REPS,
        "sf": sf,
        "total_sec": total,
        "pipeline_points": total_points,
        "pipeline_turns": turns,
        "turns_per_sec": round(turns / pipeline_s, 2),
        "master": master or f"local[{CPUS}]",
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()

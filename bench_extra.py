"""Round-6 optimization harness (NOT the driver bench — bench.py is
frozen for measurement).

Subcommands:

  python bench_extra.py explain [names...]    dump .explain("formatted")
      for declared queries to .bench_cache/plans/<name>_<tag>.txt (tag
      via --tag, default "before"; the tracked plans/r06/ evidence is
      never overwritten)
  python bench_extra.py time <name> [reps]    noop-sink timing of one
      declared query (clearCache between reps, like bench.py)
  python bench_extra.py minhash               stage-by-stage breakdown of
      minhash_lsh_dedup at $SPARK_GRAFT_SF_DIR
  python bench_extra.py pipeline              stage-by-stage breakdown of
      the tier pipeline (RollupJob)

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _spark():
    from ecov003_l2t_stars_spark.session import get_spark

    spark = get_spark(
        app_name="bench_extra",
        master=f"local[{CPUS}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _queries():
    from ecov003_l2t_stars_spark.plans.driver_queries import QUERIES
    from ecov003_l2t_stars_spark.plans.driver_queries_text import (
        QUERIES_TEXT,
        q_ann_ivf_pq_topk_raw,
        q_ann_ivf_topk_raw,
        q_embed_dup_lsh_raw,
    )

    all_q = {**QUERIES, **QUERIES_TEXT}
    all_q["ann_ivf_topk"] = q_ann_ivf_topk_raw
    all_q["ann_ivf_pq_topk"] = q_ann_ivf_pq_topk_raw
    all_q["embed_dup_lsh"] = q_embed_dup_lsh_raw
    return all_q


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def cmd_explain(names: list[str], tag: str) -> None:
    spark = _spark()
    out_dir = REPO / ".bench_cache" / "plans"
    out_dir.mkdir(parents=True, exist_ok=True)
    qs = _queries()
    targets = names or list(qs)
    for name in targets:
        fn = qs[name]
        spark.catalog.clearCache()
        df = fn(spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        dump = out_dir / f"{name}_{tag}.txt"
        dump.write_text(txt)
        print(f"wrote {dump.relative_to(REPO)} ({len(txt)} bytes)")
    spark.stop()


def cmd_time(name: str, reps: int) -> None:
    spark = _spark()
    qs = _queries()
    runs = []
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        _noop(qs[name](spark, SF_DIR))
        runs.append(round(time.perf_counter() - t0, 4))
    print({"query": name, "sf_dir": SF_DIR, "runs": runs})
    spark.stop()


def cmd_minhash() -> None:
    from pyspark.sql import functions as F

    from ecov003_l2t_stars_spark.operators import dedup as D
    from ecov003_l2t_stars_spark.plans.driver_queries_text import _docs

    spark = _spark()
    sc = spark.sparkContext
    docs = _docs(spark, SF_DIR)

    def stage(label, thunk):
        spark.catalog.clearCache()
        sc.setJobDescription(label)
        t0 = time.perf_counter()
        out = thunk()
        dt = round(time.perf_counter() - t0, 3)
        sc.setJobDescription(None)
        print(f"{label:40s} {dt:8.3f}s  {out if out is not None else ''}")

    stage("signatures(noop)", lambda: _noop(
        D.minhash_signatures(docs, "doc_id", "text", 64, 5)
    ))
    stage("signatures rep2", lambda: _noop(
        D.minhash_signatures(docs, "doc_id", "text", 64, 5)
    ))
    sigs = (
        D.minhash_signatures(docs, "doc_id", "text", 64, 5)
        .where(F.col("_sig").isNotNull())
        .localCheckpoint(eager=False)
    )
    stage("banded(noop)", lambda: _noop(D.minhash_banded(sigs, 64, 16)))
    banded = D.minhash_banded(sigs, 64, 16)
    a_side, b_side = D._star_cap_sides(banded, ("band", "bh"), "_id", 1000)
    paired = (
        a_side.select(
            "band", "bh", F.col("_id").alias("doc_a"),
            *D._screen_side_cols("_a", 64),
        )
        .join(
            b_side.select(
                "band", "bh", F.col("_id").alias("doc_b"),
                *D._screen_side_cols("_b", 64),
            ),
            ["band", "bh"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
    )
    screened = paired.where(
        D._screen_agree(64) >= F.lit(35)
    ).select("doc_a", "doc_b")
    stage("join+screen(noop)", lambda: _noop(screened))
    stage("join+screen rep2", lambda: _noop(screened))
    stage("screen distinct count", lambda: screened.distinct().count())
    stage("full minhash_lsh_dedup(noop)", lambda: _noop(
        D.minhash_lsh_dedup(docs, n_hashes=64, bands=16, k=5, threshold=0.8)
    ))
    stage("full rep2", lambda: _noop(
        D.minhash_lsh_dedup(docs, n_hashes=64, bands=16, k=5, threshold=0.8)
    ))
    spark.stop()


def cmd_pipeline() -> None:
    import shutil
    import tempfile

    from ecov003_l2t_stars_spark.plans.pipeline import RollupConfig, RollupJob

    spark = _spark()
    sc = spark.sparkContext
    import duckdb

    sf_lineitem = duckdb.connect().execute(
        f"SELECT count(*) FROM '{SF_DIR}/lineitem.parquet'"
    ).fetchone()[0]
    n_convs = max(200, int(sf_lineitem / 15))
    cache = REPO / ".bench_cache"
    tpath = cache / f"transcripts_{n_convs}.parquet"
    if not tpath.exists():
        from ecov003_l2t_stars_spark.sources.transcripts import (
            GenSpec,
            write_transcripts_parquet,
        )

        write_transcripts_parquet(str(tpath), GenSpec(n_convs=n_convs))

    for rep in range(3):
        out_dir = tempfile.mkdtemp(prefix="bx_rollup_")
        try:
            cfg = RollupConfig(
                input_path=str(tpath), output_dir=out_dir,
                n_buckets=int(CPUS), job_id="bx",
            )
            sc.setJobDescription(f"pipeline rep{rep}")
            t0 = time.perf_counter()
            RollupJob(spark, cfg).run()
            print(f"pipeline rep{rep}: "
                  f"{round(time.perf_counter() - t0, 3)}s")
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    args = sys.argv[1:]
    cmd = args[0] if args else "explain"
    if cmd == "explain":
        tag = "before"
        rest = args[1:]
        if "--tag" in rest:
            i = rest.index("--tag")
            tag = rest[i + 1]
            rest = rest[:i] + rest[i + 2:]
        cmd_explain(rest, tag)
    elif cmd == "time":
        cmd_time(args[1], int(args[2]) if len(args) > 2 else 3)
    elif cmd == "minhash":
        cmd_minhash()
    elif cmd == "pipeline":
        cmd_pipeline()
    else:
        raise SystemExit(f"unknown subcommand {cmd}")

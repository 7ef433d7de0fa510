"""Physical-plan shape guards (the .explain discipline, SURVEY §4).

These tests pin the optimizer behavior the engine's scale story depends
on: predicate/column pushdown reaching the parquet scan, the rollup
running shuffle-free on a conv_id-partitioned lineage, and the lang-ID
profile join broadcasting.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark.operators.rollup import (
    normalize,
    rollup_tier,
    with_latency,
)
from ecov003_l2t_stars_spark.sources.transcripts import GenSpec, generate_transcripts


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(df) -> int:
    return len(re.findall(r"Exchange hashpartitioning", _plan(df)))


def test_pushdown_reaches_scan(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    q = ev.where(F.col("event_type") == "click").select("user_id")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan
    # column pruning: scan reads only the two needed columns
    assert "ReadSchema: struct<user_id:bigint,event_type:string>" in plan


def test_rollup_single_exchange_after_repartition(spark):
    """On a conv_id-partitioned lineage the whole rollup is shuffle-free:
    dedup, latency window, and tier agg all reuse HashPartitioning(conv_id)."""
    sdf = spark.createDataFrame(generate_transcripts(GenSpec(n_convs=50)))
    pre = sdf.repartition(4, "conv_id")
    tier = rollup_tier(with_latency(normalize(pre)), "1h")
    assert _n_exchanges(tier) == 1  # only the explicit repartition


def test_rollup_from_raw_two_exchanges(spark):
    """Without pre-partitioning: dedup keys + window key = 2 exchanges,
    and the tier agg reuses the window's conv_id partitioning."""
    sdf = spark.createDataFrame(generate_transcripts(GenSpec(n_convs=50)))
    tier = rollup_tier(with_latency(normalize(sdf)), "1h")
    assert _n_exchanges(tier) == 2


def test_lang_profiles_broadcast(spark):
    from ecov003_l2t_stars_spark.functions.text import (
        build_lang_profiles,
        classify_lang,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pred = classify_lang(docs, build_lang_profiles(docs))
    assert "BroadcastHashJoin" in _plan(pred)


def test_whole_stage_codegen_in_rollup(spark):
    import contextlib
    import io

    sdf = spark.createDataFrame(generate_transcripts(GenSpec(n_convs=50)))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        tier = rollup_tier(with_latency(normalize(sdf)), "1h")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            tier.explain(mode="codegen")
        m = re.search(r"Found (\d+) WholeStageCodegen subtrees", buf.getvalue())
        assert m and int(m.group(1)) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_flags_decode_builds_lazily(spark):
    """q_flags_decode must not trigger a data-scan job at plan-build time
    (VERDICT r1 #3: the imputation mean is a broadcast crossjoin now, not
    a driver collect). Budget: exactly the jobs a bare spark.read.parquet
    costs (Spark 4 runs one schema-read job per reader), nothing more."""
    from ecov003_l2t_stars_spark.plans.driver_queries import q_flags_decode

    sc = spark.sparkContext
    path = "/root/testdata/sf0.001/events.parquet"
    _ = spark.read.parquet(path)  # warm any session-level caches

    sc.setLocalProperty("spark.jobGroup.id", "bare_read")
    _ = spark.read.parquet(path)
    bare = len(sc.statusTracker().getJobIdsForGroup("bare_read"))

    sc.setLocalProperty("spark.jobGroup.id", "flags_build")
    df = q_flags_decode(spark, "/root/testdata/sf0.001")
    built = len(sc.statusTracker().getJobIdsForGroup("flags_build"))
    sc.setLocalProperty("spark.jobGroup.id", None)

    assert built <= bare, (built, bare)
    assert df.columns[-1] == "value_imputed"


def test_gapfill_default_path_is_join_free(spark):
    """The default (per-conv span) gap-fill generates gap rows by
    lead+explode and unions them under the observations — no dense-grid
    join anywhere in the physical plan. A fixed job window runs on the
    same generator (sentinel rows bracket the window), so it has no
    join either."""
    from ecov003_l2t_stars_spark.operators.gapfill import gap_fill
    from ecov003_l2t_stars_spark.operators.rollup import rollup_tier

    sdf = spark.createDataFrame(generate_transcripts(GenSpec(n_convs=30)))
    tier = rollup_tier(with_latency(normalize(sdf)), "1h")
    filled = gap_fill(tier, "1h", value_cols=("latency_p50",), method="locf")
    plan = _plan(filled)
    assert "Join" not in plan and "Union" in plan
    windowed = gap_fill(
        tier, "1h", value_cols=("latency_p50",), method="locf",
        grid_start="2025-01-01", grid_end="2025-01-02",
    )
    assert "Join" not in _plan(windowed)


def test_minhash_plan_carries_signatures(spark):
    """The LSH candidate+screen stage is ONE band self-join carrying the
    signature arrays — no join-back against the signature table (which
    could not broadcast at 10^9 docs) and no nested-loop join."""
    from ecov003_l2t_stars_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = minhash_lsh_dedup(docs)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

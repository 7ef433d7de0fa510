"""End-to-end job + kill/resume identity (SURVEY §5.2 resume tests)."""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark.plans.late_data import IncrementalRollup
from ecov003_l2t_stars_spark.plans.pipeline import (
    RollupConfig,
    RollupJob,
    read_tier,
)
from ecov003_l2t_stars_spark.plans.table_format import ParquetFormat
from ecov003_l2t_stars_spark.session import codegen_compiles
from ecov003_l2t_stars_spark.sources.transcripts import (
    GenSpec,
    generate_transcripts,
    write_transcripts_parquet,
)


@pytest.fixture(scope="module")
def input_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("in") / "transcripts.parquet"
    write_transcripts_parquet(str(p), GenSpec(n_convs=200))
    return str(p)


def _collect_sorted(spark, out_dir, tier):
    df = read_tier(spark, out_dir, tier).drop("conv_bucket")
    return (
        df.orderBy("conv_id", "bucket_start")
        .toPandas()
        .reset_index(drop=True)
    )


def test_full_run_and_resume_identity(spark, input_path, tmp_path_factory):
    out_a = str(tmp_path_factory.mktemp("out_a"))
    out_b = str(tmp_path_factory.mktemp("out_b"))

    cfg_a = RollupConfig(input_path, out_a, n_buckets=8, tiers=("1m", "1h"),
                         smooth_tiers=("1h",), job_id="jobA")
    m = RollupJob(spark, cfg_a).run()
    assert m["buckets_processed"] == 8 and m["rows_processed"] > 0

    # simulated crash: process 3 buckets, "die", resume
    cfg_b = RollupConfig(input_path, out_b, n_buckets=8, tiers=("1m", "1h"),
                         smooth_tiers=("1h",), job_id="jobB")
    job_b = RollupJob(spark, cfg_b)
    m1 = job_b.run(buckets=[0, 1, 2])
    assert m1["buckets_processed"] == 3
    assert job_b.completed_buckets() == {0, 1, 2}
    m2 = job_b.run()
    assert m2["buckets_processed"] == 5
    # idempotence: nothing left
    assert job_b.run()["buckets_processed"] == 0

    for tier in ("1m", "1h"):
        a = _collect_sorted(spark, out_a, tier)
        b = _collect_sorted(spark, out_b, tier)
        assert list(a.columns) == list(b.columns)
        assert len(a) == len(b)
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if av.dtype.kind == "f":
                assert np.array_equal(av, bv, equal_nan=True), (tier, c)
            else:
                assert (
                    (a[c].isna() == b[c].isna()).all()
                    and (a[c].dropna() == b[c].dropna()).all()
                ), (tier, c)


def test_checkpoint_lineage(spark, input_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out_c"))
    cfg = RollupConfig(input_path, out, n_buckets=4, tiers=("1h",),
                       smooth_tiers=(), job_id="jobC")
    RollupJob(spark, cfg).run()
    ck = spark.read.parquet(f"{out}/checkpoints")
    rows = ck.collect()
    assert len(rows) == 4
    assert all(r.input_snapshot == input_path for r in rows)
    assert all(r.rows_processed > 0 for r in rows)
    # rows_processed sums to the deduped row count
    raw = spark.read.parquet(input_path).dropDuplicates(["conv_id", "turn_idx"])
    assert sum(r.rows_processed for r in rows) == raw.count()


def test_checkpoints_gain_one_file_per_run_and_stay_bounded(
    spark, input_path, tmp_path_factory, monkeypatch
):
    """Each run appends ONE checkpoint file (a local frame's slices would
    each land one), and the small-file rule run after the append keeps
    the table's files and manifests bounded: with the bound patched to
    3, the fourth file compacts the table to one file and one manifest.
    Every bucket's row survives the compactions."""
    from ecov003_l2t_stars_spark.plans import table_format

    monkeypatch.setattr(table_format, "BOOKKEEPING_MAX_FILES", 3)
    out = str(tmp_path_factory.mktemp("out_ck"))
    job = RollupJob(spark, RollupConfig(
        input_path, out, n_buckets=8, tiers=("1h",), smooth_tiers=(),
        job_id="jobK",
    ))
    fmt, ck = ParquetFormat(), f"{out}/checkpoints"
    counts = []
    for b in range(8):
        job.run(buckets=[b])
        counts.append(
            (len(fmt._list_files(ck)), len(fmt.snapshots(spark, ck)))
        )
    assert counts == [(n, n) for n in (1, 2, 3, 1, 2, 3, 1, 2)]
    assert job.completed_buckets() == set(range(8))
    assert fmt.read(spark, ck).count() == 8


def test_smoothed_tier_written(spark, input_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out_d"))
    cfg = RollupConfig(input_path, out, n_buckets=4, tiers=("1h",),
                       smooth_tiers=("1h",), job_id="jobD")
    RollupJob(spark, cfg).run()
    t = read_tier(spark, out, "1h")
    assert "smooth_mean" in t.columns
    assert t.where(F.col("smooth_mean").isNull()).count() == 0
    # a run writes only tables that engine code reads back
    assert sorted(p.name for p in Path(out).iterdir()) == [
        "checkpoints", "metrics", "payload_1h", "rollup_1h",
    ]
    segs = spark.read.parquet(f"{out}/payload_1h")
    assert segs.agg(F.sum("n_points")).collect()[0][0] == t.where(
        ~F.col("gap_filled")
    ).count()


@pytest.mark.parametrize("tiers", [
    ("1d", "1h"),         # coarse to fine: 1h would hold one row per day
    ("1m", "1h", "1h"),   # duplicate
    ("1m", "2h"),         # unknown
])
def test_config_rejects_tiers_the_cascade_would_miscompute(tiers):
    with pytest.raises(ValueError, match="fine to coarse"):
        RollupConfig("in", "out", tiers=tiers)


class _FailingPayload1h(ParquetFormat):
    """Parquet twin whose partition overwrite of payload_1h raises."""

    def overwrite_partitions(self, df, path, *args, **kwargs):
        if path.endswith("payload_1h"):
            raise RuntimeError("injected sink failure")
        return super().overwrite_partitions(df, path, *args, **kwargs)


def test_failed_sink_reraises_releases_cache_and_rerun_converges(
    spark, input_path, tmp_path_factory
):
    """One pool sink failing while the others are in flight: ``run()``
    raises, appends no checkpoint, leaves no persisted frame behind, and
    a clean rerun writes the tables of an uninterrupted run."""

    def cfg(out, job_id):
        return RollupConfig(input_path, out, n_buckets=4,
                            tiers=("1m", "1h"), smooth_tiers=("1h",),
                            job_id=job_id)

    out = str(tmp_path_factory.mktemp("out_fail"))
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    failing = RollupJob(spark, cfg(out, "jobF"), fmt=_FailingPayload1h())
    with pytest.raises(RuntimeError, match="injected sink failure"):
        failing.run()
    assert failing.completed_buckets() == set()
    # no new key: the context cleaner may drop other tests' RDDs meanwhile
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= before

    assert RollupJob(spark, cfg(out, "jobF")).run()["buckets_processed"] == 4
    ref = str(tmp_path_factory.mktemp("out_ref"))
    RollupJob(spark, cfg(ref, "jobR")).run()
    fmt = ParquetFormat()
    for table in ("rollup_1m", "rollup_1h", "payload_1m", "payload_1h"):
        got = fmt.read(spark, f"{out}/{table}")
        exp = fmt.read(spark, f"{ref}/{table}")
        assert got.count() == exp.count() > 0, table
        assert got.exceptAll(exp).isEmpty(), table
        assert exp.exceptAll(got).isEmpty(), table


def test_read_tier_sees_one_run_of_a_shared_output_dir(
    spark, input_path, tmp_path_factory
):
    """Two runs with different job ids into one output dir: the second
    replaces every partition the first wrote, and ``read_tier`` returns
    exactly one run's rows — not the replaced files next to them."""
    out = str(tmp_path_factory.mktemp("out_shared"))
    fmt = ParquetFormat()
    first: dict = {}
    for job_id in ("jobS1", "jobS2"):
        cfg = RollupConfig(input_path, out, n_buckets=4, tiers=("1m", "1h"),
                           smooth_tiers=(), job_id=job_id)
        assert RollupJob(spark, cfg).run()["buckets_processed"] == 4
        for t in ("1m", "1h"):
            first.setdefault(t, fmt.current_snapshot(spark, f"{out}/rollup_{t}"))
    for tier in ("1m", "1h"):
        path = f"{out}/rollup_{tier}"
        got = read_tier(spark, out, tier)
        exp = fmt.read_as_of(spark, path, first[tier])
        assert fmt.current_snapshot(spark, path) > first[tier], tier
        # both runs' files are on disk: a directory scan reads them all
        assert spark.read.parquet(path).count() == 2 * exp.count(), tier
        assert got.count() == exp.count() > 0, tier
        assert got.exceptAll(exp).isEmpty(), tier
        assert exp.exceptAll(got).isEmpty(), tier


def test_repeated_runs_compile_no_generated_class(
    spark, input_path, tmp_path_factory
):
    """The session's codegen cache holds a run's generated classes: a
    second ``RollupJob.run`` in the JVM compiles none, and neither does
    a second ``IncrementalRollup.refresh`` of a same-shaped batch. With
    Spark's default bound of 100 entries, each run re-compiled ~150. A
    per-run literal inlined into the generated code fails this too."""
    runs = []
    for name in ("out_g1", "out_g2"):
        out = Path(tmp_path_factory.mktemp(name))
        cfg = RollupConfig(input_path, str(out), n_buckets=4, job_id="jobG")
        before = codegen_compiles(spark)
        metrics = RollupJob(spark, cfg).run()
        runs.append(codegen_compiles(spark) - before)
        # the run's own report carries the same delta
        assert json.loads((out / "metrics" / "jobG.json").read_text()) == metrics
        assert metrics["codegen_compiles"] == runs[-1]
    # the counter is live in this JVM, so a zero delta means something
    assert codegen_compiles(spark) > 0
    assert runs[1] == 0, runs

    pdf = generate_transcripts(GenSpec(n_convs=60))
    convs = sorted(pdf["conv_id"].unique())
    late = np.random.default_rng(3).random(len(pdf)) < 0.3
    batches = [
        pdf[late & pdf["conv_id"].isin(convs[i:i + 5])] for i in (0, 5)
    ]
    inc = IncrementalRollup(spark, str(tmp_path_factory.mktemp("inc_g")),
                            tiers=("1m", "1h"), n_buckets=4)
    inc.update(spark.createDataFrame(pdf[~late]))
    refreshes = []
    for b in batches:
        sdf = spark.createDataFrame(b)
        inc.ingest(sdf)
        before = codegen_compiles(spark)
        inc.refresh(sdf)
        refreshes.append(codegen_compiles(spark) - before)
    assert refreshes[1] == 0, refreshes

"""Incremental late-data MERGE equals full recompute (SURVEY §2.9 T2)."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark.operators.rollup import (
    normalize,
    rollup_tier,
    with_latency,
)
from ecov003_l2t_stars_spark.plans.late_data import IncrementalRollup
from ecov003_l2t_stars_spark.plans.retention import enforce_retention
from ecov003_l2t_stars_spark.plans.table_format import ParquetFormat
from ecov003_l2t_stars_spark.sources.transcripts import GenSpec, generate_transcripts


def _split_batches(pdf, late_frac=0.02, seed=7):
    """batch1 = most rows; batch2 = a late slice (older ts for some convs)
    plus genuinely new convs."""
    rng = np.random.default_rng(seed)
    late_mask = rng.random(len(pdf)) < late_frac
    return pdf[~late_mask], pdf[late_mask]


def _tier_pdf(df):
    return (
        df.drop("conv_bucket")
        .orderBy("conv_id", "bucket_start")
        .toPandas()
        .reset_index(drop=True)
    )


def test_incremental_equals_full(spark, tmp_path):
    pdf = generate_transcripts(GenSpec(n_convs=120))
    b1, b2 = _split_batches(pdf)
    sdf1 = spark.createDataFrame(b1)
    sdf2 = spark.createDataFrame(b2)

    inc = IncrementalRollup(spark, str(tmp_path / "inc"), tiers=("1m", "1h"),
                            n_buckets=4)
    inc.update(sdf1)
    inc.update(sdf2)  # late rows repair closed buckets

    full = spark.createDataFrame(pdf)
    for tier in ("1m", "1h"):
        exp = (
            rollup_tier(with_latency(normalize(full)), tier)
            .orderBy("conv_id", "bucket_start")
            .toPandas()
            .reset_index(drop=True)
        )
        got = _tier_pdf(inc.read_tier(tier))
        assert len(exp) == len(got), tier
        for c in exp.columns:
            e, g = exp[c].to_numpy(), got[c].to_numpy()
            if e.dtype.kind == "f":
                assert np.array_equal(e, g, equal_nan=True), (tier, c)
            else:
                assert (exp[c].isna() == got[c].isna()).all() and (
                    exp[c].dropna() == got[c].dropna()
                ).all(), (tier, c)


def test_refresh_scans_only_the_turn_columns(spark, tmp_path, monkeypatch):
    """The refresh prunes raw to the columns a tier reads before its
    exchange and persist: the raw scan reads exactly ``TURN_COLS``, not
    ``text`` or ``tool``."""
    import re

    from ecov003_l2t_stars_spark.operators.rollup import TURN_COLS
    from ecov003_l2t_stars_spark.plans import late_data

    seen = []
    real = late_data.normalize
    monkeypatch.setattr(
        late_data, "normalize", lambda df: seen.append(df) or real(df)
    )
    sdf = spark.createDataFrame(generate_transcripts(GenSpec(n_convs=20)))
    assert {"text", "tool"} <= set(sdf.columns)
    inc = IncrementalRollup(spark, str(tmp_path / "inc"), tiers=("1h",),
                            n_buckets=2)
    inc.update(sdf)
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    (read,) = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert [f.split(":")[0] for f in read.split(",")] == list(TURN_COLS)


def test_unaffected_convs_untouched(spark, tmp_path):
    pdf = generate_transcripts(GenSpec(n_convs=60))
    sdf = spark.createDataFrame(pdf)
    inc = IncrementalRollup(spark, str(tmp_path / "inc2"), tiers=("1h",),
                            n_buckets=2)
    inc.update(sdf)
    before = _tier_pdf(inc.read_tier("1h"))

    # a batch touching one known conv only
    one = pdf[pdf.conv_id == pdf.conv_id.iloc[0]].head(1).copy()
    one["turn_idx"] = np.int32(999)
    one["turn_idx"] = one["turn_idx"].astype("int32")
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    inc.update(spark.createDataFrame(one, schema))
    after = _tier_pdf(inc.read_tier("1h"))

    touched = one["conv_id"].iloc[0]
    b = before[before.conv_id != touched].reset_index(drop=True)
    a = after[after.conv_id != touched].reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["n_turns"] == b["n_turns"]).all()
    assert after[after.conv_id == touched]["n_turns"].sum() == \
        before[before.conv_id == touched]["n_turns"].sum() + 1


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


class _FailingSecondTier(ParquetFormat):
    """Parquet twin whose MERGE into the second tier (rollup_1h) raises."""

    def merge_replace_keys(self, spark, path, *args, **kwargs):
        if path.endswith("rollup_1h"):
            raise RuntimeError("injected MERGE failure")
        return super().merge_replace_keys(spark, path, *args, **kwargs)


def test_failed_merge_reraises_and_releases_cache(spark, tmp_path):
    """A MERGE failing on one pool worker surfaces from ``update``, and
    the persisted ``lat`` and tier frames are released anyway."""
    pdf = generate_transcripts(GenSpec(n_convs=30))
    inc = IncrementalRollup(spark, str(tmp_path / "inc3"),
                            tiers=("1m", "1h"), n_buckets=2,
                            fmt=_FailingSecondTier())
    before = _persisted_rdds(spark)
    with pytest.raises(RuntimeError, match="injected MERGE failure"):
        inc.update(spark.createDataFrame(pdf))
    assert _persisted_rdds(spark) - before == set()


def test_update_and_retention_release_cache(spark, tmp_path):
    """Neither a successful refresh nor a retention pass leaves a
    persisted frame behind."""
    pdf = generate_transcripts(GenSpec(n_convs=30))
    out = str(tmp_path / "inc4")
    inc = IncrementalRollup(spark, out, tiers=("1m", "1h"), n_buckets=2)
    before = _persisted_rdds(spark)
    counts = inc.update(spark.createDataFrame(pdf))
    assert counts == {t: inc.read_tier(t).count() for t in ("1m", "1h")}
    # a cutoff inside the data span: some 1m buckets expire, not all
    mid = pdf["ts"].min() + (pdf["ts"].max() - pdf["ts"].min()) / 2
    as_of = mid.to_pydatetime() + dt.timedelta(days=7)
    dropped = enforce_retention(spark, out, as_of)
    assert 0 < dropped["1m"] < counts["1m"]
    assert _persisted_rdds(spark) - before == set()


def test_update_then_retention_leaves_only_current_files(spark, tmp_path):
    """Three rounds of a late-batch update followed by a retention pass:
    each MERGE leaves the files it replaced on disk, and the retention
    pass's snapshot expiry removes them, so afterwards every part file
    under the tier table is one the current manifest names."""
    pdf = generate_transcripts(GenSpec(n_convs=40))
    # round 0 is the first build; rounds 1-3 are late batches
    rnd = np.random.default_rng(5).integers(0, 4, len(pdf))
    out = str(tmp_path / "inc5")
    fmt = ParquetFormat()
    inc = IncrementalRollup(spark, out, tiers=("1m", "1h"), n_buckets=2,
                            fmt=fmt)
    inc.update(spark.createDataFrame(pdf[rnd == 0]))
    path = f"{out}/rollup_1m"

    def on_disk() -> set[str]:
        return {
            str(p.relative_to(path)) for p in Path(path).rglob("*.parquet")
            if fmt.SNAPDIR not in p.parts
        }

    def named() -> set[str]:
        return set(fmt._load(path, fmt.current_snapshot(spark, path))["files"])

    t0 = pdf["ts"].min().to_pydatetime()
    for k in (1, 2, 3):
        inc.update(spark.createDataFrame(pdf[rnd == k]))
        assert on_disk() - named(), k  # the MERGE's replaced files
        enforce_retention(spark, out, t0 + dt.timedelta(days=7 + k))
        assert on_disk() == named(), k
        assert fmt.snapshots(spark, path) == [
            fmt.current_snapshot(spark, path)]

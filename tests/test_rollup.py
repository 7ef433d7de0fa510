"""Tier rollup correctness: golden micro-fixture, pandas oracle, cascade.

The golden fixture follows FIXTURES.md §5: single-turn conv, conv spanning
an hour boundary, duplicate turn, NULL tool, latency tie on even count.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from ecov003_l2t_stars_spark.functions.percentiles import np_pct, np_var_sorted
from ecov003_l2t_stars_spark.operators.rollup import (
    normalize,
    rollup_tier,
    tool_counts,
    with_latency,
)
from ecov003_l2t_stars_spark.sources.transcripts import GenSpec, generate_transcripts

T0 = dt.datetime(2025, 1, 1)


def _t(h, m, s):
    return T0 + dt.timedelta(hours=h, minutes=m, seconds=s)


@pytest.fixture(scope="module")
def golden(spark):
    rows = [
        # conv A: single turn
        ("A", 0, "user", "a0", None, _t(0, 0, 30)),
        # conv B: spans the 01:00 hour boundary
        ("B", 0, "user", "b0", None, _t(0, 59, 50)),
        ("B", 1, "assistant", "b1", None, _t(1, 0, 10)),
        ("B", 2, "user", "b2", None, _t(1, 0, 40)),
        ("B", 3, "assistant", "b3", None, _t(1, 2, 40)),
        # conv C: duplicate turn 1 (exact copy), tool turn, latency tie
        ("C", 0, "user", "c0", None, _t(0, 10, 0)),
        ("C", 1, "tool", "c1", "search", _t(0, 10, 30)),
        ("C", 1, "tool", "c1", "search", _t(0, 10, 30)),
        ("C", 2, "assistant", "c2", None, _t(0, 11, 0)),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )


def _rows(df, tier):
    out = {}
    for r in df.collect():
        out[(r.conv_id, r.bucket_start.strftime("%H:%M"))] = r
    return out


def test_golden_1m(golden):
    lat = with_latency(normalize(golden))
    r = _rows(rollup_tier(lat, "1m"), "1m")
    assert len(r) == 6

    a = r[("A", "00:00")]
    assert (a.n_turns, a.n_user, a.n_latency) == (1, 1, 0)
    assert a.latency_p50 is None and a.latency_sum is None

    b1 = r[("B", "00:59")]
    assert (b1.n_turns, b1.n_user, b1.n_latency) == (1, 1, 0)
    b2 = r[("B", "01:00")]
    assert (b2.n_turns, b2.n_user, b2.n_assistant) == (2, 1, 1)
    assert b2.latency_p50 == 25.0 and b2.latency_max == 30.0
    assert b2.latency_sum == 50.0 and b2.n_latency == 2
    b3 = r[("B", "01:02")]
    assert b3.latency_p50 == 120.0

    c1 = r[("C", "00:10")]
    assert (c1.n_turns, c1.n_user, c1.n_tool) == (2, 1, 1)  # dedup applied
    assert c1.latency_p50 == 30.0
    c2 = r[("C", "00:11")]
    assert c2.latency_p50 == 30.0

    # the tool map: C's one tool turn (delivered twice) counts once, and
    # buckets without a tool turn have no row
    tc = _rows(tool_counts(lat, "1m"), "1m")
    assert {k: dict(v.tool_counts) for k, v in tc.items()} == {
        ("C", "00:10"): {"search": 1}
    }


def test_golden_1h(golden):
    lat = with_latency(normalize(golden))
    r = _rows(rollup_tier(lat, "1h"), "1h")
    b = r[("B", "01:00")]
    assert b.n_turns == 3
    assert b.latency_p50 == 30.0
    assert b.latency_p90 == pytest.approx(30 + (120 - 30) * 0.8, abs=0)
    assert b.latency_p99 == pytest.approx(30 + (120 - 30) * 0.98, abs=0)
    assert b.latency_max == 120.0 and b.latency_sum == 170.0
    c = r[("C", "00:00")]
    assert c.n_turns == 3 and c.latency_p50 == 30.0  # even-count tie


@pytest.fixture(scope="module")
def gen_pair(spark):
    pdf = generate_transcripts(GenSpec(n_convs=250))
    return pdf, spark.createDataFrame(pdf)


def _pandas_oracle(pdf: pd.DataFrame, tier_s: int) -> pd.DataFrame:
    d = (
        pdf.drop_duplicates(["conv_id", "turn_idx"])
        .sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
        .copy()
    )
    us = d["ts"].astype("int64")
    d["lat"] = (us - us.groupby(d["conv_id"].values).shift()) / 1e6
    d["bucket"] = us // (tier_s * 10**6) * tier_s

    def agg(g: pd.DataFrame) -> pd.Series:
        lats = g["lat"].dropna().to_numpy()
        return pd.Series(
            {
                "n_turns": len(g),
                "n_user": int((g.role == "user").sum()),
                "n_assistant": int((g.role == "assistant").sum()),
                "n_system": int((g.role == "system").sum()),
                "n_tool": int((g.role == "tool").sum()),
                "latency_p50": np_pct(lats, 0.5) if lats.size else np.nan,
                "latency_p90": np_pct(lats, 0.9) if lats.size else np.nan,
                "latency_p99": np_pct(lats, 0.99) if lats.size else np.nan,
                "latency_max": lats.max() if lats.size else np.nan,
                "latency_var": np_var_sorted(lats) if lats.size > 1 else np.nan,
                "n_latency": lats.size,
            }
        )

    return (
        d.groupby(["conv_id", "bucket"])
        .apply(agg, include_groups=False)
        .reset_index()
    )


@pytest.mark.parametrize("tier,tier_s", [("1m", 60), ("1h", 3600), ("1d", 86400)])
def test_rollup_matches_pandas_oracle(spark, gen_pair, tier, tier_s):
    pdf, sdf = gen_pair
    got = rollup_tier(with_latency(normalize(sdf)), tier).toPandas()
    got["bucket"] = got["bucket_start"].astype("int64") // 10**9
    exp = _pandas_oracle(pdf, tier_s)

    m = exp.merge(got, on=["conv_id", "bucket"], suffixes=("_e", "_g"), how="outer",
                  indicator=True)
    assert (m["_merge"] == "both").all()
    for c in ["n_turns", "n_user", "n_assistant", "n_system", "n_tool", "n_latency"]:
        assert (m[f"{c}_e"] == m[f"{c}_g"]).all(), c
    for c in ["latency_p50", "latency_p90", "latency_p99", "latency_max",
              "latency_var"]:
        e = m[f"{c}_e"].to_numpy()
        g = m[f"{c}_g"].to_numpy()
        both_nan = np.isnan(e) & np.isnan(g)
        assert np.all(both_nan | (e == g)), c  # bit-exact point match


def test_salting_invariance(spark, gen_pair):
    """Salted two-stage agg == plain agg, bit-exact on every column
    (SURVEY §5.2 property; north_rule skew handling)."""
    from ecov003_l2t_stars_spark.operators.rollup import rollup_tier_salted

    _, sdf = gen_pair
    lat = with_latency(normalize(sdf))
    plain = rollup_tier(lat, "1h").toPandas()
    salted = rollup_tier_salted(lat, "1h", n_salts=7).toPandas()
    key = ["conv_id", "bucket_start"]
    m = plain.merge(salted, on=key, suffixes=("_p", "_s"), how="outer",
                    indicator=True)
    assert (m["_merge"] == "both").all()
    for c in ["n_turns", "n_user", "n_assistant", "n_system", "n_tool",
              "n_latency"]:
        assert (m[f"{c}_p"] == m[f"{c}_s"]).all(), c
    for c in ["latency_p50", "latency_p90", "latency_p99", "latency_max",
              "latency_sum", "latency_var"]:
        p = m[f"{c}_p"].to_numpy(dtype=float)
        s = m[f"{c}_s"].to_numpy(dtype=float)
        assert np.all((np.isnan(p) & np.isnan(s)) | (p == s)), c


def test_latency_sum_is_sorted_fold(spark, gen_pair):
    """latency_sum equals a left fold over ascending-sorted latencies
    (the frozen reduction order)."""
    pdf, sdf = gen_pair
    got = rollup_tier(with_latency(normalize(sdf)), "1h").toPandas()
    got["bucket"] = got["bucket_start"].astype("int64") // 10**9

    d = (
        pdf.drop_duplicates(["conv_id", "turn_idx"])
        .sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
        .copy()
    )
    us = d["ts"].astype("int64")
    d["lat"] = (us - us.groupby(d["conv_id"].values).shift()) / 1e6
    d["bucket"] = us // (3600 * 10**6) * 3600

    def fold(s):
        acc = np.float64(0.0)
        for v in np.sort(s.dropna().to_numpy(dtype=np.float64)):
            acc = acc + v
        return acc if s.count() else np.nan

    exp = d.groupby(["conv_id", "bucket"])["lat"].apply(fold).reset_index()
    m = exp.merge(got[["conv_id", "bucket", "latency_sum"]], on=["conv_id", "bucket"])
    e = m["lat"].to_numpy(dtype=float)
    g = m["latency_sum"].to_numpy(dtype=float)
    assert np.all((np.isnan(e) & np.isnan(g)) | (e == g))


def test_digest_cascade_exact_percentiles(spark, gen_pair):
    """Merging finer-tier sorted digests reproduces the direct coarse
    rollup bit-for-bit INCLUDING percentiles/variance — the no-raw-rescan
    cascade (SURVEY §7.2 'percentiles don't compose' answer)."""
    from ecov003_l2t_stars_spark.operators.rollup import (
        cascade_with_digest,
        rollup_tier_with_digest,
    )

    _, sdf = gen_pair
    lat = with_latency(normalize(sdf))
    fine = rollup_tier_with_digest(lat, "1m")
    casc = cascade_with_digest(fine, "1h").toPandas()
    direct = rollup_tier(lat, "1h").toPandas()

    key = ["conv_id", "bucket_start"]
    m = direct.merge(casc, on=key, suffixes=("_d", "_c"), how="outer",
                     indicator=True)
    assert (m["_merge"] == "both").all()
    for c in ["n_turns", "n_user", "n_assistant", "n_system", "n_tool",
              "n_latency"]:
        assert (m[f"{c}_d"] == m[f"{c}_c"]).all(), c
    for c in ["latency_p50", "latency_p90", "latency_p99", "latency_max",
              "latency_sum", "latency_var"]:
        d = m[f"{c}_d"].to_numpy(dtype=float)
        g = m[f"{c}_c"].to_numpy(dtype=float)
        assert np.all((np.isnan(d) & np.isnan(g)) | (d == g)), c


def test_all_tiers_shapes(spark, gen_pair):
    from ecov003_l2t_stars_spark import TIERS

    _, sdf = gen_pair
    lat = with_latency(normalize(sdf))
    tiers = {t: rollup_tier(lat, t) for t in TIERS}
    counts = {t: df.count() for t, df in tiers.items()}
    # coarser tiers have fewer-or-equal buckets
    assert counts["1m"] >= counts["1h"] >= counts["1d"] >= counts["30d"]
    total = normalize(sdf).count()
    for t, df in tiers.items():
        from pyspark.sql import functions as F

        assert df.agg(F.sum("n_turns")).collect()[0][0] == total, t


def test_text_invariant_roundtrip(spark, gen_pair, tmp_path):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering
    after a write/read round-trip (BASELINE.json per-row invariant)."""
    _, sdf = gen_pair
    p = str(tmp_path / "t.parquet")
    normalize(sdf).write.mode("overwrite").parquet(p)
    back = spark.read.parquet(p).select("conv_id", "turn_idx", "text")
    orig = normalize(sdf).select("conv_id", "turn_idx", "text")
    on = ["conv_id", "turn_idx", "text"]
    assert back.join(orig, on, "left_anti").count() == 0
    assert orig.join(back, on, "left_anti").count() == 0
    assert back.count() == orig.count()

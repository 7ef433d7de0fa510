"""The benchmark's own tests, at tiny input sizes.

    python -m pytest benchmark/ -q

They run ``run.py --tiny`` once per workload and trace mode, and drive
the correctness checks in-process against deliberately corrupted
outputs. About six minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path[:0] = [str(ROOT), str(BENCH)]

import layers  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

# the workload-specific end-to-end names each workload prints: either
# as a metric on the report line, or as the alias of op_s/op2_s
NAMED = {
    "rollup_full": ["rollup_full.points_per_s",
                    "rollup_full.stored_bytes_per_turn"],
    "late_repair": ["late_repair.refresh_s.p50", "late_repair.refresh_s.tail",
                    "late_repair.retention_s.p50",
                    "late_repair.write_amplification"],
    "curate_corpus": ["curate_corpus.curate_s", "curate_corpus.lang_id_s"],
}
# per-layer names each workload must load (non-zero in its traced run)
HEAVY = {
    "rollup_full": [
        "plans.pipeline.self_s", "plans.pipeline.jobs",
        "plans.pipeline.jobs_in_flight",
        *(f"plans.table_format.{v}.jobs" for v in layers.ROLLUP_SINKS),
        "operators.rollup.digest_1m_s", "operators.rollup.cascade_s",
        "operators.rollup.shuffle_bytes",
        "operators.gapfill.s", "operators.gapfill.densify_ratio",
        "operators.smooth.s", "operators.payload.encode_s",
        "operators.payload.segments", "operators.payload.bytes_per_point",
        "functions.codec.encode_us_per_point",
        "functions.codec.decode_us_per_point",
    ],
    "late_repair": [
        *(f"plans.table_format.{v}.jobs" for v in layers.LATE_VERBS),
        "plans.table_format.merge_replace_keys.carry_ratio",
        "plans.table_format.delete_where.carry_ratio",
        "plans.late_data.self_s", "plans.late_data.jobs",
        "plans.late_data.affected_rows",
        "plans.retention.self_s", "plans.retention.rows_dropped",
        "operators.rollup.plain_s",
    ],
    "curate_corpus": [
        "operators.dedup.signatures_s", "operators.dedup.pairs_s",
        "operators.dedup.pairs", "operators.dedup.screen_yield",
        "operators.dedup.cc_s", "operators.dedup.cc_jobs",
        "functions.text.trigram_s", "functions.text.trigrams",
    ],
}
# one layer each workload bypasses (zero in its traced run)
BYPASSED = {
    "rollup_full": ["operators.dedup.cc_jobs", "plans.late_data.jobs"],
    "late_repair": ["plans.pipeline.jobs", "operators.gapfill.s",
                    "operators.dedup.cc_jobs"],
    "curate_corpus": ["plans.pipeline.jobs", "plans.late_data.jobs"],
}


def _run(workload: str, trace: int) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True,
    )


@pytest.fixture(scope="module")
def outputs() -> dict:
    """(workload, trace) -> (report, result), two runs at a time."""
    jobs = [(w, t) for t in (0, 1) for w in run.DESCRIPTORS]
    out = {}
    for i in range(0, len(jobs), 2):
        procs = {job: _run(*job) for job in jobs[i:i + 2]}
        for job, proc in procs.items():
            stdout, _ = proc.communicate(timeout=600)
            assert proc.returncode == 0, job
            lines = stdout.strip().splitlines()
            assert lines[-2].startswith("report ")
            out[job] = (json.loads(lines[-2][len("report "):]),
                        json.loads(lines[-1]))
    return out


def test_benchmark_json_matches_code():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    # curate_corpus runs by name but is not listed (see the README)
    assert [w["name"] for w in spec["workloads"]] == [
        w for w in run.DESCRIPTORS if w != "curate_corpus"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: u for k, (u, _) in run.END_TO_END.items()
    }
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == layers.PER_LAYER


@pytest.mark.parametrize("workload", list(run.DESCRIPTORS))
def test_end_to_end_metrics(outputs, workload):
    report, result = outputs[(workload, 0)]
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.END_TO_END)
    for name, m in result["metrics"].items():
        assert m["unit"] == run.END_TO_END[name][0]
        assert m["value"] > 0, name
    for name in NAMED[workload]:
        assert (name in report["aliases"]
                or report["metrics"][name]["unit"]), name
    assert set(report["aliases"].values()) == {"op_s", "op2_s"}
    assert report["metrics"]["ops.failed_share"]["value"] == 0
    assert report["metrics"]["peak_rss_mb"]["value"] > 0
    stamp = report["run"]
    assert stamp["seed"] == 3 and stamp["host"]["master"] == "local[4]"
    assert set(stamp["versions"]) == {"spark", "python", "pyarrow", "numpy"}


@pytest.mark.parametrize("workload", list(run.DESCRIPTORS))
def test_traced_run_emits_every_layer(outputs, workload):
    report, result = outputs[(workload, 1)]
    assert result["correct"]
    assert set(result["metrics"]) == {name for name, _, _ in layers.PER_LAYER}
    for name in HEAVY[workload]:
        assert result["metrics"][name]["value"] > 0, name
    for name in BYPASSED[workload]:
        assert result["metrics"][name]["value"] == 0, name
    assert "trace_overhead_share" in report
    if workload == "rollup_full":
        acc = report["pipeline_accounting"]
        assert acc["children_union_s"] > 0
        assert acc["self_s"] + acc["children_union_s"] == pytest.approx(
            acc["span_s"], abs=1e-6)


# -- correctness checks against corrupted outputs -----------------------------
def test_frames_equal_catches_one_flipped_float():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, float("nan"), 2.0]})
    assert W.frames_equal(a, a.copy(), ("k",))
    b = a.copy()
    b.loc[2, "v"] = 2.0000000000000004  # one ulp
    assert not W.frames_equal(a, b, ("k",))


def test_union_find_catches_one_relabelled_cluster():
    pairs = [(0, 5), (1, 2), (2, 3), (3, 5)]
    labels = W.union_find_labels(pairs)
    assert set(labels.values()) == {0}
    assert {**labels, 2: 1} != labels


def test_tail_label():
    assert W.tail([1.0, 2.0]) == (2.0, "max of n=2")
    xs = [float(i) for i in range(1, 21)]
    assert W.tail(xs) == (10.0, "p50.0 of n=20")


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT), str(BENCH)])
    os.environ["SPARK_GRAFT_CPUS"] = str(W.CORES)
    from ecov003_l2t_stars_spark.session import get_spark

    s = get_spark(app_name="benchmark-tests", master=f"local[{W.CORES}]",
                  extra_conf={"spark.driver.memory": "2g"})
    yield s
    s.stop()


def test_rollup_check_counts_a_flipped_latency_sum(spark, tmp_path,
                                                   monkeypatch):
    from pyspark.sql import functions as F

    wl = W.RollupFull(spark, tmp_path, 3, W.SIZES["tiny"])
    wl.setup()
    ops = W.Ops()
    wl.cycle(ops)
    assert ops.failed == 0
    tier = wl._tier

    def corrupted(name):
        df = tier(name)
        first = df.orderBy("conv_id", "bucket_start").first()
        hit = (F.col("conv_id") == first.conv_id) & (
            F.col("bucket_start") == first.bucket_start)
        return df.withColumn(
            "latency_sum",
            F.when(hit, F.coalesce("latency_sum", F.lit(0.0)) + 1.0)
            .otherwise(F.col("latency_sum")),
        )

    monkeypatch.setattr(wl, "_tier", corrupted)
    wl.check(ops)
    assert ops.checks == {
        "tier n_turns == rows_processed": True,
        "rollup_1m == plain recompute": False,
        "decode(payload_1m) == latency_sum": False,
    }
    assert ops.failed == 2 and ops.failed / ops.attempted > 0


def test_curate_check_counts_a_relabelled_cluster(spark, tmp_path,
                                                  monkeypatch):
    from pyspark.sql import functions as F

    from ecov003_l2t_stars_spark.operators import dedup

    wl = W.CurateCorpus(spark, tmp_path, 3, W.SIZES["tiny"])
    wl.setup()
    ops = W.Ops()
    wl.check(ops)
    assert ops.failed == 0
    clusters = dedup.dup_clusters

    def relabel(pairs, *args, **kwargs):
        out = clusters(pairs, *args, **kwargs)
        top = out.agg(F.max("doc_id")).first()[0]
        return out.withColumn(
            "cluster_id",
            F.when(F.col("doc_id") == top, F.lit(-1))
            .otherwise(F.col("cluster_id")),
        )

    monkeypatch.setattr(dedup, "dup_clusters", relabel)
    ops = W.Ops()
    wl.check(ops)
    assert ops.checks["dup_clusters == union-find"] is False
    assert ops.failed >= 1 and ops.failed / ops.attempted > 0


def test_late_check_counts_a_flipped_latency_sum(spark, tmp_path,
                                                 monkeypatch):
    from pyspark.sql import functions as F

    wl = W.LateRepair(spark, tmp_path, 3, W.SIZES["tiny"])
    wl.setup()
    ops = W.Ops()
    wl.cycle(ops)
    wl.check(ops)
    assert ops.failed == 0
    read_tier = wl.inc.read_tier

    def corrupted(tier):
        df = read_tier(tier)
        top = df.agg(F.max("conv_id")).first()[0]
        return df.withColumn(
            "latency_sum",
            F.when(F.col("conv_id") == top,
                   F.coalesce("latency_sum", F.lit(0.0)) + 1.0)
            .otherwise(F.col("latency_sum")),
        )

    monkeypatch.setattr(wl.inc, "read_tier", corrupted)
    ops = W.Ops()
    wl.check(ops)
    assert ops.failed == 2 and ops.failed / ops.attempted > 0

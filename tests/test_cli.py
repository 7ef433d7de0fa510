"""CLI smoke tests for the batch jobs (subprocess — own JVM)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_rollup_cli_gate_requires_sources():
    """--gate-manifest without --required-sources fails FAST (argparse
    error before any JVM boots — exit code 2, no Spark banner)."""
    r = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "rollup.py"),
         "--input", "/nonexistent", "--output", "/tmp/x",
         "--gate-manifest", "/tmp/m"],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 2
    assert "required-sources" in r.stderr
    assert "SparkSession" not in r.stderr  # validated pre-JVM


def test_rollup_cli_rejects_misordered_tiers():
    """--tiers must run fine to coarse; rejected before any JVM boots."""
    r = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "rollup.py"),
         "--input", "/nonexistent", "--output", "/tmp/x",
         "--tiers", "1d,1h"],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 2
    assert "fine to coarse" in r.stderr
    assert "SparkSession" not in r.stderr


def test_rollup_cli_end_to_end(tmp_path):
    """The full CLI on a tiny generated input: runs, writes tiers,
    prints the metrics JSON line."""
    from ecov003_l2t_stars_spark.sources.transcripts import (
        GenSpec,
        write_transcripts_parquet,
    )

    inp = tmp_path / "turns.parquet"
    write_transcripts_parquet(str(inp), GenSpec(n_convs=40))
    out = tmp_path / "tiers"
    r = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "rollup.py"),
         "--input", str(inp), "--output", str(out),
         "--n-buckets", "4", "--master", "local[4]",
         "--tiers", "1h,1d", "--smooth-tiers", "1h"],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    metrics = json.loads(r.stdout.strip().splitlines()[-1])
    assert metrics["buckets_processed"] == 4
    assert metrics["rows_processed"] > 0
    assert (out / "rollup_1h").exists()
    assert (out / "rollup_1d").exists()
    assert (out / "checkpoints").exists()


def test_ingest_cli_ingest_compact_backlog(tmp_path):
    """The ingestion CLI end to end on a temporary manifest dir:
    ``ingest`` registers a batch, ``compact`` prints each bookkeeping
    table's row count (and takes no file-count flag), ``backlog``
    classifies every manifested bucket."""
    from ecov003_l2t_stars_spark.sources.transcripts import (
        GenSpec,
        write_transcripts_parquet,
    )

    cli = [sys.executable, str(REPO / "jobs" / "ingest.py")]
    mdir = str(tmp_path / "m")
    r = subprocess.run(
        cli + ["compact", "--manifest", mdir, "--target-files", "2"],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 2
    assert "--target-files" in r.stderr
    assert "SparkSession" not in r.stderr  # rejected pre-JVM

    inp = tmp_path / "turns.parquet"
    write_transcripts_parquet(str(inp), GenSpec(n_convs=40))

    def run(*args):
        r = subprocess.run(
            cli + ["--master", "local[2]", *args],
            capture_output=True, text=True, timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(r.stdout.strip().splitlines()[-1])

    ing = run("ingest", "--batch", str(inp), "--manifest", mdir,
              "--source", "alpha", "--batch-id", "b1", "--n-buckets", "4")
    assert not ing["skipped"] and ing["buckets"] == 4
    assert run("compact", "--manifest", mdir) == {
        "manifest": 4, "attempts": 0,
    }
    rows = run("backlog", "--manifest", mdir, "--output",
               str(tmp_path / "out"), "--job-id", "j",
               "--required-sources", "alpha", "--as-of",
               "2025-02-01T00:00:00")
    assert sorted(r["conv_bucket"] for r in rows) == [0, 1, 2, 3]
    assert {r["status"] for r in rows} == {"processable"}
    assert sum(r["rows_ingested"] for r in rows) == ing["rows_ingested"]

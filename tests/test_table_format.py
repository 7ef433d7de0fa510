"""Table-format contract: ParquetFormat == snapshot-isolated in-memory
reference.

Converts the "on Iceberg this becomes X" design claims into executed
contracts (VERDICT r2 #2): the verbs, snapshot history and time travel
behave identically under both implementations, and the engine plans
built on them (retention expiry, late-data MERGE repair, the rollup
pipeline's partition overwrite + resume) produce identical tables
either way.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark.plans.table_format import (
    CommitConflictError,
    InMemoryFormat,
    ParquetFormat,
)

T0 = dt.datetime(2025, 1, 1)


def _rows_of(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(
        tuple(r[c] for c in cols)
        for r in df.select(*cols).collect()
    )


@pytest.fixture()
def formats(tmp_path):
    # in-memory keys use the same Path arithmetic as parquet paths so
    # plan code computing str(Path(base) / name) hits the same key
    return [
        (ParquetFormat(), lambda name: str(tmp_path / "pq" / name)),
        (InMemoryFormat(), lambda name: str(tmp_path / "mem" / name)),
    ]


def _seed(spark, k=0):
    return spark.createDataFrame(
        [(f"c{i}", i % 3, float(i) + k) for i in range(9)],
        "key string, part int, val double",
    )


def test_overwrite_partitions_contract(spark, formats):
    """Only partitions present in the written df are replaced."""
    results = []
    for fmt, path_of in formats:
        p = path_of("t1")
        fmt.overwrite_partitions(_seed(spark), p, "part")
        # rewrite ONLY partition 1 with new values
        repl = spark.createDataFrame(
            [("x1", 1, 100.0), ("x2", 1, 200.0)],
            "key string, part int, val double",
        )
        fmt.overwrite_partitions(repl, p, "part")
        results.append(_rows_of(fmt.read(spark, p)))
    assert results[0] == results[1]
    # partitions 0 and 2 survived; partition 1 fully replaced
    parts = {r[1] for r in results[0]}
    assert parts == {0, 1, 2}
    assert [r for r in results[0] if r[1] == 1] == [
        ("x1", 1, 100.0), ("x2", 1, 200.0)]


def test_delete_where_contract(spark, formats):
    """Predicate delete, including partitions deleted to zero rows."""
    results = []
    for fmt, path_of in formats:
        p = path_of("t2")
        fmt.overwrite_partitions(_seed(spark), p, "part")
        # part 0 = keys c0,c3,c6 (vals 0,3,6) → val<=6 kills ALL of part 0
        n = fmt.delete_where(
            spark, p, (F.col("val") % 3 == 0) & (F.col("val") <= 6), "part"
        )
        assert n == 3
        results.append(_rows_of(fmt.read(spark, p)))
        # missing table → 0, not an error
        assert fmt.delete_where(
            spark, path_of("absent"), F.lit(True), "part"
        ) == 0
    assert results[0] == results[1]
    assert all(r[1] != 0 for r in results[0])  # partition 0 is gone


def test_merge_replace_keys_contract(spark, formats):
    """Matched keys replaced (even changing row counts), others kept."""
    results = []
    for fmt, path_of in formats:
        p = path_of("t3")
        fmt.merge_replace_keys(
            spark, p, _seed(spark),
            spark.createDataFrame([("c0",)], "key string"),
            key_col="key", partition_col="part",
        )  # first merge on a missing table = plain write
        new = spark.createDataFrame(
            [("c1", 1, 11.0), ("c1", 1, 12.0), ("c2", 2, 22.0)],
            "key string, part int, val double",
        )
        keys = spark.createDataFrame([("c1",), ("c2",)], "key string")
        fmt.merge_replace_keys(
            spark, p, new, keys, key_col="key", partition_col="part"
        )
        results.append(_rows_of(fmt.read(spark, p)))
    assert results[0] == results[1]
    got = {r[0]: [] for r in results[0]}
    for r in results[0]:
        got[r[0]].append(r[2])
    assert got["c1"] == [11.0, 12.0]  # replaced 1 row with 2
    assert got["c2"] == [22.0]
    assert got["c0"] == [0.0]  # untouched


def test_retention_contract_both_formats(spark, formats):
    """enforce_retention drops the same rows under both formats,
    including a conv_bucket expired to zero rows."""
    from ecov003_l2t_stars_spark.plans.retention import (
        RetentionPolicy,
        enforce_retention,
    )

    m = dt.timedelta(minutes=1)
    old_end = T0 - dt.timedelta(days=30)  # past the 7-day cutoff
    tier_rows = [
        # conv_bucket 0 holds ONLY expired rows → must fully disappear
        ("a", old_end - m, old_end, 0),
        ("b", old_end - m, old_end, 0),
        ("c", old_end - m, old_end, 0),
        ("d", old_end - m, old_end, 1),
        ("e", old_end - m, old_end, 2),
        ("f", T0 - m, T0, 1),
        ("g", T0 - m, T0, 2),
        ("h", T0 - m, T0, 2),
    ]
    schema = ("conv_id string, bucket_start timestamp, "
              "bucket_end timestamp, conv_bucket int")
    policy = RetentionPolicy(keep={"1m": dt.timedelta(days=7),
                                   "1h": None, "1d": None, "30d": None})
    dropped, remaining = [], []
    for fmt, path_of in formats:
        base = path_of("ret")
        fmt.overwrite_partitions(
            spark.createDataFrame(tier_rows, schema),
            f"{base}/rollup_1m", "conv_bucket",
        )
        d = enforce_retention(spark, base, T0, policy=policy, fmt=fmt)
        dropped.append(d["1m"])
        remaining.append(_rows_of(fmt.read(spark, f"{base}/rollup_1m")))
    assert dropped[0] == dropped[1] > 0
    assert remaining[0] == remaining[1]
    assert all(r[3] != 0 for r in remaining[0])  # bucket 0 fully expired


def test_late_data_repair_contract_both_formats(spark, formats):
    """IncrementalRollup (MERGE repair) yields identical tier tables
    under both formats, and both equal the full recompute."""
    from ecov003_l2t_stars_spark.operators.rollup import (
        normalize,
        rollup_tier,
        with_latency,
    )
    from ecov003_l2t_stars_spark.plans.late_data import IncrementalRollup
    from ecov003_l2t_stars_spark.sources.transcripts import (
        GenSpec,
        generate_transcripts,
    )

    pdf = generate_transcripts(GenSpec(n_convs=40))
    rng = np.random.default_rng(11)
    late = rng.random(len(pdf)) < 0.05
    b1, b2 = spark.createDataFrame(pdf[~late]), spark.createDataFrame(pdf[late])

    outs = []
    for fmt, path_of in formats:
        inc = IncrementalRollup(
            spark, path_of("inc"), tiers=("1h",), n_buckets=4, fmt=fmt
        )
        inc.update(b1)
        inc.update(b2)
        outs.append(_rows_of(inc.read_tier("1h").drop("conv_bucket")))
    assert outs[0] == outs[1]
    full = rollup_tier(
        with_latency(normalize(spark.createDataFrame(pdf))), "1h"
    )
    assert outs[0] == _rows_of(full)


def test_pipeline_contract_in_memory(spark, tmp_path, formats):
    """RollupJob writes + resume behave identically under the in-memory
    snapshot format: same tier rows as the parquet run, and a second
    run() is a checkpointed no-op."""
    from ecov003_l2t_stars_spark.plans.pipeline import (
        RollupConfig,
        RollupJob,
    )
    from ecov003_l2t_stars_spark.sources.transcripts import (
        GenSpec,
        generate_transcripts,
    )

    pdf = generate_transcripts(GenSpec(n_convs=30))
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(pdf).write.parquet(src)

    tiers = ("1m", "1h")
    outs = []
    for fmt, path_of in formats:
        cfg = RollupConfig(
            input_path=src, output_dir=path_of("job"),
            tiers=tiers, n_buckets=4, job_id="contract",
        )
        job = RollupJob(spark, cfg, fmt=fmt)
        m1 = job.run()
        assert m1["buckets_processed"] == 4
        m2 = job.run()  # resume: everything checkpointed
        assert m2["buckets_processed"] == 0
        outs.append({
            t: _rows_of(
                fmt.read(spark, path_of("job") + f"/rollup_{t}")
                .drop("conv_bucket")
            )
            for t in tiers
        })
    assert outs[0] == outs[1]


def test_time_travel_reads_historical_snapshot(spark, formats):
    """Every write verb advances the snapshot id; read_as_of resolves
    each historical state bit-for-bit while read() sees the latest."""
    for fmt, path_of in formats:
        p = path_of("tt")
        fmt.overwrite_partitions(_seed(spark), p, "part")       # v0
        repl = spark.createDataFrame(
            [("x1", 1, 100.0)], "key string, part int, val double"
        )
        fmt.overwrite_partitions(repl, p, "part")               # v1
        fmt.delete_where(spark, p, F.col("val") > 50.0, "part")  # v2
        assert fmt.snapshots(spark, p) == [0, 1, 2]
        assert fmt.current_snapshot(spark, p) == 2
        v0 = _rows_of(fmt.read_as_of(spark, p, 0))
        assert v0 == _rows_of(_seed(spark))
        v1 = _rows_of(fmt.read_as_of(spark, p, 1))
        assert [r for r in v1 if r[1] == 1] == [("x1", 1, 100.0)]
        assert _rows_of(fmt.read(spark, p)) == _rows_of(
            fmt.read_as_of(spark, p, 2)
        )
        assert all(r[2] <= 50.0 for r in _rows_of(fmt.read(spark, p)))


def test_commit_conflict_detection(spark, formats):
    """A writer that started from a stale snapshot must fail its commit
    (optimistic concurrency), and the table keeps the other writer's
    result."""
    for fmt, path_of in formats:
        p = path_of("cc")
        fmt.overwrite_partitions(_seed(spark), p, "part")  # v0
        base = fmt.current_snapshot(spark, p)
        w1 = spark.createDataFrame(
            [("w1", 1, 1.0)], "key string, part int, val double"
        )
        w2 = spark.createDataFrame(
            [("w2", 1, 2.0)], "key string, part int, val double"
        )
        fmt.overwrite_partitions(w1, p, "part", expected_snapshot=base)
        with pytest.raises(CommitConflictError):
            fmt.overwrite_partitions(w2, p, "part", expected_snapshot=base)
        vals = {r[0] for r in _rows_of(fmt.read(spark, p)) if r[1] == 1}
        assert vals == {"w1"}


def test_commit_keeps_a_racing_append(spark, tmp_path, monkeypatch):
    """A commit publishes on top of the snapshot its file set was
    computed from. An append that lands while another append is staging
    survives (the staging append re-reads the head and publishes on top
    of it); a delete_where whose partition rewrite races an append
    raises CommitConflictError and leaves the appended rows in place."""
    schema = "key string, part int, val double"
    fmt = ParquetFormat()
    p = str(tmp_path / "race")
    fmt.overwrite_partitions(_seed(spark), p, "part")  # v0
    seed = _rows_of(fmt.read(spark, p))
    staged_write = fmt._staged_write
    racers = []

    def stage_then_race(path, writer):
        moved = staged_write(path, writer)
        if racers:
            fmt.append(racers.pop(), path)
        return moved

    monkeypatch.setattr(fmt, "_staged_write", stage_then_race)

    racers.append(spark.createDataFrame([("r1", 1, 10.0)], schema))
    fmt.append(spark.createDataFrame([("a1", 2, 20.0)], schema), p)
    assert not racers
    assert _rows_of(fmt.read(spark, p)) == sorted(
        seed + [("r1", 1, 10.0), ("a1", 2, 20.0)]
    )
    assert fmt.snapshots(spark, p) == [0, 1, 2]

    before = _rows_of(fmt.read(spark, p))
    racers.append(spark.createDataFrame([("r2", 1, 30.0)], schema))
    with pytest.raises(CommitConflictError):
        fmt.delete_where(spark, p, F.col("key") == "c1", "part")
    assert not racers
    assert _rows_of(fmt.read(spark, p)) == sorted(
        before + [("r2", 1, 30.0)]
    )
    assert fmt.snapshots(spark, p) == [0, 1, 2, 3]
    # the losing delete unlinked the files it had moved in: every file
    # on disk is named by a manifest
    assert fmt._list_files(p) == {
        f for sid in fmt.snapshots(spark, p) for f in fmt._load(p, sid)["files"]
    }


def test_stale_commit_fails_before_it_writes(spark, tmp_path, monkeypatch):
    """A writer whose ``expected_snapshot`` is stale on entry raises
    before it stages: the rewrite (and an append) runs no Spark job and
    leaves no file. A writer that loses the publish race after staging
    unlinks the part files it moved in, so no orphan is left."""
    fmt = ParquetFormat()
    p = str(tmp_path / "stale")
    fmt.append(_seed(spark), p)  # v0
    fmt.append(_seed(spark, 1), p)  # v1
    rows = _rows_of(fmt.read(spark, p))

    def on_disk():
        return {str(f) for f in Path(p).rglob("*") if f.is_file()}

    def conflict(verb):
        with pytest.raises(CommitConflictError):
            verb()

    before = on_disk()
    for name, verb in [
        ("rewrite", lambda: fmt.rewrite(
            fmt.read(spark, p).where(F.col("val") >= 5.0), p,
            expected_snapshot=0)),
        ("append", lambda: fmt.append(_seed(spark, 2), p,
                                      expected_snapshot=0)),
    ]:
        _, jobs = _jobs_in_group(
            spark, f"stale-{name}", lambda verb=verb: conflict(verb)
        )
        assert jobs == [], name
        assert on_disk() == before, name
    assert fmt.snapshots(spark, p) == [0, 1]
    assert _rows_of(fmt.read(spark, p)) == rows
    # the control: the same rewrite at the current snapshot runs a job
    _, jobs = _jobs_in_group(spark, "fresh-rewrite", lambda: fmt.rewrite(
        fmt.read(spark, p).where(F.col("val") >= 5.0), p,
        expected_snapshot=1))
    assert jobs
    assert fmt.snapshots(spark, p) == [0, 1, 2]

    # lost publish races: a racing append lands after the loser staged
    staged_write = fmt._staged_write
    racers = []

    def stage_then_race(path, writer):
        moved = staged_write(path, writer)
        assert moved and all((Path(path) / f).exists() for f in moved)
        if racers:
            fmt.append(racers.pop(), path)
        return moved

    monkeypatch.setattr(fmt, "_staged_write", stage_then_race)
    for name, verb in [
        ("rewrite", lambda: fmt.rewrite(fmt.read(spark, p), p)),
        ("append", lambda: fmt.append(
            _seed(spark, 3), p,
            expected_snapshot=fmt.current_snapshot(spark, p))),
    ]:
        racers.append(_seed(spark, 4))
        conflict(verb)
        assert not racers, name
    monkeypatch.undo()
    named = {
        f for sid in fmt.snapshots(spark, p) for f in fmt._load(p, sid)["files"]
    }
    assert fmt._list_files(p) == named
    assert fmt.snapshots(spark, p) == [0, 1, 2, 3, 4]


def test_concurrent_appends_keep_every_row(spark, tmp_path):
    """More appending threads than cores on one table: every commit
    lands on top of the others (no lock in the writers), so no row is
    lost and each append is one snapshot."""
    from concurrent.futures import ThreadPoolExecutor

    fmt = ParquetFormat()
    p = str(tmp_path / "many")
    fmt.overwrite_partitions(_seed(spark), p, "part")  # v0
    n = 6
    batches = [
        spark.createDataFrame(
            [(f"t{i}", i % 3, float(i))], "key string, part int, val double"
        )
        for i in range(n)
    ]
    with ThreadPoolExecutor(max_workers=n) as pool:
        futures = [pool.submit(fmt.append, b, p) for b in batches]
        for f in futures:
            f.result(timeout=300)
    assert _rows_of(fmt.read(spark, p)) == sorted(
        _rows_of(_seed(spark)) + [(f"t{i}", i % 3, float(i)) for i in range(n)]
    )
    assert fmt.snapshots(spark, p) == list(range(n + 1))


def test_expire_snapshots_gc(spark, tmp_path):
    """File GC: expiring old manifests removes unreferenced data files
    but keeps the current snapshot intact."""
    fmt = ParquetFormat()
    p = str(tmp_path / "gc")
    fmt.overwrite_partitions(_seed(spark), p, "part")
    repl = spark.createDataFrame(
        [("x1", 1, 100.0)], "key string, part int, val double"
    )
    fmt.overwrite_partitions(repl, p, "part")
    before = _rows_of(fmt.read(spark, p))
    removed = fmt.expire_snapshots(p, keep_last=1)
    assert removed > 0
    assert fmt.snapshots(spark, p) == [1]
    assert _rows_of(fmt.read(spark, p)) == before
    with pytest.raises(FileNotFoundError):
        fmt.read_as_of(spark, p, 0)


@pytest.mark.parametrize("seed", [3, 11])
def test_formats_agree_under_random_programs(spark, tmp_path, seed):
    """Differential check against the InMemoryFormat reference: a
    random program of write verbs leaves ParquetFormat with the
    reference's current table after every step, and both end with
    identical snapshot histories and identical time-travel reads."""
    import random

    rng = random.Random(seed)
    fmts = [
        (ParquetFormat(), str(tmp_path / f"pq{seed}" / "t")),
        (InMemoryFormat(), str(tmp_path / f"mem{seed}" / "t")),
    ]

    def batch(k):
        rows = [
            (f"k{rng.randint(0, 12)}", rng.randint(0, 3),
             float(rng.randint(0, 99)))
            for _ in range(rng.randint(1, 6))
        ]
        # overwrite/merge need unique-ish keys per batch: dedup by key
        seen, out = set(), []
        for r in rows:
            if r[0] not in seen:
                seen.add(r[0])
                out.append(r)
        return spark.createDataFrame(
            out, "key string, part int, val double"
        )

    # partitioned tables are driven by the three partition-shaped verbs
    # (raw append targets FLAT state/bookkeeping tables in the engine —
    # appending unpartitioned files into a partitioned parquet layout is
    # ill-defined, so the contract does not mix them on one table)
    rng2 = random.Random(seed + 1)
    for step in range(10):
        op = rng2.choice(["overwrite", "delete", "merge"])
        df = batch(step)
        thresh = float(rng2.randint(0, 99))
        for fmt, path in fmts:
            if op == "overwrite":
                fmt.overwrite_partitions(df, path, "part")
            elif op == "delete":
                fmt.delete_where(
                    spark, path, F.col("val") >= thresh, "part"
                )
            else:
                fmt.merge_replace_keys(
                    spark, path, df, df.select("key"),
                    key_col="key", partition_col="part",
                )
        reads = [
            _rows_of(fmt.read(spark, path))
            if fmt.exists(spark, path) else []
            for fmt, path in fmts
        ]
        assert reads[0] == reads[1], f"diverged at step {step} ({op})"
    snaps = [fmt.snapshots(spark, path) for fmt, path in fmts]
    # delete_where on a missing/empty-match table commits no snapshot
    # in either format; histories must line up exactly
    assert snaps[0] == snaps[1]
    for sid in snaps[0]:
        a = _rows_of(fmts[0][0].read_as_of(spark, fmts[0][1], sid))
        b = _rows_of(fmts[1][0].read_as_of(spark, fmts[1][1], sid))
        assert a == b, f"time travel diverged at snapshot {sid}"


def test_formats_agree_append_only(spark, tmp_path):
    """Flat append-only tables (the state/bookkeeping shape): both
    formats agree step-by-step and across history."""
    fmts = [
        (ParquetFormat(), str(tmp_path / "pq_app" / "t")),
        (InMemoryFormat(), str(tmp_path / "mem_app" / "t")),
    ]
    for step in range(5):
        df = spark.createDataFrame(
            [(step, f"v{step}", float(step))], "i int, s string, v double"
        )
        for fmt, path in fmts:
            fmt.append(df, path)
        reads = [_rows_of(fmt.read(spark, path)) for fmt, path in fmts]
        assert reads[0] == reads[1]
    for sid in range(5):
        a = _rows_of(fmts[0][0].read_as_of(spark, fmts[0][1], sid))
        b = _rows_of(fmts[1][0].read_as_of(spark, fmts[1][1], sid))
        assert a == b and len(a) == sid + 1


def test_commit_never_sweeps_foreign_files(spark, tmp_path):
    """r4 ADVICE (medium): a commit's file set comes from its own
    staged write, never a directory diff — an uncommitted part file a
    racing writer left in the table dir must not enter this commit's
    manifest (phantom rows / retry duplicates)."""
    from pathlib import Path

    fmt = ParquetFormat()
    p = str(tmp_path / "race")
    fmt.overwrite_partitions(_seed(spark), p, "part")
    before = _rows_of(fmt.read(spark, p))

    # a racing writer's in-flight, not-yet-committed part file
    stray_dir = Path(p) / "part=1"
    spark.createDataFrame(
        [("ghost", 1, -1.0)], "key string, part int, val double"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "ghost"))
    ghost = next((tmp_path / "ghost").glob("*.parquet"))
    stray = stray_dir / "part-stray-racer.parquet"
    stray.write_bytes(ghost.read_bytes())

    extra = spark.createDataFrame(
        [("z9", 2, 9.0)], "key string, part int, val double"
    )
    fmt.append(extra, p)
    man = fmt._load(p, fmt.current_snapshot(spark, p))
    assert "part=1/part-stray-racer.parquet" not in man["files"]
    got = _rows_of(fmt.read(spark, p))
    assert got == sorted(before + [("z9", 2, 9.0)])
    assert ("ghost", 1, -1.0) not in got


def test_crash_before_publish_keeps_snapshot_and_unpublished_files(
    spark, tmp_path, monkeypatch,
):
    """A writer that dies after its staged files moved into the table
    but before its manifest is published leaves the previous snapshot
    readable and row-equal. Its moved files are orphans: no manifest
    has ever named them, so the GC keeps them at the default orphan TTL
    (a live writer may be about to publish them) and reaps them at
    ``orphan_ttl_s=0``."""
    fmt = ParquetFormat()
    p = str(tmp_path / "crash")
    fmt.overwrite_partitions(_seed(spark), p, "part")
    before = _rows_of(fmt.read(spark, p))
    published = fmt._list_files(p)

    def die(*args, **kwargs):
        raise RuntimeError("writer died before publish")

    monkeypatch.setattr(fmt, "_publish", die)
    repl = spark.createDataFrame(
        [("x1", 1, 100.0), ("x3", 3, 300.0)],
        "key string, part int, val double",
    )
    with pytest.raises(RuntimeError):
        fmt.overwrite_partitions(repl, p, "part")
    monkeypatch.undo()

    unpublished = fmt._list_files(p) - published
    assert unpublished  # the moves landed in the table dir
    assert fmt.snapshots(spark, p) == [0]
    assert _rows_of(fmt.read(spark, p)) == before
    assert fmt.expire_snapshots(p) == 0  # default TTL: kept
    assert all((Path(p) / f).exists() for f in unpublished)
    assert fmt.expire_snapshots(p, orphan_ttl_s=0.0) == len(unpublished)
    assert fmt._list_files(p) == published
    assert _rows_of(fmt.read(spark, p)) == before


def test_expire_snapshots_reaps_orphaned_staging(spark, tmp_path):
    """Crashed-writer staging dirs are reaped only past the TTL, so a
    live writer's in-flight staging survives the GC."""
    from pathlib import Path

    fmt = ParquetFormat()
    p = str(tmp_path / "orph")
    fmt.overwrite_partitions(_seed(spark), p, "part")
    stage = Path(p) / fmt.SNAPDIR / "stage" / "deadbeef"
    stage.mkdir(parents=True)
    (stage / "part-zombie.parquet").write_bytes(b"x")
    fmt.expire_snapshots(p, keep_last=1)  # default TTL: kept
    assert stage.exists()
    fmt.expire_snapshots(p, keep_last=1, orphan_ttl_s=0.0)
    assert not stage.exists()


def test_rewrite_contract(spark, formats):
    """Whole-table rewrite whose lineage reads the table being
    rewritten (the bookkeeping compaction's shape): the read completes
    against the old snapshot, and the result replaces the WHOLE table
    (old rows gone, layout readable)."""
    results = []
    for fmt, path_of in formats:
        p = path_of("rw")
        fmt.append(_seed(spark), p)  # unpartitioned, like the attempt log
        cur = fmt.read(spark, p)
        fmt.rewrite(cur.where(F.col("val") >= 5.0), p)
        results.append(_rows_of(fmt.read(spark, p)))
    assert results[0] == results[1]
    assert len(results[0]) == 4 and all(r[2] >= 5.0 for r in results[0])


def test_rewrite_keeps_snapshot_history(spark, tmp_path):
    """ParquetFormat.rewrite publishes a manifest holding ONLY the new
    files; the prior snapshot still time-travels."""
    fmt = ParquetFormat()
    p = str(tmp_path / "rwsnap")
    fmt.overwrite_partitions(_seed(spark), p, "part")
    sid = fmt.current_snapshot(spark, p)
    fmt.rewrite(fmt.read(spark, p).where(F.col("part") != 1), p)
    assert len(_rows_of(fmt.read(spark, p))) == 6
    assert len(_rows_of(fmt.read_as_of(spark, p, sid))) == 9
    man = fmt._load(p, fmt.current_snapshot(spark, p))
    old = set(fmt._load(p, sid)["files"])
    assert not (set(man["files"]) & old)  # full replacement, no reuse


def test_delete_where_null_predicate_contract(spark, formats):
    """r4 ADVICE: a row whose predicate evaluates NULL must get the
    same fate under both formats — kept when its partition holds no
    predicate-TRUE row (partition never rewritten), dropped when it
    does (~NULL filters it out of the rewrite)."""
    rows = [
        ("a", 0, 9.0), ("b", 0, None),   # part 0: TRUE row + NULL row
        ("c", 1, None), ("d", 1, 1.0),   # part 1: no TRUE row
    ]
    results = []
    for fmt, path_of in formats:
        p = path_of("nullpred")
        df = spark.createDataFrame(
            rows, "key string, part int, val double"
        )
        fmt.overwrite_partitions(df, p, "part")
        n = fmt.delete_where(spark, p, F.col("val") > 5.0, "part")
        assert n == 2  # the TRUE row and its NULL partition-mate
        results.append(_rows_of(fmt.read(spark, p)))
    assert results[0] == results[1]
    assert results[0] == [("c", 1, None), ("d", 1, 1.0)]


def test_parquet_verbs_ignore_static_session_mode(spark, tmp_path):
    """ParquetFormat stages every write in a fresh directory, so the
    session's overwrite mode cannot reach the table: with the session
    left in ``static`` mode, a MERGE and a DELETE that touch one
    partition leave every other partition's files and rows as they
    were."""
    key = "spark.sql.sources.partitionOverwriteMode"
    fmt = ParquetFormat()
    p = str(tmp_path / "static")

    def files(p) -> dict[str, dict[str, int]]:
        return {
            d.name: {f.name: f.stat().st_mtime_ns for f in d.iterdir()}
            for d in Path(p).iterdir() if d.is_dir()
        }

    def rows_outside(p, part):
        return [r for r in _rows_of(fmt.read(spark, p)) if r[1] != part]

    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        fmt.overwrite_partitions(_seed(spark), p, "part")
        before, kept = files(p), rows_outside(p, 1)
        fmt.merge_replace_keys(
            spark, p,
            spark.createDataFrame([("c1", 1, 11.0)],
                                  "key string, part int, val double"),
            spark.createDataFrame([("c1",)], "key string"),
            key_col="key", partition_col="part",
        )
        after = files(p)
        assert {d: after[d] for d in ("part=0", "part=2")} == {
            d: before[d] for d in ("part=0", "part=2")}
        assert rows_outside(p, 1) == kept
        assert sorted(r for r in _rows_of(fmt.read(spark, p))
                      if r[1] == 1) == [
            ("c1", 1, 11.0), ("c4", 1, 4.0), ("c7", 1, 7.0)]

        before, kept = after, rows_outside(p, 2)
        assert fmt.delete_where(spark, p, F.col("key") == "c2", "part") == 1
        after = files(p)
        assert {d: after[d] for d in ("part=0", "part=1")} == {
            d: before[d] for d in ("part=0", "part=1")}
        assert rows_outside(p, 2) == kept
        assert sorted(r for r in _rows_of(fmt.read(spark, p))
                      if r[1] == 2) == [("c5", 2, 5.0), ("c8", 2, 8.0)]
    finally:
        spark.conf.set(key, prev)


def _jobs_in_group(spark, group, thunk):
    """Run ``thunk`` under a fresh job group; returns (result, jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_read_takes_schema_from_manifest(spark, tmp_path):
    """A format read launches no Spark job (the manifest's schema
    replaces footer inference) and returns the inferring read's schema
    — names, order, types, nullability — and rows, on a partitioned and
    on a flat table."""
    df = spark.range(24).select(
        F.col("id").cast("string").alias("conv_id"),
        (F.col("id") % 3).cast("int").alias("conv_bucket"),
        F.timestamp_seconds(F.col("id") * 60).alias("bucket_start"),
        (F.col("id") * 0.5).alias("value"),
        F.array(F.col("id"), F.lit(None).cast("long")).alias("arr"),
        F.col("id").cast("short").alias("small"),
        F.struct(F.col("id").alias("a")).alias("st"),
    )
    # non-nullable fields in the written schema: the read must still
    # come back nullable, as an inferring parquet read does
    df = spark.createDataFrame(df.rdd, df.schema)
    fmt = ParquetFormat()
    part, flat = str(tmp_path / "part"), str(tmp_path / "flat")
    fmt.overwrite_partitions(df, part, "conv_bucket")
    fmt.append(df, flat)
    for path in (part, flat):
        _, head = fmt._head(path)
        files = [str(Path(path) / f) for f in head["files"]]
        inferred, jobs = _jobs_in_group(
            spark, f"infer-{Path(path).name}",
            lambda: spark.read.option("basePath", path).parquet(*files),
        )
        assert jobs, "the job-group count must see the inference job"
        got, jobs = _jobs_in_group(
            spark, f"read-{Path(path).name}", lambda: fmt.read(spark, path)
        )
        assert jobs == []
        assert got.schema == inferred.schema
        assert [(f.name, f.dataType, f.nullable) for f in got.schema] == [
            (f.name, f.dataType, f.nullable) for f in inferred.schema
        ]
        assert _rows_of(got) == _rows_of(inferred)
        as_of, jobs = _jobs_in_group(
            spark, f"as-of-{Path(path).name}",
            lambda: fmt.read_as_of(spark, path, 0),
        )
        assert jobs == [] and as_of.schema == inferred.schema

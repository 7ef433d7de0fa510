"""The workloads. Each drives the engine's public entry points from one
Spark session in a closed loop: one client, the next operation is sent
only after the previous one returns.

A workload has:

- ``setup()``: generate the seeded inputs and run the untimed warm-up;
- ``cycle(ops)``: one closed-loop cycle of timed operations;
- ``check(ops)``: correctness checks, untimed, after the timed loop;
- ``report(ops)``: the workload's named metrics other than the two
  operation medians;
- traced runs only: ``probes(probe)`` after the timed loop, which time
  single public functions on this run's own data (see ``Probe``).

Every workload times a primary and a secondary operation; their medians
are the end-to-end ``op_s`` and ``op2_s``. ``ops`` maps each operation
to the workload's own name for its median.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs
from ecov003_l2t_stars_spark.operators.rollup import (
    normalize,
    rollup_tier,
    with_latency,
)
from ecov003_l2t_stars_spark.plans import retention
from ecov003_l2t_stars_spark.plans.late_data import IncrementalRollup
from ecov003_l2t_stars_spark.plans.pipeline import RollupConfig, RollupJob

TIERS = ("1m", "1h", "1d", "30d")
# one local[CORES] session; tier tables get one conv bucket per core
CORES = 4
RAW_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

# input sizes: the benchmark's own, and the tiny ones its tests use
SIZES = {
    "full": {"rollup_convs": 2000, "hot_convs": 2, "late_convs": 2000,
             "late_batches": 12, "batch_convs": 50, "docs": 5000},
    "tiny": {"rollup_convs": 200, "hot_convs": 0, "late_convs": 200,
             "late_batches": 7, "batch_convs": 10, "docs": 400},
}
# decodes per rollup rep: a decode is short, so one sample per rep
# would leave its median at the mercy of a single scheduling hiccup
DECODES = 5


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list) -> tuple[float, str]:
    """The highest percentile with at least 10 samples beyond it, and
    its label. With 10 samples or fewer there is none; the maximum is
    reported instead and labelled with the sample count."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return (s[-1] if s else 0.0), f"max of n={n}"
    k = n - 11  # index with exactly 10 samples above it
    return s[k], f"p{100.0 * (k + 1) / n:.1f} of n={n}"


class Ops:
    """Closed-loop operation recorder: samples per operation name plus
    attempted/failed counts. A failed or incorrect operation counts
    toward ``failed``; correctness checks count as operations too."""

    def __init__(self, tracer=None) -> None:
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.tracer = tracer

    def time(self, name: str, fn, span: str | None = None):
        """Run ``fn`` as one timed operation. ``span`` opens a root
        span around it in traced runs (for operations whose entry point
        is not wrapped by the tracer itself)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.tracer is not None and span is not None:
                with self.tracer.span(span):
                    out = fn()
            else:
                out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        self.samples.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        if not ok:
            print(f"correctness check failed: {name}", file=sys.stderr)

    def guarded_check(self, name: str, fn) -> None:
        try:
            ok = bool(fn())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        self.check(name, ok)


def frames_equal(expected: pd.DataFrame, got: pd.DataFrame,
                 keys: tuple[str, ...]) -> bool:
    """Exact equality of two tables, row order ignored: same rows, same
    columns, floats compared bit-for-bit (NaN equals NaN)."""
    if sorted(expected.columns) != sorted(got.columns) or len(expected) != len(got):
        return False
    cols = list(expected.columns)
    e = expected[cols].sort_values(list(keys)).reset_index(drop=True)
    g = got[cols].sort_values(list(keys)).reset_index(drop=True)
    for c in cols:
        a, b = e[c].to_numpy(), g[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a64, b64 = a.astype(np.float64), b.astype(np.float64)
            if not np.array_equal(
                a64.view(np.int64)[~np.isnan(a64)],
                b64.view(np.int64)[~np.isnan(b64)],
            ) or not np.array_equal(np.isnan(a64), np.isnan(b64)):
                return False
        elif not (e[c].isna().equals(g[c].isna())
                  and (e[c].dropna() == g[c].dropna()).all()):
            return False
    return True


def union_find_labels(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """node -> min node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


def tree_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def file_state(path: Path) -> dict:
    return {
        str(p): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in path.rglob("*") if p.is_file()
    }


def written_since(before: dict, path: Path, under: str = "") -> int:
    """Bytes of files under ``path`` (optionally only those whose path
    contains ``under``) that are new or rewritten since ``before``."""
    return sum(
        st[0] for f, st in file_state(path).items()
        if before.get(f) != st and under in f
    )


class Probe:
    """Times one public function on this run's own data: the input is
    persisted and materialised first, the output goes to a noop sink,
    and the cache is cleared afterwards. Each probe is a root span
    named ``probe.<name>`` so the event log attributes its jobs."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seconds: dict[str, float] = {}

    def __call__(self, name: str, inp, make_out) -> None:
        self.spark.catalog.clearCache()
        inp = inp.persist()
        inp.count()
        with self.tracer.span(f"probe.{name}"):
            t0 = time.perf_counter()
            noop(make_out(inp))
            self.seconds[name] = time.perf_counter() - t0
        inp.unpersist()
        self.spark.catalog.clearCache()


class Workload:
    name = ""
    # {primary op: its metric name, secondary op: its metric name}
    ops: dict[str, str] = {}
    # True once the seeded input has no operation left to run
    exhausted = False
    # cycles the timed loop runs even when --seconds is up sooner, so
    # that each median has enough samples
    min_cycles = 1

    def __init__(self, spark, work: Path, seed: int, sizes: dict) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.extra: dict = {}  # counts the per-layer metrics need
        self.phases: dict[str, float] = {}  # set-up steps, seconds
        self._t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the time since the previous phase mark as ``name``."""
        now = time.perf_counter()
        self.phases[name] = now - self._t
        self._t = now


class RollupFull(Workload):
    """``RollupJob.run`` over all four tiers into a fresh output dir,
    then ``decode_payloads`` over the 1m payload table it wrote."""

    name = "rollup_full"
    ops = {"rollup": "rollup_full.run_s", "decode": "rollup_full.decode_s"}

    def setup(self) -> None:
        self.raw = str(self.work / "transcripts.parquet")
        pdf = inputs.transcripts(self.sizes["rollup_convs"], self.seed,
                                 self.sizes["hot_convs"])
        inputs.write_transcripts(self.raw, pdf)
        self.turns = len(pdf)
        self.rep = 0
        self.out: Path | None = None
        self.stored_bytes: list[int] = []
        self.points = 0
        self.phase("inputs_s")
        # untimed JIT warm-up (CLAUDE.md rule 23): the first pipeline run
        # in a JVM pays HotSpot compilation of the big codegen stages.
        # A smaller warm-up input takes as long and leaves later reps
        # still warming.
        warm = self.work / "warmup"
        self._run(warm)
        self._decode(warm)
        shutil.rmtree(warm)
        self.phase("warmup_s")

    def _run(self, out: Path) -> dict:
        cfg = RollupConfig(
            input_path=self.raw, output_dir=str(out),
            n_buckets=CORES, job_id="bench",
        )
        return RollupJob(self.spark, cfg).run()

    def _decode(self, out: Path) -> None:
        from ecov003_l2t_stars_spark.operators.payload import decode_payloads

        noop(decode_payloads(self.spark.read.parquet(str(out / "payload_1m"))))

    def cycle(self, ops: Ops) -> None:
        if self.out is not None:
            shutil.rmtree(self.out)
        self.rep += 1
        out = self.out = self.work / f"out{self.rep}"
        self.spark.catalog.clearCache()
        metrics = ops.time("rollup", lambda: self._run(out))
        for _ in range(DECODES):
            ops.time("decode", lambda: self._decode(out), span="op.decode")
        if metrics is None:
            return
        self.rows = metrics["rows_processed"]
        # per tier: (summed n_turns, rows), one job each
        tiers = [
            self.spark.read.parquet(str(out / f"rollup_{t}"))
            .agg(F.sum("n_turns"), F.count(F.lit(1))).first()
            for t in TIERS
        ]
        ops.check("tier n_turns == rows_processed",
                  all(n == self.rows for n, _ in tiers))
        self.stored_bytes.append(sum(
            tree_bytes(out / d) for d in os.listdir(out)
            if d.startswith(("rollup_", "payload_", "checkpoints"))
        ))
        self.points = sum(rows for _, rows in tiers)

    def _tier(self, tier: str):
        return (
            self.spark.read.parquet(str(self.out / f"rollup_{tier}"))
            .drop("conv_bucket")
        )

    def check(self, ops: Ops) -> None:
        from ecov003_l2t_stars_spark.operators.payload import decode_payloads

        if self.out is None:
            return
        raw = self.spark.read.parquet(self.raw)
        expected = rollup_tier(with_latency(normalize(raw)), "1m")

        def recompute():
            got = self._tier("1m").select(*expected.columns)
            return frames_equal(expected.toPandas(), got.toPandas(),
                                ("conv_id", "bucket_start"))

        def roundtrip():
            dec = decode_payloads(
                self.spark.read.parquet(str(self.out / "payload_1m"))
            ).select("conv_id", "bucket_start",
                     F.col("value").alias("latency_sum"))
            got = self._tier("1m").select("conv_id", "bucket_start",
                                          "latency_sum")
            return frames_equal(got.toPandas(), dec.toPandas(),
                                ("conv_id", "bucket_start"))

        ops.guarded_check("rollup_1m == plain recompute", recompute)
        ops.guarded_check("decode(payload_1m) == latency_sum", roundtrip)

    def report(self, ops: Ops) -> dict:
        run_s = median(ops.samples.get("rollup", []))
        return {
            "rollup_full.points_per_s": (
                self.points / run_s if run_s else 0.0, "points/s"),
            "rollup_full.stored_bytes_per_turn": (
                median(self.stored_bytes) / self.turns, "B/turn"),
            "rollup_full.turns": (self.turns, "turns"),
        }

    def probes(self, probe: Probe) -> None:
        from ecov003_l2t_stars_spark.functions import codec
        from ecov003_l2t_stars_spark.operators.gapfill import gap_fill
        from ecov003_l2t_stars_spark.operators.payload import encode_payloads
        from ecov003_l2t_stars_spark.operators.rollup import (
            cascade_with_digest,
            rollup_tier_with_digest,
        )
        from ecov003_l2t_stars_spark.operators.smooth import smooth_tier

        spark = self.spark
        raw = spark.read.parquet(self.raw).select(
            "conv_id", "turn_idx", "role", "ts"
        )
        probe("operators.rollup.digest_1m", raw, lambda d: (
            rollup_tier_with_digest(with_latency(normalize(d)), "1m")
        ))

        def lat():
            return with_latency(normalize(raw))

        probe("operators.rollup.cascade",
              rollup_tier_with_digest(lat(), "1m"),
              lambda d: cascade_with_digest(
                  cascade_with_digest(cascade_with_digest(d, "1h"), "1d"),
                  "30d"))
        probe("operators.gapfill", rollup_tier(lat(), "1h"),
              lambda d: gap_fill(d, "1h"))
        t1h = rollup_tier(lat(), "1h")
        self.extra["densify_ratio"] = gap_fill(t1h, "1h").count() / t1h.count()
        probe("operators.smooth", gap_fill(rollup_tier(lat(), "1h"), "1h"),
              lambda d: smooth_tier(d, "1h"))
        t1m = rollup_tier(lat(), "1m")
        probe("operators.payload.encode", t1m,
              lambda d: encode_payloads(d, "1m", "latency_sum"))
        seg = encode_payloads(t1m, "1m", "latency_sum").agg(
            F.count(F.lit(1)).alias("segments"),
            F.sum("n_points").alias("points"),
            F.sum(F.length("payload")).alias("bytes"),
        ).first()
        self.extra["segments"] = seg["segments"]
        self.extra["bytes_per_point"] = seg["bytes"] / seg["points"]

        # driver-side codec kernels over a sample of this run's 1m series
        sample = (
            t1m.select("conv_id", "bucket_start", "latency_sum")
            .where(F.xxhash64("conv_id") % 8 == 0)
            .toPandas()
            .sort_values(["conv_id", "bucket_start"])
        )
        series = [
            (g["bucket_start"].to_numpy().astype("datetime64[us]")
             .view("int64"), g["latency_sum"].to_numpy(dtype=np.float64))
            for _, g in sample.groupby("conv_id", sort=False)
        ]
        n_points = sum(len(ts) for ts, _ in series)
        enc_s, reps = 0.0, 0
        while enc_s < 0.2:
            t0 = time.perf_counter()
            payloads = [codec.encode_segment(ts, v) for ts, v in series]
            enc_s += time.perf_counter() - t0
            reps += 1
        self.extra["encode_us_per_point"] = enc_s / reps / n_points * 1e6
        dec_s, reps = 0.0, 0
        while dec_s < 0.2:
            t0 = time.perf_counter()
            for p in payloads:
                codec.decode_segment(p)
            dec_s += time.perf_counter() - t0
            reps += 1
        self.extra["decode_us_per_point"] = dec_s / reps / n_points * 1e6


class LateRepair(Workload):
    """Late batches through ``IncrementalRollup.update`` (1m and 1h
    tiers), with ``enforce_retention`` after every ``K`` batches; the
    retention date moves forward one day per cycle, and the timed loop
    ends on a retention pass. At least four cycles, so that both
    medians survive a slow sample. The late rows are held-out turns of
    seed-chosen conversations, so they land in buckets the first build
    already closed. No hot conversations: one in a batch would make
    that batch's latency depend on the seed's choice of convs."""

    name = "late_repair"
    ops = {"refresh": "late_repair.refresh_s.p50",
           "retention": "late_repair.retention_s.p50"}
    K = 1
    min_cycles = 4
    FIRST_AS_OF = dt.datetime(2025, 1, 20)

    def setup(self) -> None:
        spark, sizes = self.spark, self.sizes
        self.out = self.work / "tiers"
        pdf = inputs.transcripts(sizes["late_convs"], self.seed, 0)
        rest, batches = inputs.late_split(
            pdf, self.seed, sizes["late_batches"], sizes["batch_convs"])
        self.late_rows = sum(len(b) for b in batches)
        self.ingested = [rest]
        self.batches = [(b, spark.createDataFrame(b, RAW_SCHEMA))
                        for b in batches]
        self.inc = IncrementalRollup(spark, str(self.out),
                                     tiers=("1m", "1h"), n_buckets=CORES)
        self.phase("inputs_s")
        self.inc.update(spark.createDataFrame(rest, RAW_SCHEMA))
        self.phase("build_s")
        self.as_of = self.FIRST_AS_OF - dt.timedelta(days=1)
        self.raw_bytes = 0
        self.out_bytes = 0
        self.affected_rows: list[int] = []
        self.extra["affected_rows"] = self.affected_rows
        # untimed warm-up: two cycles. In a fresh JVM the refresh
        # latency keeps falling over the first few batches (4.6 s, then
        # 3.8, 3.6, 3.2 s), and how fast it falls varies run to run.
        for _ in range(2):
            self._update(self.batches.pop(0))
            self._retain()
        self.affected_rows.clear()
        self.phase("warmup_s")

    @property
    def exhausted(self) -> bool:
        return len(self.batches) < self.K

    def _update(self, batch) -> None:
        pdf, sdf = batch
        self.inc.update(sdf)
        self.ingested.append(pdf)
        convs = set(pdf["conv_id"])
        self.affected_rows.append(sum(
            int(p["conv_id"].isin(convs).sum()) for p in self.ingested
        ))

    def _retain(self) -> None:
        self.as_of += dt.timedelta(days=1)
        retention.enforce_retention(self.spark, str(self.out), self.as_of)

    def cycle(self, ops: Ops) -> None:
        for _ in range(self.K):
            batch = self.batches.pop(0)
            before = file_state(self.out)
            ops.time("refresh", lambda: self._update(batch))
            self.raw_bytes += written_since(before, self.out, "/raw/")
            self.out_bytes += written_since(before, self.out)
        before = file_state(self.out)
        ops.time("retention", self._retain)
        self.out_bytes += written_since(before, self.out)

    def check(self, ops: Ops) -> None:
        """After the last retention pass, each tier equals a full
        recompute over every ingested row, filtered by that pass's
        cutoff."""
        full = self.spark.createDataFrame(
            pd.concat(self.ingested, ignore_index=True), RAW_SCHEMA
        )
        policy = retention.RetentionPolicy()
        for tier in self.inc.tiers:
            def same(tier=tier):
                exp = rollup_tier(with_latency(normalize(full)), tier)
                cutoff = policy.cutoff(tier, self.as_of)
                if cutoff is not None:
                    exp = exp.where(~retention.expired_row_filter(tier, cutoff))
                got = self.inc.read_tier(tier).drop("conv_bucket")
                return frames_equal(exp.toPandas(),
                                    got.select(*exp.columns).toPandas(),
                                    ("conv_id", "bucket_start"))

            ops.guarded_check(
                f"late rollup_{tier} == recompute after retention", same
            )

    def report(self, ops: Ops) -> dict:
        refresh = ops.samples.get("refresh", [])
        t, label = tail(refresh)
        return {
            "late_repair.refresh_s.tail": (t, "s"),
            "late_repair.refresh_s.tail_percentile": (label, ""),
            "late_repair.write_amplification": (
                self.out_bytes / self.raw_bytes if self.raw_bytes else 0.0,
                "B/B"),
            "late_repair.late_rows": (self.late_rows, "rows"),
        }

    def probes(self, probe: Probe) -> None:
        convs = self.spark.createDataFrame(
            self.ingested[-1][["conv_id"]].drop_duplicates()
        )
        affected = self.inc.fmt.read(self.spark, self.inc.raw_dir).join(
            F.broadcast(convs), "conv_id", "left_semi"
        )
        probe("operators.rollup.plain", affected, lambda d: (
            rollup_tier(with_latency(normalize(d)), "1m")
        ))


class CurateCorpus(Workload):
    """``q_curate_corpus`` (quality gate, exact dedup, MinHash-LSH pairs,
    connected components, removal) and ``q_lang_id``, each into a noop
    sink."""

    name = "curate_corpus"
    ops = {"curate": "curate_corpus.curate_s",
           "lang_id": "curate_corpus.lang_id_s"}

    def setup(self) -> None:
        from ecov003_l2t_stars_spark.plans.driver_queries_text import (
            q_curate_corpus,
            q_lang_id,
        )

        self.dir = self.work / "corpus"
        self.dir.mkdir()
        docs = inputs.corpus(self.sizes["docs"], self.seed)
        inputs.write_corpus(str(self.dir / "documents.parquet"), docs)
        self.n_docs = len(docs)
        self.q_curate, self.q_lang = q_curate_corpus, q_lang_id
        self.phase("inputs_s")
        # untimed warm-up of both queries
        self._curate()
        self._lang()
        self.phase("warmup_s")

    def _curate(self) -> None:
        self.spark.catalog.clearCache()
        # the query is built inside the timer: dup_clusters runs its
        # rounds eagerly while the plan is built
        noop(self.q_curate(self.spark, str(self.dir)))

    def _lang(self) -> None:
        self.spark.catalog.clearCache()
        noop(self.q_lang(self.spark, str(self.dir)))

    def cycle(self, ops: Ops) -> None:
        ops.time("curate", self._curate, span="op.curate")
        ops.time("lang_id", self._lang, span="op.lang_id")

    def uniq_docs(self):
        """The curation query's deduplicated input: quality gate, then
        the min doc_id per identical text."""
        from pyspark.sql import Window

        from ecov003_l2t_stars_spark.functions.text import quality_score
        from ecov003_l2t_stars_spark.plans.driver_queries_text import _docs

        docs = _docs(self.spark, str(self.dir)).withColumn(
            "quality", quality_score(F.col("text"))
        )
        w = Window.partitionBy("text").orderBy("doc_id")
        return (
            docs.where(F.col("quality") >= 0.5)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def check(self, ops: Ops) -> None:
        from ecov003_l2t_stars_spark.operators.dedup import (
            dup_clusters,
            minhash_lsh_dedup,
        )

        uniq = self.uniq_docs().persist()
        pairs_df = minhash_lsh_dedup(uniq).persist()
        try:
            pairs = [(r.doc_a, r.doc_b) for r in pairs_df.collect()]
            self.extra["pairs"] = len(pairs)
            expected = union_find_labels(pairs)
            labels = {
                r.doc_id: r.cluster_id
                for r in dup_clusters(pairs_df).collect()
            }
            ops.check("dup_clusters == union-find", labels == expected)
        finally:
            pairs_df.unpersist()
            uniq.unpersist()

    def report(self, ops: Ops) -> dict:
        return {"curate_corpus.docs": (self.n_docs, "docs")}

    def probes(self, probe: Probe) -> None:
        from ecov003_l2t_stars_spark.functions.text import (
            norm_text,
            trigram_counts,
        )
        from ecov003_l2t_stars_spark.operators.dedup import (
            dup_clusters,
            minhash_lsh_dedup,
            minhash_signatures,
        )
        from ecov003_l2t_stars_spark.plans.driver_queries_text import _docs

        probe("operators.dedup.signatures", self.uniq_docs(),
              minhash_signatures)
        probe("operators.dedup.pairs", self.uniq_docs(), minhash_lsh_dedup)
        pairs = minhash_lsh_dedup(self.uniq_docs())
        probe("operators.dedup.cc", pairs, dup_clusters)
        norm = _docs(self.spark, str(self.dir)).withColumn(
            "_t", norm_text(F.col("text"))
        )
        probe("functions.text.trigram", norm,
              lambda d: trigram_counts(d, "_t", ("doc_id", "lang")))
        self.extra["trigrams"] = trigram_counts(
            norm, "_t", ("doc_id", "lang")
        ).count()


WORKLOADS = {w.name: w for w in (RollupFull, LateRepair, CurateCorpus)}

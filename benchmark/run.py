"""Benchmark entry point: one workload, one seed, one Spark process.

    python3 benchmark/run.py --workload rollup_full --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, drives the engine from
one ``local[4]`` session in a closed loop for ``--seconds``, checks the
outputs, and prints two lines on stdout: a report (every named metric
with its unit, sample counts and the run conditions) and, last, the
result object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run is traced and the metrics are the per-layer ones.

Everything the run writes lives under ``.bench_work/`` in the checkout
and is removed before it exits.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path[:0] = [str(ROOT), str(BENCH)]

from proctree import peak_rss_mb, process_tree  # noqa: E402

PINNED_THREADS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")

END_TO_END = {
    # name: (unit, meaning)
    "setup_s": ("s", "process start to first timed operation"),
    "op_s": ("s", "median latency of the primary operation"),
    "op2_s": ("s", "median latency of the secondary operation"),
}

DESCRIPTORS = {
    "rollup_full": {
        "why": "the headline job: the full 4-tier rollup with gap-fill, "
               "smoothing, payload encode and partitioned sinks",
        "op": "RollupJob.run into a fresh output dir (clearCache between)",
        "op2": "decode_payloads(payload_1m) into a noop sink",
        "loads": ["plans.pipeline", "plans.table_format", "operators.rollup",
                  "operators.gapfill", "operators.smooth",
                  "operators.payload", "functions.codec", "functions.kalman"],
        "bypasses": ["plans.late_data", "plans.retention",
                     "operators.dedup", "functions.text"],
    },
    "late_repair": {
        "why": "the write path beside the reads: late rows for closed "
               "buckets repaired by MERGE, then retention",
        "op": "IncrementalRollup(tiers=1m,1h).update of one late batch "
              "(50 convs)",
        "op2": "enforce_retention after every batch, as_of one day "
               "later each time; at least 4 cycles",
        "loads": ["plans.late_data", "plans.retention",
                  "plans.table_format", "operators.rollup"],
        "bypasses": ["plans.pipeline", "operators.gapfill",
                     "operators.smooth", "operators.payload",
                     "operators.dedup", "functions.text"],
    },
    "curate_corpus": {
        "why": "the Python/Arrow kernels and the iterative "
               "connected-components loop",
        "op": "q_curate_corpus into a noop sink",
        "op2": "q_lang_id into a noop sink",
        "loads": ["operators.dedup", "functions.text"],
        "bypasses": ["plans.pipeline", "plans.table_format",
                     "plans.late_data", "plans.retention",
                     "operators.rollup", "operators.gapfill",
                     "operators.smooth", "operators.payload"],
    },
}


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(DESCRIPTORS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs, for the benchmark's own tests")
    return p.parse_args(argv)


def _stamp(spark, seed: int) -> dict:
    import numpy
    import pyarrow

    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    digest = hashlib.sha256()
    for f in sorted((ROOT / "ecov003_l2t_stars_spark").rglob("*.py")):
        digest.update(f.read_bytes())
    return {
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "master": spark.sparkContext.master,
            **{k: os.environ.get(k) for k in PINNED_THREADS},
        },
        "versions": {
            "spark": spark.version,
            "python": sys.version.split()[0],
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
        },
        "commit": commit,
        "engine_source_sha256": digest.hexdigest()[:16],
        "seed": seed,
    }


def _stop(spark) -> None:
    """Stop the session and wait until the JVM and every Python worker
    it started have exited."""
    from pyspark import SparkContext

    tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in tree if Path(f"/proc/{p}").exists()]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def run(args: argparse.Namespace, work: Path) -> tuple[dict, dict]:
    """Returns (report, result)."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(BENCH)]
        + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    for k in PINNED_THREADS:
        os.environ[k] = "1"
    # the event log goes under SPARK_LOCAL_DIRS, beside Spark's own files
    tmp, local = work / "tmp", work / "local"
    events = local / "events"
    for d in (tmp, local, events):
        d.mkdir(parents=True)

    from ecov003_l2t_stars_spark.session import get_spark

    import layers
    import tracer as tr
    import workloads as W
    from workloads import CORES

    os.environ.update(
        SPARK_LOCAL_DIRS=str(local), TMPDIR=str(tmp),
        SPARK_GRAFT_CPUS=str(CORES), SPARK_DRIVER_MEM="2g",
    )

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events.as_uri(),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=f"bench-{args.workload}",
                      master=f"local[{CORES}]", extra_conf=conf)
    phases = {"session_s": time.time() - T_START}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        stamp = _stamp(spark, args.seed)
        sizes = W.SIZES["tiny" if args.tiny else "full"]
        wl = W.WORKLOADS[args.workload](spark, work / "data", args.seed, sizes)
        wl.work.mkdir()
        wl.setup()
        setup_s = time.time() - T_START

        tracer, saved, baseline = None, None, None
        if args.trace:
            # one untraced cycle first: its primary-op latency against
            # the traced ones is the tracing overhead
            baseline = W.Ops()
            wl.cycle(baseline)
            tracer = tr.Tracer(spark.sparkContext)
            saved = layers.install(tracer)
        ops = W.Ops(tracer)
        t0 = time.perf_counter()
        cycles = 0
        while True:
            wl.cycle(ops)
            cycles += 1
            if wl.exhausted or (time.perf_counter() - t0 >= args.seconds
                                and cycles >= wl.min_cycles):
                break
        loop_s = time.perf_counter() - t0
        rss = peak_rss_mb()
        if saved:
            layers.uninstall(saved)
        t1 = time.perf_counter()
        wl.check(ops)
        phases["check_s"] = time.perf_counter() - t1
        probe = None
        if args.trace:
            t1 = time.perf_counter()
            probe = W.Probe(spark, tracer)
            wl.probes(probe)
            phases["probes_s"] = time.perf_counter() - t1
    finally:
        t1 = time.perf_counter()
        _stop(spark)
        phases["stop_s"] = time.perf_counter() - t1

    (first, first_name), (second, second_name) = wl.ops.items()
    e2e = {
        "setup_s": setup_s,
        "op_s": W.median(ops.samples.get(first, [])),
        "op2_s": W.median(ops.samples.get(second, [])),
    }
    report = {
        "workload": args.workload,
        "trace": args.trace,
        "descriptor": {
            **DESCRIPTORS[args.workload],
            "loop": "closed", "clients": 1, "seed_argument": "--seed",
            "input": {k: v for k, v in sizes.items()},
        },
        "run": stamp,
        "samples": {k: len(v) for k, v in ops.samples.items()},
        "sample_s": {k: [round(x, 4) for x in v]
                     for k, v in ops.samples.items()},
        "phases": {**phases, **wl.phases, "setup_s": setup_s,
                   "loop_s": loop_s},
        "checks": ops.checks,
        # the workload's own name for each bounded timing
        "aliases": {first_name: "op_s", second_name: "op2_s"},
        "metrics": {
            **{k: {"value": v, "unit": END_TO_END[k][0]}
               for k, v in e2e.items()},
            **{k: {"value": v, "unit": u}
               for k, (v, u) in wl.report(ops).items()},
            # unbounded: across seeds its spread exceeds any allowed bound
            "peak_rss_mb": {"value": rss, "unit": "MiB"},
            "ops.failed_share": {
                "value": ops.failed / max(ops.attempted, 1),
                "unit": "fraction"},
        },
    }
    metrics = {k: {"value": v, "unit": END_TO_END[k][0]}
               for k, v in e2e.items()}
    if args.trace:
        log = tr.read_event_log(tr.find_event_log(events))
        base = W.median(baseline.samples.get(first, []))
        overhead = (e2e["op_s"] / base - 1.0) if base else 0.0
        report["trace_overhead_share"] = overhead
        per_layer = layers.compute(tracer, log, probe.seconds, wl.extra,
                                   overhead)
        pipe = [s for s in tracer.spans if s.name == "plans.pipeline"]
        if pipe:
            # self time + the union of the table-format child spans
            # accounts for the RollupJob.run span by construction
            report["pipeline_accounting"] = {
                "span_s": statistics.mean(s.duration for s in pipe),
                "self_s": per_layer["plans.pipeline.self_s"],
                "children_union_s": statistics.mean(
                    s.duration - tracer.self_time(s) for s in pipe),
            }
        metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                   for k, v in per_layer.items()}
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }
    return report, result


def main(argv: list[str]) -> int:
    args = _parse(argv)
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    try:
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only if no other run is using it
        except OSError:
            pass
    report["phases"]["total_s"] = time.time() - T_START
    print("report " + json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

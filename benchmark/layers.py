"""Per-layer metrics of a traced run.

Layers are named after the engine's modules. ``install`` wraps the
public entry points of the pipeline, late-data, retention and
table-format modules in tracer spans; ``compute`` turns the spans, the
event log and the probe timings into the ``PER_LAYER`` metrics.

Span metrics are means over the calls of that span in the traced run.
A layer that a workload bypasses opens no span and runs no probe there,
and reads 0 in that workload's traced run.
"""

from __future__ import annotations

from pathlib import Path

from tracer import EventLog, Tracer, jobs_in_flight

ROLLUP_SINKS = [
    f"overwrite_partitions.{kind}_{t}"
    for t in ("1m", "1h", "1d", "30d") for kind in ("rollup", "payload")
] + ["append.rollup_state", "append.checkpoints"]
LATE_VERBS = [
    "append.raw",
    "merge_replace_keys.rollup_1m", "merge_replace_keys.rollup_1h",
    "delete_where.rollup_1m", "delete_where.rollup_1h",
]
TF = "plans.table_format."

# (name, unit, better)
PER_LAYER: list[tuple[str, str, str]] = [
    ("plans.pipeline.self_s", "s", "lower"),
    ("plans.pipeline.jobs", "count", "lower"),
    ("plans.pipeline.wait_s", "s", "lower"),
    ("plans.pipeline.jobs_in_flight", "jobs", "higher"),
]
for _verb in ROLLUP_SINKS + LATE_VERBS:
    PER_LAYER += [
        (f"{TF}{_verb}.s", "s", "lower"),
        (f"{TF}{_verb}.executor_s", "s", "lower"),
        (f"{TF}{_verb}.jobs", "count", "lower"),
        (f"{TF}{_verb}.write_bytes", "B", "lower"),
    ]
PER_LAYER += [
    (f"{TF}merge_replace_keys.carry_ratio", "rows/row", "lower"),
    (f"{TF}delete_where.carry_ratio", "rows/row", "lower"),
    ("plans.late_data.self_s", "s", "lower"),
    ("plans.late_data.jobs", "count", "lower"),
    ("plans.late_data.affected_rows", "rows", "lower"),
    ("plans.retention.self_s", "s", "lower"),
    ("plans.retention.rows_dropped", "rows", "higher"),
    ("operators.rollup.digest_1m_s", "s", "lower"),
    ("operators.rollup.cascade_s", "s", "lower"),
    ("operators.rollup.plain_s", "s", "lower"),
    ("operators.rollup.shuffle_bytes", "B", "lower"),
    ("operators.rollup.spill_bytes", "B", "lower"),
    ("operators.rollup.task_skew", "ratio", "lower"),
    ("operators.gapfill.s", "s", "lower"),
    ("operators.gapfill.densify_ratio", "rows/row", "lower"),
    ("operators.smooth.s", "s", "lower"),
    ("operators.smooth.executor_s", "s", "lower"),
    ("operators.payload.encode_s", "s", "lower"),
    ("operators.payload.segments", "count", "lower"),
    ("operators.payload.bytes_per_point", "B/point", "lower"),
    ("functions.codec.encode_us_per_point", "us/point", "lower"),
    ("functions.codec.decode_us_per_point", "us/point", "lower"),
    ("operators.dedup.signatures_s", "s", "lower"),
    ("operators.dedup.pairs_s", "s", "lower"),
    ("operators.dedup.pairs", "count", "higher"),
    ("operators.dedup.screen_yield", "pairs/row", "higher"),
    ("operators.dedup.cc_s", "s", "lower"),
    ("operators.dedup.cc_jobs", "count", "lower"),
    ("functions.text.trigram_s", "s", "lower"),
    ("functions.text.trigrams", "count", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.tasks_failed", "count", "lower"),
    ("trace.overhead_share", "fraction", "lower"),
]
UNITS = {name: unit for name, unit, _ in PER_LAYER}


def _table_name(verb: str):
    def name_of(self, *args, **kwargs):
        # every verb's target path is its second positional argument
        # after self (df/spark first), or the ``path`` keyword
        path = kwargs["path"] if "path" in kwargs else args[1]
        return f"{TF}{verb}.{Path(str(path)).name}"

    return name_of


def install(tracer: Tracer) -> list:
    """Wrap the engine's entry points; returns what ``uninstall`` needs."""
    from ecov003_l2t_stars_spark.plans import retention
    from ecov003_l2t_stars_spark.plans.late_data import IncrementalRollup
    from ecov003_l2t_stars_spark.plans.pipeline import RollupJob
    from ecov003_l2t_stars_spark.plans.table_format import ParquetFormat

    patches = [
        (RollupJob, "run", lambda *a, **k: "plans.pipeline", None),
        (IncrementalRollup, "update",
         lambda *a, **k: "plans.late_data.update", None),
        (IncrementalRollup, "refresh",
         lambda *a, **k: "plans.late_data.refresh", None),
        (retention, "enforce_retention",
         lambda *a, **k: "plans.retention", None),
    ] + [
        (ParquetFormat, verb, _table_name(verb), TF)
        for verb in ("append", "overwrite_partitions", "merge_replace_keys",
                     "delete_where", "rewrite")
    ]
    saved = []
    for owner, attr, name_of, absorb in patches:
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(orig, name_of, absorb=absorb))
    return saved


def uninstall(saved: list) -> None:
    for owner, attr, orig in saved:
        setattr(owner, attr, orig)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def compute(tracer: Tracer, log: EventLog, probe_s: dict, extra: dict,
            overhead: float) -> dict[str, float]:
    """Every ``PER_LAYER`` metric; bypassed layers read 0."""
    jobs = tracer.job_stats(log)
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    m = {name: 0.0 for name, _, _ in PER_LAYER}

    pipe = by_name.get("plans.pipeline", [])
    if pipe:
        m["plans.pipeline.self_s"] = _mean(tracer.self_time(s) for s in pipe)
        m["plans.pipeline.jobs"] = _mean(len(jobs[s.sid].jobs) for s in pipe)
        m["plans.pipeline.wait_s"] = _mean(jobs[s.sid].wait_s() for s in pipe)
        m["plans.pipeline.jobs_in_flight"] = _mean(
            jobs_in_flight(
                [j for j in log.jobs.values() if s.start <= j.submit <= s.end],
                s.start, s.end,
            )
            for s in pipe
        )
    for verb in ROLLUP_SINKS + LATE_VERBS:
        spans = by_name.get(TF + verb, [])
        if spans:
            m[f"{TF}{verb}.s"] = _mean(s.duration for s in spans)
            m[f"{TF}{verb}.executor_s"] = _mean(
                jobs[s.sid].executor_s() for s in spans)
            m[f"{TF}{verb}.jobs"] = _mean(len(jobs[s.sid].jobs) for s in spans)
            m[f"{TF}{verb}.write_bytes"] = _mean(
                jobs[s.sid].written_bytes() for s in spans)

    def records(prefix: str) -> int:
        return sum(
            jobs[s.sid].written_records()
            for s in tracer.spans if s.name.startswith(prefix)
        )

    refresh = by_name.get("plans.late_data.refresh", [])
    replaced = sum(sum(s.result.values()) for s in refresh if s.result)
    if replaced:
        m[f"{TF}merge_replace_keys.carry_ratio"] = (
            records(f"{TF}merge_replace_keys.") / replaced)
    deletes = [s for s in tracer.spans
               if s.name.startswith(f"{TF}delete_where.")]
    deleted = sum(s.result or 0 for s in deletes)
    if deleted:
        m[f"{TF}delete_where.carry_ratio"] = (
            records(f"{TF}delete_where.") / deleted)
    if refresh:
        m["plans.late_data.self_s"] = _mean(
            tracer.self_time(s) for s in refresh)
        m["plans.late_data.jobs"] = _mean(
            len(jobs[s.sid].jobs) for s in refresh)
        m["plans.late_data.affected_rows"] = _mean(extra["affected_rows"])
    ret = by_name.get("plans.retention", [])
    if ret:
        m["plans.retention.self_s"] = _mean(tracer.self_time(s) for s in ret)
        m["plans.retention.rows_dropped"] = _mean(
            sum(s.result.values()) for s in ret)

    def probe_jobs(*names):
        from tracer import JobSet

        out = JobSet()
        for s in tracer.spans:
            if s.name in {f"probe.{n}" for n in names}:
                out.jobs += jobs[s.sid].jobs
        return out

    if "operators.rollup.digest_1m" in probe_s:
        m["operators.rollup.digest_1m_s"] = probe_s["operators.rollup.digest_1m"]
        m["operators.rollup.cascade_s"] = probe_s["operators.rollup.cascade"]
    if "operators.rollup.plain" in probe_s:
        m["operators.rollup.plain_s"] = probe_s["operators.rollup.plain"]
    rollup_jobs = probe_jobs("operators.rollup.digest_1m",
                             "operators.rollup.cascade",
                             "operators.rollup.plain")
    if rollup_jobs.jobs:
        m["operators.rollup.shuffle_bytes"] = rollup_jobs.shuffle_bytes()
        m["operators.rollup.spill_bytes"] = rollup_jobs.spill_bytes()
        m["operators.rollup.task_skew"] = rollup_jobs.task_skew()
    if "operators.gapfill" in probe_s:
        m["operators.gapfill.s"] = probe_s["operators.gapfill"]
        m["operators.gapfill.densify_ratio"] = extra["densify_ratio"]
        m["operators.smooth.s"] = probe_s["operators.smooth"]
        m["operators.smooth.executor_s"] = probe_jobs(
            "operators.smooth").executor_s()
        m["operators.payload.encode_s"] = probe_s["operators.payload.encode"]
        m["operators.payload.segments"] = extra["segments"]
        m["operators.payload.bytes_per_point"] = extra["bytes_per_point"]
        m["functions.codec.encode_us_per_point"] = extra["encode_us_per_point"]
        m["functions.codec.decode_us_per_point"] = extra["decode_us_per_point"]
    if "operators.dedup.signatures" in probe_s:
        m["operators.dedup.signatures_s"] = probe_s["operators.dedup.signatures"]
        m["operators.dedup.pairs_s"] = probe_s["operators.dedup.pairs"]
        m["operators.dedup.pairs"] = extra["pairs"]
        join_rows = log.metric_of(probe_jobs("operators.dedup.pairs"),
                                  "ShuffledHashJoin", "number of output rows")
        if join_rows:
            m["operators.dedup.screen_yield"] = extra["pairs"] / join_rows
        m["operators.dedup.cc_s"] = probe_s["operators.dedup.cc"]
        m["operators.dedup.cc_jobs"] = len(probe_jobs("operators.dedup.cc").jobs)
        m["functions.text.trigram_s"] = probe_s["functions.text.trigram"]
        m["functions.text.trigrams"] = extra["trigrams"]

    ops = [s for s in tracer.spans
           if s.parent is None and not s.name.startswith("probe.")]
    op_tasks = [t for s in ops for j in jobs[s.sid].jobs for t in j.tasks]
    m["spark.gc_s"] = sum(t.gc_s for t in op_tasks)
    m["spark.tasks_failed"] = sum(t.failed for t in op_tasks)
    m["trace.overhead_share"] = overhead
    return m

"""SparkSession factory.

Centralizes the configuration the engine depends on:

- Arrow execution for pandas-UDF exchange (the engine's only Python hot
  path — everything else stays JVM-side in whole-stage codegen).
- AQE with skew-join handling: the transcript workload is key-skewed by
  design (hot conversations, FIXTURES.md), the analog of the reference
  pinning one BLAS thread per worker and hand-sizing its ``pmap`` fan-out
  (``process_ECOSTRESS_data_fusion_distributed_bias.jl:32-40``).
- Shuffle partitions sized for the local[] harness; on a real cluster this
  is overridden by spark-submit conf.
- A generated-class cache that holds the pipeline's working set, so a
  repeated run compiles nothing (:func:`get_spark`).

It also holds :func:`prune_zip_importers`, the first statement of every
Arrow kernel body the engine hands to ``mapInPandas`` / ``applyInPandas``
/ ``pandas_udf``.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ecov003-l2t-stars-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session, created with the confs above.

    ``spark.sql.codegen.cache.maxEntries`` bounds Spark's cache of
    Janino-compiled generated classes, keyed by their source. Spark's
    default of 100 entries (in 4 cache segments) is smaller than one
    ``RollupJob.run`` on the benchmark's ``rollup_full`` input (161
    distinct classes), so at the default every repeated run re-compiled
    135-164 classes, and HotSpot then JIT-compiled each one from cold.
    One local[4] process that runs ``RollupJob.run`` (``rollup_full``,
    seed 1), an ``IncrementalRollup`` build, update and retention cycle
    (``late_repair``, seed 21) and the ``scripts/check_oracle.py``
    queries (sf0.01) twice generates 776 distinct classes: 161 + 74 +
    6 per retention pass (3 passes) + 519 on the first oracle pass and
    4 on the second. 2000 entries leave 2.6x headroom. With them a
    repeated run or update compiles none, also after the oracle
    queries, where the default re-compiled 185 and 68. Retention still
    compiles 6 classes per pass, because its cutoff timestamp is a
    literal inlined into the generated code. The conf is static: it
    applies only when this call creates the SparkContext, not to a
    session that already exists.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # allow joins to reuse an existing hash(conv_id) partitioning when
        # join keys are (conv_id, bucket): subset co-partitioning avoids
        # re-shuffling both sides of every grid/obs join
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations so far in this JVM: every query of every
    session and thread counts, so a delta over one call also counts the
    queries that ran beside it."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def prune_zip_importers() -> None:
    """Drop the ``zipimport.zipimporter`` entries from this process's
    ``sys.path_importer_cache``.

    A reused pyspark Python worker calls ``importlib.invalidate_caches()``
    before every task (``worker_util.setup_spark_files``). On CPython
    3.11 and 3.12 that makes each cached zipimporter re-read its
    archive's directory — ~16 entries under ``pyspark.zip``, each
    re-reading all 1328 of its names, 0.20–0.28 s of CPU per task.
    (3.13 made the re-read lazy.) The entries are only a cache: the
    import machinery re-creates a zipimporter on demand, and archive
    directories stay in ``zipimport``'s own cache. Kernels call this on
    every call, not once per worker, because imports during a task
    re-create entries that the next task would pay for."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)

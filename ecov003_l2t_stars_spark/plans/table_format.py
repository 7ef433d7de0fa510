"""Table-format contract: the three write verbs the engine needs.

The engine's maintenance plans (pipeline writes, retention expiry,
late-data repair) were designed for an Iceberg-class table format but
run against a parquet-directory twin in this sandbox (no
iceberg-spark-runtime jar — see pipeline.py module docstring). Round-2
review asked for those "on Iceberg this becomes X" docstrings to be
EXECUTED contracts, not prose: this module names the three verbs as an
interface, keeps the parquet implementation as the default (including
its absent-partition workaround), and adds a snapshot-isolated in-memory
implementation that behaves like the metadata-level Iceberg verbs.
Contract tests (tests/test_table_format.py) run retention, late-data
repair, and the rollup pipeline against BOTH implementations and assert
identical results.

The verbs (Iceberg analogs in parens):

- ``overwrite_partitions`` — replace exactly the partitions present in
  the written DataFrame, leave all others untouched
  (``DataFrame.writeTo(t).overwritePartitions()``).
- ``delete_where`` — remove rows matching a predicate; partitions left
  empty disappear (metadata ``DELETE FROM t WHERE ...``).
- ``merge_replace_keys`` — replace every row whose key appears in a key
  set with the new rows for those keys (``MERGE ... WHEN MATCHED THEN
  DELETE / WHEN NOT MATCHED THEN INSERT`` over a key-complete source).

Reference analog: the reference's product store is a filesystem of
keyed rasters with overwrite-by-key semantics (``L2T_STARS.py:134-143``
idempotent skip, ``process_STARS_product.py:468-507`` cleanup); these
verbs are the same contract at table granularity.
"""

from __future__ import annotations

import json
import shutil
import time
import uuid
from abc import ABC, abstractmethod
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency failure: the table advanced past the
    snapshot the writer started from (Iceberg's
    ``CommitFailedException``). The caller re-reads the current
    snapshot, re-derives its output, and retries."""


class TableFormat(ABC):
    """Minimal table-format contract for the engine's maintenance verbs.

    Snapshot rule: every successful write verb produces a new immutable
    snapshot with a monotonically increasing integer id; ``read`` sees
    the latest one. Formats with snapshot support implement
    ``snapshots`` / ``current_snapshot`` / ``read_as_of`` (time travel)
    and accept ``expected_snapshot=<id>`` on their write verbs —
    raising :class:`CommitConflictError` when the table's current
    snapshot no longer matches, which is the whole concurrent-writer
    conflict rule: last-committer-wins races are turned into explicit
    retry points at the atomic manifest publish. The plain
    :class:`ParquetFormat` keeps exactly one live snapshot (dynamic
    overwrite destroys history) and raises on the time-travel calls.
    """

    @abstractmethod
    def exists(self, spark: SparkSession, path: str) -> bool: ...

    @abstractmethod
    def read(self, spark: SparkSession, path: str) -> DataFrame: ...

    def snapshots(self, spark: SparkSession, path: str) -> list[int]:
        """Snapshot ids, oldest first. Formats without history raise."""
        raise NotImplementedError(
            f"{type(self).__name__} keeps no snapshot history"
        )

    def current_snapshot(self, spark: SparkSession, path: str) -> int | None:
        """Latest snapshot id, or None for an absent table."""
        raise NotImplementedError(
            f"{type(self).__name__} keeps no snapshot history"
        )

    def read_as_of(
        self, spark: SparkSession, path: str, snapshot_id: int
    ) -> DataFrame:
        """Time-travel read of a historical snapshot (Iceberg
        ``VERSION AS OF``)."""
        raise NotImplementedError(
            f"{type(self).__name__} keeps no snapshot history"
        )

    @abstractmethod
    def append(self, df: DataFrame, path: str) -> None: ...

    @abstractmethod
    def overwrite_partitions(
        self,
        df: DataFrame,
        path: str,
        partition_col: str,
        sort_cols: tuple[str, ...] = (),
    ) -> None:
        """Replace exactly the ``partition_col`` partitions present in
        ``df``; all other partitions survive untouched. ``df``'s lineage
        MAY read the table being overwritten (read-modify-write): the
        read completes against the old partitions."""

    @abstractmethod
    def delete_where(
        self,
        spark: SparkSession,
        path: str,
        predicate: Column,
        partition_col: str,
    ) -> int:
        """Delete rows matching ``predicate``; returns rows deleted.
        Partitions left with zero rows cease to exist. No-op (0) on a
        missing table."""

    @abstractmethod
    def rewrite(self, df: DataFrame, path: str) -> None:
        """Replace the WHOLE table with ``df`` in one commit (Iceberg
        analog: ``rewrite_data_files`` / ``INSERT OVERWRITE`` on an
        unpartitioned table). ``df``'s lineage MAY read the table being
        rewritten — every implementation must barrier or snapshot so
        the read completes against the old state (maintenance rewrites
        like ``prune_state`` are always read-modify-write)."""

    @abstractmethod
    def merge_replace_keys(
        self,
        spark: SparkSession,
        path: str,
        new_df: DataFrame,
        keys: DataFrame,
        key_col: str,
        partition_col: str,
        sort_cols: tuple[str, ...] = (),
    ) -> None:
        """MERGE with a key-complete source: delete every existing row
        whose ``key_col`` appears in ``keys``, insert all of ``new_df``
        (which must contain the full replacement rows for those keys).
        ``partition_col`` must be a pure function of ``key_col`` so the
        replacement is partition-local."""


class ParquetFormat(TableFormat):
    """Parquet-directory implementation — the engine's default.

    Partitioned writes are dynamic partition overwrites, set per write
    so the session's ``partitionOverwriteMode`` never applies. Spark
    stages such a write under ``.spark-staging-<job>`` and swaps the
    partition dirs only at job commit, after every task (and so every
    read of the old files) has finished: a read-modify-write lineage
    runs lazily, with no persist barrier (CLAUDE.md rule 8). Dynamic
    overwrite never touches partitions absent from the output, so
    fully-deleted partitions are removed explicitly (the workaround an
    Iceberg runtime makes unnecessary).
    """

    def exists(self, spark: SparkSession, path: str) -> bool:
        p = Path(path)
        return p.exists() and any(p.rglob("*.parquet"))

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.parquet(path)

    def append(self, df: DataFrame, path: str) -> None:
        df.write.mode("append").parquet(path)

    @staticmethod
    def _overwrite(df: DataFrame, path: str, partition_col: str) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        path: str,
        partition_col: str,
        sort_cols: tuple[str, ...] = (),
    ) -> None:
        out = df.repartition(partition_col)
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        self._overwrite(out, path, partition_col)

    def rewrite(self, df: DataFrame, path: str) -> None:
        # rule 8: an unpartitioned overwrite deletes the files it
        # replaces BEFORE the job reads them — barrier first
        df = df.persist()
        df.count()
        df.write.mode("overwrite").parquet(path)
        df.unpersist()

    def delete_where(
        self,
        spark: SparkSession,
        path: str,
        predicate: Column,
        partition_col: str,
    ) -> int:
        if not self.exists(spark, path):
            return 0
        df = self.read(spark, path)
        # one pass: per partition holding a predicate-TRUE row, all rows
        # and the predicate-FALSE rows it keeps. A NULL-predicate row is
        # counted in neither TRUE nor FALSE, so it is dropped from such
        # a partition and survives in any other (never rewritten)
        stats = (
            df.groupBy(partition_col)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(predicate, 1)).alias("n_true"),
                F.count(F.when(~predicate, 1)).alias("n_kept"),
            )
            .where(F.col("n_true") > 0)
            .collect()
        )
        kept = [r[partition_col] for r in stats if r["n_kept"] > 0]
        if kept:
            self._overwrite(
                df.where(F.col(partition_col).isin(kept)).where(~predicate),
                path, partition_col,
            )
        # dynamic overwrite never rewrites a partition ABSENT from the
        # output — fully-deleted partitions must be removed explicitly
        for r in stats:
            d = Path(path) / f"{partition_col}={r[partition_col]}"
            if r["n_kept"] == 0 and d.exists():
                shutil.rmtree(d)
        return sum(r["n"] - r["n_kept"] for r in stats)

    def merge_replace_keys(
        self,
        spark: SparkSession,
        path: str,
        new_df: DataFrame,
        keys: DataFrame,
        key_col: str,
        partition_col: str,
        sort_cols: tuple[str, ...] = (),
    ) -> None:
        if not self.exists(spark, path):
            self.overwrite_partitions(
                new_df, path, partition_col, sort_cols=sort_cols
            )
            return
        existing = self.read(spark, path)
        # affected partitions may hold unaffected keys too — carry their
        # existing rows into the partition overwrite
        parts = [
            r[partition_col]
            for r in new_df.select(partition_col).distinct().collect()
        ]
        keep = existing.where(F.col(partition_col).isin(parts)).join(
            F.broadcast(keys.select(key_col)), key_col, "left_anti"
        )
        out = keep.select(new_df.columns).unionByName(new_df)
        self.overwrite_partitions(out, path, partition_col, sort_cols)


class InMemoryFormat(TableFormat):
    """Snapshot-isolated in-memory fake of an Iceberg-class format.

    Every verb reads the current snapshot (a plain row list), computes
    the next snapshot, and swaps it atomically — so read-modify-write
    needs no persist barrier, deletes are "metadata-level" (no partition
    bookkeeping), and a concurrent reader keeps the snapshot it started
    with. Used by the contract tests to prove the engine's plans are
    correct against the semantics the docstrings claim, independent of
    the parquet workarounds.
    """

    def __init__(self) -> None:
        # per table: the full snapshot history, a list of
        # (schema, rows); snapshot id == list index. Rows are stored as
        # PLAIN TUPLES in the snapshot schema's field order (storing
        # collected Row objects mixed with tuples broke name indexing
        # on the third successive overwrite).
        self._tables: dict[str, list[tuple[object, list]]] = {}

    def _current(self, path: str) -> tuple[object, list]:
        return self._tables[path][-1]

    @staticmethod
    def _tuples(df: DataFrame) -> list[tuple]:
        return [tuple(r) for r in df.collect()]

    @staticmethod
    def _aligned(rows: list, old_schema, new_schema) -> list[tuple]:
        """Reorder stored tuples from the previous snapshot's column
        order into the new snapshot's."""
        old_cols = [f.name for f in old_schema.fields]
        new_cols = [f.name for f in new_schema.fields]
        if old_cols == new_cols:
            return rows
        idx = [old_cols.index(c) for c in new_cols]
        return [tuple(t[i] for i in idx) for t in rows]

    def _commit(
        self, path: str, schema, rows: list, expected: int | None
    ) -> None:
        cur = len(self._tables.get(path, ())) - 1
        if expected is not None and (cur if cur >= 0 else None) != expected:
            raise CommitConflictError(
                f"{path}: at snapshot {cur}, writer expected {expected}"
            )
        self._tables.setdefault(path, []).append((schema, rows))

    def exists(self, spark: SparkSession, path: str) -> bool:
        return path in self._tables and len(self._current(path)[1]) > 0

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        schema, rows = self._current(path)
        return spark.createDataFrame(rows, schema)

    def snapshots(self, spark: SparkSession, path: str) -> list[int]:
        return list(range(len(self._tables.get(path, ()))))

    def current_snapshot(self, spark: SparkSession, path: str) -> int | None:
        n = len(self._tables.get(path, ()))
        return n - 1 if n else None

    def read_as_of(
        self, spark: SparkSession, path: str, snapshot_id: int
    ) -> DataFrame:
        schema, rows = self._tables[path][snapshot_id]
        return spark.createDataFrame(rows, schema)

    def append(
        self, df: DataFrame, path: str,
        expected_snapshot: int | None = None,
    ) -> None:
        rows = self._tuples(df)
        if path in self._tables:
            schema, old = self._current(path)
            self._commit(
                path, df.schema,
                self._aligned(old, schema, df.schema) + rows,
                expected_snapshot,
            )
        else:
            self._commit(path, df.schema, rows, expected_snapshot)

    def overwrite_partitions(
        self,
        df: DataFrame,
        path: str,
        partition_col: str,
        sort_cols: tuple[str, ...] = (),
        expected_snapshot: int | None = None,
    ) -> None:
        new_rows = self._tuples(df)
        pi = [f.name for f in df.schema.fields].index(partition_col)
        parts = {t[pi] for t in new_rows}
        survivors = []
        if path in self._tables:
            old_schema, old = self._current(path)
            aligned = self._aligned(old, old_schema, df.schema)
            survivors = [t for t in aligned if t[pi] not in parts]
        self._commit(
            path, df.schema, survivors + new_rows, expected_snapshot
        )

    def rewrite(
        self, df: DataFrame, path: str,
        expected_snapshot: int | None = None,
    ) -> None:
        # snapshot isolation: _tuples collects against the CURRENT
        # snapshot before _commit appends the new one — barrier is free
        self._commit(path, df.schema, self._tuples(df), expected_snapshot)

    def delete_where(
        self,
        spark: SparkSession,
        path: str,
        predicate: Column,
        partition_col: str,
        expected_snapshot: int | None = None,
    ) -> int:
        if not self.exists(spark, path):
            return 0
        snapshot = self.read(spark, path)
        # partition-scoped like the real formats (r4 ADVICE): only
        # partitions holding a predicate-TRUE row are rewritten, so a
        # row whose predicate evaluates NULL survives in an unaffected
        # partition but is dropped (~predicate is NULL -> filtered) in
        # an affected one — bit-matching ParquetFormat's pruned
        # dynamic-overwrite and SnapshotParquetFormat's manifest swap.
        affected = {
            r[0]
            for r in snapshot.where(predicate)
            .select(partition_col)
            .distinct()
            .collect()
        }
        if not affected:
            # nothing matched: no new snapshot (same as the parquet
            # twin and Iceberg — an empty DELETE is not a commit)
            return 0
        in_affected = F.col(partition_col).isin(list(affected))
        kept = self._tuples(
            snapshot.where(~in_affected | (in_affected & ~predicate))
        )
        schema, old = self._current(path)
        self._commit(path, schema, kept, expected_snapshot)
        return len(old) - len(kept)

    def merge_replace_keys(
        self,
        spark: SparkSession,
        path: str,
        new_df: DataFrame,
        keys: DataFrame,
        key_col: str,
        partition_col: str,
        sort_cols: tuple[str, ...] = (),
        expected_snapshot: int | None = None,
    ) -> None:
        new_rows = self._tuples(new_df)
        if path not in self._tables:
            self._commit(path, new_df.schema, new_rows, expected_snapshot)
            return
        dead = {r[key_col] for r in keys.select(key_col).collect()}
        ki = [f.name for f in new_df.schema.fields].index(key_col)
        schema, old = self._current(path)
        aligned = self._aligned(old, schema, new_df.schema)
        survivors = [t for t in aligned if t[ki] not in dead]
        self._commit(
            path, new_df.schema, survivors + new_rows, expected_snapshot
        )


class SnapshotParquetFormat(TableFormat):
    """Manifest-based snapshots over immutable parquet data files — a
    pure-PySpark analog of an Iceberg table's commit protocol.

    Data files are only ever ADDED (every write verb appends
    uniquely-named part files); a commit publishes
    ``_snapshots/v{N}.json`` naming exactly the files of the new
    snapshot plus the table schema, via filesystem create-if-absent —
    the single atomic commit point. Readers resolve one manifest and
    scan exactly its files (``basePath`` recovers partition columns),
    so a reader keeps the snapshot it started with while writers
    advance, even a whole-table ``rewrite`` needs no persist barrier
    (rule 8 is a mutable-directory problem), and ``read_as_of`` is just
    resolving an older manifest. ``expected_snapshot`` is the
    optimistic-concurrency rule: the commit raises
    :class:`CommitConflictError` when the current id differs from what
    the writer started from, or when two writers race to publish the
    same id (create-if-absent loses).

    The engine default remains :class:`ParquetFormat` (one live
    snapshot); this class is the contract's executable proof that the
    maintenance plans compose with a snapshot-keeping format, and the
    time-travel source for ``smooth.prior_state_as_of`` (reference
    analog: reloading the PREVIOUS product archive as the prior,
    ``load_prior.py:14-250``). ``expire_snapshots`` is the file GC.
    Partition values are matched by their directory encoding, so keep
    them to simple ints/strings (no characters Spark escapes).
    """

    SNAPDIR = "_snapshots"

    # --- manifest plumbing -------------------------------------------
    def _sdir(self, path: str) -> Path:
        return Path(path) / self.SNAPDIR

    def _ids(self, path: str) -> list[int]:
        d = self._sdir(path)
        if not d.exists():
            return []
        return sorted(int(p.stem[1:]) for p in d.glob("v*.json"))

    def _load(self, path: str, sid: int) -> dict:
        return json.loads((self._sdir(path) / f"v{sid}.json").read_text())

    def _list_files(self, path: str) -> set[str]:
        root = Path(path)
        if not root.exists():
            return set()
        return {
            str(p.relative_to(root))
            for p in root.rglob("*.parquet")
            if self.SNAPDIR not in p.parts
        }

    def _staged_write(self, path: str, writer) -> set[str]:
        """Run ``writer(staging_dir)`` and move exactly the part files
        it produced into the table, returning their table-relative
        paths (partition subdirs preserved, so ``basePath`` reads keep
        working).

        The commit's file set is derived from the WRITE ITSELF, never
        from a before/after directory diff: under concurrent writers a
        diff can sweep a racing writer's not-yet-committed part files
        into this commit's manifest (phantom rows now, duplicates when
        the loser retries — r4 ADVICE). Staging lives under
        ``_snapshots/stage/<uuid>`` so readers and the file GC never
        see half-written data; part-file names carry Spark's per-job
        UUID, so the moves cannot collide. Orphaned staging dirs from
        crashed writers are reaped by :meth:`expire_snapshots`."""
        stage = self._sdir(path) / "stage" / uuid.uuid4().hex
        writer(str(stage))
        moved: set[str] = set()
        if stage.exists():
            for p in stage.rglob("*.parquet"):
                rel = p.relative_to(stage)
                dest = Path(path) / rel
                dest.parent.mkdir(parents=True, exist_ok=True)
                p.rename(dest)
                moved.add(str(rel))
            shutil.rmtree(stage, ignore_errors=True)
        return moved

    def _publish(
        self, path: str, files, schema_json: str, expected: int | None
    ) -> int:
        ids = self._ids(path)
        cur = ids[-1] if ids else None
        if expected is not None and cur != expected:
            raise CommitConflictError(
                f"{path}: at snapshot {cur}, writer expected {expected}"
            )
        new_id = (cur + 1) if ids else 0
        d = self._sdir(path)
        d.mkdir(parents=True, exist_ok=True)
        body = json.dumps(
            {"files": sorted(files), "schema": schema_json}
        )
        try:
            with open(d / f"v{new_id}.json", "x") as f:
                f.write(body)
        except FileExistsError:
            raise CommitConflictError(
                f"{path}: concurrent writer published v{new_id} first"
            ) from None
        return new_id

    def _read_manifest(self, spark: SparkSession, path: str, man: dict):
        if not man["files"]:
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(man["schema"]))
            )
        full = [str(Path(path) / f) for f in man["files"]]
        return spark.read.option("basePath", path).parquet(*full)

    # --- contract: reads ---------------------------------------------
    def exists(self, spark: SparkSession, path: str) -> bool:
        ids = self._ids(path)
        return bool(ids) and bool(self._load(path, ids[-1])["files"])

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        ids = self._ids(path)
        return self._read_manifest(spark, path, self._load(path, ids[-1]))

    def snapshots(self, spark: SparkSession, path: str) -> list[int]:
        return self._ids(path)

    def current_snapshot(self, spark: SparkSession, path: str) -> int | None:
        ids = self._ids(path)
        return ids[-1] if ids else None

    def read_as_of(
        self, spark: SparkSession, path: str, snapshot_id: int
    ) -> DataFrame:
        return self._read_manifest(
            spark, path, self._load(path, snapshot_id)
        )

    # --- contract: writes --------------------------------------------
    def append(
        self, df: DataFrame, path: str,
        expected_snapshot: int | None = None,
    ) -> None:
        ids = self._ids(path)
        old = self._load(path, ids[-1])["files"] if ids else []
        # preserve the table's partition layout: root-level part files
        # next to col=val/ dirs are silently DROPPED by a partition-
        # inferring read (latent pre-staging bug, exposed by the r5
        # foreign-file race test)
        pcol = next(
            (
                f.split("/", 1)[0].split("=", 1)[0]
                for f in old
                if "/" in f and "=" in f.split("/", 1)[0]
            ),
            None,
        )

        def _w(d: str) -> None:
            w = df.write.mode("overwrite")
            (w.partitionBy(pcol) if pcol else w).parquet(d)

        new = self._staged_write(path, _w)
        self._publish(
            path, set(old) | new, df.schema.json(), expected_snapshot
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        path: str,
        partition_col: str,
        sort_cols: tuple[str, ...] = (),
        expected_snapshot: int | None = None,
    ) -> None:
        parts = {
            str(r[0]) for r in df.select(partition_col).distinct().collect()
        }
        out = df.repartition(partition_col)
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        new = self._staged_write(
            path,
            lambda d: out.write.mode("overwrite")
            .partitionBy(partition_col).parquet(d),
        )
        replaced = {f"{partition_col}={v}" for v in parts}
        ids = self._ids(path)
        old = self._load(path, ids[-1])["files"] if ids else []
        kept = [f for f in old if f.split("/", 1)[0] not in replaced]
        self._publish(
            path, set(kept) | new, df.schema.json(), expected_snapshot
        )

    def delete_where(
        self,
        spark: SparkSession,
        path: str,
        predicate: Column,
        partition_col: str,
        expected_snapshot: int | None = None,
    ) -> int:
        if not self.exists(spark, path):
            return 0
        cur = self.read(spark, path)
        affected = {
            str(r[0])
            for r in cur.where(predicate)
            .select(partition_col)
            .distinct()
            .collect()
        }
        if not affected:
            return 0
        in_affected = F.col(partition_col).cast("string").isin(list(affected))
        n_before = cur.where(in_affected).count()
        kept_df = cur.where(in_affected).where(~predicate)
        new = self._staged_write(
            path,
            lambda d: kept_df.write.mode("overwrite")
            .partitionBy(partition_col).parquet(d),
        )
        n_after = kept_df.count()
        dead_dirs = {f"{partition_col}={v}" for v in affected}
        ids = self._ids(path)
        old = self._load(path, ids[-1])["files"]
        kept_files = [
            f for f in old if f.split("/", 1)[0] not in dead_dirs
        ]
        self._publish(
            path, set(kept_files) | new, cur.schema.json(),
            expected_snapshot,
        )
        return n_before - n_after

    def merge_replace_keys(
        self,
        spark: SparkSession,
        path: str,
        new_df: DataFrame,
        keys: DataFrame,
        key_col: str,
        partition_col: str,
        sort_cols: tuple[str, ...] = (),
        expected_snapshot: int | None = None,
    ) -> None:
        if not self.exists(spark, path):
            self.overwrite_partitions(
                new_df, path, partition_col, sort_cols=sort_cols,
                expected_snapshot=expected_snapshot,
            )
            return
        existing = self.read(spark, path)
        parts = [
            r[partition_col]
            for r in new_df.select(partition_col).distinct().collect()
        ]
        keep = existing.where(F.col(partition_col).isin(parts)).join(
            F.broadcast(keys.select(key_col)), key_col, "left_anti"
        )
        out = keep.select(new_df.columns).unionByName(new_df)
        self.overwrite_partitions(
            out, path, partition_col, sort_cols=sort_cols,
            expected_snapshot=expected_snapshot,
        )

    def rewrite(
        self, df: DataFrame, path: str,
        expected_snapshot: int | None = None,
    ) -> None:
        # no barrier needed: df's lineage resolves the CURRENT manifest
        # and scans exactly its (immutable) files; the staged write
        # lands new files and the publish swaps the manifest to ONLY
        # those — old files linger until expire_snapshots
        ids = self._ids(path)
        old = self._load(path, ids[-1])["files"] if ids else []
        pcol = next(
            (
                f.split("/", 1)[0].split("=", 1)[0]
                for f in old
                if "/" in f and "=" in f.split("/", 1)[0]
            ),
            None,
        )

        def _w(d: str) -> None:
            w = df.write.mode("overwrite")
            (w.partitionBy(pcol) if pcol else w).parquet(d)

        new = self._staged_write(path, _w)
        self._publish(path, new, df.schema.json(), expected_snapshot)

    # --- maintenance -------------------------------------------------
    def expire_snapshots(
        self, path: str, keep_last: int = 1,
        orphan_ttl_s: float = 86_400.0,
    ) -> int:
        """Drop all but the newest ``keep_last`` manifests and delete
        data files no retained manifest references. Returns files
        removed. The GC that bounds time-travel storage.

        Also reaps staging dirs (``_snapshots/stage/*``) older than
        ``orphan_ttl_s`` — leftovers of crashed writers. The TTL keeps
        the GC from deleting a LIVE concurrent writer's in-flight
        staging (the Iceberg orphan-file rule); pass 0 only when no
        writer can be running."""
        stage_root = self._sdir(path) / "stage"
        if stage_root.exists():
            now = time.time()
            for d in stage_root.iterdir():
                if d.is_dir() and now - d.stat().st_mtime >= orphan_ttl_s:
                    shutil.rmtree(d, ignore_errors=True)
        ids = self._ids(path)
        retained = ids[-keep_last:] if keep_last > 0 else []
        live: set[str] = set()
        for sid in retained:
            live |= set(self._load(path, sid)["files"])
        removed = 0
        for f in self._list_files(path) - live:
            (Path(path) / f).unlink()
            removed += 1
        for sid in ids:
            if sid not in retained:
                (self._sdir(path) / f"v{sid}.json").unlink()
        # prune now-empty partition dirs
        root = Path(path)
        for d in sorted(
            (p for p in root.rglob("*") if p.is_dir()), reverse=True
        ):
            if self.SNAPDIR not in d.parts and not any(d.iterdir()):
                d.rmdir()
        return removed

"""Table-format contract: the write verbs the engine needs.

The engine's maintenance plans (pipeline writes, retention expiry,
late-data repair) were designed for an Iceberg-class table format but
run against a parquet analog in this sandbox (no iceberg-spark-runtime
jar — see pipeline.py module docstring). This module names the verbs as
an interface, with two implementations: :class:`ParquetFormat`, the
engine's on-disk format (immutable parquet data files plus a manifest
per snapshot), and :class:`InMemoryFormat`, a snapshot-isolated
in-memory reference. Contract tests (tests/test_table_format.py) run
retention, late-data repair, and the rollup pipeline against both and
assert identical results.

The verbs (Iceberg analogs in parens):

- ``overwrite_partitions`` — replace exactly the partitions present in
  the written DataFrame, leave all others untouched
  (``DataFrame.writeTo(t).overwritePartitions()``).
- ``delete_where`` — remove rows matching a predicate; partitions left
  empty disappear (metadata ``DELETE FROM t WHERE ...``).
- ``merge_replace_keys`` — replace every row whose key appears in a key
  set with the new rows for those keys (``MERGE ... WHEN MATCHED THEN
  DELETE / WHEN NOT MATCHED THEN INSERT`` over a key-complete source).
- ``append`` / ``rewrite`` — add rows / replace the whole table
  (``INSERT INTO`` / ``INSERT OVERWRITE``).

Every write is one snapshot; ``expire_snapshots`` is the file GC that
reclaims what replaced snapshots no longer need (Iceberg's
``expire_snapshots`` procedure).

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

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# small-file bound of the engine's append-only bookkeeping tables (the
# ingestion manifest and attempt log, the rollup checkpoints): past this
# many files in its current snapshot, a table is compacted to one file
BOOKKEEPING_MAX_FILES = 64


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency failure: the table advanced past the
    snapshot the writer started from (Iceberg's
    ``CommitFailedException``). The caller re-reads the current
    snapshot, re-derives its output, and retries."""


class TableFormat(ABC):
    """Minimal table-format contract for the engine's maintenance verbs.

    Snapshot rule: every successful write verb produces a new immutable
    snapshot with a monotonically increasing integer id; ``read`` sees
    the latest one and ``read_as_of`` any one still retained (time
    travel). The write verbs accept ``expected_snapshot=<id>`` and
    raise :class:`CommitConflictError` when the table's current
    snapshot no longer matches, which is the whole concurrent-writer
    conflict rule: last-committer-wins races are turned into explicit
    retry points at the atomic commit. ``expire_snapshots`` drops old
    snapshots and the data only they reference.

    :class:`ParquetFormat` is the on-disk implementation,
    :class:`InMemoryFormat` the reference it is checked against; each
    plans its verbs on its own.
    """

    @abstractmethod
    def exists(self, spark: SparkSession, path: str) -> bool: ...

    @abstractmethod
    def read(self, spark: SparkSession, path: str) -> DataFrame: ...

    @abstractmethod
    def snapshots(self, spark: SparkSession, path: str) -> list[int]:
        """Snapshot ids, oldest first."""

    @abstractmethod
    def current_snapshot(self, spark: SparkSession, path: str) -> int | None:
        """Latest snapshot id, or None for an absent table."""

    @abstractmethod
    def read_as_of(
        self, spark: SparkSession, path: str, snapshot_id: int
    ) -> DataFrame:
        """Time-travel read of a historical snapshot (Iceberg
        ``VERSION AS OF``)."""

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
        rewritten: the read completes against the old state
        (maintenance rewrites like the bookkeeping compaction are
        always read-modify-write)."""

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

    @abstractmethod
    def expire_snapshots(
        self, path: str, keep_last: int = 1,
        orphan_ttl_s: float = 86_400.0,
    ) -> int:
        """Drop all but the newest ``keep_last`` snapshots and the data
        only the dropped ones reference; returns files removed. No-op
        (0) on a missing table."""


class ParquetFormat(TableFormat):
    """Manifest-based snapshots over immutable parquet data files — a
    pure-PySpark analog of an Iceberg table's commit protocol, and the
    engine's on-disk format.

    Every write stages its rows as new, uniquely-named part files
    (:meth:`_staged_write`) and publishes ``_snapshots/v{N}.json``
    naming exactly the files of the new snapshot plus the table schema,
    via filesystem create-if-absent — the single atomic commit point.
    ``overwrite_partitions``, ``delete_where`` and ``merge_replace_keys``
    plan which rows to write and which partitions the verb leaves
    empty, then end in one call of :meth:`_commit`: the partitions a
    commit replaces are the partition dirs of the files it staged plus
    the emptied ones, read off the file paths with no Spark job. No
    file a manifest names is ever modified or deleted by a write.

    Readers resolve one manifest and scan exactly its files
    (``basePath`` recovers partition columns), so a reader keeps the
    snapshot it started with while writers advance, a read-modify-write
    lineage (even a whole-table ``rewrite``) needs no persist barrier,
    and ``read_as_of`` is just resolving an older manifest.
    Concurrency is optimistic: a commit publishes exactly
    ``v{base+1}``, where ``base`` is the snapshot its file set was
    computed from, so a commit that landed in between makes the
    create-if-absent fail. The partition verbs and ``rewrite`` take
    ``base`` from the head they read on entry and raise
    :class:`CommitConflictError` when it has moved; ``append``, whose
    staged files never depend on table content, re-reads the head and
    publishes again. An explicit ``expected_snapshot`` must equal
    ``base``; it is compared with the head read on entry before any
    write job runs. A writer that raises a conflict after staging
    unlinks the files it moved in, so a lost race leaves no orphan.

    Files a newer snapshot replaced stay on disk until
    :meth:`expire_snapshots` (``enforce_retention`` runs it on every
    tier table it expires). A directory written outside this format,
    with no ``_snapshots/`` manifest, reads as ABSENT: ``exists`` is
    False and ``read`` raises. Partition values are matched by their
    directory encoding, so keep them to simple ints/strings (no
    characters Spark escapes).
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

    def _head(self, path: str) -> tuple[int | None, dict | None]:
        """The current snapshot id and its manifest; ``(None, None)``
        for an absent table."""
        ids = self._ids(path)
        return (ids[-1], self._load(path, ids[-1])) if ids else (None, None)

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
        UUID, so the moves cannot collide. What a crashed writer leaves
        behind — its staging dir, or part files moved in but never
        published — is reaped by :meth:`expire_snapshots` past the
        orphan TTL."""
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

    @staticmethod
    def _check_base(
        path: str, base: int | None, expected: int | None
    ) -> None:
        """Raise :class:`CommitConflictError` unless ``base`` is the
        snapshot the writer ``expected``. The verbs call it on the head
        they read on entry, BEFORE staging, so a writer that is stale
        from the start runs no write job and moves no file."""
        if expected is not None and base != expected:
            raise CommitConflictError(
                f"{path}: at snapshot {base}, writer expected {expected}"
            )

    def _publish(
        self, path: str, files, schema_json: str, base: int | None,
        expected: int | None, staged=(),
    ) -> int:
        """Publish ``files`` as ``v{base+1}`` (``v0`` for an absent
        ``base``), where ``base`` is the snapshot the file set was
        computed from. Create-if-absent is the whole conflict rule: any
        commit that landed since ``base`` already holds that id.

        On a conflict, the ``staged`` files (the part files this commit
        moved into the table, passed by a writer that will not retry
        with them) are unlinked before the raise: no manifest names
        them, so they would otherwise wait out the orphan TTL."""
        new_id = 0 if base is None else base + 1
        body = json.dumps(
            {"files": sorted(files), "schema": schema_json}
        )
        try:
            self._check_base(path, base, expected)
            d = self._sdir(path)
            d.mkdir(parents=True, exist_ok=True)
            try:
                with open(d / f"v{new_id}.json", "x") as f:
                    f.write(body)
            except FileExistsError:
                raise CommitConflictError(
                    f"{path}: a concurrent commit published v{new_id} on"
                    f" top of snapshot {base} first"
                ) from None
        except CommitConflictError:
            for f in staged:
                (Path(path) / f).unlink(missing_ok=True)
            raise
        return new_id

    @staticmethod
    def _partition_col(files) -> str | None:
        """The column the ``col=val/`` dirs of ``files`` name, None
        for a flat table."""
        return next(
            (
                f.split("/", 1)[0].split("=", 1)[0]
                for f in files
                if "/" in f and "=" in f.split("/", 1)[0]
            ),
            None,
        )

    def _read_manifest(self, spark: SparkSession, path: str, man: dict):
        schema = StructType.fromJson(json.loads(man["schema"]))
        if not man["files"]:
            return spark.createDataFrame([], schema)
        # hand the reader the manifest's data columns so it launches no
        # footer-inference job; the partition column is still inferred
        # from the dirs (driver-side), so the read's schema is the one
        # an inferring read returns
        pcol = self._partition_col(man["files"])
        data = StructType([f for f in schema.fields if f.name != pcol])
        full = [str(Path(path) / f) for f in man["files"]]
        return (
            spark.read.schema(data).option("basePath", path).parquet(*full)
        )

    # --- contract: reads ---------------------------------------------
    def exists(self, spark: SparkSession, path: str) -> bool:
        _, head = self._head(path)
        return head is not None and bool(head["files"])

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        _, head = self._head(path)
        if head is None:
            raise FileNotFoundError(f"{path}: no {self.SNAPDIR}/ manifest")
        return self._read_manifest(spark, path, head)

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
    def _commit(
        self,
        rows: DataFrame | None,
        path: str,
        partition_col: str,
        emptied,
        snap: tuple[int | None, dict | None],
        expected_snapshot: int | None,
    ) -> None:
        """Commit of the partition verbs: stage ``rows`` (``None``:
        nothing to write), then publish the files of ``snap`` (the
        ``(id, manifest)`` the verb read on entry) minus those of every
        replaced partition — the ``col=val`` dirs of the staged files
        plus the ``emptied`` values — plus the staged files. Raises
        :class:`CommitConflictError` if the table moved past ``snap``:
        before staging when ``snap`` is not the expected snapshot, and
        with the staged files unlinked when the publish loses."""
        base, head = snap
        self._check_base(path, base, expected_snapshot)
        new: set[str] = set()
        if rows is not None:
            new = self._staged_write(
                path,
                lambda d: rows.write.mode("overwrite")
                .partitionBy(partition_col).parquet(d),
            )
        replaced = {f.split("/", 1)[0] for f in new} | {
            f"{partition_col}={v}" for v in emptied
        }
        old = head["files"] if head else []
        kept = {f for f in old if f.split("/", 1)[0] not in replaced}
        self._publish(
            path, kept | new,
            rows.schema.json() if rows is not None else head["schema"],
            base, expected_snapshot, staged=new,
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        path: str,
        partition_col: str,
        sort_cols: tuple[str, ...] = (),
        expected_snapshot: int | None = None,
    ) -> None:
        snap = self._head(path)
        out = df.repartition(partition_col)
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        self._commit(out, path, partition_col, (), snap, expected_snapshot)

    def delete_where(
        self,
        spark: SparkSession,
        path: str,
        predicate: Column,
        partition_col: str,
        expected_snapshot: int | None = None,
    ) -> int:
        base, head = self._head(path)
        if head is None or not head["files"]:
            return 0
        df = self._read_manifest(spark, path, head)
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
        # nothing matched: no commit (an empty DELETE is not a snapshot)
        if stats:
            kept = [r[partition_col] for r in stats if r["n_kept"] > 0]
            self._commit(
                df.where(F.col(partition_col).isin(kept)).where(~predicate)
                if kept else None,
                path, partition_col,
                [r[partition_col] for r in stats if r["n_kept"] == 0],
                (base, head), expected_snapshot,
            )
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
        expected_snapshot: int | None = None,
    ) -> None:
        base, head = self._head(path)
        if head is None or not head["files"]:
            self.overwrite_partitions(
                new_df, path, partition_col, sort_cols, expected_snapshot
            )
            return
        existing = self._read_manifest(spark, path, head)
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
        # the carried rows come from ``base``: commit on top of it only
        self.overwrite_partitions(
            out, path, partition_col, sort_cols,
            base if expected_snapshot is None else expected_snapshot,
        )

    def _stage_like(self, df: DataFrame, path: str, files) -> set[str]:
        """Stage ``df`` in the layout of the table files ``files``:
        partitioned by the column their ``col=val/`` dirs name, flat
        when they have none. Root-level part files next to ``col=val/``
        dirs are silently DROPPED by a partition-inferring read."""
        pcol = self._partition_col(files)

        def _w(d: str) -> None:
            w = df.write.mode("overwrite")
            (w.partitionBy(pcol) if pcol else w).parquet(d)

        return self._staged_write(path, _w)

    def append(
        self, df: DataFrame, path: str,
        expected_snapshot: int | None = None,
    ) -> None:
        base, head = self._head(path)
        self._check_base(path, base, expected_snapshot)
        new = self._stage_like(df, path, head["files"] if head else [])
        # the staged files never depend on table content, so a commit
        # that lands during staging (or between the head read and the
        # publish) is kept: re-read the head and publish on top of it
        while True:
            base, head = self._head(path)
            old = head["files"] if head else []
            try:
                self._publish(
                    path, set(old) | new, df.schema.json(), base,
                    expected_snapshot,
                    staged=new if expected_snapshot is not None else (),
                )
                return
            except CommitConflictError:
                if expected_snapshot is not None:
                    raise

    def rewrite(
        self, df: DataFrame, path: str,
        expected_snapshot: int | None = None,
    ) -> None:
        # no barrier needed: df's lineage resolves the CURRENT manifest
        # and scans exactly its (immutable) files; the staged write
        # lands new files and the publish swaps the manifest to ONLY
        # those — old files linger until expire_snapshots
        base, head = self._head(path)
        self._check_base(path, base, expected_snapshot)
        new = self._stage_like(df, path, head["files"] if head else [])
        self._publish(
            path, new, df.schema.json(), base, expected_snapshot, staged=new
        )

    # --- maintenance -------------------------------------------------
    def expire_snapshots(
        self, path: str, keep_last: int = 1,
        orphan_ttl_s: float = 86_400.0,
    ) -> int:
        """Drop all but the newest ``keep_last`` manifests and delete
        the data files only the dropped ones reference. Returns files
        removed. The GC that bounds time-travel storage.

        A file no manifest references — part files a writer moved into
        the table but never published (crashed, or still about to
        publish), staging dirs (``_snapshots/stage/*``) — is an orphan,
        reaped only once older than ``orphan_ttl_s``. The TTL keeps the
        GC from deleting a LIVE concurrent writer's in-flight files
        (the Iceberg orphan-file rule); pass 0 only when no writer can
        be running."""
        ids = self._ids(path)
        if not ids:
            return 0
        now = time.time()
        stage_root = self._sdir(path) / "stage"
        if stage_root.exists():
            for d in stage_root.iterdir():
                if d.is_dir() and now - d.stat().st_mtime >= orphan_ttl_s:
                    shutil.rmtree(d, ignore_errors=True)
        retained = ids[-keep_last:] if keep_last > 0 else []
        live: set[str] = set()
        referenced: set[str] = set()
        for sid in ids:
            files = set(self._load(path, sid)["files"])
            referenced |= files
            if sid in retained:
                live |= files
        removed = 0
        for f in self._list_files(path) - live:
            p = Path(path) / f
            if f in referenced or now - p.stat().st_mtime >= orphan_ttl_s:
                p.unlink()
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


class InMemoryFormat(TableFormat):
    """Snapshot-isolated in-memory fake of an Iceberg-class format.

    Every verb reads the current snapshot (a plain row list), computes
    the next snapshot, and swaps it atomically — so read-modify-write
    needs no persist barrier, deletes are "metadata-level" (no partition
    bookkeeping), and a concurrent reader keeps the snapshot it started
    with. Used by the contract tests to prove the engine's plans are
    correct against the semantics the docstrings claim, independent of
    the on-disk commit protocol. It keeps every snapshot:
    ``expire_snapshots`` is a no-op.
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
        # partition-scoped like ParquetFormat (r4 ADVICE): only
        # partitions holding a predicate-TRUE row are rewritten, so a
        # row whose predicate evaluates NULL survives in an unaffected
        # partition but is dropped (~predicate is NULL -> filtered) in
        # an affected one — bit-matching ParquetFormat's partition
        # replacement.
        affected = {
            r[0]
            for r in snapshot.where(predicate)
            .select(partition_col)
            .distinct()
            .collect()
        }
        if not affected:
            # nothing matched: no new snapshot (same as ParquetFormat
            # and Iceberg — an empty DELETE is not a commit)
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

    def expire_snapshots(
        self, path: str, keep_last: int = 1,
        orphan_ttl_s: float = 86_400.0,
    ) -> int:
        return 0


def compact_table(spark: SparkSession, fmt: TableFormat, path: str) -> int:
    """Rewrite the table at ``path`` into one file, committed only on
    top of the snapshot it read, then expire the replaced files; returns
    the row count. A concurrent append is never lost: it lands on top of
    the rewrite, or the rewrite raises :class:`CommitConflictError`
    (pinned to the snapshot because ``rewrite`` takes its base from the
    head on entry: an append landing between the read and the rewrite
    would otherwise be dropped by the publish)."""
    sid = fmt.current_snapshot(spark, path)
    obs = Observation()
    fmt.rewrite(
        fmt.read_as_of(spark, path, sid).coalesce(1)
        .observe(obs, F.count(F.lit(1)).alias("rows")),
        path,
        expected_snapshot=sid,
    )
    fmt.expire_snapshots(path)
    return int(obs.get["rows"])


def maybe_compact_table(
    spark: SparkSession, fmt: TableFormat, path: str
) -> int | None:
    """The small-file rule of an append-only bookkeeping table, run after
    each append: :func:`compact_table` once the current snapshot holds
    more than :data:`BOOKKEEPING_MAX_FILES` files. The skip path scans
    no row; it only plans a read, which lists a snapshot of more than 32
    files in one small Spark job. Returns the compacted row count, or
    None when it did not compact — also when it lost a commit race (the
    next append retries), so a writer whose own append committed never
    fails here."""
    if not fmt.exists(spark, path) or (
        len(fmt.read(spark, path).inputFiles()) <= BOOKKEEPING_MAX_FILES
    ):
        return None
    try:
        return compact_table(spark, fmt, path)
    except CommitConflictError:
        return None

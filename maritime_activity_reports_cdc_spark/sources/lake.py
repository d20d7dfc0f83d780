"""Snapshot-manifest lake table format (Iceberg-style, parquet-backed).

The reference delegates table mechanics to Delta Lake (CDF, MERGE,
OPTIMIZE — e.g. ``bronze/table_setup.py:72-80``, ``silver/cdf_processor.py:
255-275`` in /root/reference). This engine owns those mechanics itself so
the CDC semantics (exactly-once epochs, partition-scoped copy-on-write
merge, additive schema evolution, time travel for lineage) are explicit
and testable. The design mirrors Iceberg's public model:

- a table = a chain of immutable **snapshot manifests** (JSON) listing the
  parquet data files per partition value, plus a ``_current`` pointer
  swapped atomically (``os.replace``);
- every commit carries a **summary** dict; the engine stamps
  ``epoch:<source>`` keys into it, giving idempotent exactly-once applies
  (reference gap G5/T7 in SURVEY.md §4.3 — Delta MERGE replay of
  non-idempotent branches double-applies);
- **partition-level replace** (`replace_partitions`) is the primitive the
  merge apply uses: only buckets touched by a change batch are rewritten,
  like Iceberg copy-on-write ``MERGE INTO`` / Delta ``replaceWhere``;
- **additive schema evolution**: the manifest owns the schema; readers
  pass it explicitly so parquet files written before a column existed
  null-backfill for free (reference pattern P9, ``bronze/cdc_ingestion.py:
  158-166``, made automatic).

Scale notes: data files are immutable and written by ONE distributed Spark
job per commit (``partitionBy`` on a shadow key — no per-partition driver
loop); the driver only lists filenames and swaps a pointer, exactly like
an Iceberg commit. On a real deployment this class would be swapped for
Iceberg's catalog (the engine API is format-agnostic); ``os.replace``
stands in for the catalog's atomic CAS.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import threading
import time
import uuid
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_CURRENT = "_current"
_SHADOW_PARTITION_COL = "__lake_part"


class CommitConflict(RuntimeError):
    """Another writer advanced the table between read and commit, and the
    commit could not be safely rebased (see ``_rebase_ok``)."""


# Optimistic-concurrency retry budget for manifest assembly (the data
# files are written once; only the metadata rebase repeats).
_MAX_COMMIT_RETRIES = 5


def _rebase_ok(mode, base, current, new_files, extra_replaced) -> bool:
    """Can a commit built against ``base`` land on ``current``?

    - append / append_delta: pure additions — always rebase (Iceberg
      fast-append semantics).
    - overwrite: full-table last-writer-wins by contract.
    - replace (compaction / CoW refresh): ONLY if every replaced
      partition's base and delta file lists are unchanged between the
      snapshot the caller READ and the current snapshot — a concurrent
      delta append into a partition being compacted would otherwise be
      silently clobbered (its rows folded nowhere). Matches Iceberg's
      validateNoConflicting* checks on RewriteFiles.
    """
    if mode in ("append", "append_delta", "overwrite"):
        return True
    if mode == "replace":
        replaced = set(new_files.keys())
        if extra_replaced is not None:
            replaced |= {_part_key(v) for v in extra_replaced}
        for k in replaced:
            if base.files.get(k, []) != current.files.get(k, []):
                return False
            if base.delta_files.get(k, []) != current.delta_files.get(k, []):
                return False
        return True
    return False


class EpochAlreadyApplied(RuntimeError):
    """Commit for this (source, epoch) is already in the table history."""


@dataclasses.dataclass
class Snapshot:
    version: int
    parent: int | None
    schema_json: str
    partition_by: str | None
    # partition value (stringified, "" for unpartitioned) -> list of
    # data-file paths relative to the table root.
    files: dict[str, list[str]]
    summary: dict[str, Any]
    # source name -> highest epoch id committed (cumulative, O(1) lookup).
    epochs: dict[str, int]
    # table-level properties (e.g. n_buckets), carried forward on commit.
    properties: dict[str, Any]
    # per-file column bounds for properties["stats_cols"] (Iceberg-manifest
    # style): rel path -> {col: [min, max]}. Enables file-level pruning.
    file_stats: dict[str, dict[str, list]] = None  # type: ignore[assignment]
    # merge-on-read delta files per partition (Iceberg v2 / Hudi MOR
    # analog): change rows appended without rewriting the base; readers
    # resolve base ∪ deltas by key order; compaction folds them back.
    delta_files: dict[str, list[str]] = None  # type: ignore[assignment]
    # format-2 snapshots: partition -> per-partition manifest filename.
    # The snapshot JSON stores ONLY these refs; unchanged partitions
    # reuse the parent's ref file, so commit cost is O(changed
    # partitions), never O(total files) (Iceberg manifest-list analog).
    refs: dict[str, str] | None = None

    def __post_init__(self):
        if self.file_stats is None:
            self.file_stats = {}
        if self.delta_files is None:
            self.delta_files = {}

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    def all_files(self) -> list[str]:
        return [f for file_list in self.files.values() for f in file_list]


class LakeTable:
    """One table rooted at a local/posix directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        # per-partition manifest payload cache (ref files are immutable)
        self._ref_cache: dict[str, dict] = {}
        # parsed-snapshot cache: a version's manifest is immutable, and
        # the relay hot path asks for properties()/schema()/last_epoch()
        # many times per epoch — each was a listdir + JSON parse.
        # Bounded to a handful of recent versions (concurrency paths read
        # expected_version/read_version snapshots too).
        self._snap_cache: dict[int, Snapshot] = {}
        # the relay, derived-flush and overlap-pool threads share one
        # LakeTable: every cache mutation (insert, evict, expiry pop)
        # holds this lock; lookups are single dict.get calls
        self._snap_lock = threading.Lock()

    # ------------------------------------------------------------------
    # lifecycle
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        partition_by: str | None = None,
        properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        table = cls(spark, path)
        os.makedirs(table._manifest_path(), exist_ok=True)
        os.makedirs(table._data_path(), exist_ok=True)
        if table.current_version() is not None:
            raise FileExistsError(f"table already exists at {path}")
        snap = Snapshot(
            version=0,
            parent=None,
            schema_json=json.dumps(schema.jsonValue()),
            partition_by=partition_by,
            files={},
            summary={"operation": "create"},
            epochs={},
            properties=properties or {},
        )
        table._write_snapshot(snap, expected_parent=None)
        return table

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        table = cls(spark, path)
        if table.current_version() is None:
            raise FileNotFoundError(f"no lake table at {path}")
        return table

    @classmethod
    def exists(cls, path: str) -> bool:
        return cls(None, path).current_version() is not None  # type: ignore[arg-type]

    # ------------------------------------------------------------------
    # snapshot access
    # ------------------------------------------------------------------
    def current_version(self) -> int | None:
        """Highest committed version. The versioned manifest file IS the
        commit record (created atomically via ``os.link``), so the current
        version is derived from the manifest directory itself — two racing
        writers can never both commit the same version (true CAS; the
        ``_current`` pointer file is kept as a human-readable hint only)."""
        try:
            names = os.listdir(self._manifest_path())
        except FileNotFoundError:
            return None
        versions = [int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")]
        return max(versions) if versions else None

    def snapshot(self, version: int | None = None) -> Snapshot:
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"no lake table at {self.path}")
        cached = self._snap_cache.get(version)
        if cached is not None:
            return cached
        with open(os.path.join(self._manifest_path(), f"v{version:08d}.json")) as fh:
            raw = json.load(fh)
        if raw.get("refs") is None:
            snap = Snapshot(**{k: v for k, v in raw.items() if k != "format"})
            self._cache_snapshot(snap)
            return snap
        files: dict[str, list[str]] = {}
        deltas: dict[str, list[str]] = {}
        stats: dict[str, dict] = {}
        for part, ref in raw["refs"].items():
            payload = self._ref_cache.get(ref)
            if payload is None:
                with open(os.path.join(self._manifest_path(), ref)) as fh:
                    payload = json.load(fh)
                self._ref_cache[ref] = payload
            files[part] = payload["files"]
            if payload["deltas"]:
                deltas[part] = payload["deltas"]
            stats.update(payload["stats"])
        snap = Snapshot(
            version=raw["version"],
            parent=raw["parent"],
            schema_json=raw["schema_json"],
            partition_by=raw["partition_by"],
            files=files,
            summary=raw["summary"],
            epochs=raw["epochs"],
            properties=raw["properties"],
            file_stats=stats,
            delta_files=deltas,
            refs=raw["refs"],
        )
        self._cache_snapshot(snap)
        return snap

    def _cache_snapshot(self, snap: Snapshot) -> None:
        """Insert into the bounded parsed-snapshot cache (manifests are
        immutable per version, so entries never go stale; eviction keeps
        only the most recent handful so long-lived tables don't hold
        every historical file-stats dict)."""
        cache = self._snap_cache
        with self._snap_lock:
            cache[snap.version] = snap
            while len(cache) > 4:
                cache.pop(min(cache))

    def schema(self) -> T.StructType:
        return self.snapshot().schema()

    def last_epoch(self, source: str) -> int:
        return self.snapshot().epochs.get(source, -1)

    def properties(self) -> dict[str, Any]:
        return self.snapshot().properties

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------
    def read(
        self, version: int | None = None, deltas: str | None = None,
        tombstones: str = "exclude",
    ) -> DataFrame:
        """Full-table base scan at a snapshot (time travel when version
        given). ``deltas``: 'exclude' (base only), 'include' (base ∪ delta
        rows, unresolved), 'only'. Left unset, the read is base-only and
        raises if the snapshot has outstanding delta files: a base-only
        read of a merge-on-read table is stale. MoR callers resolve via
        ``operators.apply.read_merged``.

        ``tombstones``: on tables with ``retain_tombstones`` set, persisted
        delete rows (op='D') are invisible by default — pass 'include' to
        see them (resolution paths must)."""
        snap = self.snapshot(version)
        keys = snap.files.keys() | snap.delta_files.keys()
        df = self._read_files(snap, self._file_list(snap, keys, deltas))
        return self._hide_tombstones(snap, df, tombstones)

    def _hide_tombstones(self, snap: Snapshot, df: DataFrame, tombstones: str) -> DataFrame:
        if tombstones == "exclude" and snap.properties.get("retain_tombstones"):
            df = df.where(F.col("op").isNull() | (F.col("op") != "D"))
        return df

    def read_partitions(
        self,
        values: Iterable[Any],
        version: int | None = None,
        bounds: dict[str, tuple] | None = None,
        deltas: str | None = None,
        tombstones: str = "exclude",
    ) -> DataFrame:
        """Manifest-level partition pruning: scan only the named partitions,
        so a refresh costs its batch footprint, not the table size.
        ``deltas`` as in :meth:`read`: unset raises if a named partition
        has outstanding delta files.

        ``bounds`` adds file-level pruning: {col: (lo, hi)} keeps only
        files whose recorded [min, max] for ``col`` intersects [lo, hi]
        (files without stats are kept). With time-correlated ingest this
        skips the bulk of a bucket's historical files when refreshing
        recently-active keys.
        """
        snap = self.snapshot(version)
        wanted = {_part_key(v) for v in values}
        files = self._file_list(snap, wanted, deltas)
        if bounds:
            files = [f for f in files if _stats_overlap(snap.file_stats.get(f), bounds)]
        return self._hide_tombstones(snap, self._read_files(snap, files), tombstones)

    @staticmethod
    def _file_list(snap: Snapshot, keys: Iterable[str], deltas: str | None) -> list[str]:
        keys = set(keys)
        if deltas is None:
            if any(snap.delta_files.get(k) for k in keys):
                raise ValueError(
                    f"snapshot v{snap.version} has outstanding delta files in the "
                    "partitions read: a base-only read would be stale. Resolve "
                    "with operators.apply.read_merged, or pass deltas='exclude' "
                    "(base only) or 'include' (unresolved rows)"
                )
            deltas = "exclude"
        out: list[str] = []
        if deltas in ("exclude", "include"):
            out += [f for k, fl in snap.files.items() if k in keys for f in fl]
        if deltas in ("include", "only"):
            out += [f for k, fl in snap.delta_files.items() if k in keys for f in fl]
        return out

    def has_deltas(self, values: Iterable[Any], version: int | None = None) -> bool:
        """True when any of the named partitions has outstanding delta
        files (read from the snapshot; no Spark job)."""
        snap = self.snapshot(version)
        return any(snap.delta_files.get(_part_key(v)) for v in values)

    def delta_load(self) -> tuple[int, int]:
        """(total delta files, max delta files per partition), read from
        the current snapshot (no Spark job). Max-per-partition is the
        read-tax proxy behind compaction triggers: a reader of one
        partition resolves that many delta files."""
        deltas = self.snapshot().delta_files.values()
        return sum(len(v) for v in deltas), max((len(v) for v in deltas), default=0)

    def delta_partition_values(self, version: int | None = None) -> list[str]:
        snap = self.snapshot(version)
        return sorted(k for k, fl in snap.delta_files.items() if fl)

    def partition_values(self, version: int | None = None) -> list[str]:
        return sorted(self.snapshot(version).files.keys())

    def read_changes(
        self,
        start_version: int,
        end_version: int | None = None,
        **kwargs,
    ) -> DataFrame:
        """Change-data-feed read: rows changed by commits in
        ``(start_version, end_version]`` stamped with ``_change_type`` /
        ``_commit_version`` — the Delta ``table_changes`` analog the
        reference's silver layer consumes (reconstructed from manifest
        diffs; see ``operators.changefeed``)."""
        from maritime_activity_reports_cdc_spark.operators.changefeed import (
            read_changes,
        )

        return read_changes(self, start_version, end_version, **kwargs)

    def _read_files(self, snap: Snapshot, files: list[str]) -> DataFrame:
        schema = snap.schema()
        if not files:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, f) for f in files]
        # Explicit schema => files written before a column was added
        # null-backfill (additive evolution), and no footer-inference jobs.
        return self.spark.read.schema(schema).parquet(*paths)

    # ------------------------------------------------------------------
    # writes (each is ONE distributed Spark job + an O(1) driver commit)
    # ------------------------------------------------------------------
    def append(
        self,
        df: DataFrame,
        summary: dict | None = None,
        epoch: tuple[str, int] | None = None,
    ) -> Snapshot:
        return self._commit(df, mode="append", summary=summary, epoch=epoch)

    # ``pre_partitioned=True`` on a writer promises the frame is already
    # clustered by the partition column (e.g. it just came through an
    # exchange keyed on it) — the commit then skips its defensive
    # repartition, saving a full shuffle of the write set.

    def overwrite(
        self,
        df: DataFrame,
        summary: dict | None = None,
        epoch: tuple[str, int] | None = None,
    ) -> Snapshot:
        """Full refresh (reference S7, ``bronze/cdc_ingestion.py:121-127``)."""
        return self._commit(df, mode="overwrite", summary=summary, epoch=epoch)

    def replace_partitions(
        self,
        df: DataFrame,
        summary: dict | None = None,
        epoch: tuple[str, int] | None = None,
        partition_values: Iterable[Any] | None = None,
        pre_partitioned: bool = False,
        write_options: dict[str, str] | None = None,
        sort_within: tuple[str, ...] | None = None,
        properties_update: dict | None = None,
        expected_version: int | None = None,
    ) -> Snapshot:
        """Atomic swap of exactly the partitions present in ``df``.

        ``expected_version``: pass the snapshot version the replacement
        rows were READ from — the commit then validates that no
        concurrent writer touched the replaced partitions anywhere in
        the read-to-commit window (raising :class:`CommitConflict`
        instead of clobbering, e.g., a delta appended mid-compaction).

        ``partition_values`` may name partitions to drop even if the new
        frame has no rows for them (e.g. a bucket whose rows were all
        deleted). Delta files of replaced partitions are cleared (this is
        the compaction commit in merge-on-read mode).

        ``sort_within``: cluster each partition's rows by these columns
        in the written files (survives the partitioned writer's own
        ordering requirement — see _commit) so per-file stats stay tight.
        """
        return self._commit(
            df,
            mode="replace",
            summary=summary,
            epoch=epoch,
            extra_replaced=partition_values,
            pre_partitioned=pre_partitioned,
            write_options=write_options,
            sort_within=sort_within,
            properties_update=properties_update,
            expected_version=expected_version,
        )

    def append_deltas(
        self,
        df: DataFrame,
        summary: dict | None = None,
        epoch: tuple[str, int] | None = None,
        pre_partitioned: bool = False,
    ) -> Snapshot:
        """Merge-on-read write: append change rows as DELTA files without
        touching the base — O(batch) I/O per commit regardless of table
        size (the copy-on-write rewrite is deferred to compaction).
        Readers must resolve deltas against the base by key order (see
        ``operators.apply.read_merged``)."""
        return self._commit(
            df, mode="append_delta", summary=summary, epoch=epoch,
            pre_partitioned=pre_partitioned,
        )

    def commit_epoch_noop(self, source: str, epoch: int, summary: dict | None = None) -> Snapshot:
        """Record an epoch with no data change (empty batch exactly-once)."""
        def build(parent: Snapshot) -> dict:
            self._check_epoch(parent, source, epoch)
            return {
                "summary": {"operation": "noop", **(summary or {})},
                "epochs": {**parent.epochs, source: epoch},
            }

        return self._commit_metadata(build)

    # ------------------------------------------------------------------
    # maintenance: snapshot expiry + orphan cleanup
    # ------------------------------------------------------------------
    def expire_snapshots(self, keep_last: int = 10) -> dict[str, int]:
        """Drop manifests older than the newest ``keep_last`` and delete
        every data file no kept snapshot references (including orphans
        from aborted commits). The functional analog of the reference's
        ``VACUUM ... RETAIN n HOURS`` (``bronze/table_setup.py:206-220``,
        ``utils/spark_utils.py:183-205`` in /root/reference) — without it
        every copy-on-write rewrite strands the superseded files forever.

        Time travel stays available within the retention window and is
        gone beyond it. MUST NOT run concurrently with writers or with
        in-flight readers pinned to expired snapshots — run it from the
        (single) maintenance process, like Iceberg's expire_snapshots.

        Returns {"manifests_removed", "files_removed", "bytes_removed"}.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        names = sorted(
            n for n in os.listdir(self._manifest_path())
            if n.startswith("v") and n.endswith(".json")
        )
        versions = [int(n[1:-5]) for n in names]
        expire = versions[:-keep_last]
        keep = versions[-keep_last:]
        live: set[str] = set()
        for v in keep:
            snap = self.snapshot(v)
            live.update(snap.all_files())
            for fl in snap.delta_files.values():
                live.update(fl)
        def commit_of(rel: str) -> str:
            parts = rel.split(os.sep)
            return os.sep.join(parts[:2])  # data/cXXXXXXXX-id

        live_commits = {commit_of(f) for f in live}
        removed_files = removed_bytes = 0
        data_root = self._data_path()
        for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
            for fname in filenames:
                abspath = os.path.join(dirpath, fname)
                rel = os.path.relpath(abspath, self.path)
                if fname.endswith(".parquet"):
                    if rel in live:
                        continue
                else:
                    # sidecars (_SUCCESS, .crc): drop only once their whole
                    # commit directory is dead
                    if commit_of(rel) in live_commits:
                        continue
                try:
                    removed_bytes += os.path.getsize(abspath)
                    os.unlink(abspath)
                    removed_files += 1
                except FileNotFoundError:
                    pass
            # prune directories emptied by the deletes
            try:
                if dirpath != data_root and not os.listdir(dirpath):
                    os.rmdir(dirpath)
            except OSError:
                pass
        for v in expire:
            with self._snap_lock:
                self._snap_cache.pop(v, None)  # expired manifests must MISS
            try:
                os.unlink(os.path.join(self._manifest_path(), f"v{v:08d}.json"))
            except FileNotFoundError:
                pass
        # per-partition manifest refs referenced only by expired snapshots
        live_refs: set[str] = set()
        for v in keep:
            with open(os.path.join(self._manifest_path(), f"v{v:08d}.json")) as fh:
                raw = json.load(fh)
            live_refs.update((raw.get("refs") or {}).values())
        for name in os.listdir(self._manifest_path()):
            if name.startswith("p") and name.endswith(".json") and name not in live_refs:
                try:
                    os.unlink(os.path.join(self._manifest_path(), name))
                    self._ref_cache.pop(name, None)
                    removed_files += 1
                except FileNotFoundError:
                    pass
        return {
            "manifests_removed": len(expire),
            "files_removed": removed_files,
            "bytes_removed": removed_bytes,
        }

    def set_properties(self, updates: dict[str, Any]) -> Snapshot:
        """ALTER TABLE SET TBLPROPERTIES analog: commit a new snapshot
        carrying updated table properties, data untouched (Iceberg/Delta
        both expose this). A value of None removes the key. Property
        changes that alter READ semantics (e.g. ``layer_mode``) are the
        caller's responsibility to apply only on states where the modes
        agree (a delta-free table reads identically in cow/auto)."""
        def build(parent: Snapshot) -> dict:
            return {
                "summary": {"operation": "set-properties", "keys": sorted(updates)},
                "properties": {
                    **{k: v for k, v in parent.properties.items()
                       if updates.get(k, "") is not None},
                    **{k: v for k, v in updates.items() if v is not None},
                },
            }

        return self._commit_metadata(build)

    # ------------------------------------------------------------------
    # schema evolution (additive)
    # ------------------------------------------------------------------
    def add_columns(self, new_fields: list[T.StructField]) -> Snapshot:
        """ALTER TABLE ADD COLUMNS — existing files read the new columns
        as null (reference's opt-in ``mergeSchema`` S6 made explicit).
        The columns to add are recomputed against each parent, so a
        retry after a lost race adds only what is still missing."""
        def build(parent: Snapshot) -> dict | None:
            schema = parent.schema()
            existing = {f.name for f in schema.fields}
            added = [f for f in new_fields if f.name not in existing]
            if not added:
                return None
            return {
                "schema_json": json.dumps(T.StructType(schema.fields + added).jsonValue()),
                "summary": {"operation": "add-columns", "columns": [f.name for f in added]},
            }

        return self._commit_metadata(build)

    def _commit_metadata(self, build) -> Snapshot:
        """Commit a metadata-only snapshot: data files, stats and deltas
        carry over from the parent; ``build(parent)`` returns the changed
        snapshot fields (always a fresh ``summary``), or None when there
        is nothing to change (the parent is returned). A lost CAS race
        rebuilds against the new parent and retries — a metadata commit
        never conflicts with a concurrent data commit."""
        for attempt in range(_MAX_COMMIT_RETRIES + 1):
            parent = self.snapshot()
            changes = build(parent)
            if changes is None:
                return parent
            snap = dataclasses.replace(
                parent, version=parent.version + 1, parent=parent.version,
                refs=None, **changes,
            )
            try:
                self._write_snapshot(
                    snap, expected_parent=parent.version, touched=set(),
                    parent_refs=parent.refs,
                )
                return snap
            except CommitConflict:
                if attempt == _MAX_COMMIT_RETRIES:
                    raise
        raise AssertionError("unreachable")

    # ------------------------------------------------------------------
    # internals
    # ------------------------------------------------------------------
    def _commit(
        self,
        df: DataFrame,
        mode: str,
        summary: dict | None,
        epoch: tuple[str, int] | None,
        extra_replaced: Iterable[Any] | None = None,
        pre_partitioned: bool = False,
        write_options: dict[str, str] | None = None,
        sort_within: tuple[str, ...] | None = None,
        properties_update: dict | None = None,
        expected_version: int | None = None,
    ) -> Snapshot:
        parent = self.snapshot()
        if epoch is not None:
            self._check_epoch(parent, epoch[0], epoch[1])
        schema = parent.schema()
        df = _align_to_schema(df, schema)
        properties = {**parent.properties, **(properties_update or {})}

        # Table write-order (Iceberg's sort-order analog): once declared
        # (by rewrite_files or at create), EVERY base rewrite — cow
        # refresh, compaction, maintenance — re-applies the clustering,
        # so the tight per-file stats that make bounds pruning work are
        # not destroyed by the next compaction cycle. Delta appends stay
        # raw (small, short-lived). Explicit caller args win.
        clustering = properties.get("clustering")
        if clustering and mode in ("replace", "overwrite"):
            if sort_within is None:
                resolved = _clustering_sort_cols(clustering, schema)
                if resolved is not None:
                    sort_within = tuple(resolved)
            tfr = clustering.get("target_file_rows")
            if tfr and "maxRecordsPerFile" not in (write_options or {}):
                write_options = {**(write_options or {}), "maxRecordsPerFile": str(int(tfr))}

        commit_id = uuid.uuid4().hex[:12]
        commit_rel = os.path.join(_DATA_DIR, f"c{parent.version + 1:08d}-{commit_id}")
        commit_abs = os.path.join(self.path, commit_rel)
        _prof_t0 = time.monotonic()

        part_col = parent.partition_by
        if part_col is not None:
            # Shadow copy of the partition column: partitionBy() consumes
            # the directory key but the real column stays in the files, so
            # reads are plain file-list scans with no discovery pass.
            #
            # Cluster rows by the partition key BEFORE the partitioned
            # write: without it every task emits one file per partition
            # value it sees (tasks x partitions tiny files — measured to
            # ANTI-scale: more cores -> more files -> slower everything).
            # With the exchange, files-per-commit ≈ number of touched
            # partitions, independent of parallelism.
            dfw = df.withColumn(_SHADOW_PARTITION_COL, F.col(part_col).cast("string"))
            if not pre_partitioned:
                dfw = dfw.repartition(F.col(_SHADOW_PARTITION_COL))
            if sort_within:
                # Dynamic-partitioned writes re-sort each task's rows by
                # the partition expression alone (FileFormatWriter's
                # required ordering), which DESTROYS any clustering the
                # caller arranged — every "sorted" file ends up spanning
                # the whole key range and stats pruning dies. Sorting
                # here with the shadow column as the leading key makes
                # the child ordering satisfy the writer's requirement,
                # so the writer skips its own sort and the secondary
                # keys survive into the files (tight per-file min/max;
                # maxRecordsPerFile then yields DISJOINT key ranges).
                dfw = dfw.sortWithinPartitions(_SHADOW_PARTITION_COL, *sort_within)
            writer = dfw.write
            for k, v in (write_options or {}).items():
                writer = writer.option(k, v)
            writer.partitionBy(_SHADOW_PARTITION_COL).parquet(commit_abs)
            new_files = _collect_partitioned_files(commit_abs, commit_rel)
        else:
            if sort_within:
                df = df.sortWithinPartitions(*sort_within)
            writer = df.write
            for k, v in (write_options or {}).items():
                writer = writer.option(k, v)
            writer.parquet(commit_abs)
            new_files = {"": _collect_flat_files(commit_abs, commit_rel)}
        new_files = {k: v for k, v in new_files.items() if v}
        _prof_t1 = time.monotonic()

        # Per-file column bounds (Iceberg-manifest analog) from parquet
        # footers (metadata-only reads): small commits on the driver,
        # large ones as a distributed job so the commit path never
        # becomes a driver file-loop bottleneck. Stats of the NEW files
        # are parent-independent — computed once, reused across retries.
        stats_cols = properties.get("stats_cols") or []
        new_stats: dict[str, dict] = {}
        if stats_cols:
            new_rels = [rel for fl in new_files.values() for rel in fl]
            new_stats = self._collect_stats(new_rels, stats_cols)
        _prof_t2 = time.monotonic()

        # Optimistic concurrency (Iceberg commit-retry analog): the data
        # files are written exactly once; manifest assembly rebases onto
        # the current snapshot and retries when another writer won the
        # CAS — additive commits (append/append_delta) always rebase,
        # overwrite is last-writer-wins by contract, and replace rebases
        # only if _rebase_ok proves the replaced partitions untouched
        # (a concurrent delta append into a partition being compacted
        # must never be clobbered). Lets ingest and maintenance commit
        # concurrently instead of serializing the relay on compaction.
        attempts = 0
        # ``expected_version``: the snapshot the CALLER's read plans were
        # built against (a replace derives its rows from that state) —
        # validation must span read-to-commit, not just commit-to-commit.
        original_parent = (
            self.snapshot(expected_version)
            if expected_version is not None and expected_version != parent.version
            else parent
        )
        if original_parent.version != parent.version and not _rebase_ok(
            mode, original_parent, parent, new_files, extra_replaced
        ):
            shutil.rmtree(commit_abs, ignore_errors=True)
            raise CommitConflict(
                f"table advanced v{original_parent.version} -> v{parent.version} "
                f"since the caller's read and a replaced partition changed"
            )
        while True:
            if epoch is not None:
                try:
                    self._check_epoch(parent, epoch[0], epoch[1])
                except EpochAlreadyApplied:
                    shutil.rmtree(commit_abs, ignore_errors=True)
                    raise
            deltas = {k: list(v) for k, v in parent.delta_files.items()}
            if mode == "append":
                files = {k: list(v) for k, v in parent.files.items()}
                for key, file_list in new_files.items():
                    files.setdefault(key, []).extend(file_list)
                touched = set(new_files)
            elif mode == "append_delta":
                files = {k: list(v) for k, v in parent.files.items()}
                for key, file_list in new_files.items():
                    deltas.setdefault(key, []).extend(file_list)
                    files.setdefault(key, [])  # partition becomes visible
                touched = set(new_files)
            elif mode == "overwrite":
                files = new_files
                deltas = {}
                touched = set(new_files) | set(parent.files) | set(parent.delta_files)
            elif mode == "replace":
                replaced = set(new_files.keys())
                if extra_replaced is not None:
                    replaced |= {_part_key(v) for v in extra_replaced}
                files = {k: list(v) for k, v in parent.files.items() if k not in replaced}
                files.update(new_files)
                deltas = {k: v for k, v in deltas.items() if k not in replaced}
                touched = replaced
            else:  # pragma: no cover
                raise ValueError(mode)

            file_stats = dict(parent.file_stats)
            file_stats.update(new_stats)
            live = {f for fl in files.values() for f in fl}
            live |= {f for fl in deltas.values() for f in fl}
            file_stats = {f: st for f, st in file_stats.items() if f in live}

            epochs = dict(parent.epochs)
            if epoch is not None:
                epochs[epoch[0]] = epoch[1]
            snap = Snapshot(
                version=parent.version + 1,
                parent=parent.version,
                schema_json=parent.schema_json,
                partition_by=parent.partition_by,
                files=files,
                summary={"operation": mode, **(summary or {})},
                epochs=epochs,
                properties={**parent.properties, **(properties_update or {})},
                file_stats=file_stats,
                delta_files=deltas,
            )
            try:
                self._write_snapshot(
                    snap, expected_parent=parent.version,
                    touched=touched, parent_refs=parent.refs,
                )
                break
            except CommitConflict:
                attempts += 1
                current = self.snapshot()
                if attempts > _MAX_COMMIT_RETRIES or not _rebase_ok(
                    mode, original_parent, current, new_files, extra_replaced
                ):
                    shutil.rmtree(commit_abs, ignore_errors=True)
                    raise
                parent = current
        # Per-phase commit profile (diagnostics only; read by
        # perfbench/spans.py for the per-layer commit split):
        # write = the Spark job, stats = footer bounds, manifest = JSON IO.
        _prof_t3 = time.monotonic()
        self.last_commit_profile = {
            "mode": mode,
            "write_secs": round(_prof_t1 - _prof_t0, 4),
            "stats_secs": round(_prof_t2 - _prof_t1, 4),
            "manifest_secs": round(_prof_t3 - _prof_t2, 4),
            "files": sum(len(v) for v in new_files.values()),
        }
        return snap

    def _collect_stats(self, rels: list[str], stats_cols: list[str]) -> dict[str, dict]:
        """Footer stats for newly written files. Driver loop when few
        files; a parallelize job (footers read on executors) once the
        count would make the driver loop a commit bottleneck."""
        if len(rels) <= 64:
            out = {}
            for rel in rels:
                stats = _footer_stats(os.path.join(self.path, rel), stats_cols)
                if stats:
                    out[rel] = stats
            return out
        root = self.path
        # The worker must be serialized BY VALUE (nested def): a module-
        # level function pickles by qualified name, which executors can't
        # import unless the package was shipped via --py-files.
        stats_fn = _footer_stats_impl()

        def _work(rel: str):
            return rel, stats_fn(os.path.join(root, rel), stats_cols)

        pairs = self.spark.sparkContext.parallelize(
            rels, max(2, len(rels) // 32)
        ).map(_work).collect()
        return {rel: st for rel, st in pairs if st}

    def _check_epoch(self, parent: Snapshot, source: str, epoch: int) -> None:
        last = parent.epochs.get(source, -1)
        if epoch <= last:
            raise EpochAlreadyApplied(
                f"epoch {epoch} for source {source!r} already committed (last={last})"
            )

    def _write_snapshot(
        self,
        snap: Snapshot,
        expected_parent: int | None,
        touched: set[str] | None = None,
        parent_refs: dict[str, str] | None = None,
    ) -> None:
        current = self.current_version()
        if current != expected_parent:
            raise CommitConflict(
                f"table advanced to v{current} while writing v{snap.version}"
            )
        # Commit wall-clock (Delta CDF's _commit_timestamp analog): every
        # snapshot records when it was committed so the change-feed
        # producer can stamp feed rows. setdefault keeps replayed/cloned
        # summaries stable if a caller supplied its own.
        snap.summary.setdefault("committed_at_ms", int(time.time() * 1000))
        # Per-partition manifests: rewrite only the touched partitions'
        # ref files; everything else reuses the parent's (commit cost
        # O(changed), not O(total files)). touched=None => all changed.
        refs: dict[str, str] = {}
        all_parts = set(snap.files) | set(snap.delta_files)
        for part in sorted(all_parts):
            if (
                touched is not None
                and part not in touched
                and parent_refs is not None
                and part in parent_refs
            ):
                refs[part] = parent_refs[part]
                continue
            part_files = snap.files.get(part, [])
            part_deltas = snap.delta_files.get(part, [])
            payload = {
                "files": part_files,
                "deltas": part_deltas,
                "stats": {
                    f: snap.file_stats[f]
                    for f in (*part_files, *part_deltas)
                    if f in snap.file_stats
                },
            }
            ref = f"p{snap.version:08d}-{uuid.uuid4().hex[:8]}.json"
            ref_tmp = os.path.join(self._manifest_path(), ref + ".tmp")
            with open(ref_tmp, "w") as fh:
                json.dump(payload, fh)
            os.replace(ref_tmp, os.path.join(self._manifest_path(), ref))
            self._ref_cache[ref] = payload
            refs[part] = ref
        snap.refs = refs
        raw = {
            "format": 2,
            "version": snap.version,
            "parent": snap.parent,
            "schema_json": snap.schema_json,
            "partition_by": snap.partition_by,
            "summary": snap.summary,
            "epochs": snap.epochs,
            "properties": snap.properties,
            "refs": refs,
        }
        manifest = os.path.join(self._manifest_path(), f"v{snap.version:08d}.json")
        tmp = manifest + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(raw, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            # Atomic create-if-absent of the fully-written manifest == the
            # commit point (catalog CAS stand-in). Two writers that both
            # observed the same parent race here; exactly one link succeeds,
            # the loser gets a detected CommitConflict instead of silently
            # overwriting the winner's commit.
            os.link(tmp, manifest)
        except FileExistsError:
            raise CommitConflict(
                f"concurrent writer committed v{snap.version} first"
            ) from None
        finally:
            os.unlink(tmp)
        # Advisory pointer for humans/tools; correctness never reads it.
        pointer_tmp = os.path.join(self._manifest_path(), f"{_CURRENT}.tmp-{uuid.uuid4().hex[:8]}")
        with open(pointer_tmp, "w") as fh:
            fh.write(str(snap.version))
        os.replace(pointer_tmp, os.path.join(self._manifest_path(), _CURRENT))
        # the committed snapshot is fully materialized in memory — seed
        # the parsed-snapshot cache so the next read skips the JSON parse
        self._cache_snapshot(snap)

    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST_DIR)

    def _data_path(self) -> str:
        return os.path.join(self.path, _DATA_DIR)


def zorder_rank_expr(col: str, dtype: str) -> F.Column:
    """Order-preserving numeric rank of a column for z-order bucketing.

    Numerics/timestamps cast to double; dates via timestamp; strings use
    a 56-bit big-endian prefix of the UTF-8 bytes (preserves
    lexicographic order over the first 7 bytes — columns whose values
    share a long common prefix contribute little locality, which is the
    honest limit of prefix ranking; bucket-partition such keys instead).
    """
    if dtype == "string":
        return F.conv(
            F.hex(F.substring(F.col(col).cast("binary"), 1, 7)), 16, 10
        ).cast("double")
    if dtype == "date":
        return F.col(col).cast("timestamp").cast("double")
    return F.col(col).cast("double")


def zorder_column(
    dtypes: dict[str, str],
    cols: list[str],
    ranges: dict[str, list[float]],
    bits: int,
) -> F.Column:
    """Morton (z-order) interleaved sort key over ``cols``.

    Each column is range-normalized into ``2^bits`` buckets using the
    recorded [lo, hi] (uniform spacing — the Delta OPTIMIZE ZORDER
    shape, where boundaries come from a bounded sample; here from one
    min/max agg persisted in the table's clustering property), then the
    bucket bits are interleaved so a run of consecutive z values spans a
    tight hyper-rectangle in EVERY dimension — per-file min/max stats
    stay simultaneously tight on all z columns, which lexicographic
    sorting only achieves for the leading one. Nulls sort into bucket 0.
    ``bits * len(cols)`` must fit a signed long.
    """
    n = len(cols)
    if n == 0:
        raise ValueError("zorder needs at least one column")
    if bits * n > 62:
        raise ValueError(f"zorder width {bits}x{n} exceeds 62 bits")
    top = (1 << bits) - 1
    vals = []
    for c in cols:
        lo, hi = ranges[c]
        r = zorder_rank_expr(c, dtypes[c])
        if lo is not None and hi is not None and float(hi) > float(lo):
            bucket = F.floor(
                (r - F.lit(float(lo)))
                / F.lit(float(hi) - float(lo))
                * F.lit(float(top))
            )
            bucket = F.least(F.greatest(bucket, F.lit(0)), F.lit(top))
        else:
            bucket = F.lit(0)
        vals.append(F.coalesce(bucket, F.lit(0)).cast("long"))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, v in enumerate(vals):
            bit = F.shiftright(v, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + j))
    return z


def _clustering_sort_cols(
    clustering: dict, schema: T.StructType
) -> list | None:
    """Resolve a persisted clustering spec into sortWithinPartitions
    arguments: a z-order expression or the plain sort column names."""
    if clustering.get("zorder"):
        dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
        return [
            zorder_column(
                dtypes,
                list(clustering["zorder"]),
                clustering["ranges"],
                int(clustering.get("bits", 16)),
            )
        ]
    if clustering.get("sort_by"):
        return list(clustering["sort_by"])
    return None


def _part_key(value: Any) -> str:
    return "" if value is None else str(value)


def _footer_stats_impl():
    """Build the footer-stats closure. Returned as a NESTED function so
    cloudpickle serializes it by value — executors can run it without
    being able to import this package (no --py-files requirement for
    the distributed stats job)."""

    def _stats(path: str, stats_cols: list[str]) -> dict[str, Any]:
        import datetime as _dt

        import pyarrow.parquet as pq

        try:
            md = pq.read_metadata(path)
        except Exception:
            return {}
        mins: dict[str, Any] = {}
        maxs: dict[str, Any] = {}
        nulls: dict[str, int] = {}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name not in stats_cols or col.statistics is None:
                    continue
                st = col.statistics
                if st.null_count is not None:
                    nulls[name] = nulls.get(name, 0) + st.null_count
                if not st.has_min_max:
                    continue
                lo, hi = st.min, st.max
                if isinstance(lo, bytes):
                    try:
                        lo, hi = lo.decode(), hi.decode()
                    except Exception:
                        continue
                if isinstance(lo, _dt.datetime):
                    lo, hi = lo.isoformat(), hi.isoformat()
                if not isinstance(lo, (str, int, float)):
                    continue
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
        out: dict[str, Any] = {c: [mins[c], maxs[c]] for c in mins}
        out["__rows"] = md.num_rows
        for c, n in nulls.items():
            out[f"__nulls_{c}"] = n
        return out

    return _stats


def _footer_stats(path: str, stats_cols: list[str]) -> dict[str, Any]:
    """Per-file metadata from the parquet footer (no data read): min/max
    per stats column (JSON-safe scalars; timestamps as ISO strings), plus
    ``__rows`` and ``__nulls_<col>`` counts. Footer-derived lineage lets
    the MoR apply skip a whole pre-write statistics pass."""
    return _footer_stats_impl()(path, stats_cols)


def _stats_overlap(stats: dict[str, Any] | None, bounds: dict[str, tuple]) -> bool:
    if not stats:
        return True  # no stats -> cannot prune
    for col, (lo, hi) in bounds.items():
        entry = stats.get(col)
        if not isinstance(entry, list):
            continue
        f_lo, f_hi = entry
        if (hi is not None and f_lo > hi) or (lo is not None and f_hi < lo):
            return False
    return True


def _align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project/cast the frame to the table schema; missing columns -> null
    (the additive-evolution write path)."""
    cols = []
    available = set(df.columns)
    for field in schema.fields:
        if field.name in available:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def _collect_partitioned_files(commit_abs: str, commit_rel: str) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for entry in os.listdir(commit_abs):
        if not entry.startswith(f"{_SHADOW_PARTITION_COL}="):
            continue
        raw = entry.split("=", 1)[1]
        key = "" if raw == "__HIVE_DEFAULT_PARTITION__" else _unescape_path(raw)
        part_dir = os.path.join(commit_abs, entry)
        out[key] = sorted(
            os.path.join(commit_rel, entry, f)
            for f in os.listdir(part_dir)
            if f.endswith(".parquet")
        )
    return out


def _collect_flat_files(commit_abs: str, commit_rel: str) -> list[str]:
    return sorted(
        os.path.join(commit_rel, f) for f in os.listdir(commit_abs) if f.endswith(".parquet")
    )


def _unescape_path(raw: str) -> str:
    # Hive-style %XX escaping used by Spark's partitioned writer.
    from urllib.parse import unquote

    return unquote(raw)

"""Shadow-write + publish protocol.

Capability twin of the reference's temporary-schema dance
(/root/reference/load_dataset.py:209-252, 365-370): load into
``staging_<dataset>_<epoch>``, and only after everything succeeds move
the results into the target namespace; on any error the staging
namespace is dropped and readers never saw a thing. Every table's data
is written ONCE, into staging (SURVEY.md §2 K3/O1); Spark's catalog
cannot move a table across databases (no ``ALTER TABLE ... SET
SCHEMA``), so publish is one of:

- **move** (managed tables, the default; :meth:`Publisher._move_managed`):
  rename the staged directory to a hidden ``<target db>/.<t>.incoming``,
  drop the target, ``CREATE TABLE ... LIKE`` the staged table (schema,
  provider, partitioning, bucketing), rename the directory into place.
  No Spark job runs. Readers miss the table only between the DROP and
  the last rename — a few catalog and file-system calls, never a data
  write. A crash there leaves the table missing or empty, validators
  unpersisted: the retry republishes and clears the stale
  ``.incoming``. Hadoop ``FileSystem`` renames are atomic on
  local/HDFS/NFS warehouses, a copy on object stores (still no job).
- **external mode** (``external_root=...``): source data lands in a
  versioned location ``<root>/<target_db>/<table>/v_<epoch>``, the
  staging table is an external pointer at it, and publish re-points an
  external table in the target database at the same files — two
  catalog statements, the same brief drop/re-create gap as the
  reference's SET SCHEMA (load_dataset.py:244-252). Old versions are
  pruned only AFTER the flip (a crash strands extra files, never live
  data). Derived CTAS tables in the staging db are managed and move.

Cross-*table* atomicity in these modes is weaker than the reference's
single-schema swap (a reader between per-table publishes can see
table A new + table B old). **Versioned mode** restores the
reference's all-tables-one-commit semantics (every ALTER TABLE SET
SCHEMA shares ONE ``conn.commit()``): construct the Publisher with a
:class:`VersionPointer` and every publish lands ALL tables in a fresh
``<target>__v_<epoch>_<seq>`` database, then flips ONE pointer (an
atomic KV write — ParquetKVStore's temp-file + ``os.replace``).
Readers resolve the logical database through the pointer
(:meth:`VersionPointer.resolve`, honored by
``SearchPathResolver(pointer=...)``), so they see the previous version
in full until the flip and the new one in full after it — never a mix,
never a gap. Old version databases are pruned AFTER the flip, never
the pointed-at one.

Idempotency (reference O3, tests/test_load_dataset.py:78-84): rerunning
a load is a deterministic overwrite — same inputs, same tables.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

STAGING_PREFIX = "staging_"


@dataclass
class TableLayout:
    """Physical layout for a published table — the Spark substitute for
    the reference's CREATE INDEX tuning (wow_2021 sql:130-131; SURVEY
    §2 K7). ``partition_by`` prunes scans on the partition predicate;
    ``bucket_by`` pre-shuffles on the hot join/agg key so downstream
    equi-joins between co-bucketed tables run with ZERO exchange
    (verified in tests/test_publish_engine.py)."""

    partition_by: list[str] = field(default_factory=list)
    bucket_by: list[str] = field(default_factory=list)
    n_buckets: int = 8
    sort_by: list[str] = field(default_factory=list)

    def apply(self, writer):
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        if self.bucket_by:
            writer = writer.bucketBy(self.n_buckets, *self.bucket_by)
            if self.sort_by:
                writer = writer.sortBy(*self.sort_by)
        return writer


class VersionPointer:
    """ONE current-version pointer per logical database — the atomic
    commit of versioned publish (the Spark twin of the reference's
    single transaction around all SET SCHEMAs, load_dataset.py:244-252).

    Backed by any str→str MutableMapping with ``get_or_none`` /
    write-through mutation (``state.kvstore.ParquetKVStore`` persists
    each flip via temp-file + ``os.replace`` — readers see the old
    value or the new value, never a torn one; ``DictKVStore`` for
    tests). The pointer is the ONLY shared mutable state: version
    databases themselves are immutable once pointed at.
    """

    _PREFIX = "current_db_version:"

    def __init__(self, kv) -> None:
        self.kv = kv

    def current(self, logical_db: str) -> str | None:
        get = getattr(self.kv, "get_or_none", self.kv.get)
        return get(self._PREFIX + logical_db)

    def flip(self, logical_db: str, physical_db: str) -> None:
        """THE commit: one atomic KV write."""
        self.kv[self._PREFIX + logical_db] = physical_db

    def resolve(self, logical_db: str) -> str:
        """Physical database readers should use for ``logical_db`` —
        the pointed-at version, or the name itself when the logical db
        has never been version-published (non-versioned tables keep
        working through the same resolver)."""
        return self.current(logical_db) or logical_db


def version_db_name(target_db: str, epoch: int, seq: int) -> str:
    """``<target>__v_<epoch>_<seq>`` — lexically ordered so pruning can
    sort; double underscore keeps it unambiguous vs user databases."""
    return f"{target_db}__v_{epoch}_{seq:06d}"


_VERSION_DB = re.compile(r"(.+)__v_(\d+)_(\d{6})$")


def parse_version_db(db: str) -> str | None:
    """Logical database a version-db name belongs to, else None."""
    m = _VERSION_DB.fullmatch(db)
    return m.group(1) if m else None


def staging_db_name(dataset: str, epoch: int | None = None) -> str:
    """``staging_<ds>_<epoch>`` (reference naming: load_dataset.py:69-74)."""
    epoch = int(time.time()) if epoch is None else epoch
    safe = re.sub(r"\W+", "_", dataset)
    return f"{STAGING_PREFIX}{safe}_{epoch}"


def parse_staging_dataset(db: str) -> str | None:
    m = re.fullmatch(rf"{STAGING_PREFIX}(.+)_(\d+)", db)
    return m.group(1) if m else None


class Publisher:
    def __init__(
        self,
        spark: SparkSession,
        target_db: str = "public",
        external_root: str | None = None,
        keep_versions: int = 1,
        version_pointer: VersionPointer | None = None,
    ) -> None:
        self.spark = spark
        self.target_db = target_db
        self.external_root = external_root.rstrip("/") if external_root else None
        self.keep_versions = max(1, keep_versions)
        # versioned mode: publishes write a fresh version DATABASE and
        # commit with one pointer flip (cross-table atomic — see the
        # module docstring); None keeps the per-table modes.
        self.version_pointer = version_pointer
        # per-write version sequence: a reload in the same second must
        # NEVER overwrite the dir the live table points at (lexical
        # sort order is the prune order, so zero-pad the counter)
        import itertools

        self._version_seq = itertools.count()

    # -- namespace management (K5) -------------------------------------------

    def _sql(self, stmt: str) -> None:
        self.spark.sql(stmt)

    def list_staging_dbs(self, dataset: str | None = None) -> list[str]:
        """Stale staging namespaces, optionally for one dataset
        (reference: get_temp_schemas, load_dataset.py:82-89)."""
        dbs = [d.name for d in self.spark.catalog.listDatabases()]
        out = []
        for d in dbs:
            ds = parse_staging_dataset(d)
            if ds is not None and (dataset is None or ds == dataset):
                out.append(d)
        return out

    def drop_db(self, db: str) -> None:
        self._sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")

    @contextmanager
    def staging(self, dataset: str):
        """Create a staging namespace; always drop it on exit — success
        or failure (reference: create_and_enter_temporary_schema,
        load_dataset.py:209-241, rollback at :230-232)."""
        db = staging_db_name(dataset)
        self.drop_db(db)
        self._sql(f"CREATE DATABASE `{db}`")
        try:
            yield db
        finally:
            self.drop_db(db)

    # -- writes ----------------------------------------------------------------

    def _reclaim_orphan_location(self, db: str, table: str) -> None:
        """In-memory catalogs (the Spark default, and what a fresh
        driver session runs) forget managed tables across sessions
        while the warehouse DIRECTORY persists — the next session's
        saveAsTable sees a 'new' table whose location already exists
        and dies with LOCATION_ALREADY_EXISTS. When the catalog has no
        record of the table but its managed location survives, the
        directory is orphaned by definition: delete it (Hadoop FS API,
        so object-store warehouses behave the same as file:)."""
        if self.spark.catalog.tableExists(f"`{db}`.`{table}`"):
            return  # live table — overwrite semantics handle it
        try:
            loc = self.spark.catalog.getDatabase(db).locationUri
        except Exception:  # noqa: BLE001 - db missing: nothing to do
            return
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(f"{loc}/{table}")
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        fs.delete(path, True)

    def write_staging_table(
        self,
        db: str,
        table: str,
        df: DataFrame,
        layout: TableLayout | None = None,
    ) -> None:
        """Stage one source table — the only write its data gets: a
        managed table with ``layout`` applied, which publish moves. In
        external mode: a parquet write to the next version dir + an
        external staging table pointing at it (the files the publish
        flip re-points the target at). Bucketed layouts stay managed:
        Spark cannot attach a bucketing spec to a path-first write."""
        self._reclaim_orphan_location(db, table)
        if self.external_root and not (layout and layout.bucket_by):
            path = self._version_path(table)
            w = df.write.mode("overwrite")
            if layout and layout.partition_by:
                w = w.partitionBy(*layout.partition_by)
            w.parquet(path)
            self._sql(f"DROP TABLE IF EXISTS `{db}`.`{table}`")
            self._create_external(db, table, path)
            return
        w = df.write.mode("overwrite")
        if layout:
            w = layout.apply(w)
        w.saveAsTable(f"`{db}`.`{table}`")

    # -- external (metadata-only) publish machinery ---------------------------

    def _version_path(self, table: str) -> str:
        return (
            f"{self.external_root}/{self.target_db}/{table}/"
            f"v_{int(time.time())}_{next(self._version_seq):06d}"
        )

    def _create_external(self, db: str, table: str, path: str) -> None:
        # USING PARQUET LOCATION infers schema and partition columns;
        # a partitioned table still needs its partitions recovered
        self._sql(
            f"CREATE TABLE `{db}`.`{table}` USING PARQUET "
            f"LOCATION '{path}'"
        )
        loc = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = loc.getFileSystem(self.spark._jsc.hadoopConfiguration())
        self._recover_partitions(f"`{db}`.`{table}`", fs, loc)

    def _table_location(self, db: str, table: str) -> str | None:
        if not self.spark.catalog.tableExists(f"`{db}`.`{table}`"):
            return None
        rows = self.spark.sql(
            f"DESCRIBE TABLE EXTENDED `{db}`.`{table}`"
        ).collect()
        for r in rows:
            if r["col_name"] == "Location":
                return r["data_type"]
        return None

    @staticmethod
    def _fs_path(uri: str) -> str:
        """file:/x, file:///x and /x all normalize to /x (DESCRIBE and
        input_file_name disagree on slash count)."""
        from urllib.parse import urlparse

        parsed = urlparse(uri)
        return parsed.path if parsed.scheme else uri

    def _is_external(self, db: str, table: str) -> bool:
        if not self.external_root:
            return False
        loc = self._table_location(db, table)
        return bool(loc and self._fs_path(loc).startswith(self.external_root))

    def _move_managed(self, src_db: str, table: str, dst_db: str) -> None:
        """Publish a managed staged table by moving its directory (module
        docstring). A Hadoop rename onto an existing directory nests
        inside it and fails by returning False: clear, then check."""
        hpath = self.spark._jvm.org.apache.hadoop.fs.Path
        src_dir = hpath(self.spark.catalog.getDatabase(src_db).locationUri)
        dst_dir = hpath(self.spark.catalog.getDatabase(dst_db).locationUri)
        fs = dst_dir.getFileSystem(self.spark._jsc.hadoopConfiguration())
        src, dst = hpath(src_dir, table), hpath(dst_dir, table)
        incoming = hpath(dst_dir, f".{table}.incoming")

        def rename(a, b) -> None:
            fs.delete(b, True)
            if not fs.rename(a, b):
                raise OSError(f"publish of {table}: rename {a} -> {b} failed")

        rename(src, incoming)  # clears a crashed move's leftover
        name = f"`{dst_db}`.`{table}`"
        self._sql(f"DROP TABLE IF EXISTS {name}")
        # also clears a directory the catalog forgot (an in-memory
        # catalog across sessions): CREATE refuses a non-empty location
        fs.delete(dst, True)
        self._sql(f"CREATE TABLE {name} LIKE `{src_db}`.`{table}`")
        rename(incoming, dst)  # replaces the empty dir CREATE made
        # a reader between CREATE and the rename cached an empty listing
        self.spark.catalog.refreshTable(name)
        self._recover_partitions(name, fs, dst)

    def _recover_partitions(self, name: str, fs, path) -> None:
        """Only a partitioned table's directory holds subdirectories (the
        catalog's answer costs Spark jobs via listColumns, or a raise)."""
        if any(st.isDirectory() for st in fs.listStatus(path)):
            self.spark.catalog.recoverPartitions(name)

    def _prune_versions(
        self, table: str, protect: set[str] | None = None
    ) -> None:
        """Delete version dirs beyond keep_versions, oldest first,
        never the one the live table points at. Runs only after the
        pointer flip: a crash strands extra files, never live data.
        Local-FS/NFS only (os.listdir): on an object-store root this
        is a silent no-op and version GC belongs to a lifecycle rule
        on the bucket — stranded versions are still never wrong, just
        unreclaimed.

        ``protect`` (versioned mode): the set of absolute paths still
        referenced by any SURVIVING version database — every v_ dir
        outside it is dropped, every dir inside it kept regardless of
        count. The default per-table resolution (``target_db.table``'s
        location) does not exist in versioned mode, so the caller must
        supply the reference set."""
        import os
        import shutil

        base = f"{self.external_root}/{self.target_db}/{table}"
        if not os.path.isdir(base):
            return
        versions = sorted(
            d for d in os.listdir(base) if d.startswith("v_")
        )
        if protect is not None:
            for v in versions:
                path = os.path.abspath(os.path.join(base, v))
                if path not in protect:
                    shutil.rmtree(path, ignore_errors=True)
            return
        live = self._fs_path(
            self._table_location(self.target_db, table) or ""
        )
        excess = versions[: -self.keep_versions] if len(
            versions
        ) > self.keep_versions else []
        for v in excess:
            path = os.path.join(base, v)
            if os.path.abspath(path) != os.path.abspath(live):
                shutil.rmtree(path, ignore_errors=True)

    def publish_tables(
        self,
        staging_db: str,
        tables: list[str],
        on_table_published=None,
    ) -> list[str]:
        """Move results staging → target, per table (reference:
        drop_tables_if_they_exist + change_table_schemas,
        load_dataset.py:163-169, 244-252): external tables re-point,
        managed ones move (:meth:`_move_managed`), each keeping the
        layout it was staged with. ``on_table_published(table)`` fires
        after each table lands (progress hooks; the versioned-mode
        atomicity test interleaves a reader here). With a
        :class:`VersionPointer` configured this routes to the
        cross-table-atomic versioned publish."""
        if self.version_pointer is not None:
            return self._publish_tables_versioned(
                staging_db, tables, on_table_published
            )
        self._sql(f"CREATE DATABASE IF NOT EXISTS `{self.target_db}`")
        for t in tables:
            if self._is_external(staging_db, t):
                # the SET SCHEMA analog; old versions pruned AFTER
                path = self._table_location(staging_db, t)
                self._sql(f"DROP TABLE IF EXISTS `{self.target_db}`.`{t}`")
                self._create_external(self.target_db, t, path)
                self._prune_versions(t)
            else:
                self._move_managed(staging_db, t, self.target_db)
            if on_table_published:
                on_table_published(t)
        return [f"{self.target_db}.{t}" for t in tables]

    # -- versioned (cross-table atomic) publish --------------------------------

    def _publish_tables_versioned(
        self,
        staging_db: str,
        tables: list[str],
        on_table_published=None,
    ) -> list[str]:
        """All-tables-one-commit publish: land EVERY table in a fresh
        version database (external tables re-point at the staged files
        — metadata only; managed tables move), then commit with ONE
        :meth:`VersionPointer.flip`. Readers resolving through the
        pointer see the previous version in full until the flip and
        the new version in full after it — the reference's
        single-transaction schema swap (load_dataset.py:244-252),
        which the per-table modes above cannot give.

        The logical database keeps existing (empty) so unpointed
        readers fail on a missing table instead of a missing database;
        returned names are LOGICAL (``target.table``) — callers
        address tables through the pointer, not the version db."""
        self._sql(f"CREATE DATABASE IF NOT EXISTS `{self.target_db}`")
        phys = version_db_name(
            self.target_db, int(time.time()), next(self._version_seq)
        )
        self._sql(f"CREATE DATABASE `{phys}`")
        try:
            for t in tables:
                if self._is_external(staging_db, t):
                    path = self._table_location(staging_db, t)
                    self._create_external(phys, t, path)
                else:
                    self._move_managed(staging_db, t, phys)
                if on_table_published:
                    on_table_published(t)
        except BaseException:
            # abort: the pointer never flipped, readers never saw the
            # partial version — drop it and re-raise
            self.drop_db(phys)
            raise
        self.version_pointer.flip(self.target_db, phys)  # THE commit
        survivors = self._prune_version_dbs()
        # external-table FILE versions: a dropped version db leaves
        # its files behind (DROP on an external table is metadata
        # only) — delete every v_ dir no surviving version database
        # still references, and never one that is
        if self.external_root:
            import os

            for t in tables:
                if not self._is_external(phys, t):
                    continue
                protect = set()
                for db in survivors:
                    loc = self._table_location(db, t)
                    if loc:
                        protect.add(os.path.abspath(self._fs_path(loc)))
                self._prune_versions(t, protect=protect)
        return [f"{self.target_db}.{t}" for t in tables]

    def _prune_version_dbs(self) -> list[str]:
        """Drop version databases beyond the retention window, oldest
        first, NEVER the pointed-at one (runs after the flip — a crash
        strands extra versions, never the live one). Returns the
        surviving version-db names.

        The window is ``max(keep_versions, 2)``: the just-superseded
        version always survives ONE publish cycle as the grace window
        for in-flight readers — a reader that resolved the pointer
        moments before the flip is still executing against the old
        version db, and dropping it mid-query is exactly the partial
        state the versioned mode exists to prevent. (It is reclaimed
        on the NEXT publish; a reader outliving a full publish cycle
        is the documented residual risk.)"""
        keep = max(self.keep_versions, 2)
        live = self.version_pointer.resolve(self.target_db)
        versions = sorted(
            d.name
            for d in self.spark.catalog.listDatabases()
            if parse_version_db(d.name) == self.target_db
        )
        excess = versions[:-keep] if len(versions) > keep else []
        for db in excess:
            if db != live:
                self.drop_db(db)
        dropped = {db for db in excess if db != live}
        return [db for db in versions if db not in dropped]
